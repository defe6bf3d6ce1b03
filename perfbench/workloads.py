"""The three benchmark workloads.

Each workload is a class with ``prepare(i)`` (input generation, run
several times so ``setup_s`` can take its median), ``warm()`` (the rest
of the set-up, once), ``measure(seconds, tracer)`` (the timed window)
and ``check()`` (correctness of what the program wrote). The program is
driven only through its public functions.

Every workload reports the same end-to-end metrics (README.md gives
what an "item" is on each workload):

* ``latency_p50_ms``: median latency of one item;
* ``rows_per_s``: rows the engine moved per second of its own wall.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from esgi_4iabd2_sparkstreaming_groupe13_spark import dashboard
from esgi_4iabd2_sparkstreaming_groupe13_spark.config import ConsumerConfig
from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.caching import release_cached
from esgi_4iabd2_sparkstreaming_groupe13_spark.plans.queries import QUERIES
from esgi_4iabd2_sparkstreaming_groupe13_spark.schemas import TESTDATA_TABLES, TRIP_SCHEMA
from esgi_4iabd2_sparkstreaming_groupe13_spark.sources.batch import (
    load_table,
    load_trip_csv,
)
from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming import processor
from esgi_4iabd2_sparkstreaming_groupe13_spark.streaming.producer import (
    publish_batches,
    stage_batches,
)

import gen
from spans import job_totals

HERE = os.path.dirname(os.path.abspath(__file__))
SINKS = ["raw", "pickup_agg", "dropoff_agg", "combined_agg"]
AGG_KEYS = {
    "pickup_agg": ["PULocationID"],
    "dropoff_agg": ["DOLocationID"],
    "combined_agg": ["location_id", "aggregation_type"],
}
ENGINE_PHASES = [
    "triggerExecution",
    "addBatch",
    "latestOffset",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
]


def med(values) -> float:
    return float(np.median(values)) if len(values) else 0.0


def run_units(unit, seconds: float, at_least: int = 1) -> None:
    """Call ``unit()`` ``at_least`` times, then again while another call
    as long as the last one still ends inside the window."""
    t_end = time.perf_counter() + seconds
    n = 0
    while True:
        t0 = time.perf_counter()
        unit()
        n += 1
        now = time.perf_counter()
        if n >= at_least and now + (now - t0) > t_end:
            return


def wait_until(cond, timeout: float, what: str) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.02)


def offset_log_batches(checkpoint_dir: str) -> dict[str, int]:
    """File basename -> micro-batch id, from the file source's offset
    log in the consumer's checkpoint (plain and compacted entries)."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        if path.endswith(".crc") or os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def output_files(out_dir: str) -> list[str]:
    return [
        p
        for name in SINKS
        for p in glob.glob(os.path.join(out_dir, name, "**", "part-*"), recursive=True)
    ]


def ndjson_rows(directory: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(os.path.join(directory, "**", "*.json"), recursive=True)):
        with open(path) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def reference_sums(spark, source_dir: str) -> dict:
    """Rows published and per-location ``trip_count`` sums of
    ``processor.batch_reference_outputs`` over the files in ``source_dir``."""
    source = (
        spark.read.schema(TRIP_SCHEMA).option("pathGlobFilter", "*.json").json(source_dir)
    )
    ref = processor.batch_reference_outputs(source)
    out = {"raw": len(ndjson_rows(source_dir))}
    for name, cols in AGG_KEYS.items():
        out[name] = {
            tuple(r[:-1]): r[-1]
            for r in ref[name].groupBy(*cols).agg(F.sum("trip_count")).collect()
        }
    return out


def stream_checks(want: dict, out_dir: str) -> list[str]:
    """``raw`` row count equals the rows published, and the per-location
    ``trip_count`` sums the aggregate sinks wrote equal the reference's
    (``reference_sums``). The sinks are read back as plain NDJSON."""
    problems = []
    written = len(ndjson_rows(f"{out_dir}/raw"))
    if written != want["raw"]:
        problems.append(f"raw rows {written} != published {want['raw']}")
    for name, cols in AGG_KEYS.items():
        got: dict[tuple, int] = {}
        for r in ndjson_rows(f"{out_dir}/{name}"):
            key = tuple(r[c] for c in cols)
            got[key] = got.get(key, 0) + r["trip_count"]
        if got != want[name]:
            diff = len(set(got.items()) ^ set(want[name].items()))
            problems.append(f"{name}: {diff} per-location sums differ from reference")
    return problems


class ProcessorTrace:
    """Spans around the consumer's layers: ``process_batch`` and its
    children (``enrich_and_project``, ``batch_aggregates`` and each
    sink's ``DataFrameWriter.save``, which runs on pool threads)."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.batch_span = None

    def install(self) -> None:
        t = self.tracer
        orig = processor.process_batch

        def process_batch(batch_df, batch_id, *args, **kwargs):
            with t.span("processor.process_batch", batch=batch_id) as sid:
                self.batch_span = sid
                return orig(batch_df, batch_id, *args, **kwargs)

        processor.process_batch = process_batch
        t._undo.append((processor, "process_batch", orig))
        t.wrap(processor, "enrich_and_project", "processor.enrich_and_project")
        t.wrap(processor, "batch_aggregates", "processor.batch_aggregates")

        def sink_name(writer, path=None, *a, **k):
            return "sink." + os.path.basename(str(path).rstrip("/"))

        t.wrap(DataFrameWriter, "save", sink_name, parent_from=lambda: self.batch_span)

    def metrics(self, since: float, events: list[dict] | None) -> dict:
        t = self.tracer
        batches = t.named("processor.process_batch", since)
        by_parent = {}
        for s in t.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        out = {
            "processor.process_batch_ms": med([(b["end"] - b["start"]) * 1e3 for b in batches]),
            "processor.process_batch_self_ms": med([t.self_ms(b) for b in batches]),
        }
        for child in ["enrich_and_project", "batch_aggregates"]:
            out[f"processor.{child}_ms"] = med(
                [
                    (c["end"] - c["start"]) * 1e3
                    for b in batches
                    for c in by_parent.get(b["id"], [])
                    if c["name"] == f"processor.{child}"
                ]
            )
        for sink in SINKS:
            key = "sink.raw_ms" if sink == "raw" else f"sink.{sink}_ms"
            out[key] = med(
                [
                    (c["end"] - c["start"]) * 1e3
                    for b in batches
                    for c in by_parent.get(b["id"], [])
                    if c["name"] == f"sink.{sink}"
                ]
            )
        if events is not None:
            jobs = [job_totals(events, b["start"], b["end"]) for b in batches]
            out["processor.jobs_per_batch"] = med([j["jobs"] for j in jobs])
            out["processor.tasks_per_batch"] = med([j["tasks"] for j in jobs])
        return out


def engine_metrics(progress: list[dict]) -> dict:
    out = {
        f"engine.{k}_ms": med([p["durationMs"].get(k, 0) for p in progress])
        for k in ENGINE_PHASES
    }
    out["engine.batches"] = float(len(progress))
    return out


def sink_file_metrics(out_dir: str, n_batches: int) -> dict:
    files = output_files(out_dir)
    n = max(n_batches, 1)
    return {
        "sink.files_per_batch": len(files) / n,
        "sink.bytes_per_batch": sum(os.path.getsize(f) for f in files) / n,
        "sink.output_files_total": float(len(files)),
    }


def iso_to_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


# --------------------------------------------------------------------


class TaxiPaced:
    """Open loop: small files renamed into the watched directory on an
    absolute schedule by a separate publisher process; the consumer runs
    with ``trigger_seconds=0``."""

    BATCH_ROWS = 50
    #: files/s: about half the consumer's capacity at 50-row files,
    #: measured by saturating it as 1.6 files/s (~620 ms per warm
    #: trigger, one file per trigger by
    #: ``ConsumerConfig.max_files_per_trigger``) on 4 cores. Fixed;
    #: never re-tuned.
    RATE = 0.75
    #: the JIT warm-up: trigger wall falls from ~1.7 s to ~650 ms over
    #: the first ten files
    WARM_FILES = 10

    def __init__(self, spark, work, seed, seconds, recorder, tiny=False) -> None:
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.warm_files = 3 if tiny else self.WARM_FILES
        self.recorder = recorder
        self.watch = f"{work}/watch"
        self.out = f"{work}/out"
        self.ckpt = f"{work}/ckpt"
        self.query = None

    def prepare(self, i: int) -> None:
        n_files = self.warm_files + int(self.RATE * self.seconds) + 2
        csv_path = f"{self.work}/trips-{i}.csv"
        gen.write_taxi_csv(csv_path, n_files * self.BATCH_ROWS, self.seed)
        self.stage = f"{self.work}/stage-{i}"
        stage_batches(load_trip_csv(self.spark, csv_path), self.stage, self.BATCH_ROWS)

    def warm(self) -> None:
        # the first staged files warm the consumer; the publisher gets the rest
        os.makedirs(self.watch)
        cfg = ConsumerConfig(
            input_dir=self.watch,
            output_dir=self.out,
            checkpoint_dir=self.ckpt,
            trigger_seconds=0,
        )
        self.query = processor.start_consumer(self.spark, cfg)
        self.qid = str(self.query.id)
        warm = sorted(
            glob.glob(f"{self.stage}/batch_no=*"), key=lambda d: int(d.split("=")[1])
        )[: self.warm_files]
        for i, d in enumerate(warm):
            (part,) = glob.glob(f"{d}/part-*")
            os.rename(part, f"{self.watch}/warm-{i}.json")
            shutil.rmtree(d)
        wait_until(
            lambda: len(self.recorder.data_batches(self.qid)) >= len(warm),
            180,
            "warm-up micro-batches",
        )

    def measure(self, seconds: float, tracer, proc_trace) -> dict:
        start = time.time() + 0.5
        log = f"{self.work}/publish.json"
        pub = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "publisher.py"),
                self.stage,
                self.watch,
                repr(start),
                repr(self.RATE),
                repr(seconds),
                log,
            ]
        )
        try:
            if tracer is not None:
                # first half untraced, second half traced
                time.sleep(max(0.0, start + seconds / 2 - time.time()))
                proc_trace.install()
                tracer.enabled = True
            rc = pub.wait(timeout=seconds + 60)
        finally:
            if pub.poll() is None:
                pub.kill()
                pub.wait()
        if rc != 0:
            raise RuntimeError(f"publisher exited with {rc}")
        with open(log) as fh:
            records = json.load(fh)
        qid = self.qid

        def consumed():
            done = {p["batchId"] for _, p in self.recorder.data_batches(qid)}
            m = offset_log_batches(self.ckpt)
            return all(m.get(r["file"]) in done for r in records)

        try:
            wait_until(consumed, 60, "published files to be consumed")
        finally:
            self.query.stop()
        file_batch = offset_log_batches(self.ckpt)
        batches = {p["batchId"]: p for _, p in self.recorder.data_batches(qid)}
        items = []
        for r in records:
            p = batches[file_batch[r["file"]]]
            started = iso_to_epoch(p["timestamp"])
            # the micro-batch's sinks are written when its trigger ends,
            # as the progress event reports it (the event itself reaches
            # this process's listener 0.1 to 0.3 s later)
            ended = started + p["durationMs"]["triggerExecution"] / 1e3
            items.append(
                {
                    "due": r["due"],
                    "late_ms": (r["actual"] - r["due"]) * 1e3,
                    "latency_ms": (ended - r["due"]) * 1e3,
                    "wait_ms": (started - r["due"]) * 1e3,
                    "ended": ended,
                    "batch": p,
                }
            )
        self.items = items
        self.half = start + seconds / 2
        # backlog: files published but whose micro-batch has not ended
        done_at = sorted(i["ended"] for i in items)
        backlog = [
            sum(1 for r2 in records if r2["actual"] <= r["actual"])
            - sum(1 for d in done_at if d <= r["actual"])
            for r in records
        ]
        self.backlog_max = max(backlog) if backlog else 0
        print(
            "# paced trigger ms:",
            [b["durationMs"]["triggerExecution"] for _, b in self.recorder.data_batches(qid)],
            file=sys.stderr,
        )
        return self.e2e(items)

    def e2e(self, items) -> dict:
        lat = [i["latency_ms"] for i in items]
        batches = [i["batch"] for i in items]
        busy = sum(b["durationMs"]["triggerExecution"] for b in batches) / 1e3
        rows = sum(b["numInputRows"] for b in batches)
        return {
            "latency_p50_ms": med(lat),
            "rows_per_s": rows / busy if busy else 0.0,
            "items": len(items),
        }

    def split(self):
        """(untraced, traced) items of a traced run."""
        a = [i for i in self.items if i["due"] < self.half]
        b = [i for i in self.items if i["due"] >= self.half]
        return a, b

    def layer_metrics(self, tracer, proc_trace, events) -> dict:
        _, traced = self.split()
        progress = [i["batch"] for i in traced]
        out = engine_metrics(progress)
        out.update(proc_trace.metrics(self.half, events))
        n_batches = len(self.recorder.data_batches(self.qid))
        out.update(sink_file_metrics(self.out, n_batches))
        out["source.wait_ms_p50"] = med([i["wait_ms"] for i in traced])
        out["source.backlog_files_max"] = float(self.backlog_max)
        out["generator.late_ms_max"] = max(i["late_ms"] for i in self.items)
        return out

    def check(self) -> list[str]:
        return stream_checks(reference_sums(self.spark, self.watch), self.out)


class TaxiDrain:
    """Closed loop: stage, publish (interval 0), drain with
    ``available_now``, then refresh the dashboard, one cycle after the
    other."""

    ROWS = 10_000
    BATCH_ROWS = 5_000
    SNAPSHOTS = 10

    def __init__(self, spark, work, seed, seconds, recorder, tiny=False) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.rows, self.batch_rows = (1_500, 500) if tiny else (self.ROWS, self.BATCH_ROWS)
        self.recorder = recorder
        self.cycles: list[dict] = []

    def prepare(self, i: int) -> None:
        self.csv = f"{self.work}/trips-{i}.csv"
        gen.write_taxi_csv(self.csv, self.rows, self.seed)

    def warm(self) -> None:
        self.cycle("warm")

    def cycle(self, tag, tracer=None) -> dict:
        d = f"{self.work}/{tag}"
        stage, watch, out, ckpt = (f"{d}/{x}" for x in ("stage", "watch", "out", "ckpt"))
        span = tracer.span if tracer is not None else None
        c = {"dir": d, "start": time.time()}
        t0 = time.perf_counter()
        with (span("producer.stage_batches") if span else _null()):
            n = stage_batches(load_trip_csv(self.spark, self.csv), stage, self.batch_rows)
        t1 = time.perf_counter()
        with (span("producer.publish_batches") if span else _null()):
            files = publish_batches(stage, watch, interval_seconds=0)
        t2 = time.perf_counter()
        cfg = ConsumerConfig(input_dir=watch, output_dir=out, checkpoint_dir=ckpt)
        q = processor.start_consumer(self.spark, cfg, available_now=True)
        q.awaitTermination()
        t3 = time.perf_counter()
        snaps = []
        for _ in range(self.SNAPSHOTS):
            s0 = time.perf_counter()
            with (span("dashboard.snapshot") if span else _null()):
                snap = dashboard.snapshot(out)
            snaps.append((time.perf_counter() - s0) * 1e3)
        if snap["dirs"]["raw"]["rows"] <= 0:
            raise RuntimeError("dashboard snapshot shows no rows")
        qid = str(q.id)

        def reported():
            return len(self.recorder.data_batches(qid)) >= n

        wait_until(reported, 30, "progress events of the drain")
        progress = self.recorder.data_batches(qid)
        c.update(
            {
                "end": time.time(),
                "files": len(files),
                "rows": sum(p["numInputRows"] for _, p in progress),
                "stage_s": t1 - t0,
                "publish_s": t2 - t1,
                "drain_s": t3 - t2,
                "snapshot_ms": snaps,
                "progress": [p for _, p in progress],
                "out": out,
                "watch": watch,
            }
        )
        return c

    def measure(self, seconds: float, tracer, proc_trace) -> dict:
        def unit():
            traced = tracer if tracer is not None and tracer.enabled else None
            self.cycles.append(self.cycle(f"c{len(self.cycles)}", traced))

        self.traced_from = None
        if tracer is None:
            run_units(unit, seconds, at_least=2)
        else:
            run_units(unit, seconds / 2)
            proc_trace.install()
            self.install_dashboard(tracer)
            tracer.enabled = True
            self.traced_from = len(self.cycles)
            run_units(unit, seconds / 2)
        return self.e2e(self.cycles)

    @staticmethod
    def e2e(cycles) -> dict:
        snaps = [x for c in cycles for x in c["snapshot_ms"]]
        return {
            "latency_p50_ms": med(snaps),
            "rows_per_s": med([c["rows"] / c["drain_s"] for c in cycles]),
            "items": sum(c["files"] for c in cycles) + len(snaps),
        }

    def split(self):
        k = self.traced_from if self.traced_from is not None else len(self.cycles)
        return self.cycles[:k], self.cycles[k:]

    def layer_metrics(self, tracer, proc_trace, events) -> dict:
        _, traced = self.split()
        since = traced[0]["start"] if traced else time.time()
        progress = [p for c in traced for p in c["progress"]]
        out = engine_metrics(progress)
        out["engine.batches"] = med([len(c["progress"]) for c in traced])
        out.update(proc_trace.metrics(since, events))
        last = traced[-1] if traced else self.cycles[-1]
        out.update(sink_file_metrics(last["out"], len(last["progress"])))
        out["producer.stage_batches_s"] = med([c["stage_s"] for c in traced])
        out["producer.publish_batches_s"] = med([c["publish_s"] for c in traced])
        per_snap = {name: [] for name in ["latest_batch_files", "load_ndjson", "top_locations"]}
        snaps = tracer.named("dashboard.snapshot", since)
        for s in snaps:
            kids = [c for c in tracer.spans if c["parent"] == s["id"]]
            for name in per_snap:
                per_snap[name].append(
                    sum((k["end"] - k["start"]) * 1e3 for k in kids if k["name"] == f"dashboard.{name}")
                )
        for name, vals in per_snap.items():
            out[f"dashboard.{name}_ms"] = med(vals)
        return out

    def install_dashboard(self, tracer) -> None:
        for name in ["latest_batch_files", "load_ndjson", "top_locations"]:
            tracer.wrap(dashboard, name, f"dashboard.{name}")

    def check(self) -> list[str]:
        # every cycle publishes the same staged CSV: one reference serves all
        want = reference_sums(self.spark, self.cycles[0]["watch"])
        return [
            f"{os.path.basename(c['dir'])}: {p}"
            for c in self.cycles
            for p in stream_checks(want, c["out"])
        ]


class _null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


# --------------------------------------------------------------------

#: The slate: headline queries of plans/queries.py that cover the
#: operators shared with the consumer (count_by_key, union_tagged), the
#: relational core, windows/streaming-shaped queries, text, similarity,
#: k-means serving and the queries that leave storage behind. Run in
#: alphabetical order.
SLATE = sorted(
    [
        "q_count_by_key",
        "q_entity_match",
        "q_event_window",
        "q_join_fact_dim",
        "q_minhash_lsh",
        "q_percentiles",
        "q_sessionize",
        "q_tfidf_topterms",
        "q_tpch_q1",
        "q_tpch_q3",
        "q_tpch_q5",
        "q_union_tagged",
    ]
)
EXPECTED_PATH = os.path.join(HERE, "slate_expected.json")


def force(df) -> tuple[int, int]:
    """Materialise every column of every row: (row count, xor-fold of a
    64-bit hash of the full row)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("checksum"),
    ).collect()[0]
    return int(row["n"]), int(row["checksum"] or 0)


class QuerySlate:
    """Registry queries over a generated corpus, forced by a full-width
    checksum, each followed by ``release_cached()``."""

    def __init__(self, spark, work, seed, seconds, recorder, tiny=False) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.scale, size = (0.1, "tiny") if tiny else (1.0, "full")
        specs = {q.name: q for q in QUERIES}
        self.specs = [specs[n] for n in SLATE]
        self.passes: list[dict] = []
        with open(EXPECTED_PATH) as fh:
            self.expected = json.load(fh)[size]

    def prepare(self, i: int) -> None:
        self.corpus = f"{self.work}/corpus-{i}"
        gen.write_slate_corpus(self.corpus, self.seed, self.scale)
        for t in TESTDATA_TABLES:
            warm = load_table(self.spark, self.corpus, t)
            warm.agg(F.bit_xor(F.xxhash64(F.struct(*warm.columns)))).collect()

    def warm(self) -> None:
        # one untimed pass: compiles every plan's generated code and fits
        # the IVF quantizer this corpus serves from
        self.run_pass(None)

    def run_pass(self, tracer) -> dict:
        p = {"start": time.time(), "queries": {}}
        for spec in self.specs:
            t0 = time.perf_counter()
            if tracer is not None:
                with tracer.span(f"query.{spec.name}"):
                    result = force(spec.fn(self.spark, self.corpus))
            else:
                result = force(spec.fn(self.spark, self.corpus))
            release_cached()
            p["queries"][spec.name] = (time.perf_counter() - t0, result)
        p["end"] = time.time()
        p["wall_s"] = sum(w for w, _ in p["queries"].values())
        # RDDs still persisted after every query released its storage
        p["persistent_after"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        return p

    def measure(self, seconds: float, tracer, proc_trace) -> dict:
        def unit():
            traced = tracer if tracer is not None and tracer.enabled else None
            self.passes.append(self.run_pass(traced))

        self.traced_from = None
        if tracer is None:
            run_units(unit, seconds)
        else:
            run_units(unit, seconds / 2)
            tracer.enabled = True
            self.traced_from = len(self.passes)
            run_units(unit, seconds / 2)
        return self.e2e(self.passes)

    @staticmethod
    def e2e(passes) -> dict:
        walls = [w for p in passes for w, _ in p["queries"].values()]
        rows = sum(r[0] for p in passes for _, r in p["queries"].values())
        return {
            "latency_p50_ms": med(walls) * 1e3,
            "rows_per_s": rows / sum(walls),
            "items": len(walls),
        }

    def split(self):
        k = self.traced_from if self.traced_from is not None else len(self.passes)
        return self.passes[:k], self.passes[k:]

    def layer_metrics(self, tracer, proc_trace, events) -> dict:
        _, traced = self.split()
        out = {
            f"query.{n}_s": med([p["queries"][n][0] for p in traced]) for n in SLATE
        }
        totals = [job_totals(events, p["start"], p["end"]) for p in traced]
        for k in ["jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_mb", "spill_mb", "max_task_s"]:
            out[f"slate.{k}"] = med([t[k] for t in totals])
        out["slate.driver_s"] = med(
            [p["wall_s"] - t["stage_wall_s"] for p, t in zip(traced, totals)]
        )
        out["slate.wall_s"] = med([p["wall_s"] for p in traced])
        out["slate.persistent_rdds_after"] = med([p["persistent_after"] for p in traced])
        return out

    def check(self) -> list[str]:
        problems = []
        for p in self.passes:
            for name, (_, (rows, checksum)) in p["queries"].items():
                want = self.expected.get(name)
                if want is None:
                    problems.append(f"{name}: no recorded result")
                    continue
                if rows != want["rows"]:
                    problems.append(f"{name}: {rows} rows, expected {want['rows']}")
                elif want.get("checksum") is not None and checksum != want["checksum"]:
                    problems.append(f"{name}: checksum {checksum} != {want['checksum']}")
        return problems


WORKLOADS = {"taxi_paced": TaxiPaced, "taxi_drain": TaxiDrain, "query_slate": QuerySlate}
