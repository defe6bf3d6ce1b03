"""The repository benchmark: one workload per run, from the root of a
checkout.

    python3 perfbench/run.py --workload taxi_paced --seed 1 --seconds 20 --trace 0

Workloads: ``taxi_paced``, ``taxi_drain``, ``query_slate`` (README.md
says why each exists). Inputs are generated from ``--seed``; the
timed window lasts ``--seconds``. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run. The traced run keeps its spans in memory and
writes them, with the traced-minus-untraced overhead, under
``.perfbench_out/``. A wrong output makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

PKG = "esgi_4iabd2_sparkstreaming_groupe13_spark"
HERE = os.path.dirname(os.path.abspath(__file__))

#: name -> unit. Every workload reports every metric (README.md gives
#: each one's meaning per workload).
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "rows_per_s": "rows/s",
}
#: input preparations per run; ``setup_s`` takes their median
PREPARES = 3
PER_LAYER = {
    "engine.triggerExecution_ms": "ms",
    "engine.addBatch_ms": "ms",
    "engine.latestOffset_ms": "ms",
    "engine.queryPlanning_ms": "ms",
    "engine.walCommit_ms": "ms",
    "engine.commitOffsets_ms": "ms",
    "engine.batches": "count",
    "processor.process_batch_ms": "ms",
    "processor.process_batch_self_ms": "ms",
    "processor.enrich_and_project_ms": "ms",
    "processor.batch_aggregates_ms": "ms",
    "processor.jobs_per_batch": "count",
    "processor.tasks_per_batch": "count",
    "sink.raw_ms": "ms",
    "sink.pickup_agg_ms": "ms",
    "sink.dropoff_agg_ms": "ms",
    "sink.combined_agg_ms": "ms",
    "sink.files_per_batch": "count",
    "sink.bytes_per_batch": "bytes",
    "sink.output_files_total": "count",
    "source.wait_ms_p50": "ms",
    "source.backlog_files_max": "count",
    "generator.late_ms_max": "ms",
    "producer.stage_batches_s": "s",
    "producer.publish_batches_s": "s",
    "dashboard.latest_batch_files_ms": "ms",
    "dashboard.load_ndjson_ms": "ms",
    "dashboard.top_locations_ms": "ms",
    "slate.wall_s": "s",
    "slate.jobs": "count",
    "slate.stages": "count",
    "slate.tasks": "count",
    "slate.task_cpu_s": "s",
    "slate.gc_s": "s",
    "slate.shuffle_mb": "MB",
    "slate.spill_mb": "MB",
    "slate.max_task_s": "s",
    "slate.driver_s": "s",
    "slate.persistent_rdds_after": "count",
    "env.yardstick_s": "s",
    "env.load_avg_start": "load",
    "env.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}
WORKLOAD_NAMES = ["taxi_paced", "taxi_drain", "query_slate"]


def slate_layer_names() -> dict[str, str]:
    from workloads import SLATE

    return {f"query.{n}_s": "s" for n in SLATE}


def yardstick(spark) -> float:
    """A fixed CPU-bound Spark job: tells VM drift from a regression."""
    t0 = time.perf_counter()
    spark.range(0, 60_000_000, 1, spark.sparkContext.defaultParallelism).selectExpr(
        "sum(hash(id, id * 3))"
    ).collect()
    return time.perf_counter() - t0


def jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if pid is not None:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024.0
    return mb


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    size Spark to the cores this process may use."""
    for d in ("tmp", "spark-local", "models", "eventlog", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_MODEL_DIR"] = f"{work}/models"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_INPUT_PARTITIONS", None)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # bench.py's slate settings: periodic cleaner GC and a codegen
        # cache large enough to keep the warm pass's classes
        "spark.cleaner.periodicGC.interval": "45s",
        "spark.sql.codegen.cache.maxEntries": "4000",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def run(workload, seed, seconds, trace, work, out_dir, tiny=False):
    from esgi_4iabd2_sparkstreaming_groupe13_spark.session import get_spark
    from spans import ProgressRecorder, Tracer, read_event_log
    from workloads import WORKLOADS, ProcessorTrace

    load_avg = os.getloadavg()[0]
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work, trace))
    session_s = time.perf_counter() - t0
    print(f"# session {session_s:.1f}s", file=sys.stderr)
    try:
        recorder = ProgressRecorder()
        spark.streams.addListener(recorder)
        wl = WORKLOADS[workload](spark, work, seed, seconds, recorder, tiny)
        prepare_s = []
        for i in range(PREPARES):
            t1 = time.perf_counter()
            wl.prepare(i)
            prepare_s.append(time.perf_counter() - t1)
        t1 = time.perf_counter()
        wl.warm()
        # the session starts and the JIT warms once per process; the
        # input preparation is repeated and enters as its median
        setup_s = session_s + statistics.median(prepare_s) + time.perf_counter() - t1
        print(f"# prepare {[round(x, 2) for x in prepare_s]}", file=sys.stderr)
        yard = [yardstick(spark)] if trace else []
        tracer = Tracer() if trace else None
        proc_trace = ProcessorTrace(tracer) if trace else None
        print(f"# setup {setup_s:.1f}s", file=sys.stderr)
        e2e = wl.measure(seconds, tracer, proc_trace)
        print(f"# measured by {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        if tracer is not None:
            tracer.enabled = False
            tracer.unwrap_all()
        problems = wl.check()
        print(f"# checked by {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        if trace:
            yard.append(yardstick(spark))
        rss = peak_rss_mb(jvm_pid())
    finally:
        stop_spark(spark)

    print(f"# stopped by {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    attempted = e2e.pop("items")
    metrics = {"setup_s": setup_s, **e2e}
    if trace:
        events = read_event_log(f"{work}/eventlog")
        layers = {k: 0.0 for k in {**PER_LAYER, **slate_layer_names()}}
        layers.update(wl.layer_metrics(tracer, proc_trace, events))
        untraced, traced = (wl.e2e(part) for part in wl.split())
        # extra wall per row moved, traced over untraced
        layers["trace.overhead_pct"] = (
            (untraced["rows_per_s"] / traced["rows_per_s"] - 1.0) * 100.0
            if traced["rows_per_s"]
            else 0.0
        )
        layers["env.yardstick_s"] = sum(yard) / len(yard)
        layers["env.load_avg_start"] = load_avg
        layers["env.peak_rss_mb"] = rss
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{out_dir}/{workload}-seed{seed}"
        tracer.dump(f"{stem}-spans.jsonl")
        with open(f"{stem}-trace.json", "w") as fh:
            json.dump(
                {
                    "untraced": untraced,
                    "traced": traced,
                    "overhead": {k: traced[k] - untraced[k] for k in untraced},
                    "layers": layers,
                    "problems": problems,
                    "setup_s": setup_s,
                },
                fh,
                indent=1,
            )
        units = {**PER_LAYER, **slate_layer_names()}
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in metrics.items()}
    failed = min(len(problems), attempted)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--tiny", action="store_true", help="self-test size: a tenth of the inputs"
    )
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: run from a checkout root holding {PKG}/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    work = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    configure_env(work)
    try:
        result = run(
            args.workload,
            args.seed,
            args.seconds,
            bool(args.trace),
            work,
            os.path.join(root, ".perfbench_out"),
            args.tiny,
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
