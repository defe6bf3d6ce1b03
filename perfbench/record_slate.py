"""Record the slate's expected (row count, checksum) per query.

    python3 perfbench/record_slate.py SEED [SEED ...]

Run from the root of a checkout whose queries are oracle-green on the
generated corpus (``scripts/oracle_check.py <corpus dir> <query ...>``).
Each query is run on the corpus of every given seed; the corpus content
is the same for all seeds and only the row order differs, so a query
whose checksum differs between seeds depends on input layout and is
recorded for its row count only, with that reason. Records the
benchmark's corpus (``full``) and the self-test's (``tiny``) and writes
``perfbench/slate_expected.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(seeds: list[int]) -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import run

    work = os.path.join(root, ".perfbench_run", f"record-{os.getpid()}")
    run.configure_env(work)
    from esgi_4iabd2_sparkstreaming_groupe13_spark.operators.caching import (
        release_cached,
    )
    from esgi_4iabd2_sparkstreaming_groupe13_spark.plans.queries import QUERIES
    from esgi_4iabd2_sparkstreaming_groupe13_spark.session import get_spark

    import gen
    from workloads import EXPECTED_PATH, SLATE, force

    specs = {q.name: q for q in QUERIES}
    sizes = {"full": 1.0, "tiny": 0.1}
    seen = {size: {n: set() for n in SLATE} for size in sizes}
    spark = get_spark(app_name="perfbench-record", extra_conf=run.session_conf(work, False))
    try:
        for size, scale in sizes.items():
            for seed in seeds:
                corpus = f"{work}/corpus-{size}-{seed}"
                gen.write_slate_corpus(corpus, seed, scale)
                for name in SLATE:
                    seen[size][name].add(force(specs[name].fn(spark, corpus)))
                    release_cached()
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    out = {size: expected(results, seeds) for size, results in seen.items()}
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


def expected(seen: dict[str, set], seeds: list[int]) -> dict:
    out = {}
    for name, results in seen.items():
        rows = {r for r, _ in results}
        if len(rows) != 1:
            raise SystemExit(f"{name}: row count differs between seeds: {sorted(rows)}")
        if len(results) == 1:
            ((n, checksum),) = results
            out[name] = {"rows": n, "checksum": checksum}
        else:
            out[name] = {
                "rows": rows.pop(),
                "checksum": None,
                "reason": "checksum depends on input row order "
                f"({len(results)} values over seeds {seeds})",
            }
    return out


if __name__ == "__main__":
    sys.exit(main([int(s) for s in sys.argv[1:]] or [0, 1, 2]))
