"""Open-loop publisher: renames staged batch files into the consumer's
watched directory on an absolute schedule, independent of how fast the
consumer keeps up.

Single-threaded, run as its own process. File ``k`` (in staged batch
order) is due at ``start + k / rate``; the publisher sleeps until then,
renames the file and records the due and actual times (epoch seconds).
Files whose due time falls after ``start + seconds`` are not published.

Usage: python3 publisher.py STAGE_DIR WATCH_DIR START RATE SECONDS LOG
"""

from __future__ import annotations

import json
import os
import sys
import time


def staged_files(stage_dir: str) -> list[str]:
    """One NDJSON part file per ``batch_no=N`` directory, in batch order."""
    dirs = sorted(
        (d for d in os.listdir(stage_dir) if d.startswith("batch_no=")),
        key=lambda d: int(d.split("=")[1]),
    )
    out = []
    for d in dirs:
        parts = sorted(
            f for f in os.listdir(os.path.join(stage_dir, d)) if f.startswith("part-")
        )
        if len(parts) != 1:
            raise RuntimeError(f"{d}: expected one part file, found {len(parts)}")
        out.append(os.path.join(stage_dir, d, parts[0]))
    return out


def publish(
    stage_dir: str, watch_dir: str, start: float, rate: float, seconds: float
) -> list[dict]:
    records = []
    for k, src in enumerate(staged_files(stage_dir)):
        due = start + k / rate
        if due > start + seconds:
            break
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"taxi-batch-batch{k}.json"
        os.rename(src, os.path.join(watch_dir, name))
        records.append({"file": name, "due": due, "actual": time.time()})
    return records


def main(argv: list[str]) -> int:
    stage_dir, watch_dir, start, rate, seconds, log = argv
    records = publish(stage_dir, watch_dir, float(start), float(rate), float(seconds))
    with open(log, "w") as fh:
        json.dump(records, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
