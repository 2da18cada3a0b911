"""Paced publisher for the ``cdc_paced_avro`` workload.

Runs as its own single-threaded process so that its schedule never waits on
the system under test. File ``i`` is due at ``t0 + i * interval``; its events
are stamped with that due time as their commit timestamp, written to a
staging directory just ahead of it, and renamed into the bus directory when
due (the rename is atomic, so the file source never sees a partial file).

The schedule ends at the first due time past the epoch seconds written to
the ``--until`` file (the benchmark writes it once its warm-up is over), or
after ``--max-files``, whichever comes first. The log records each file's
due and actual publish times.

    python3 perfbench/publish.py --seed 1 --per-file 33 --interval 0.25 \
        --max-files 400 --until UNTIL --bus BUS --staging STAGING --log LOG.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402

#: gap between start-up and the first due time
LEAD_S = 0.5


def read_until(path: str) -> float | None:
    try:
        with open(path) as fh:
            return float(fh.read())
    except (OSError, ValueError):
        return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--per-file", type=int, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--max-files", type=int, required=True)
    ap.add_argument("--until", required=True)
    ap.add_argument("--bus", required=True)
    ap.add_argument("--staging", required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()

    wire = gen.AvroWire()
    os.makedirs(a.staging, exist_ok=True)
    t0 = time.time() + LEAD_S
    files = []
    until = None
    for i in range(a.max_files):
        due = t0 + i * a.interval
        until = until or read_until(a.until)
        if until is not None and due > until:
            break
        name = f"p{i:05d}.jsonl"
        events = gen.cdc_paced_file(a.seed, i, a.per_file, int(round(due * 1000)))
        staged = os.path.join(a.staging, name)
        with open(staged, "wb") as fh:
            fh.write(gen.file_bytes([wire.line(e) for e in events]))
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(staged, os.path.join(a.bus, name))
        files.append({"name": name, "scheduled": due, "actual": time.time()})
    tmp = a.log + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"t0": t0, "interval": a.interval, "files": files}, fh)
    os.replace(tmp, a.log)


if __name__ == "__main__":
    main()
