"""Open-loop event generator for the ``live`` workload.

Writes consecutive slices of the ``events`` table as parquet files into a
flat drop zone on a fixed schedule that does not slow when the engine
does: file ``i`` is due at ``t0 + i / rate`` (epoch seconds).  Each file
is written under a hidden name and renamed into place, so the stream
source never lists a partial file.  One JSON line per file goes to
``--log``: its name, when it was due and when it landed.

    python3 perfbench/livegen.py --src events.parquet --out DIR --log F \\
        --start-row 0 --rows 500 --first 1 --files 80 --rate 4 --t0 EPOCH
"""

from __future__ import annotations

import argparse
import json
import os
import time

import pyarrow.parquet as pq


def file_name(i: int) -> str:
    return f"part-{i:05d}.parquet"


def write_slice(table, out_dir: str, i: int, rows: int) -> float:
    """Write slice ``i`` of ``table`` and return when it landed."""
    tmp = os.path.join(out_dir, f".{file_name(i)}.tmp")
    pq.write_table(table.slice(i * rows, rows), tmp)
    os.rename(tmp, os.path.join(out_dir, file_name(i)))
    return time.time()


def main() -> None:
    ap = argparse.ArgumentParser(description="open-loop parquet slice generator")
    ap.add_argument("--src", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--start-row", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()
    last = a.first + a.files
    table = pq.read_table(a.src).slice(a.start_row, last * a.rows)
    with open(a.log, "w") as log:
        for i in range(a.first, last):
            due = a.t0 + (i - a.first) / a.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            landed = write_slice(table, a.out, i, a.rows)
            log.write(json.dumps({"file": file_name(i), "due": due, "landed": landed}) + "\n")


if __name__ == "__main__":
    main()
