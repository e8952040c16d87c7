"""Open-loop event generator for stream-live, run as its own process.

    python3 perfbench/dropper.py --dir D --seed S --rate 25 --rows 400 \
        --seconds 12 --start EPOCH --first 1 --log L

Drops file ``i`` (``i = first, first+1, ...``) into the flat directory
``D`` at ``start + (i - first) / rate`` on the wall clock, whether or
not the system keeps up.  Each file is written under a dot-name and
renamed in, so a reader never sees a partial file.  The log records,
per file, when it was due, when it became visible and its row count,
plus the generator's own tally of purchase events per user.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from collections import Counter

import gen


def tally(table) -> Counter:
    cols = table.to_pydict()
    return Counter(u for u, t in zip(cols["user_id"], cols["event_type"]) if t == "purchase")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--first", type=int, default=1)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()

    n = int(a.seconds * a.rate)
    files, counts = [], Counter()
    for k in range(n):
        i = a.first + k
        due = a.start + k / a.rate
        table = gen.events_frame(a.seed, i, a.rows)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(a.dir, f".part-{i:05d}.parquet")
        gen.write_table(table, tmp)
        os.rename(tmp, os.path.join(a.dir, f"part-{i:05d}.parquet"))
        files.append([i, due, time.time(), a.rows])
        counts.update(tally(table))
    with open(a.log, "w") as fh:
        json.dump({"files": files, "tally": {str(k): v for k, v in counts.items()}}, fh)


if __name__ == "__main__":
    main()
