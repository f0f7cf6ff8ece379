"""Open-loop order-event producer for ``stream_steady``.

Runs as its own process, so a slow engine cannot slow the schedule:
file ``i`` is due at ``start + i * tick`` and is written then, whatever
the stream is doing. Each file holds ``per_tick`` reference-producer
order events whose ``time`` field is the wall clock at the due time.
Files are written under a hidden name and renamed into place.

At the end it writes a JSON log: per file its name, due time and the
start and end of its write, plus the per-day tally of every event.

    python3 perfbench/producer.py --dir IN --seed 1 --start EPOCH_S \\
        --ticks 260 --tick-s 0.05 --per-tick 1000 --log producer.json
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

from inputs import merge_tally, order_lines, write_atomic


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--dir", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--start", type=float, required=True)
    p.add_argument("--ticks", type=int, required=True)
    p.add_argument("--tick-s", type=float, required=True)
    p.add_argument("--per-tick", type=int, required=True)
    p.add_argument("--log", required=True)
    a = p.parse_args()

    rng = np.random.default_rng(a.seed)
    files, tally = [], {}
    for i in range(a.ticks):
        due = a.start + i * a.tick_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        w0 = time.time()
        stamp = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(due))
        lines, part = order_lines(rng, [stamp] * a.per_tick)
        merge_tally(tally, part)
        name = f"part-{i:06d}.json"
        write_atomic(os.path.join(a.dir, name), lines)
        files.append([name, due, w0, time.time()])
    with open(a.log, "w") as f:
        json.dump({"files": files, "tally": tally}, f)


if __name__ == "__main__":
    main()
