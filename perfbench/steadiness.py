"""Steadiness self-check: is the benchmark steady enough to judge a change?

Runs ``perfbench/run.py`` in sets of runs on the same tree (one seed per
run, the same seeds in every set, workloads interleaved) and prints, per
workload and end-to-end metric, each set's median and quartiles, the
spread (quartile distance over median), and whether the sets agree
within the metric's bound from BENCHMARK.json: a later set's median may
not be worse than the first set's by more than the bound. Stream
workloads are also rerun on a second series of seeds, and ``--traced``
adds traced runs whose latency, against the untraced median, gives the
tracing overhead.

    python3 perfbench/steadiness.py --runs 10 --sets 2
    python3 perfbench/steadiness.py --workloads stream_steady --runs 5 --sets 1

Raw results go to ``.perfbench_work/steadiness-<time>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STREAMS = ("stream_steady", "stream_backlog")
SECOND_SEEDS = 1000  # offset of the second seed series


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return {"workload": workload, "seed": seed, "trace": trace, "rc": out.returncode,
                "wall_s": wall, "error": out.stderr[-2000:]}
    return {"workload": workload, "seed": seed, "trace": trace, "rc": 0, "wall_s": wall,
            "info": json.loads(lines[-2])["info"] if len(lines) > 1 else {},
            "result": json.loads(lines[-1])}


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse ``b`` is than ``a``, as a share of ``a``."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workloads", nargs="+", choices=sorted({*names, *STREAMS}), default=names)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--second-seeds", type=int, default=1,
                   help="also run stream workloads on a second seed series (0 = skip)")
    p.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    a = p.parse_args()

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    log_path = os.path.join(ROOT, ".perfbench_work", f"steadiness-{int(time.time())}.jsonl")
    plan = [(f"set{s + 1}", w, a.seed0 + i, 0)
            for s in range(a.sets) for i in range(a.runs) for w in a.workloads]
    if a.second_seeds:
        plan += [("seeds2", w, a.seed0 + SECOND_SEEDS + i, 0)
                 for i in range(a.runs) for w in a.workloads if w in STREAMS]
    plan += [("traced", w, a.seed0 + i, 1) for i in range(a.traced) for w in a.workloads]

    runs: list[dict] = []
    with open(log_path, "w") as log:
        for label, w, seed, trace in plan:
            r = one_run(w, seed, a.seconds, trace) | {"set": label}
            runs.append(r)
            log.write(json.dumps(r) + "\n")
            log.flush()
            res = r.get("result", {})
            print(f"# {label} {w} seed={seed} rc={r['rc']} wall={r['wall_s']:.1f}s "
                  f"correct={res.get('correct')} failed={res.get('failed')}", flush=True)

    ok = all(r["rc"] == 0 and r["result"]["correct"] for r in runs)
    print(f"{'workload':16} {'metric':16} {'set':7} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'bound':>6}  verdict")
    for w in a.workloads:
        for m in spec["end_to_end"]:
            sets: dict[str, dict] = {}
            for label in dict.fromkeys(r["set"] for r in runs if r["trace"] == 0):
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                        if r["set"] == label and r["workload"] == w and r["rc"] == 0]
                if vals:
                    sets[label] = summary(vals)
            first = next(iter(sets.values()), None)
            for label, s in sets.items():
                verdict = []
                if m["name"] != "setup_s":
                    verdict.append("steady" if s["spread"] <= m["bound"] else "SPREAD>BOUND")
                if s is not first:
                    drift = worse_by(first["median"], s["median"], m["better"])
                    agree = drift <= m["bound"]
                    ok &= agree
                    verdict.append(f"{'agrees' if agree else 'DISAGREES'} ({drift:+.1%})")
                ok &= m["name"] == "setup_s" or s["spread"] <= m["bound"]
                print(f"{w:16} {m['name']:16} {label:7} {s['median']:11.2f} {s['q1']:11.2f} "
                      f"{s['q3']:11.2f} {s['spread']:7.1%} {m['bound']:6.2f}  {' '.join(verdict)}")
        # latency is a per-layer metric in traced runs and an info
        # fact in untraced ones
        traced = [r["result"]["metrics"]["latency_p50_ms"]["value"] for r in runs
                  if r["trace"] == 1 and r["workload"] == w and r["rc"] == 0]
        untraced = [r["info"]["latency_p50_ms"] for r in runs
                    if r["trace"] == 0 and r["workload"] == w and r["rc"] == 0]
        if traced and untraced:
            base = statistics.median(untraced)
            print(f"{w:16} latency_p50_ms untraced {base:.0f}, traced "
                  f"{statistics.median(traced):.0f}: tracing overhead "
                  f"{(statistics.median(traced) - base) / base:+.1%} ({len(traced)} traced runs)")
    print(f"raw results: {log_path}")
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
