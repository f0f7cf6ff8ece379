"""The ``batch_queries`` workload: one client running registered query
keys back to back over seeded fixture tables.

The first pass is the warm-up and the output check: each key is
compared with its ``oracle_sql()`` twin in DuckDB by
``tests.oracle_harness.compare_query``. Timed passes then build each key
with ``queries()[key](spark, sf_dir)`` (construction: plan building,
schema inference, staging, table commits) and force it to the ``noop``
sink (execution).
"""

from __future__ import annotations

import sys
import time

from bench import HEADLINE
from inputs import write_tables
from spans import median

# the headline keys plus the merge-on-read table key: commit, bitmap
# deletion-vector writes and the MoR read, so the table format's writes
# are timed beside its reads
KEYS = HEADLINE + ["q_table_merge_dv_bitmap"]
TABLE_SCALE = 10  # ×10 the smallest fixture: 60,000 lineitem rows
# A pass took about 10 s on a 4-vCPU box, so a run times one pass per
# 10 s asked for. The count is fixed by --seconds, not by how many passes
# happen to fit: later passes cost less (the JIT keeps compiling), so a
# count that followed the box's speed would move the per-key CPU time.
PASS_S = 10


def _jobs(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _watch_load() -> list[tuple]:
    """Wrap ``sources.load`` wherever the engine's modules bound it, to
    record (start, end) per call."""
    from steaminganalysis_spark.sources import registry

    inner = registry.load
    calls: list[tuple] = []

    def load(spark, sf_dir, name):
        t0 = time.time()
        df = inner(spark, sf_dir, name)
        calls.append((t0, time.time()))
        return df

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("steaminganalysis_spark") and getattr(
            mod, "load", None
        ) is inner:
            mod.load = load
    return calls


def _one_pass(run, sf_dir: str, n: int, loads: list[tuple]) -> dict:
    sc = run.spark.sparkContext
    traced = run.tracer.enabled
    t_pass = time.time()
    first_load = len(loads)
    keys: dict[str, dict] = {}
    for key in KEYS:
        t0 = time.time()
        try:
            if traced:
                sc.setJobGroup(f"construct:{key}:{n}", key)
            df = run.Q[key](run.spark, sf_dir)
            t1 = time.time()
            if traced:
                sc.setJobGroup(f"execute:{key}:{n}", key)
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing key is counted, the pass goes on
            run.fail(1, f"{key}: {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            run.attempted += 1
        t2 = time.time()
        keys[key] = {"t0": t0, "t1": t1, "t2": t2}
        # the pass is one client's queue: every key is due at the pass
        # start and done when its execution ends
        keys[key]["latency_ms"] = (t2 - t_pass) * 1000.0
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        pass_span = run.tracer.add("pass", t_pass, time.time())
        pass_loads = loads[first_load:]
        for key, k in keys.items():
            span = run.tracer.add(f"construct:{key}", k["t0"], k["t1"], pass_span)
            run.tracer.add(f"execute:{key}", k["t1"], k["t2"], pass_span)
            for a, b in pass_loads:
                if k["t0"] <= a < k["t1"]:
                    run.tracer.add("sources.load", a, b, span)
            k["construct_jobs"] = _jobs(sc, f"construct:{key}:{n}")
            k["execute_jobs"] = _jobs(sc, f"execute:{key}:{n}")
    return {"s": time.time() - t_pass, "keys": keys, "loads": len(loads) - first_load,
            "load_s": sum(b - a for a, b in loads[first_load:])}


def batch_queries(run) -> None:
    from tests.oracle_harness import compare_query

    sf_dir = run.path("tables")
    write_tables(run.seed, sf_dir, TABLE_SCALE)

    t0 = time.perf_counter()
    for key in KEYS:
        run.attempted += 1
        try:
            problems = compare_query(run.spark, key, sf_dir, run.Q, run.O)
        except Exception as e:
            problems = [f"{key}: {type(e).__name__}: {str(e)[:200]}"]
        if problems:
            run.fail(1, problems[0][:300])
    run.warmup_s = time.perf_counter() - t0

    loads = _watch_load() if run.tracer.enabled else []
    run.trace_since = time.time()
    gc0 = run.gc_ms()
    cpu0 = run.cpu_s()
    passes = [_one_pass(run, sf_dir, n, loads) for n in range(max(1, run.seconds // PASS_S))]
    run.latencies_ms = [k["latency_ms"] for p in passes for k in p["keys"].values()]
    run.cpu_ms_per_item = (run.cpu_s() - cpu0) * 1000.0 / (len(passes) * len(KEYS))
    run.layer["jvm.gc_ms"] = (run.gc_ms() - gc0) / len(passes)
    run.units = len(passes)

    run.layer["batch_pass_s"] = median(p["s"] for p in passes)
    for key in KEYS:
        done = [p["keys"][key] for p in passes if key in p["keys"]]
        run.layer[f"construct_s.{key}"] = median(k["t1"] - k["t0"] for k in done)
        run.layer[f"execute_s.{key}"] = median(k["t2"] - k["t1"] for k in done)
    run.layer["batch.construct_s"] = median(
        sum(k["t1"] - k["t0"] for k in p["keys"].values()) for p in passes
    )
    run.layer["batch.execute_s"] = median(
        sum(k["t2"] - k["t1"] for k in p["keys"].values()) for p in passes
    )
    if run.tracer.enabled:
        for key in KEYS:
            done = [p["keys"][key] for p in passes if key in p["keys"]]
            run.layer[f"construct_jobs.{key}"] = median(k["construct_jobs"] for k in done)
        run.layer["batch.construct_jobs"] = median(
            sum(k["construct_jobs"] for k in p["keys"].values()) for p in passes
        )
        run.layer["batch.execute_jobs"] = median(
            sum(k["execute_jobs"] for k in p["keys"].values()) for p in passes
        )
        run.layer["sources.load_s"] = median(p["load_s"] for p in passes)
        run.layer["sources.load_calls"] = median(p["loads"] for p in passes)
