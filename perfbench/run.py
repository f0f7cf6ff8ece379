"""The repository benchmark: one command, workloads with checked outputs.

    python3 perfbench/run.py --workload stream_backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (BENCHMARK.json says why):

- ``stream_backlog``: closed drain of a 500,000-event backlog through
  the reference order pipeline into the KV sink;
- ``batch_queries``: one client running the headline query keys and the
  merge-on-read table key back to back;
- ``stream_steady``: open loop at 20,000 order events/s through the same
  pipeline. Not in BENCHMARK.json: too noisy to gate on a shared box
  (see streams.py).

Every input is written from ``--seed`` under ``.perfbench_work/`` in the
checkout, which also holds the engine's temp, spill and warehouse dirs;
nothing outside the checkout is read or written. The engine is set up
several times (``get_spark`` + ``collect_queries``; the first launches
the JVM, the rest restart the session in it) and ``setup_s`` is the
median. Warm-up (the first drain, the first pass, the first seconds of
steady triggers) is kept out of every timed sample and reported apart.

End-to-end metrics, printed with ``--trace 0``:

- ``cpu_ms_per_item``: CPU time of this process and every process it
  started (the JVM and its Python workers), less the JVM's JIT compiler
  threads, per item of the timed units: per backlog file of 25,000
  events (``stream_backlog``), per query key (``batch_queries``), per
  file of the open loop (``stream_steady``);
- ``setup_s``: median CPU time, measured the same way, of one set-up.

CPU time rather than wall time is gated because wall time moved 15-70 %
(quartile distance over median) between identical runs on a shared
4-vCPU box, beyond the largest bound a gated metric may have; CPU time
moved 4-19 %. Wall-clock latency is still measured and reported:
``latency_p50_ms`` / ``latency_p95_ms`` per input item, from when it
was due to when its result was complete. An item is a backlog file due
when the drain starts, a query key due when the client's pass starts,
or a file due on the producer's schedule. They are on the run-facts
line of every run and among the per-layer metrics of traced runs.

``--trace 1`` reruns the workload with spans and counters on and prints
the per-layer metrics of BENCHMARK.json instead (0 where a layer is idle
in the workload), including each layer's self time per timed unit and
the traced run's own latency, whose gap to the untraced runs' latency is
the tracing overhead (``steadiness.py --traced`` prints it). Spans are
written to ``.perfbench_work/traces/``.

The last stdout line is the result object; the line before it carries
run facts (cpus, master, load average, warm-up, sample count).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_steady", "stream_backlog", "batch_queries")
SETUPS = 7
# The engine runs local[2]: the other cores are left to the JVM's JIT
# compiler and GC threads and to the box's other processes, which on a
# shared 4-vCPU box made runs steadier than local[4].
ENGINE_CPUS = 2

# per-layer metric -> (layer, end-to-end metric it should move, workload)
LAYER_MAP = {
    "trigger.<phase>_ms (p50 per trigger), trigger.count, trigger.rows_p50, self_s.engine":
        ("Spark micro-batch engine, file source", "cpu_ms_per_item, latency", "stream_backlog"),
    "pipeline.agg_ms, self_s.pipeline, sinks.kv_apply_batch_ms, sinks.increments_per_batch, "
    "sinks.batches_applied/attempted, self_s.sinks, drain_rows_per_s":
        ("streaming.pipeline, streaming.sinks", "cpu_ms_per_item, latency", "stream_backlog"),
    "batch.*, construct_s.<key>, execute_s.<key>, construct_jobs.<key>, self_s.operators, "
    "batch_pass_s":
        ("operators.* with staging; operators.storage via q_table_merge_dv_bitmap",
         "cpu_ms_per_item, latency", "batch_queries"),
    "sources.load_s, sources.load_calls, self_s.sources":
        ("sources (registry.load)", "cpu_ms_per_item, latency", "batch_queries"),
    "session.get_spark_s, session.setup_wall_s, session.first_setup_s, "
    "registry.collect_queries_s":
        ("session, registry", "setup_s", "all"),
    "jvm.gc_ms, jvm.peak_rss_mb": ("jvm", "cpu_ms_per_item", "all"),
}


class Run:
    """State of one benchmark run, filled in by the workload."""

    def __init__(self, args, work: str) -> None:
        from spans import Tracer

        self.seed, self.seconds, self.work = args.seed, args.seconds, work
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
        self.spark = self.Q = self.O = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.latencies_ms: list[float] = []
        self.layer: dict[str, float] = {}
        self.warmup_s = 0.0
        self.units = 1  # timed units (passes, drains, steady seconds)
        self.trace_since = 0.0
        self.info: dict = {}  # extra run facts for the info line
        self.cpu_ms_per_item = 0.0  # set by the workload over its timed units

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fail(self, n: int, problem: str) -> None:
        self.failed += n
        self.problems.append(problem)

    def gc_ms(self) -> int:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def cpu_s(self, skip: int | None = None) -> float:
        """CPU seconds used so far by this process and every process it
        started (the JVM and its Python workers), from /proc, less the
        JVM's JIT compiler threads: compilation is warm-up work whose
        amount varies from run to run. ``skip`` leaves out one child
        (the load generator)."""
        ticks, kids = {}, {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                fields = _stat(f"/proc/{entry}/stat")
                if fields:
                    ticks[int(entry)] = int(fields[13]) + int(fields[14])
                    kids.setdefault(int(fields[3]), []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid == skip:
                continue
            total += ticks.get(pid, 0)
            todo += kids.get(pid, [])
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                if fields and fields[1].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    total -= int(fields[13]) + int(fields[14])
        return total / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        pid = mf.getRuntimeMXBean().getName().split("@")[0]
        with open(f"/proc/{pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _stat(path: str) -> list[str] | None:
    """Fields of a /proc stat file: [pid, comm, state, ppid, ...], or
    None if the process or thread has gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    pid, comm = head.split(" (", 1)
    return [pid, comm, *tail.split()]


def isolate(work: str) -> dict[str, str]:
    """Point every temp, spill and warehouse dir of the engine into the
    run's work dir, and make the package importable by Python workers.
    Returns the Spark confs that carry the same to the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(min(ENGINE_CPUS, len(os.sched_getaffinity(0))))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    sys.path.insert(0, ROOT)
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def set_up(run: Run, conf: dict[str, str]) -> dict[str, float]:
    from steaminganalysis_spark.registry import collect_queries
    from steaminganalysis_spark.session import get_spark

    total, sessions, registries, cpus = [], [], [], []
    for i in range(SETUPS):
        if i:
            run.spark.stop()
        c0 = run.cpu_s()
        t0 = time.time()
        run.spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = time.time()
        run.Q, run.O = collect_queries()
        t2 = time.time()
        cpus.append(run.cpu_s() - c0)
        run.tracer.add("setup.get_spark", t0, t1)
        run.tracer.add("setup.collect_queries", t1, t2)
        total.append(t2 - t0)
        sessions.append(t1 - t0)
        registries.append(t2 - t1)
    from spans import median

    run.layer["session.get_spark_s"] = median(sessions)
    run.layer["session.setup_wall_s"] = median(total)
    run.layer["session.first_setup_s"] = total[0]
    run.layer["registry.collect_queries_s"] = median(registries)
    return {"setup_s": median(cpus), "setup_wall_s": median(total), "first_setup_s": total[0]}


def shut_down(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "steaminganalysis_spark", "__init__.py")):
        print(f"perfbench: no steaminganalysis_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        conf = isolate(work)
        run = Run(args, work)
        try:
            facts = set_up(run, conf)
            import batch
            import streams

            workload = {
                "stream_steady": streams.stream_steady,
                "stream_backlog": streams.stream_backlog,
                "batch_queries": batch.batch_queries,
            }[args.workload]
            workload(run)
            rss = run.peak_rss_mb()
            master = run.spark.sparkContext.master
        finally:
            if run.spark is not None:
                shut_down(run.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    from spans import median, percentile

    if not run.latencies_ms:
        raise RuntimeError(f"{args.workload}: no latency samples; problems: {run.problems}")
    e2e = {"cpu_ms_per_item": run.cpu_ms_per_item, "setup_s": facts["setup_s"]}
    latency = {
        "latency_p50_ms": median(run.latencies_ms),
        "latency_p95_ms": percentile(run.latencies_ms, 95),
    }
    run.layer["jvm.peak_rss_mb"] = rss
    if args.trace:
        run.layer["bench.warmup_s"] = run.warmup_s
        run.layer.update(latency)
        for layer, s in run.tracer.self_times(run.trace_since).items():
            run.layer[f"self_s.{layer}"] = s / run.units
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        run.tracer.dump(os.path.join(traces, f"{run.tracer.run_id}.json"))
        print(json.dumps({"layers": LAYER_MAP}))
        wanted, values = spec["per_layer"], run.layer
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}

    print(json.dumps({"info": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "master": master,
        "loadavg_1m": os.getloadavg()[0], "warmup_s": run.warmup_s,
        "first_setup_s": facts["first_setup_s"], "setup_wall_s": facts["setup_wall_s"],
        **latency, "samples": len(run.latencies_ms),
        "timed_units": run.units, "problems": run.problems[:5], **run.info,
    }}))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
