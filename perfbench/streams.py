"""The two streaming workloads: the reference order pipeline
(text file source → ``parse_order_json`` → ``classify_orders`` →
``day_rollup_sink(..., day_rollup_delta)`` into the in-process
``KVStore``) as a closed drain (``stream_backlog``) and under an open
loop (``stream_steady``).

``stream_steady`` is not among BENCHMARK.json's workloads: its latency
is set by per-trigger fixed costs (many small thread hand-offs, RPCs and
file operations), which on a shared 4-vCPU box moved 30-60 % between
identical runs, more than the largest bound a gated metric may have.
It stays runnable for exploring per-trigger costs.

A file source stands in for the Kafka topic (no broker is installed).
Per-file latency is measured from outside the engine: the checkpoint's
file-source log (``sources/0/<batchId>`` and its ``.compact`` files)
maps each file to the micro-batch that read it, and that batch's
progress (``timestamp`` + ``durationMs.triggerExecution``) says when the
KV store had it.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import subprocess
import sys
import time

from steaminganalysis_spark.streaming.pipeline import (
    classify_orders,
    day_rollup_delta,
    parse_order_json,
)
from steaminganalysis_spark.streaming.sinks import KEY_PREFIX, KVStore, day_rollup_sink

from inputs import write_backlog
from spans import median

PHASES = ("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets")

# stream_steady: 20,000 events/s as one 1,000-event file every 50 ms,
# so a 10 s measurement holds 200 file samples (enough for a p95).
# Before the open loop starts, a small closed drain (one file of 10,000
# events per trigger) warms the pipeline, and the first seconds of the
# open loop are left out too.
STEADY_TICK_S = 0.05
STEADY_PER_TICK = 1000
STEADY_WARMUP_FILES = 4
STEADY_WARMUP_PER_FILE = 10_000
STEADY_WARMUP_S = 3.0

# stream_backlog: 20 files × 25,000 events over 30 event days, read
# 4 files per trigger
BACKLOG_FILES = 20
BACKLOG_PER_FILE = 25_000
BACKLOG_DAYS = 30
BACKLOG_FILES_PER_TRIGGER = 4
# A run times one drain per 5 s asked for (a warm drain took 3-5 s on a
# 4-vCPU box). The count is fixed by --seconds, not by how many drains
# happen to fit: later drains cost less (the JIT keeps compiling), so a
# count that followed the box's speed would move the per-file CPU time.
BACKLOG_DRAIN_S = 5


def start_stream(spark, in_dir: str, ckpt: str, store: str, max_files: int | None = None):
    reader = spark.readStream
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    orders = classify_orders(parse_order_json(reader.text(in_dir)))
    return day_rollup_sink(orders, ckpt, day_rollup_delta, store_name=store).start()


def completed_triggers(query) -> list[dict]:
    """Data-carrying triggers of ``query``: batch id, wall-clock start
    and end (epoch s), input rows and the phase durations in ms."""
    out = []
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        start = (
            dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
        )
        ms = dict(p.durationMs)
        out.append(
            {
                "batch": p.batchId,
                "start": start,
                "end": start + ms["triggerExecution"] / 1000.0,
                "rows": p.numInputRows,
                "ms": ms,
            }
        )
    return out


def file_batches(ckpt: str) -> dict[str, int]:
    """File name → id of the batch that read it, from the checkpoint's
    file-source log (plain and ``.compact`` entries alike)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def store_matches(store: str, tally: dict[str, list[int]]) -> bool:
    """The store holds exactly the tally: no day lost, none extra, no
    increment lost or counted twice."""
    kv = KVStore.instance(store)
    got = {k[len(KEY_PREFIX):]: kv.hgetall(k) for k in kv.keys()}
    want = {
        day: {"total": t, "success": s, "fee_cents": f} for day, (t, s, f) in tally.items()
    }
    return got == want


def watch_apply_batch(store: str) -> list[tuple]:
    """Wrap the store instance's ``apply_batch`` to record, per call,
    (batch id, start, end, increments, applied)."""
    kv = KVStore.instance(store)
    inner = kv.apply_batch
    calls: list[tuple] = []

    def apply_batch(batch_id, increments, marker_key):
        t0 = time.time()
        applied = inner(batch_id, increments, marker_key)
        calls.append((batch_id, t0, time.time(), len(increments), applied))
        return applied

    kv.apply_batch = apply_batch
    return calls


def trace_triggers(run, triggers: list[dict], calls: list[tuple]) -> None:
    """Spans for each trigger, its phases laid end to end in progress
    order, and each KV apply under the addBatch phase of its batch."""
    add_batch_span = {}
    for t in triggers:
        parent = run.tracer.add("trigger", t["start"], t["end"])
        cursor = t["start"]
        for phase in PHASES:
            d = t["ms"].get(phase, 0) / 1000.0
            idx = run.tracer.add(f"trigger.{phase}", cursor, cursor + d, parent)
            if phase == "addBatch":
                add_batch_span[t["batch"]] = idx
            cursor += d
    for batch_id, t0, t1, _, _ in calls:
        run.tracer.add("sinks.apply_batch", t0, t1, add_batch_span.get(batch_id))


def trigger_layers(run, triggers: list[dict]) -> None:
    for phase in PHASES:
        run.layer[f"trigger.{phase}_ms"] = median(t["ms"].get(phase, 0) for t in triggers)
    run.layer["trigger.count"] = len(triggers)
    run.layer["trigger.rows_p50"] = median(t["rows"] for t in triggers)
    run.info["trigger_ms_p50"] = median(t["ms"]["triggerExecution"] for t in triggers)
    run.info["trigger_ms_max"] = max((t["ms"]["triggerExecution"] for t in triggers), default=0)


def stream_steady(run) -> None:
    """Open loop at a fixed 20,000 events/s; latency is per file, from
    its due time to the end of the trigger that applied it."""
    warm_dir = run.path("steady_warmup_in")
    tally = write_backlog(run.seed, warm_dir, STEADY_WARMUP_FILES, STEADY_WARMUP_PER_FILE, 1)
    run.warmup_s = drain(run, warm_dir, "steady_warmup", tally, STEADY_WARMUP_FILES, 1)["s"]

    in_dir, ckpt = run.path("steady_in"), run.path("steady_ckpt")
    os.makedirs(in_dir)
    store = f"perfbench-steady-{run.seed}"
    KVStore.reset(store)
    calls = watch_apply_batch(store) if run.tracer.enabled else []
    n_ticks = round((STEADY_WARMUP_S + run.seconds) / STEADY_TICK_S)
    log_path = run.path("producer.json")

    query = start_stream(run.spark, in_dir, ckpt, store)
    t0 = time.time() + 0.5
    window = t0 + STEADY_WARMUP_S
    producer = subprocess.Popen(
        [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "producer.py"),
            "--dir", in_dir, "--seed", str(run.seed), "--start", repr(t0),
            "--ticks", str(n_ticks), "--tick-s", str(STEADY_TICK_S),
            "--per-tick", str(STEADY_PER_TICK), "--log", log_path,
        ]
    )
    try:
        time.sleep(max(0.0, window - time.time()))
        gc0, cpu0 = run.gc_ms(), run.cpu_s(skip=producer.pid)
        rc = producer.wait(timeout=run.seconds + STEADY_WARMUP_S + 60)
        gc1, cpu1 = run.gc_ms(), run.cpu_s(skip=producer.pid)
        query.processAllAvailable()
        triggers = completed_triggers(query)
    finally:
        if producer.poll() is None:
            producer.kill()
        producer.wait()
        query.stop()
    if rc != 0:
        raise RuntimeError(f"producer exited with {rc}")

    with open(log_path) as f:
        log = json.load(f)
    files = log["files"]
    batch_of = file_batches(ckpt)
    end_of = {t["batch"]: t["end"] for t in triggers}
    measured = [f for f in files if f[1] >= window]
    run.attempted += len(files)
    lost = {f[0] for f in files if batch_of.get(f[0]) not in end_of}
    run.latencies_ms = [
        (end_of[batch_of[name]] - due) * 1000.0
        for name, due, _, _ in measured
        if name not in lost
    ]
    # how late the producer started each write against its schedule
    late_ms = max((w0 - due) * 1000.0 for _, due, w0, _ in files)
    # lag = rows written (file renamed into place) but not yet in a
    # completed trigger, sampled at each trigger end in the window
    written = sorted(w1 for _, _, _, w1 in files)
    timed = [t for t in triggers if t["start"] >= window]
    lags, applied = [], 0
    for t in sorted(triggers, key=lambda t: t["end"]):
        applied += t["rows"]
        if t["start"] >= window:
            n_written = sum(1 for w in written if w <= t["end"])
            lags.append(n_written * STEADY_PER_TICK - applied)
    quarter = max(1, len(lags) // 4)
    lag_grew = bool(lags) and median(lags[-quarter:]) > 2 * median(lags[:quarter]) + (
        STEADY_PER_TICK / STEADY_TICK_S
    )

    problems = []
    if lost:
        problems.append(f"{len(lost)} files never applied")
    if not store_matches(store, log["tally"]):
        problems.append("KV state differs from the producer tally")
    if late_ms > STEADY_TICK_S * 1000.0:
        problems.append(f"producer ran {late_ms:.0f} ms late (> one tick)")
    if lag_grew:
        problems.append(f"lag kept growing: {lags[:quarter]} -> {lags[-quarter:]}")
    if problems:
        run.fail(len(files), "; ".join(problems))
    KVStore.reset(store)

    trigger_layers(run, timed)
    run.info["lag_rows_max"] = max(lags, default=0)
    run.info["generator_late_ms_max"] = late_ms
    run.layer["jvm.gc_ms"] = gc1 - gc0
    run.cpu_ms_per_item = (cpu1 - cpu0) * 1000.0 / max(1, len(measured))
    run.units = run.seconds
    if run.tracer.enabled:
        for name, due, w0, w1 in files:
            run.tracer.add("generator.write", w0, w1)
        trace_triggers(run, triggers, calls)
        run.trace_since = window


def drain(run, in_dir: str, tag: str, tally: dict, n_files: int, max_files: int) -> dict:
    """Drain ``in_dir`` to the end with a fresh checkpoint and store,
    check the store against ``tally`` and return the drain's timings."""
    store, ckpt = f"perfbench-{tag}-{run.seed}", run.path(f"ckpt_{tag}")
    KVStore.reset(store)
    calls = watch_apply_batch(store) if run.tracer.enabled else []
    gc0 = run.gc_ms()
    t0 = time.time()
    query = start_stream(run.spark, in_dir, ckpt, store, max_files)
    try:
        query.processAllAvailable()
        t1 = time.time()
        triggers = completed_triggers(query)
    finally:
        query.stop()
    gc1 = run.gc_ms()
    batch_of = file_batches(ckpt)
    end_of = {t["batch"]: t["end"] for t in triggers}
    run.attempted += 1
    problems = []
    if len(batch_of) != n_files or set(batch_of.values()) - set(end_of):
        problems.append("files missing from the checkpoint or progress")
    if not store_matches(store, tally):
        problems.append("KV state differs from the generator tally")
    if problems:
        run.fail(1, f"drain {tag}: " + "; ".join(problems))
    KVStore.reset(store)
    return {
        "t0": t0, "s": t1 - t0, "gc_ms": gc1 - gc0, "triggers": triggers, "calls": calls,
        "lat": [(end_of[b] - t0) * 1000.0 for b in batch_of.values() if b in end_of],
    }


def stream_backlog(run) -> None:
    """Closed drain of a pre-written backlog, repeated with a fresh
    checkpoint and store each time; the first (cold) drain is warm-up.
    Latency is per file, from the drain's start to the end of the
    trigger that applied it."""
    in_dir = run.path("backlog_in")
    tally = write_backlog(run.seed, in_dir, BACKLOG_FILES, BACKLOG_PER_FILE, BACKLOG_DAYS)
    rows = BACKLOG_FILES * BACKLOG_PER_FILE
    drains: list[dict] = []

    def drain_backlog(i: int) -> dict:
        return drain(run, in_dir, f"backlog{i}", tally, BACKLOG_FILES, BACKLOG_FILES_PER_TRIGGER)

    warm = drain_backlog(0)
    run.warmup_s = warm["s"]
    cpu0 = run.cpu_s()
    for i in range(max(1, run.seconds // BACKLOG_DRAIN_S)):
        drains.append(drain_backlog(i + 1))
    run.cpu_ms_per_item = (run.cpu_s() - cpu0) * 1000.0 / (len(drains) * BACKLOG_FILES)

    run.latencies_ms = [x for d in drains for x in d["lat"]]
    triggers = [t for d in drains for t in d["triggers"]]
    calls = [c for d in drains for c in d["calls"]]
    trigger_layers(run, triggers)
    run.layer["drain_rows_per_s"] = median(rows / d["s"] for d in drains)
    run.layer["jvm.gc_ms"] = median(d["gc_ms"] for d in drains)
    run.units = len(drains)
    if run.tracer.enabled:
        apply_ms = {}
        for d in drains:
            for batch_id, t0, t1, _, _ in d["calls"]:
                apply_ms[(d["t0"], batch_id)] = (t1 - t0) * 1000.0
        run.layer["sinks.kv_apply_batch_ms"] = median(v for v in apply_ms.values())
        run.layer["pipeline.agg_ms"] = median(
            t["ms"].get("addBatch", 0) - apply_ms.get((d["t0"], t["batch"]), 0.0)
            for d in drains for t in d["triggers"]
        )
        run.layer["sinks.increments_per_batch"] = median(c[3] for c in calls)
        run.layer["sinks.batches_attempted"] = len(calls)
        run.layer["sinks.batches_applied"] = sum(1 for c in calls if c[4])
        for d in [warm] + drains:
            trace_triggers(run, d["triggers"], d["calls"])
        run.trace_since = drains[0]["t0"]
