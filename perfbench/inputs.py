"""Seeded inputs for the benchmark workloads.

Everything the engine reads is written here from ``--seed``; the engine
only ever sees the files. Two families:

- reference-producer order events (all-string JSON lines, as in the
  reference's KafkaProducerApp), with an exact per-day tally of what was
  written so the KV sink's final state can be checked;
- fixture tables with the schemas and value domains of the repository's
  parquet fixtures (FIXTURES.md), for the batch query keys and their
  DuckDB oracles.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import defaultdict

import numpy as np

# Per-day tally of the rollup the KV sink must end up holding:
# {day: [total, success, fee_cents]}.
Tally = dict[str, list[int]]


def order_lines(
    rng: np.random.Generator, times: list[str]
) -> tuple[list[str], Tally]:
    """One reference-producer order JSON line per entry of ``times``
    (``yyyy-MM-dd HH:mm:ss``), plus the per-day tally of those lines."""
    n = len(times)
    user = rng.integers(0, 1000, n)
    course = rng.integers(0, 500, n)
    fee = rng.integers(0, 500, n)
    flag = rng.integers(0, 2, n)
    oid = rng.integers(0, 2**63 - 1, n)
    lines = []
    tally: Tally = defaultdict(lambda: [0, 0, 0])
    for i, t in enumerate(times):
        lines.append(
            f'{{"time":"{t}","userId":"{user[i]}","courseId":"{course[i]}",'
            f'"fee":"{fee[i]}","flag":"{flag[i]}","orderId":"{oid[i]:016x}"}}'
        )
        day = tally[t[:10]]
        day[0] += 1
        if flag[i]:
            day[1] += 1
            day[2] += int(fee[i]) * 100
    return lines, dict(tally)


def merge_tally(into: Tally, part: Tally) -> None:
    for day, (total, success, fee_cents) in part.items():
        cur = into.setdefault(day, [0, 0, 0])
        cur[0] += total
        cur[1] += success
        cur[2] += fee_cents


def write_atomic(path: str, lines: list[str]) -> None:
    """Write to a hidden temp name, then rename: the file source skips
    dot-files, so it never lists a half-written file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, path)


def write_backlog(
    seed: int, out_dir: str, n_files: int, per_file: int, n_days: int
) -> Tally:
    """``n_files`` files of ``per_file`` order events whose times span
    ``n_days`` event days (each file covers every day)."""
    rng = np.random.default_rng(seed)
    base = dt.datetime(2024, 3, 1)
    os.makedirs(out_dir, exist_ok=True)
    tally: Tally = {}
    for i in range(n_files):
        secs = rng.integers(0, n_days * 86400, per_file)
        times = [(base + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")
                 for s in secs]
        lines, part = order_lines(rng, times)
        merge_tally(tally, part)
        write_atomic(os.path.join(out_dir, f"part-{i:05d}.json"), lines)
    return tally


# --- fixture tables -------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query filter group "
    "stream big vector"
).split()
_COLORS = "red blue green small large black white steel".split()
_NOUNS = "ring widget bolt nut gear spring valve pin".split()


def _ts(start: dt.datetime, micros: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + micros.astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def write_tables(seed: int, out_dir: str, scale: int = 1) -> dict[str, int]:
    """Write the ten fixture tables (one parquet file each) at
    ``scale`` × the smallest fixture size; returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    day_us = 86_400 * 10**6
    tables: dict[str, dict] = {}

    tables["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    tables["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    tables["customer"] = {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ).tolist(),
    }
    tables["supplier"] = {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    tables["part"] = {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(_COLORS)} {rng.choice(_NOUNS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    }
    tables["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(
            _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day_us),
            pa.timestamp("us"),
        ),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    }
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": pa.array(
            _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_line) * day_us),
            pa.timestamp("us"),
        ),
    }
    tables["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(
            _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * day_us, n_ev))),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev
        ).tolist(),
        "value": _money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }

    # documents: word salad with some exact and some one-word-off
    # copies, so the dedup keys have duplicates to find
    texts: list[str] = []
    for i in range(500):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": pa.array(range(500), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], 500).tolist(),
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }

    labels = rng.integers(0, 10, 500)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.8 * rng.normal(size=(500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
