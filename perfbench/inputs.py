"""Seeded input generators for the benchmark workloads.

Everything the engine reads during a run is produced here from the
``--seed`` argument, inside the run's own work directory, so the same
seed always gives byte-identical inputs and no run reads data from
outside its checkout.

- Traffic records follow the reference contract: CSV lines
  ``"<epoch_ms>,<count>"``, one file per micro-batch.
- The warehouse tables mirror the schemas and value distributions of
  the engine's synthetic test fixtures (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings), at
  a scale factor the caller picks.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# 2017-11-21T19:02:32Z, the first timestamp of the reference's producer.
TRAFFIC_EPOCH_MS = 1_511_290_952_000
# Event-time backlog: events per simulated second, the share of events
# that arrive late, and how late they may be (well inside the
# pipeline's 2-minute watermark).
EVENTS_PER_S = 100
LATE_SHARE = 0.05
MAX_DELAY_S = 60


def write_trickle_files(
    directory: str, seed: int, n_files: int, records_per_file: int
) -> list[list[tuple[int, int]]]:
    """Parity-mode backlog: ``n_files`` small CSV files, one record per
    simulated second. A few lines carry the trailing whitespace the
    reference defends against. Returns the (epoch_ms, count) records of
    each file, in file order, for the output check."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    files: list[list[tuple[int, int]]] = []
    t = TRAFFIC_EPOCH_MS
    for i in range(n_files):
        counts = rng.integers(0, 100, records_per_file)
        pad = rng.random(records_per_file) < 0.01
        records, lines = [], []
        for c, p in zip(counts.tolist(), pad.tolist()):
            t += 1000
            records.append((t, c))
            lines.append(f"{t},{c} " if p else f"{t},{c}")
        with open(os.path.join(directory, f"part-{i:05d}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")
        files.append(records)
    return files


def write_windowed_files(
    directory: str, seed: int, n_files: int, records_per_file: int
) -> tuple[np.ndarray, np.ndarray]:
    """Event-time backlog: ``n_files`` CSV files of ``records_per_file``
    events each, in arrival order.

    Events are created at ``EVENTS_PER_S`` per simulated second. A
    ``LATE_SHARE`` of them arrive up to ``MAX_DELAY_S`` after their
    event time, so a batch updates windows that earlier batches opened
    as well as opening new ones. Returns the (event_ms, count) arrays in arrival
    order for the output check."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = n_files * records_per_file
    step_ms = 1000 // EVENTS_PER_S
    ts = TRAFFIC_EPOCH_MS + np.arange(n, dtype=np.int64) * step_ms
    ts += rng.integers(0, step_ms, n)
    delay = np.where(
        rng.random(n) < LATE_SHARE, rng.integers(0, MAX_DELAY_S * 1000, n), 0
    )
    order = np.argsort(ts + delay, kind="stable")
    ts = ts[order]
    counts = rng.integers(0, 100, n).astype(np.int64)
    opts = pacsv.WriteOptions(include_header=False)
    for i in range(n_files):
        sl = slice(i * records_per_file, (i + 1) * records_per_file)
        table = pa.table({"t": ts[sl], "c": counts[sl]})
        pacsv.write_csv(table, os.path.join(directory, f"part-{i:05d}.csv"), opts)
    return ts, counts


# ---------------------------------------------------------------------------
# Warehouse tables

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_PART_ADJ = ["blue", "red", "small", "old", "new", "hot", "big", "green"]
_PART_NOUN = ["anvil", "bolt", "gear", "ring", "widget", "spring", "nut", "valve"]
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(directory: str, seed: int, sf: float) -> None:
    """Write the ten warehouse tables as ``<directory>/<name>.parquet``."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_items = 4 * n_orders
    n_part = max(20, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(directory, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_day = rng.integers(0, 2400, n_orders)
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_EPOCH_1995_US + order_day * _DAY_US),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_items).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_items),
        "l_partkey": rng.integers(0, n_part, n_items),
        "l_suppkey": rng.integers(0, n_supp, n_items),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_items), 2),
        "l_discount": np.round(rng.integers(0, 11, n_items) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_items) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_items)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_items)],
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n_items) * _DAY_US),
    })
    ev_us = _EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    put("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ev_us),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(60.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # Near-duplicate of an earlier document: the dedup family's
            # positives.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n_words)))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
