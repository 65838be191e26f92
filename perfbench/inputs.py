"""Seeded inputs for every workload, cached by (seed, size).

Nothing here reads the repository's fixtures: the program under test
only ever sees what these functions generate from the run's seed.

- ``batch_tables``: the ten parquet tables the batch query registry
  reads (TPC-H-like star schema, ``events``, ``documents`` with exact
  near-duplicates, ``embeddings``), with the shapes and value ranges
  the queries and their DuckDB oracles expect.
- ``live_frames``: length-prefixed Riemann protobuf ``Msg`` frames for
  the open-loop TCP generator, with each event's due offset as its
  event time.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np

CACHE_DIR = ".perfbench_cache"

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# event time base for the live workload (2023-11-14T22:13:20Z)
EPOCH_US = 1_700_000_000_000_000


def cache_dir(root: str, name: str) -> str:
    path = os.path.join(root, CACHE_DIR, name)
    os.makedirs(path, exist_ok=True)
    return path


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        json.dump(meta, f)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent substreams per table, so adding a table never
    # changes the bytes of another
    return np.random.default_rng([seed, sum(map(ord, stream))])


# -- batch suite tables -----------------------------------------------------


def _write(path: str, name: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def _ts_us(days_from: str, micros: np.ndarray) -> np.ndarray:
    return np.datetime64(days_from, "us") + micros.astype("timedelta64[us]")


def batch_tables(root: str, seed: int, sf: float) -> str:
    """Write the ten tables at scale factor ``sf``; returns their dir."""
    import pyarrow as pa

    path = cache_dir(root, f"batch-s{seed}-sf{sf}")
    if _done(path):
        return path
    money = lambda a: np.round(a, 2)  # noqa: E731

    _write(path, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(path, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    r = _rng(seed, "customer")
    _write(path, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    r = _rng(seed, "supplier")
    _write(path, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(r.uniform(-999.99, 9999.99, n_supp)),
    })
    r = _rng(seed, "part")
    colors = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
    nouns = ["widget", "bolt", "ring", "plate", "gear", "pipe", "valve", "spring"]
    _write(path, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in r.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(
            ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], n_part
        ),
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": money(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    r = _rng(seed, "orders")
    _write(path, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(r.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts_us("1995-01-01", r.integers(0, 2400, n_ord) * 86_400_000_000),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype("float64")
    _write(path, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": r.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": r.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": r.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": money(qty * r.uniform(900.0, 2100.0, n_line)),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _ts_us("1995-01-01", r.integers(0, 2600, n_line) * 86_400_000_000),
    })
    r = _rng(seed, "events")
    n_ev = int(1_000_000 * sf)
    _write(path, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts_us("2024-01-01", np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))),
        "user_id": r.integers(0, max(int(15_000 * sf), 2), n_ev).astype("int64"),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": money(np.maximum(r.exponential(50.0, n_ev), 0.01)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    r = _rng(seed, "documents")
    n_doc = int(50_000 * sf)
    is_dup = np.zeros(n_doc, dtype=bool)
    is_dup[r.choice(np.arange(20, n_doc), n_doc // 20, replace=False)] = True
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_doc):
        if is_dup[i]:
            # a marked copy of an earlier original: every duplicate cluster
            # is a star around one original, so pair counts and
            # label-propagation rounds barely move from seed to seed
            texts.append(texts[originals[int(r.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(10, 101)))))
    _write(path, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": r.choice(LANGS[0], n_doc, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    r = _rng(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (10, 64))
    label = r.integers(0, 10, n_doc)
    vec = centers[label] + r.normal(0.0, 0.7, (n_doc, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    _write(path, "embeddings", {
        "vec_id": np.arange(n_doc, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })
    _mark_done(path, {"seed": seed, "sf": sf})
    return path


# -- live Riemann frames ----------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_len(fnum: int, payload: bytes) -> bytes:
    return _varint((fnum << 3) | 2) + _varint(len(payload)) + payload


def encode_event(host: str, service: str, time_micros: int, metric: float) -> bytes:
    """One Riemann ``Event`` (proto2): host=4, service=3,
    time_micros=10, metric_d=14."""
    return (
        _pb_len(4, host.encode())
        + _pb_len(3, service.encode())
        + _varint((10 << 3) | 0) + _varint(time_micros)
        + _varint((14 << 3) | 1) + struct.pack("<d", metric)
    )


def live_schedule(seed: int, rate: int, seconds: float, hosts: int) -> dict[str, np.ndarray]:
    """Open-loop events: Zipf(1.1)-skewed hosts; event ``i`` is due at
    ``i / rate`` seconds and carries that offset as its event time, so
    times are in order per host."""
    r = _rng(seed, "live")
    n = int(rate * seconds)
    ranks = r.zipf(1.1, n * 2)
    host = ranks[ranks <= hosts][:n]
    while len(host) < n:  # rejection sampling ran short: draw more
        more = r.zipf(1.1, n)
        host = np.concatenate([host, more[more <= hosts]])[:n]
    return {
        "host": host - 1,
        "due_us": (np.arange(n, dtype="int64") * 1_000_000) // rate,
        "metric": np.round(r.gamma(2.0, 25.0, n), 3),
    }


def live_frames(sched: dict, per_frame: int, service: str = "cpu") -> list[bytes]:
    """Length-prefixed ``Msg`` frames of ``per_frame`` events each."""
    frames = []
    n = len(sched["due_us"])
    for lo in range(0, n, per_frame):
        msg = b"".join(
            _pb_len(6, encode_event(
                f"host-{int(h)}", service, EPOCH_US + int(t), float(m)
            ))
            for h, t, m in zip(
                sched["host"][lo:lo + per_frame],
                sched["due_us"][lo:lo + per_frame],
                sched["metric"][lo:lo + per_frame],
            )
        )
        frames.append(struct.pack(">I", len(msg)) + msg)
    return frames
