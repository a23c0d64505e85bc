"""Deterministic TPC-H-ish fixture for the query workload.

Same ten tables, column names and parquet types as the engine's
fixture contract (``catalog.FIXTURE_SCHEMAS``), at the row counts of
scale factor 0.01. Generated once per checkout from a fixed seed with
NumPy and pyarrow (no Spark), then treated as read-only: passes copy
it, nothing writes into it.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
VERSION = "sf0.01-v1"
ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_COLORS = ["red", "blue", "green", "small", "large", "black", "white", "steel"]
_NOUNS = ["widget", "bolt", "ring", "anvil", "gear", "valve", "screw", "pipe"]
_TS_US = pa.timestamp("us")


def _days(rng, n, start: dt.date, span: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=_TS_US)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [
            f"{_COLORS[c]} {_NOUNS[w]}"
            for c, w in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": types[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), 2405),
        "o_orderpriority": prio[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    price = np.round(900.0 + (rng.integers(0, np_, nl) % 1000) / 10.0, 2)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), 2499),
    })
    ne = n["events"]
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, type=_TS_US),
        "user_id": pa.array(rng.integers(0, 100, ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, ne)
        ],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    texts: list[str] = []
    for i in range(n["documents"]):
        if texts and rng.random() < 0.05:
            texts.append(texts[-1] + " dup")  # planted near-duplicate
        else:
            words = rng.integers(0, len(_WORDS), rng.integers(8, 90))
            texts.append(" ".join(_WORDS[w] for w in words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), len(texts))],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.normal(size=(n["embeddings"], 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })
    return t


def ensure_fixture(cache_root: str) -> str:
    """Return the fixture dir under ``cache_root``, generating it on
    first use (written to a temp dir, then renamed into place)."""
    final = os.path.join(cache_root, VERSION)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(FIXTURE_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, final)
    return final
