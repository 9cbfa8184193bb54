"""Generated star-schema fixture for the ``headline_queries`` workload.

Writes the ten tables the registry's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one-row-group parquet files, with the schemas and value
domains of the engine's test fixtures (FIXTURES.md part B).  The tables
are a pure function of :data:`DATA_SEED` and :data:`SIZES`, so their
bytes are the same on every run; that is what lets the slow oracles be
replaced by pinned result hashes (``headline_pins.json``).

:data:`SIZES` puts the order tables at about sf0.02 (30k orders, 120k
line items) and the document tables at 1,200 rows, each table in one
row group, so each scans as one split.  At this size about a third of a
warm pass grows with the data (perfbench/README.md has the scaling
measurements), which is what scan-side and iteration changes act on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
SIZES = {
    "customer": 3000,
    "supplier": 200,
    "part": 4000,
    "orders": 30000,
    "events": 20000,
    "documents": 1200,
    "embeddings": 1200,
}
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "hot", "old", "cold", "large", "shiny"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
VOCAB = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark dup group query row data filter customer "
    "line value column agg vector"
).split()
DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype("int64")
    return base + rng.integers(0, span_days, n) * DAY_US


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng) -> pa.Table:
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.04:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.14:  # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    nc, ns, npart, no = (SIZES[k] for k in ("customer", "supplier", "part", "orders"))
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _cents(rng.uniform(-999, 9999, nc)),
                "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _cents(rng.uniform(-999, 9999, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npart)],
                "p_type": [P_TYPES[j] for j in rng.integers(0, 6, npart)],
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": _cents(900 + (np.arange(npart) % 1000) / 10),
            }
        ),
    }
    orderdate = _days(rng, no, "1995-01-01", 2400)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
            "o_totalprice": _cents(rng.uniform(1000, 500000, no)),
            "o_orderdate": _ts(orderdate),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no), lines)
    nl = len(lk)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lk, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * rng.uniform(900, 2000, nl)),
            "l_discount": rng.integers(0, 11, nl) / 100,
            "l_tax": rng.integers(0, 9, nl) / 100,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(orderdate[lk] + rng.integers(1, 120, nl) * DAY_US),
        }
    )
    ne = SIZES["events"]
    ts = np.sort(np.datetime64("2024-01-01", "us").astype("int64") + rng.integers(0, 30 * DAY_US, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            # nanosecond timestamps, as in the engine's fixture
            "ts": pa.array(ts * 1000, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 40, ne), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": _cents(rng.uniform(0.01, 490, ne)),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng)
    nv = SIZES["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 0.15, (10, EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0, 0.08, (nv, EMBED_DIM))).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                np.arange(0, nv * EMBED_DIM + 1, EMBED_DIM, dtype="int32"), pa.array(vecs.ravel())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write(sf_dir: str) -> dict[str, int]:
    """Write every table under ``sf_dir``; returns rows per table."""
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, t in tables().items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"), row_group_size=len(t) or 1)
        rows[name] = t.num_rows
    return rows
