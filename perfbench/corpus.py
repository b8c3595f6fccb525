"""Seeded generator for the corpus the headline queries read.

Writes the TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables that ``__spark_entry__.queries()`` expects, with
the same column names and types, as one parquet file per table.  The
benchmark generates its own corpus so that it reads nothing outside its
checkout; the same ``(seed, scale)`` always gives byte-identical tables.

The shapes follow the repository's reference test tables (see
README.md, "Corpus"): row counts per scale factor, the 31-word document
vocabulary with 10–100 words per document, ~5% near-duplicate documents
(hence ~0.15% exact duplicates at sf0.1), the language mix, 64-d unit
embeddings, 1.5 users per 100 events and the TPC-H-style value ranges.

Monetary columns hold whole cents (``l_extendedprice`` whole units), so
``round(sum(...), 2)`` cannot land on a half-cent tie whose side would
depend on the engine's summation order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PART_TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
PART_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
PART_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

#: row counts at scale 1.0 (a TPC-H-style sf1; scale multiplies them)
#: and the floors the reference tables keep at small scales
BASE_ROWS = {
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "supplier": 10_000,  # only the range of l_suppkey; no query reads the table
}
MIN_ROWS = {"documents": 500, "embeddings": 500}
USERS_PER_EVENT = 0.015


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    flat = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS)[flat]
    bounds = np.r_[0, np.cumsum(lens)]
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # near-duplicates: a copy of another document with a marker word
    # appended (copies of copies give chains); two copies of one source
    # are the exact duplicates, ~0.15% of documents from a few thousand on
    for i in rng.choice(n, size=max(1, n // 20), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def generate_corpus(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return table → row count."""
    rng = np.random.default_rng(seed)
    n = {t: max(MIN_ROWS.get(t, 1), int(r * scale)) for t, r in BASE_ROWS.items()}
    n_users = max(1, round(n["events"] * USERS_PER_EVENT))
    tables: dict[str, pa.Table] = {}

    ne = n["events"]
    ts = np.sort(
        rng.integers(0, 30 * 86_400_000_000, ne)
        + np.datetime64("2024-01-01", "us").astype(np.int64)
    ).astype("datetime64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, ne, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, ne), 560.0), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    tables["documents"] = _documents(rng, n["documents"])

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    })

    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })

    npt = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npt, dtype=np.int64)),
        "p_name": pa.array(
            np.char.add(np.char.add(rng.choice(PART_ADJ, npt), " "),
                        rng.choice(PART_NOUN, npt)), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npt)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, npt), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npt, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(npt) % 1000) / 10.0),
    })

    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), no), pa.string()),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })

    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npt, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(900, 105_000, nl).astype(np.float64)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), nl), pa.string()),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl), pa.timestamp("us")),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
