"""Seeded generator for the TPC-H-ish star schema, the events stream and the
document/embedding corpus that ``candia_spark.tables.load_table`` reads.

Schemas and value domains follow the tables the engine's queries are written
against (one parquet file per table, one row group each). Columns are drawn
independently from uniform or exponential distributions; the corpus plants
near-duplicates (a later document repeats an earlier one plus the token
``dup``) and the embeddings are unit vectors around ten labelled centres, so
the dedup and ANN seats have real work to find.

The same ``(seed, scale)`` gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUSES = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_ORDER_DAY0 = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # through 2001-08-01
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86400 * 10**6

# Row counts per unit of scale; scale 0.1 gives the row counts of the sf0.1
# tables in TESTDATA.md (600k lineitem rows, 5k documents, 2k embeddings).
_PER_SCALE = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def _counts(scale: float) -> dict[str, int]:
    return {t: max(20, int(round(n * scale))) for t, n in _PER_SCALE.items()}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> int:
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=max(1, table.num_rows),
        compression="snappy",
    )
    return table.num_rows


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = int(rng.integers(max(0, i - 120), i))
            texts.append(texts[src] + " dup")
            continue
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def generate(out_dir: str, seed: int, scale: float, tables: set[str]) -> dict[str, int]:
    """Write the requested tables under ``out_dir``; return rows per table.

    Every table draws from its own generator keyed by ``(seed, table)``, so
    asking for a subset writes the same bytes as the full set would.
    """
    os.makedirs(out_dir, exist_ok=True)
    counts = _counts(scale)
    rows: dict[str, int] = {}

    def rng_for(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, sum(map(ord, name))])

    if "region" in tables:
        rows["region"] = _write(out_dir, "region", pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }))
    if "nation" in tables:
        rows["nation"] = _write(out_dir, "nation", pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }))
    if "customer" in tables:
        r, n = rng_for("customer"), counts["customer"]
        rows["customer"] = _write(out_dir, "customer", pa.table({
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array(_names("Customer", n)),
            "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n)].tolist()),
        }))
    if "supplier" in tables:
        r, n = rng_for("supplier"), counts["supplier"]
        rows["supplier"] = _write(out_dir, "supplier", pa.table({
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array(_names("Supplier", n)),
            "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
        }))
    if "part" in tables:
        r, n = rng_for("part"), counts["part"]
        adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n)]
        noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n)]
        rows["part"] = _write(out_dir, "part", pa.table({
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
            "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n)].tolist()),
            "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)),
        }))
    if "orders" in tables:
        r, n = rng_for("orders"), counts["orders"]
        days = r.integers(0, _ORDER_DAYS, n).astype("timedelta64[D]")
        rows["orders"] = _write(out_dir, "orders", pa.table({
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, counts["customer"], n).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, n)].tolist()),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n)),
            "o_orderdate": pa.array(_ORDER_DAY0 + days, type=pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n)].tolist()),
        }))
    if "lineitem" in tables:
        r = rng_for("lineitem")
        n = 4 * counts["orders"]
        days = r.integers(1, _ORDER_DAYS + 95, n).astype("timedelta64[D]")
        rows["lineitem"] = _write(out_dir, "lineitem", pa.table({
            "l_orderkey": pa.array(r.integers(0, counts["orders"], n).astype(np.int64)),
            "l_partkey": pa.array(r.integers(0, counts["part"], n).astype(np.int64)),
            "l_suppkey": pa.array(r.integers(0, counts["supplier"], n).astype(np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n)),
            "l_discount": pa.array(np.round(r.integers(0, 11, n) * 0.01, 2)),
            "l_tax": pa.array(np.round(r.integers(0, 9, n) * 0.01, 2)),
            "l_returnflag": pa.array(np.array(RETURN_FLAGS)[r.integers(0, 3, n)].tolist()),
            "l_linestatus": pa.array(np.array(LINE_STATUSES)[r.integers(0, 2, n)].tolist()),
            "l_shipdate": pa.array(_ORDER_DAY0 + days, type=pa.timestamp("us")),
        }))
    if "events" in tables:
        r, n = rng_for("events"), counts["events"]
        offs = np.sort(r.choice(_EVENT_SPAN_US, size=n, replace=False))
        rows["events"] = _write(out_dir, "events", pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(_EVENT_T0 + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 1500, n).astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)].tolist()),
            "value": pa.array(np.round(r.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        }))
    if "documents" in tables:
        rows["documents"] = _write(
            out_dir, "documents", _documents(rng_for("documents"), counts["documents"])
        )
    if "embeddings" in tables:
        rows["embeddings"] = _write(
            out_dir, "embeddings", _embeddings(rng_for("embeddings"), counts["embeddings"])
        )
    return rows

