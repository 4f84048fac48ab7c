"""Seeded inputs for the benchmark.

``write_catalog`` writes the ten star-schema tables the query catalog reads
(`region nation customer supplier part orders lineitem events documents
embeddings`), with the column names, Arrow types and value domains of the
catalog's reference tables: uniform keys and measures, TPC-H-style
categorical domains, a sorted event stream, a 31-word document vocabulary
with 5% near-duplicate documents, and random unit-norm 64-d embeddings.
Row counts scale with ``sf`` like the reference tables (lineitem =
6M x sf). The same ``(seed, sf)`` gives byte-identical files.

``write_flight_feed`` writes the medallion's raw feed: the package's own
``synthetic_flights`` generator, seeded, materialised to parquet.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_DAY_US = 86_400 * 1_000_000


def _ts(start: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.timestamp()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object)
            ),
            "p_type": _choice(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(
                datetime(1995, 1, 1), rng.integers(0, 2405, n_ord) * _DAY_US
            ),
            "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _choice(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(
                datetime(1995, 1, 2), rng.integers(0, 2499, n_li) * _DAY_US
            ),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _ts(
                datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": _choice(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.asarray(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": _choice(rng, _LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return t


def write_catalog(out_dir: str, seed: int, sf: float) -> int:
    """Write the catalog tables to ``out_dir/<table>.parquet``; returns the
    total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in catalog_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total


def write_flight_feed(spark, path: str, n: int, seed: int) -> int:
    """Materialise ``synthetic_flights(n, seed)`` (FL_DATE as DATE, the
    shape the catalog's ``fl_*`` queries also write) as one parquet file
    set at ``path``; returns the bytes of its data files."""
    from pyspark.sql import functions as F

    from us_dot_flights_lakehouse_spark.flights.synthetic import synthetic_flights

    feed = synthetic_flights(spark, n=n, seed=seed).withColumn(
        "FL_DATE", F.to_date("FL_DATE")
    )
    feed.coalesce(1).write.mode("overwrite").parquet(path)
    return tree_bytes(path)


def tree_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's ``_``/``.``-prefixed
    markers and checksums excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total
