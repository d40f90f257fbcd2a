"""Seeded tables shaped like the sf0.1 test corpus.

Every table has the column names and types of the matching sf0.1 table
(TPC-H-like orders/lineitem/customer, 64-d unit
``embeddings`` in ten clusters and a ``documents`` corpus drawn from a
30-word vocabulary with near-duplicates). Each table is written as one
parquet file with one row group, the layout of the read-only test corpus,
so the store sees the same footer-small single-file tables. The same seed
gives byte-identical files.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts
SIZES = {
    "lineitem": 600_000,
    "orders": 150_000,
    "customer": 15_000,
    "embeddings": 2_000,
    "documents": 5_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DAY_US = 86_400 * 1_000_000


def _days(rng, n, span_days):
    return _EPOCH_1992 + rng.integers(0, span_days, n) * np.timedelta64(_DAY_US, "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders(rng, n=SIZES["orders"], n_customers=SIZES["customer"]):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": _money(rng, 800.0, 500_000.0, n),
        "o_orderdate": pa.array(_days(rng, n, 2400), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def lineitem(rng, n=SIZES["lineitem"], n_orders=SIZES["orders"]):
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days(rng, n, 3650), pa.timestamp("us")),
    })


def customer(rng, n=SIZES["customer"]):
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9_999.99, n),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def embeddings(rng, n=SIZES["embeddings"], dims=64, clusters=10):
    centers = rng.normal(size=(clusters, dims))
    label = rng.integers(0, clusters, n)
    vec = centers[label] * 0.35 + rng.normal(size=(n, dims))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, n * dims + 1, dims, dtype=np.int32), flat
        ),
        "label": label.astype(np.int32),
    })


def document_texts(rng, n, dup_share=0.05):
    """``n`` texts of 8-100 vocabulary words; about ``dup_share`` of them
    repeat an earlier text with one word appended (near-duplicates) and a
    few repeat one verbatim (exact duplicates)."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < dup_share + 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 101))]))
    return texts


def documents(rng, n=SIZES["documents"]):
    texts = document_texts(rng, n)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


GENERATORS = {
    "lineitem": lineitem,
    "orders": orders,
    "customer": customer,
    "embeddings": embeddings,
    "documents": documents,
}


def write_tables(out_dir, seed, sizes):
    """Write ``{name: rows}`` tables as ``<out_dir>/<name>.parquet`` single
    files; each table draws from its own stream of ``seed``, named by the
    table, so a table's rows do not depend on which others are written."""
    os.makedirs(out_dir, exist_ok=True)
    for name, n in sizes.items():
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        table = GENERATORS[name](rng, n)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(n, 1))
