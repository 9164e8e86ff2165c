"""Seeded inputs. Source-code files come from the engine's own
generator (``datagen.generate_batch``, the function behind
``datagen.source_code_df``); the query tables are generated here with
the schemas of the repository's TPC-H-style test tables. The same
seed gives the same bytes."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from parquet_producers_spark import datagen

KEY_COLS = ["repo", "path", "commit", "lang"]


def files_df(spark, lo: int, hi: int, n_files: int, seed: int):
    """Rows ``lo..hi-1`` of the ``n_files`` source-code corpus.
    ``source_code_df`` always starts at id 0; appended files need ids
    past the base table, from the same distribution (``n_files`` fixes
    the repo skew)."""
    parts = max(4, spark.sparkContext.defaultParallelism)

    def gen(it):
        for pdf in it:
            yield datagen.generate_batch(pdf["id"].to_numpy(), n_files, seed)

    return (spark.range(lo, hi, 1, parts)
            .mapInPandas(gen, schema=datagen.SCHEMA_HINT))


def files_pdf(lo: int, hi: int, n_files: int, seed: int) -> pd.DataFrame:
    return datagen.generate_batch(np.arange(lo, hi), n_files, seed)


def digest(df) -> tuple[int, int, int, int]:
    """Order-independent multiset digest of a files frame on
    (repo, path, commit, lang, sha256(content)): row count, two 64-bit
    hash sums and the content bytes. Equal tables give equal digests; a
    dropped, duplicated or altered row changes them. Digests of
    disjoint row sets add up (:func:`add_digests`)."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in KEY_COLS] + [F.sha2(F.col("content"), 256)]
    r = df.select(F.xxhash64(*cols).alias("h1"), F.hash(*cols).alias("h2"),
                  F.length("content").alias("len")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("h1").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("h2").cast("decimal(38,0)")).alias("s2"),
        F.sum("len").alias("bytes"),
    ).collect()[0]
    return (int(r["n"]), int(r["s1"] or 0), int(r["s2"] or 0),
            int(r["bytes"] or 0))


def add_digests(a, b):
    return tuple(x + y for x, y in zip(a, b))


def digest_id(d) -> str:
    """Short fingerprint of a digest (any value with a stable repr),
    recorded per seed."""
    return hashlib.sha256(repr(d).encode()).hexdigest()[:16]


# --------------------------------------------------------------------------
# query tables (the headline suite's inputs)
# --------------------------------------------------------------------------

_WORDS = ("a the data table query scan join sort merge filter group order "
          "window hash batch stream line column value key row part agg "
          "spark customer fast slow big small vector").split()
_LANGS = ["en", "de", "fr", "es", "zh"]


def _ts(days0: str, offsets) -> pa.Array:
    base = np.datetime64(days0, "us")
    return pa.array(base + offsets.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def documents(n: int, seed: int) -> pa.Table:
    """The ``documents`` table: word-salad text with near-duplicates by
    construction (a small vocabulary)."""
    rng = np.random.default_rng([seed, 1])
    n_words = rng.integers(8, 90, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in n_words]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def query_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """lineitem, orders, customer, events, documents and embeddings at
    scale ``sf`` (sf 1 = 6M lineitems), schemas as the
    repository's test tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_li = max(int(6_000_000 * sf), 800)
    n_ev = max(int(100_000 * sf), 200)
    n_doc = max(int(5_000 * sf), 100)
    day = 86_400_000_000

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, n_ord) * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_li) * day),
    })
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day, n_ev))),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev),
                            pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "error",
                                  "signup"], n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    documents_ = documents(n_doc, seed)
    emb = rng.normal(0, 0.1, (n_doc, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
    })
    return {"lineitem": lineitem, "orders": orders, "customer": customer,
            "events": events, "documents": documents_,
            "embeddings": embeddings}


def write_query_tables(out_dir: str, sf: float, seed: int) -> str:
    """Write the tables as one parquet file each, like the test-data
    ``sf*`` directories; returns a fingerprint of their content."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, tbl in query_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        for col in tbl.columns:
            for buf in col.combine_chunks().buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]
