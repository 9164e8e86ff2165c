"""``queries``: the 11-query headline suite of ``bench.py`` over seeded
tables with the test tables' schemas, each result checked against its
DuckDB ``oracle_sql()`` with ``scripts/check_oracle.py``'s
normalization. The only workload that runs ``functions.*``."""

from __future__ import annotations

import importlib.util
import os

import numpy as np

import inputs
from harness import ROOT, RUN_DIR, noop

# bench.py's HEADLINE list
HEADLINE = [
    "pricing_summary", "top_customers", "order_rank_window",
    "user_running_value", "producer_wordcount", "codec_roundtrip_sha",
    "dedup_minhash_lsh", "dedup_simhash", "embedding_knn", "text_quality",
    "multimodal_features",
]
TABLES = ["lineitem", "orders", "customer", "events", "documents",
          "embeddings"]


def _check_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Queries:
    name = "queries"
    reps = 3

    def __init__(self, spark, seed: int, size: dict):
        import __spark_entry__ as entry

        self.spark = spark
        self.seed = seed
        self.sf = size["queries_sf"]
        self.dir = os.path.join(RUN_DIR, "queries")
        self.entry = entry
        self.qs = entry.queries()
        self.value_hash = _check_oracle_module().value_hash
        self.order = list(HEADLINE)
        np.random.default_rng(seed).shuffle(self.order)

    def build(self, rep: int) -> None:
        """Generate the tables and compute every oracle answer."""
        import duckdb

        sf_dir = os.path.join(self.dir, f"sf{rep}")
        self.fingerprint = inputs.write_query_tables(sf_dir, self.sf,
                                                     self.seed)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{sf_dir}/{t}.parquet')")
            oracles = self.entry.oracle_sql()
            self.want = {}
            for name in HEADLINE:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                self.want[name] = (sorted(cols), len(rows),
                                   self.value_hash(rows, cols))
        finally:
            con.close()
        self.sf_dir = sf_dir

    def setup(self, ctx: dict, log) -> None:
        """One untimed pass: session, codegen and python-worker start-up
        are not billed to whichever query runs first."""
        self.cycle(log)

    def _run(self, name: str):
        df = self.qs[name](self.spark, self.sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def check(self, log, name: str, out) -> None:
        if out is None:
            return
        cols, rows = out
        got = (sorted(cols), len(rows), self.value_hash(rows, cols))
        if got != self.want[name]:
            log.fail(1, f"queries: {name} differs from its DuckDB oracle")

    def cycle(self, log) -> None:
        for name in self.order:
            self.check(log, name, log.run(name, lambda: self._run(name)))

    def selftest(self, log) -> None:
        """Hand the check a headline result with one row dropped."""
        cols, rows = self._run("pricing_summary")
        self.check(log, "pricing_summary", (cols, rows[1:]))

    # -- metrics ---------------------------------------------------------

    def cycle_s(self, log) -> float:
        """suite_s: the sum over the queries of each one's median."""
        return sum(log.med(q) for q in HEADLINE)

    def named(self, log):
        return [("suite_s", self.cycle_s(log), "s")]

    def op_time(self, log) -> float:
        return self.cycle_s(log)

    # -- traced chain ----------------------------------------------------

    def trace(self, tr, log):
        """Each query in a span, then the dedup kernels each to a noop
        sink over the documents table."""
        from parquet_producers_spark.functions.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            simhash,
            word_shingles,
        )

        with tr.span("op.suite"):
            for name in self.order:
                with tr.span(f"entry.{name}"):
                    self.check(log, name, self._run(name))
        docs = self.spark.read.parquet(
            os.path.join(self.sf_dir, "documents.parquet")).repartition(
            self.spark.sparkContext.defaultParallelism)
        sig = minhash_signatures(docs, "text", k=3, h=8).localCheckpoint()
        kernels = {
            "word_shingles": lambda: noop(word_shingles(docs, "text", k=3)),
            "minhash_signatures": lambda: noop(
                minhash_signatures(docs, "text", k=3, h=8)),
            "simhash": lambda: noop(simhash(docs, "text", bits=16)),
            "lsh_candidate_pairs": lambda: noop(
                lsh_candidate_pairs(sig, h=8, bands=4)),
        }
        for k, fn in kernels.items():
            tr.timed(f"functions.dedup.{k}", fn)
        m = {f"{name}_s": tr.total(name) for name in
             [f"functions.dedup.{k}" for k in kernels]
             + [f"entry.{q}" for q in HEADLINE]}
        traced = tr.total("op.suite")
        return m, sum(m[f"entry.{q}_s"] for q in HEADLINE), traced
