"""``ingest``: the write path. A bulk incremental-encode wave of a
committed snapshot into a fresh store, append waves of 1% new files,
then a consolidation of all waves."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from parquet_producers_spark.encoder import decode_chunks, encode_partitions
from parquet_producers_spark.sources.snapshots import (
    commit_files,
    commit_snapshot,
    consolidate_encoded_table,
    encode_table_incremental,
    read_encoded_table,
    read_snapshot,
    snapshot_files,
)
from parquet_producers_spark.storage import encode_run, read_chunks

import inputs
from harness import RUN_DIR, dir_bytes, median, noop

SORT = ["repo", "path"]
ENCODE_KW = {"cascade": True, "profile": "balanced"}
STAGE = "files"


class Ingest:
    name = "ingest"
    reps = 3  # build() repetitions; setup_s counts their median

    def __init__(self, spark, seed: int, size: dict):
        self.spark = spark
        self.seed = seed
        self.n = size["ingest_files"]
        self.m = max(self.n // 100, 1)
        self.appends = size["ingest_appends"]
        self.dir = os.path.join(RUN_DIR, "ingest")
        self.cycles = 0
        self.ratios: list[float] = []

    # -- setup ----------------------------------------------------------

    def build(self, rep: int) -> None:
        """Commit the base snapshot (repeated; set-up is timed per rep)."""
        self.table = os.path.join(self.dir, f"base{rep}")
        commit_snapshot(self.spark, inputs.files_df(
            self.spark, 0, self.n, self.n, self.seed), self.table)

    def setup(self, ctx: dict, log) -> None:
        """Parquet yardstick and expected digest. Publishes the base
        table for the read part, whose store encode warms the encode
        path before the first bulk wave."""
        spark = self.spark
        yard = os.path.join(self.dir, "yard")
        (read_snapshot(spark, self.table).orderBy(*SORT)
         .write.mode("overwrite").parquet(yard))
        self.yard_bytes = dir_bytes(yard)
        self.base_paths = [f["path"] for f in snapshot_files(self.table)]
        self.base_digest = inputs.digest(
            inputs.files_df(spark, 0, self.n, self.n, self.seed))
        self.fingerprint = inputs.digest_id(self.base_digest)
        ctx.update(table=self.table, digest=self.base_digest)

    # -- ops -------------------------------------------------------------

    def _fresh_table(self, tag: str) -> str:
        """A table whose first snapshot lists the base files (a
        metadata-only commit), so every cycle starts from the same
        snapshot without rewriting it."""
        table = os.path.join(self.dir, f"t{tag}")
        commit_files(self.spark, table, self.base_paths)
        return table


    def _stage_append(self, k: int) -> tuple[str, tuple]:
        """Generate the k-th batch of new files into parquet (untimed)."""
        lo = self.n + k * self.m
        path = os.path.join(self.dir, f"new{k}")
        inputs.files_df(self.spark, lo, lo + self.m, self.n, self.seed) \
            .write.mode("overwrite").parquet(path)
        return path, inputs.digest(self.spark.read.parquet(path))

    def cycle(self, log) -> None:
        spark = self.spark
        c = self.cycles
        self.cycles += 1
        enc = os.path.join(self.dir, f"enc{c}")
        table = self._fresh_table(str(c))
        out = log.run("bulk_wave", lambda: encode_table_incremental(
            spark, table, enc, STAGE, SORT, **ENCODE_KW))
        if out is not None:
            self.ratios.append(dir_bytes(enc) / self.yard_bytes)
        expected = self.base_digest
        for a in range(self.appends):
            path, d = self._stage_append(c * self.appends + a)
            expected = inputs.add_digests(expected, d)
            log.run("append_wave", lambda: (
                commit_snapshot(spark, spark.read.parquet(path), table),
                encode_table_incremental(spark, table, enc, STAGE, SORT,
                                         **ENCODE_KW)))
        log.run("consolidate", lambda: consolidate_encoded_table(
            spark, enc, STAGE, SORT, **ENCODE_KW))
        self.last = (enc, expected)
        self.check_cycle(log, self.decoded(enc), expected, 2 + self.appends)

    def decoded(self, enc: str):
        return decode_chunks(read_encoded_table(self.spark, enc, STAGE))

    def check_cycle(self, log, decoded, expected, n_ops: int) -> bool:
        """The decoded store equals the generated snapshot row for row."""
        try:
            got = inputs.digest(decoded)
        except Exception as e:  # a failed wave can leave no readable store
            got = f"{type(e).__name__}: {e}"
        if got != expected:
            log.fail(n_ops, f"ingest: decoded store digest {got} != "
                            f"snapshot digest {expected}")
            return False
        return True

    def selftest(self, log) -> None:
        """Hand the check the last cycle's decoded store with one row
        dropped."""
        enc, expected = self.last
        dec = self.decoded(enc)
        first = dec.select("path").orderBy("path").first()["path"]
        self.check_cycle(log, dec.filter(F.col("path") != first), expected, 1)

    # -- metrics ---------------------------------------------------------

    def cycle_s(self, log) -> float:
        return (log.med("bulk_wave") + self.appends * log.med("append_wave")
                + log.med("consolidate"))

    def named(self, log) -> list[tuple[str, float, str]]:
        return [
            ("encode_gbps", self.base_digest[3] / log.med("bulk_wave") / 1e9,
             "GB/s"),
            ("compressed_ratio", median(self.ratios), "ratio"),
            ("append_wave_s", log.med("append_wave"), "s"),
            ("consolidate_s", log.med("consolidate"), "s"),
        ]

    def op_time(self, log) -> float:
        """The op the trace chain re-executes: one bulk wave."""
        return log.med("bulk_wave")

    # -- traced chain ----------------------------------------------------

    def trace(self, tr, log):
        """The bulk wave as the chain of public calls it is built from,
        each level run on its own; a layer's self time is the
        difference between a level and the one nested inside it."""
        spark = self.spark
        t = os.path.join(self.dir, "trace")
        table = self._fresh_table("trace")

        def sliced():
            return read_snapshot(spark, table).withColumn(
                "__slice", F.pmod(F.hash(F.col(SORT[0])), F.lit(4)).cast("int"))

        def encoded():
            return encode_partitions(sliced(), sort_cols=SORT,
                                     slice_col="__slice", **ENCODE_KW)

        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        order = ["__slice"] + SORT
        levels = [
            ("snapshots.plan", lambda: noop(read_snapshot(spark, table))),
            ("encoder.sort", lambda: noop(sliced().repartitionByRange(
                n, *order).sortWithinPartitions(*order))),
            ("encoder.encode", lambda: noop(encoded())),
            ("encoder.write", lambda: encoded().write.mode("overwrite")
             .option("compression", "none").partitionBy("slice_id")
             .parquet(os.path.join(t, "w"))),
            ("storage.encode_run", lambda: encode_run(
                spark, read_snapshot(spark, table), os.path.join(t, "run"),
                STAGE, version=1, sort_cols=SORT, **ENCODE_KW)),
            ("snapshots.encode_table_incremental",
             lambda: encode_table_incremental(
                 spark, table, os.path.join(t, "enc"), STAGE, SORT,
                 **ENCODE_KW)),
        ]
        with tr.span("op.bulk_wave"):
            for name, fn in levels:
                tr.timed(name, fn)
        d = {name: tr.total(name) for name, _ in levels}
        path, _ = self._stage_append(10_000)
        for _ in range(2):
            tr.timed("snapshots.commit", lambda: commit_snapshot(
                spark, spark.read.parquet(path), table))

        def diff(a, b):
            return max(d[a] - d[b], 0.0)

        tr.sync_jobs()
        enc_jobs = tr.jobs_under("encoder.encode")
        raw = read_chunks(spark, os.path.join(t, "run"), STAGE, 1).agg(
            F.sum("raw_bytes")).first()[0]
        m = {
            "snapshots.plan_s": d["snapshots.plan"],
            "encoder.sort_s": diff("encoder.sort", "snapshots.plan"),
            "encoder.encode_s": diff("encoder.encode", "encoder.sort"),
            "encoder.write_s": diff("encoder.write", "encoder.encode"),
            "storage.encode_run_s": d["storage.encode_run"],
            "storage.self_s": diff("storage.encode_run", "encoder.write"),
            "snapshots.wave_self_s": diff(
                "snapshots.encode_table_incremental", "storage.encode_run"),
            "snapshots.commit_s": median(
                [s.dur for s in tr.named("snapshots.commit")]),
            "storage.jobs": len(tr.jobs_under("storage.encode_run")),
            "storage.bytes_on_disk_per_raw_byte":
                dir_bytes(os.path.join(t, "run", STAGE)) / raw,
            "encoder.encode.exchanges": sum(j["exchanges"] for j in enc_jobs),
            "encoder.encode.shuffle_bytes": sum(
                j["shuffle_bytes"] for j in enc_jobs),
            "encoder.encode.spill_bytes": sum(
                j["spill_bytes"] for j in enc_jobs),
        }
        layers = ["snapshots.plan_s", "encoder.sort_s", "encoder.encode_s",
                  "encoder.write_s", "storage.self_s", "snapshots.wave_self_s"]
        return m, sum(m[k] for k in layers), d[levels[-1][0]]
