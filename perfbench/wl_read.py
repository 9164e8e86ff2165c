"""``read``: the read path over an encoded store. A full decode, a
sorted-merge read on ``repo`` and seeded point/range lookups through
``read_where``."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from parquet_producers_spark.encoder import (
    decode_chunks,
    prune_chunks,
    prune_chunks_eq,
    read_where,
)
from parquet_producers_spark.sortedread import plan_key_ranges, read_sorted
from parquet_producers_spark.sources.snapshots import (
    encode_table_incremental,
    read_encoded_table,
)

import inputs
from harness import RUN_DIR, median, noop, percentile

SORT = ["repo", "path"]
STAGE = "files"


def _sorted_summary(batches):
    """Per output partition: one row per range with its key bounds and
    row count, plus how many adjacent (range_id, repo) pairs are out of
    order. A sorted consumer reads the stream this way."""
    import pyarrow as pa

    prev = None
    bad = 0
    ranges: dict[int, list] = {}
    for b in batches:
        rid = b.column("range_id").to_pylist()
        key = b.column("repo").to_pylist()
        for r, k in zip(rid, key):
            if prev is not None and (r, k) < prev:
                bad += 1
            prev = (r, k)
            e = ranges.get(r)
            if e is None:
                ranges[r] = [k, k, 1]
            else:
                e[1] = k
                e[2] += 1
    rows = [(r, lo, hi, n) for r, (lo, hi, n) in ranges.items()]
    yield pa.record_batch(
        [pa.array([r[0] for r in rows], pa.int64()),
         pa.array([r[1] for r in rows], pa.string()),
         pa.array([r[2] for r in rows], pa.string()),
         pa.array([r[3] for r in rows], pa.int64()),
         pa.array([bad] * len(rows), pa.int64())],
        names=["range_id", "lo", "hi", "n", "bad"])


class Read:
    name = "read"
    reps = 0

    def __init__(self, spark, seed: int, size: dict):
        self.spark = spark
        self.seed = seed
        self.n = size["ingest_files"]  # reads the ingest part's base table
        self.chunk_rows = size["read_chunk_rows"]
        self.lookups = size["read_lookups"]
        self.dir = os.path.join(RUN_DIR, "read")
        self.lookup_i = 0  # lookups never repeat within a run

    def setup(self, ctx: dict, log) -> None:
        """Encode the ingest part's base table into a finer-grained store
        (``chunk_rows``), then warm the scan, sorted-read and lookup
        paths."""
        spark = self.spark
        enc = os.path.join(self.dir, "enc")
        encode_table_incremental(spark, ctx["table"], enc, STAGE, SORT,
                                 cascade=True, profile="balanced",
                                 chunk_rows=self.chunk_rows)
        self.chunks = read_encoded_table(spark, enc, STAGE)
        self.raw = inputs.files_pdf(0, self.n, self.n, self.seed)
        self.digest = ctx["digest"]
        self.fingerprint = inputs.digest_id(self.digest)
        self.repos = np.array(sorted(self.raw["repo"].unique()))
        self.commits = np.array(sorted(self.raw["commit"].unique()))
        log.run("scan", self._scan)
        log.run("sorted_read", self._sorted)
        self._lookup(log, 0)

    # -- ops -------------------------------------------------------------

    def _scan(self):
        r = decode_chunks(self.chunks).agg(
            F.count("*").alias("n"), F.sum(F.length("content")).alias("b")
        ).first()
        return int(r["n"]), int(r["b"])

    def _sorted(self):
        return (read_sorted(self.chunks, "repo").select("range_id", "repo")
                .mapInArrow(_sorted_summary, "range_id long, lo string, "
                            "hi string, n long, bad long").collect())

    def _plan_lookup(self, i: int):
        """The i-th seeded lookup: (kind, read_where kwargs, exact
        filter, output columns, expected rows)."""
        raw = self.raw
        rng = np.random.default_rng([self.seed, i])
        kind = ("repo", "commit", "range")[i % 3]
        if kind == "repo":
            r = str(rng.choice(self.repos))
            sel = raw[raw.repo == r]
            return (kind, {"columns": ["repo", "path"], "key_range": (r, r)},
                    (F.col("repo") == r), ["repo", "path"], sel)
        if kind == "commit":
            c = str(rng.choice(self.commits))
            sel = raw[raw.commit == c]
            return (kind, {"columns": ["repo", "path"],
                           "equals": {"commit": c}},
                    None, ["repo", "path"], sel)
        i0 = int(rng.integers(0, len(self.repos) - 3))
        lo, hi = str(self.repos[i0]), str(self.repos[i0 + 2])
        sel = raw[(raw.repo >= lo) & (raw.repo <= hi)]
        return (kind, {"columns": ["repo", "path", "lang"],
                       "key_range": (lo, hi)},
                F.col("repo").between(lo, hi), ["path", "lang"], sel)

    def _lookup(self, log, i: int, tr=None) -> bool:
        kind, kw, exact, out_cols, sel = self._plan_lookup(i)

        def go():
            df = read_where(self.chunks, **kw)
            if exact is not None:
                df = df.filter(exact)
            return [tuple(r) for r in df.select(*out_cols).collect()]

        got = (log.run("lookup", go) if tr is None
               else tr.timed("encoder.read_where", go))
        want = sorted(sel[out_cols].itertuples(index=False, name=None))
        if got is not None and sorted(got) != want:
            log.fail(1, f"read: {kind} lookup returned {len(got)} rows, "
                        f"expected {len(want)}")
            return False
        return True

    def check_scan(self, log, got) -> None:
        want = (self.digest[0], self.digest[3])
        if got is not None and tuple(got) != want:
            log.fail(1, f"read: scan (rows, bytes) {got} != {want}")

    def check_sorted(self, log, rows) -> None:
        if rows is None:
            return
        rows = sorted(rows, key=lambda r: r["range_id"])
        ids = [r["range_id"] for r in rows]
        tiled = all(a["hi"] <= b["lo"] for a, b in zip(rows, rows[1:]))
        ok = (len(set(ids)) == len(ids) and tiled
              and sum(r["bad"] for r in rows) == 0
              and sum(r["n"] for r in rows) == self.n)
        if not ok:
            log.fail(1, "read: sorted output out of order or ranges "
                        "do not tile the key space")

    def cycle(self, log) -> None:
        self.check_scan(log, log.run("scan", self._scan))
        self.check_sorted(log, log.run("sorted_read", self._sorted))
        for _ in range(self.lookups):
            self._lookup(log, self.lookup_i)
            self.lookup_i += 1

    def selftest(self, log) -> None:
        """Hand the scan check a decode with one row dropped."""
        dec = decode_chunks(self.chunks)
        first = dec.select("path").orderBy("path").first()["path"]
        r = dec.filter(F.col("path") != first).agg(
            F.count("*").alias("n"), F.sum(F.length("content")).alias("b")
        ).first()
        self.check_scan(log, (int(r["n"]), int(r["b"])))

    # -- metrics ---------------------------------------------------------

    def cycle_s(self, log) -> float:
        return (log.med("scan") + log.med("sorted_read")
                + self.lookups * log.med("lookup"))

    def named(self, log):
        lk = log.samples["lookup"]
        return [
            ("scan_gbps", self.digest[3] / log.med("scan") / 1e9, "GB/s"),
            ("sorted_read_s", log.med("sorted_read"), "s"),
            ("lookup_p50_s", median(lk), "s"),
            ("lookup_p90_s", percentile(lk, 0.9), f"s (n={len(lk)})"),
        ]

    def op_time(self, log) -> float:
        return self.cycle_s(log)

    # -- traced chain ----------------------------------------------------

    def trace(self, tr, log):
        """Decode and sorted read each as (scan to noop ⊂ full call to
        noop); each lookup as (prune ⊂ ``read_where``)."""
        chunks = self.chunks
        with tr.span("op.scan"):
            tr.timed("storage.read_chunks", lambda: noop(chunks))
            tr.timed("encoder.decode_chunks",
                     lambda: noop(decode_chunks(chunks)))
        with tr.span("op.sorted_read"):
            tr.timed("sortedread.plan_key_ranges",
                     lambda: plan_key_ranges(chunks))
            tr.timed("sortedread.read_sorted",
                     lambda: noop(read_sorted(chunks, "repo")))
        per_range = read_sorted(chunks, "repo").groupBy("range_id").count() \
            .collect()
        counts = [r["count"] for r in per_range]
        total_chunks = chunks.filter(F.col("col_idx") == 0).count()
        kept, decoded_rows, returned = [], 0, 0
        for i in range(self.lookups):
            _kind, kw, _exact, _cols, sel = self._plan_lookup(i)
            with tr.span("op.lookup"):
                def prune():
                    p = chunks
                    if "key_range" in kw:
                        p = prune_chunks(p, *kw["key_range"])
                    for col, v in kw.get("equals", {}).items():
                        p = prune_chunks_eq(p, col, v)
                    return p.filter(F.col("col_idx") == 0).agg(
                        F.count("*"), F.sum("n_rows")).first()

                k, rows = tr.timed("encoder.prune", prune)
                self._lookup(log, i, tr=tr)
            kept.append(k / total_chunks)
            decoded_rows += rows or 0
            returned += len(sel)
        tr.sync_jobs()
        dec = tr.jobs_under("encoder.decode_chunks")
        srt = tr.jobs_under("sortedread.read_sorted")
        d = {name: tr.total(name) for name in (
            "storage.read_chunks", "encoder.decode_chunks",
            "sortedread.plan_key_ranges", "sortedread.read_sorted")}
        prune_s = [s.dur for s in tr.named("encoder.prune")]
        rw_s = [s.dur for s in tr.named("encoder.read_where")]
        m = {
            "encoder.decode_s": max(d["encoder.decode_chunks"]
                                    - d["storage.read_chunks"], 0.0),
            "encoder.decode.jobs": len(dec),
            "encoder.decode.exchanges": sum(j["exchanges"] for j in dec),
            "encoder.decode.shuffle_bytes": sum(
                j["shuffle_bytes"] for j in dec),
            "encoder.prune_s": median(prune_s),
            "encoder.prune_kept_frac": median(kept),
            "encoder.rows_decoded_per_row_returned":
                decoded_rows / max(returned, 1),
            "encoder.lookup.jobs": len(tr.jobs_under("encoder.read_where"))
                / len(rw_s),
            "sortedread.plan_s": d["sortedread.plan_key_ranges"],
            "sortedread.read_s": max(d["sortedread.read_sorted"]
                                     - d["sortedread.plan_key_ranges"], 0.0),
            "sortedread.jobs": len(srt),
            "sortedread.exchanges": sum(j["exchanges"] for j in srt),
            "sortedread.shuffle_bytes": sum(j["shuffle_bytes"] for j in srt),
            "sortedread.range_skew": max(counts) / (sum(counts) / len(counts)),
        }
        layer_sum = (d["storage.read_chunks"] + m["encoder.decode_s"]
                     + m["sortedread.plan_s"] + m["sortedread.read_s"]
                     + self.lookups * (m["encoder.prune_s"]
                                       + max(median(rw_s)
                                             - m["encoder.prune_s"], 0.0)))
        traced = (d["encoder.decode_chunks"] + d["sortedread.read_sorted"]
                  + self.lookups * median(rw_s))
        return m, layer_sum, traced
