"""Versioned storage layout, per-slice lineage/metrics manifests, resume.

Reference model: ``IPersistentStreams`` names blobs
``{name}.{version}.{type}.parquet`` and a DAG update produces version
N+1 of every stage from version N (reference:
Parquet.Producers/IPersistentStreams.cs:10-17,
Parquet.Producers.TestCommand/PersistentStreams.cs:7-8, README.md:182).

Spark shape: a stage version is a directory
``{root}/{stage}/v={N}/{table}/`` holding parquet, plus
``{root}/{stage}/v={N}/_manifest/slice={K}.json`` — one JSON manifest
per completed *slice* (a hash-bucket of the keyspace). Each manifest
records lineage (input fingerprint, slice spec) and metrics (rows,
raw/encoded bytes, per-codec counts, elapsed) and is written atomically
(tmp + rename), so a killed run resumes by skipping exactly the slices
whose manifests exist. A resumed run recomputes the remaining slices
from the same deterministic input, so the decoded CONTENT of every
slice is identical to an uninterrupted run (chunk boundaries may
differ — the format's identity is row values, not blob bytes).

All metadata I/O goes through a :class:`~.filestore.FileStore`
(reference seam ``IPersistentStreams``): pass
``HadoopStore(spark)`` to run the same protocol on ``hdfs://`` /
``s3a://`` / any Hadoop-resolvable URI; the default is local POSIX.
Bulk data always moves via Spark's own parquet reader/writer, which
handles those URIs natively.
"""

from __future__ import annotations

import posixpath
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .filestore import FileStore, LocalStore

_DEFAULT_STORE = LocalStore()


def stage_dir(root: str, stage: str, version: int, table: str = "") -> str:
    p = posixpath.join(root, stage, f"v={version}")
    return posixpath.join(p, table) if table else p


def atomic_write_json(path: str, payload: dict,
                      store: FileStore | None = None) -> None:
    (store or _DEFAULT_STORE).write_json_atomic(path, payload)


def manifest_path(root: str, stage: str, version: int, slice_id: int) -> str:
    return posixpath.join(
        stage_dir(root, stage, version), "_manifest", f"slice={slice_id:05d}.json"
    )


def list_versions(root: str, stage: str,
                  store: FileStore | None = None) -> list[int]:
    store = store or _DEFAULT_STORE
    return sorted(
        int(e.split("=")[1])
        for e in store.listdir(posixpath.join(root, stage))
        if e.startswith("v=")
    )


@dataclass
class SliceResult:
    slice_id: int
    skipped: bool
    metrics: dict


def slice_status(root: str, stage: str, version: int, n_slices: int,
                 store: FileStore | None = None
                 ) -> tuple[dict[int, dict], list[int]]:
    """Resume bookkeeping shared by encode_run and compact_stage:
    (done slice→metrics from existing manifests, todo slice ids)."""
    store = store or _DEFAULT_STORE
    done: dict[int, dict] = {}
    for k in range(n_slices):
        mpath = manifest_path(root, stage, version, k)
        if store.exists(mpath):
            done[k] = store.read_json(mpath)["metrics"]
    return done, [k for k in range(n_slices) if k not in done]


def commit_slices(spark: SparkSession, root: str, stage: str,
                  version: int, n_slices: int, done: dict[int, dict],
                  todo: list[int], elapsed_s: float, lineage: dict,
                  store: FileStore | None = None) -> list[SliceResult]:
    """Commit the freshly written ``todo`` slices of ``stage`` v=N — the
    manifest step shared by encode_run and compaction.compact_stage.

    Per-slice metrics come from ONE ``groupBy(slice_id, codec)``
    aggregation over the written chunk rows (schema given, so no
    inference job), rolled up per slice on the driver: ``rows``,
    ``raw_bytes``, ``enc_bytes``, ``n_chunks`` (= rows with
    ``col_idx == 0``), ``by_codec`` (enc bytes per codec) and
    ``elapsed_s`` (the write's time, shared evenly). Then one atomic
    manifest per slice, carrying ``lineage``. Returns every slice's
    result, those skipped as ``done`` included."""
    from .encoder import _chunk_schema

    is_head = F.col("col_idx") == 0
    rows = (
        spark.read.schema(_chunk_schema(None, slice_col=True))
        .parquet(stage_dir(root, stage, version, "chunks"))
        .filter(F.col("slice_id").isin([int(k) for k in todo]))
        .groupBy("slice_id", "codec")
        .agg(F.sum(F.when(is_head, F.col("n_rows")).otherwise(F.lit(0)))
             .alias("rows"),
             F.sum("raw_bytes").alias("raw_bytes"),
             F.sum("enc_bytes").alias("enc_bytes"),
             F.sum(is_head.cast("long")).alias("n_chunks"))
        .collect()
    ) if todo else []
    per_slice = {k: {"rows": 0, "raw_bytes": 0, "enc_bytes": 0,
                     "n_chunks": 0, "by_codec": {},
                     "elapsed_s": round(elapsed_s / len(todo), 3)}
                 for k in todo}
    for r in rows:
        m = per_slice[int(r["slice_id"])]
        for key in ("rows", "raw_bytes", "enc_bytes", "n_chunks"):
            m[key] += int(r[key] or 0)
        m["by_codec"][r["codec"]] = int(r["enc_bytes"] or 0)
    for k in todo:
        atomic_write_json(manifest_path(root, stage, version, k), {
            "stage": stage, "version": version, "slice": k,
            "slice_of": n_slices, **lineage, "metrics": per_slice[k],
        }, store=store)
    return [SliceResult(k, k in done, done[k] if k in done else per_slice[k])
            for k in range(n_slices)]


def encode_run(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    stage: str,
    version: int,
    sort_cols: list[str],
    slice_col: str | None = None,
    n_slices: int = 4,
    partitions_per_slice: int | None = None,
    cascade: bool = False,
    profile: str = "size",
    input_fingerprint: str = "",
    store: FileStore | None = None,
    chunk_rows: int | None = None,
) -> list[SliceResult]:
    """Checkpointed encode of ``df`` into the chunk-table format.

    The keyspace is split into ``n_slices`` hash slices on
    ``slice_col`` (default: first sort col). ALL outstanding slices are
    encoded in ONE scan of the input: a ``__slice`` column is derived,
    completed slices are filtered out, and the chunk table is written
    ``partitionBy(slice_id)`` with dynamic partition overwrite — then
    one atomic manifest per finished slice commits it. Resume = skip
    slices whose manifest exists; a 100 TB input is never re-read once
    per slice. On a real cluster a slice is thousands of tasks; slice
    granularity bounds re-work after a failure without driver-side
    bookkeeping per task.
    """
    from .encoder import CHUNK_ROWS, encode_partitions

    store = store or _DEFAULT_STORE
    slice_col = slice_col or sort_cols[0]
    chunk_rows = chunk_rows or CHUNK_ROWS
    out_dir = stage_dir(root, stage, version, "chunks")

    done, todo = slice_status(root, stage, version, n_slices, store)

    elapsed_s = 0.0
    if todo:
        t0 = time.monotonic()
        sliced = df.withColumn(
            "__slice",
            F.pmod(F.hash(F.col(slice_col)), F.lit(n_slices)).cast("int"),
        ).filter(F.col("__slice").isin([int(k) for k in todo]))
        n_parts = (
            partitions_per_slice * len(todo) if partitions_per_slice else None
        )
        chunks = encode_partitions(
            sliced, sort_cols=sort_cols, partitions=n_parts,
            cascade=cascade, profile=profile, slice_col="__slice",
            chunk_rows=chunk_rows,
        )
        (
            chunks.write.mode("overwrite")
            .option("compression", "none")  # our codecs own compression
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("slice_id")
            .parquet(out_dir)
        )
        elapsed_s = time.monotonic() - t0

    # chunk_rows is recorded so maintenance (compaction) judges runts
    # against the geometry the stage was encoded with
    lineage = {"slice_col": slice_col, "sort_cols": sort_cols,
               "input": input_fingerprint, "chunk_rows": chunk_rows}
    return commit_slices(spark, root, stage, version, n_slices, done, todo,
                         elapsed_s, lineage, store)


def read_chunks(spark: SparkSession, root: str, stage: str, version: int) -> DataFrame:
    return spark.read.parquet(stage_dir(root, stage, version, "chunks"))
