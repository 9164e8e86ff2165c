"""Chunk-table compaction — the encoded format's ``rewrite_data_files``.

Incremental waves (plans/dag.py) and per-partition encodes leave *runt*
chunks behind: every partition's trailing slice, and every small delta
wave, emits chunks with ``n_rows < chunk_rows``. Over many versions the
chunk table accumulates them, which degrades reads three ways — more
manifest rows to plan over, coarser zone-map selectivity per stored
byte, and per-chunk codec overhead (symbol tables, dictionaries) paid
on tiny row counts.

``compact_chunks`` rewrites ONLY the runts:

1. split the table on ``n_rows >= runt_threshold`` — a manifest-level
   predicate; full chunks pass through with their encoded blobs
   byte-identical (never decoded, never re-encoded);
2. decode the runts (a small fraction of the data by construction),
   shuffle-sort them back into key order, and re-encode into exact
   ``chunk_rows`` chunks via the normal encode path;
3. give rewritten chunks fresh ``part_id``s above the existing range so
   chunk identities never collide with survivors.

This is the same contract as Iceberg's binpack ``rewrite_data_files``
(public docs; see PAPERS.md): row multiset is preserved bit-identically,
small files merge into full ones, and clustering is restored by the
rewrite's sort — while untouched files are carried by reference. The
reference system has no analogue (its per-version rewrite is total:
Parquet.Producers/ParquetProduction.cs regenerates whole tables), which
is exactly why an incremental engine at 100 TB needs this op: rewriting
0.1% runt bytes instead of 100% is the difference between a nightly
maintenance job and a full recompute.

Scale shape: the runt/full split is a pushed-down parquet predicate on
two small manifest columns; only runt blobs cross into Python for
decode; the re-sort shuffles only runt rows; survivors stream through
as stored bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .encoder import CHUNK_ROWS, chunk_ident, decode_chunks, encode_partitions


def compact_chunks(
    chunks: DataFrame,
    sort_cols: list[str],
    chunk_rows: int = CHUNK_ROWS,
    runt_threshold: int | None = None,
    partitions: int | None = None,
    cascade: bool = False,
    profile: str = "size",
) -> DataFrame:
    """Return a compacted chunk table: full chunks unchanged (same
    blobs), runt chunks re-encoded into exact ``chunk_rows`` chunks
    sorted by ``sort_cols``.

    ``runt_threshold`` defaults to ``chunk_rows`` — with the encoder's
    exact slicing, any chunk below the target size is a runt. Lower it
    to leave near-full chunks alone (rewrite less).

    The rewritten region is key-clustered by ``sort_cols``; physical
    ``(part_id, chunk_seq)`` order interleaves survivors and rewrites,
    so readers that need total key order sort on the key (the engine's
    datasets are key-sorted sets — reference SURVEY.md §1.1 — and every
    consumer already merges on key).
    """
    layout_cols = chunk_ident(chunks)[:-2]
    if layout_cols:
        raise ValueError(
            f"compact_chunks operates on one stored table; layout columns "
            f"{layout_cols} present — filter to a single slice first")
    threshold = chunk_rows if runt_threshold is None else runt_threshold

    survivors = chunks.filter(F.col("n_rows") >= threshold)
    runts = chunks.filter(F.col("n_rows") < threshold)

    # bounded collect: ONE aggregate row over manifest-scale metadata
    # answers both "is there anything to rewrite" and "what pid base"
    stats = chunks.agg(
        F.max("part_id").alias("max_pid"),
        F.sum((F.col("n_rows") < threshold).cast("int")).alias("runt_rows"),
    ).first()
    if stats["max_pid"] is None or not stats["runt_rows"]:
        return chunks  # empty or already-healthy table: no-op
    pid_base = int(stats["max_pid"]) + 1

    rewritten = (
        encode_partitions(
            decode_chunks(runts, ordered=False),
            sort_cols=sort_cols,
            partitions=partitions,
            chunk_rows=chunk_rows,
            cascade=cascade,
            profile=profile,
        )
        .withColumn("part_id", (F.col("part_id") + F.lit(pid_base))
                    .cast("int"))
    )
    return survivors.unionByName(rewritten)


def compact_stage(
    spark,
    root: str,
    stage: str,
    version: int,
    chunk_rows: int | None = None,
    runt_threshold: int | None = None,
    partitions_per_slice: int | None = None,
    cascade: bool = False,
    profile: str = "size",
    store=None,
):
    """Maintenance transaction over the versioned layout
    (storage.py): read stage version ``N``, compact every slice, write
    version ``N+1`` with fresh per-slice manifests carrying
    ``compacted_from`` lineage. Readers keep using ``v=N`` until the
    new version's manifests land — the same visibility rule as any
    other version, so compaction is concurrency-safe by construction.

    Slice discipline is preserved: decoded runt rows re-derive their
    slice from the SAME hash the original encode used (``slice_col`` +
    ``slice_of`` come from the v=N manifests, not from caller
    arguments), so rewritten chunks land in their original slice
    partitions and slice-level resume keeps working — a killed
    compaction re-runs only the slices whose v=N+1 manifest is
    missing. Survivor chunks pass through byte-identical.

    Returns the list of :class:`storage.SliceResult` for v=N+1.
    """
    from pyspark.sql import functions as F

    from .storage import (
        commit_slices,
        manifest_path,
        read_chunks,
        slice_status,
        stage_dir,
        _DEFAULT_STORE,
    )

    store = store or _DEFAULT_STORE
    base = store.read_json(manifest_path(root, stage, version, 0))
    slice_col, n_slices = base["slice_col"], int(base["slice_of"])
    sort_cols = list(base["sort_cols"])
    # stage geometry comes from the v=N manifest unless explicitly
    # overridden — a maintain run must never reclassify a stage encoded
    # with custom chunk_rows as 100% runts just because the caller used
    # the default (same manifest-is-authoritative rule as slice_col)
    chunk_rows = chunk_rows or int(base.get("chunk_rows") or CHUNK_ROWS)
    threshold = chunk_rows if runt_threshold is None else runt_threshold
    new_version = version + 1
    out_dir = stage_dir(root, stage, new_version, "chunks")

    done, todo = slice_status(root, stage, new_version, n_slices, store)

    elapsed_s = 0.0
    if todo:
        import time

        t0 = time.monotonic()
        chunks = read_chunks(spark, root, stage, version).filter(
            F.col("slice_id").isin([int(k) for k in todo]))
        survivors = chunks.filter(F.col("n_rows") >= threshold)
        runts = chunks.filter(F.col("n_rows") < threshold)
        # ONE manifest-scale aggregate: pid base + anything-to-rewrite
        st = chunks.agg(
            F.max("part_id").alias("max_pid"),
            F.sum((F.col("n_rows") < threshold).cast("int")).alias("runts"),
        ).first()
        max_pid = st["max_pid"] or 0
        if st["runts"]:
            rewritten = (
                encode_partitions(
                    decode_chunks(runts, ordered=False).withColumn(
                        "__slice",
                        F.pmod(F.hash(F.col(slice_col)),
                               F.lit(n_slices)).cast("int"),
                    ),
                    sort_cols=sort_cols,
                    partitions=(partitions_per_slice * len(todo)
                                if partitions_per_slice else None),
                    chunk_rows=chunk_rows,
                    cascade=cascade,
                    profile=profile,
                    slice_col="__slice",
                )
                .withColumn(
                    "part_id",
                    (F.col("part_id") + F.lit(int(max_pid) + 1)).cast("int"))
            )
            out = survivors.unionByName(rewritten)
        else:
            out = survivors
        (
            out.write.mode("overwrite")
            .option("compression", "none")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("slice_id")
            .parquet(out_dir)
        )
        elapsed_s = time.monotonic() - t0

    lineage = {"slice_col": slice_col, "sort_cols": sort_cols,
               "chunk_rows": chunk_rows, "compacted_from": version}
    return commit_slices(spark, root, stage, new_version, n_slices, done,
                         todo, elapsed_s, lineage, store)


def compact_if_needed(
    spark,
    root: str,
    stage: str,
    version: int,
    chunk_rows: int | None = None,
    min_runt_fraction: float = 0.25,
    store=None,
    **kwargs,
) -> int:
    """Policy gate for periodic maintenance: decide from the chunk
    MANIFEST (no blob read — parquet column pruning drops ``data``)
    whether version ``N`` carries enough runt chunks to justify a
    rewrite, and if so run :func:`compact_stage`.

    Returns the version readers should use afterwards: ``N+1`` if a
    compaction ran, else ``N``. Idempotent and cheap when healthy —
    the scan is a two-column aggregate over chunk metadata, so a
    scheduler can call this after every wave.
    """
    from pyspark.sql import functions as F

    from .storage import manifest_path, read_chunks, _DEFAULT_STORE

    # stage geometry from the v=N manifest unless overridden (see
    # compact_stage) — the gate and the rewrite must judge runts
    # against the chunk_rows the stage was actually encoded with
    st = store or _DEFAULT_STORE
    if chunk_rows is None:
        base = st.read_json(manifest_path(root, stage, version, 0))
        chunk_rows = int(base.get("chunk_rows") or CHUNK_ROWS)
    threshold = (chunk_rows if kwargs.get("runt_threshold") is None
                 else kwargs["runt_threshold"])
    stats = (
        read_chunks(spark, root, stage, version)
        .select("slice_id", "part_id", "chunk_seq", "n_rows").distinct()
        .agg(F.count("*").alias("n"),
             F.sum((F.col("n_rows") < threshold).cast("int")).alias("runts"))
        .first()
    )
    if not stats["n"] or stats["runts"] / stats["n"] < min_runt_fraction:
        return version
    compact_stage(spark, root, stage, version, chunk_rows=chunk_rows,
                  store=store, **kwargs)
    return version + 1


def compaction_plan(chunks: DataFrame,
                    runt_threshold: int = CHUNK_ROWS) -> DataFrame:
    """Manifest-only dry run: per column, how many chunks/bytes a
    compaction would rewrite vs carry. Pure aggregation over the chunk
    manifest columns — no blob is read (parquet column pruning drops
    ``data``)."""
    is_runt = (F.col("n_rows") < runt_threshold).cast("int")
    return (
        chunks.groupBy("column")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(is_runt).alias("runt_chunks"),
            F.sum(F.col("enc_bytes") * is_runt).alias("runt_bytes"),
            F.sum(F.col("enc_bytes") * (1 - is_runt)).alias("carried_bytes"),
        )
    )
