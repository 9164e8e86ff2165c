"""Versioned storage + manifest-based exact resume (SURVEY.md §4.2 row
'Resume/checkpoint'; reference analogue Producer.cs:115-118 versioned
table triplets)."""

from __future__ import annotations

import hashlib
import os

from parquet_producers_spark.datagen import source_code_df
from parquet_producers_spark.encoder import decode_chunks
from parquet_producers_spark.storage import (
    encode_run,
    list_versions,
    manifest_path,
    read_chunks,
)

N = 1200


def _content_digest(df) -> str:
    rows = df.orderBy("repo", "path").collect()
    h = hashlib.sha256()
    for r in rows:
        h.update(r.repo.encode())
        h.update(r.path.encode())
        h.update(r.content.encode())
    return h.hexdigest()


def test_encode_run_resume_identical(spark, tmp_path):
    root = str(tmp_path)
    src = source_code_df(spark, N, seed=7, partitions=3).cache()

    res1 = encode_run(
        spark, src, root, "code", version=1,
        sort_cols=["repo", "path"], n_slices=3,
    )
    assert [r.skipped for r in res1] == [False, False, False]
    assert sum(r.metrics["rows"] for r in res1) == N
    digest1 = _content_digest(decode_chunks(read_chunks(spark, root, "code", 1)))

    # simulate a mid-run kill: delete slice 1's manifest AND output
    os.remove(manifest_path(root, "code", 1, 1))

    res2 = encode_run(
        spark, src, root, "code", version=1,
        sort_cols=["repo", "path"], n_slices=3,
    )
    assert [r.skipped for r in res2] == [True, False, True]
    digest2 = _content_digest(decode_chunks(read_chunks(spark, root, "code", 1)))
    assert digest1 == digest2  # exact resume: identical decoded bytes

    # decoded content matches source bit-identically
    assert digest1 == _content_digest(src)
    assert list_versions(root, "code") == [1]
    src.unpersist()


def test_manifest_contents(spark, tmp_path):
    root = str(tmp_path)
    src = source_code_df(spark, 300, seed=9, partitions=2)
    res = encode_run(
        spark, src, root, "code", version=2,
        sort_cols=["repo", "path"], n_slices=2, input_fingerprint="seed=9;n=300",
    )
    import json

    with open(manifest_path(root, "code", 2, 0)) as f:
        m = json.load(f)
    assert m["input"] == "seed=9;n=300"
    assert m["sort_cols"] == ["repo", "path"]
    assert m["metrics"]["enc_bytes"] > 0
    assert m["metrics"]["by_codec"]
    assert res[0].metrics["elapsed_s"] > 0


def _direct_metrics(spark, root, stage, version, k) -> dict:
    """A slice's manifest metrics recomputed from its chunk rows."""
    rows = (read_chunks(spark, root, stage, version)
            .filter(f"slice_id = {k}").drop("data").collect())
    by_codec: dict = {}
    for r in rows:
        by_codec[r.codec] = by_codec.get(r.codec, 0) + r.enc_bytes
    return {
        "rows": sum(r.n_rows for r in rows if r.col_idx == 0),
        "raw_bytes": sum(r.raw_bytes for r in rows),
        "enc_bytes": sum(r.enc_bytes for r in rows),
        "n_chunks": len({(r.part_id, r.chunk_seq) for r in rows}),
        "by_codec": by_codec,
    }


def _assert_metrics_match(spark, root, stage, version, results):
    for r in results:
        got = {k: v for k, v in r.metrics.items() if k != "elapsed_s"}
        assert got == _direct_metrics(spark, root, stage, version,
                                      r.slice_id), r.slice_id
        assert r.metrics["elapsed_s"] >= 0


def test_one_job_manifest_metrics_match_chunk_rows(spark, tmp_path):
    """encode_run and compaction.compact_stage take their per-slice
    metrics from one grouped aggregation; they must equal a direct
    re-read of each slice's chunk rows — an empty slice, a resumed run
    and a resumed compaction included."""
    from pyspark.sql import functions as F

    from parquet_producers_spark.compaction import compact_stage

    root = str(tmp_path)
    # three repos over five slices: at least two slices stay empty
    src = (source_code_df(spark, 500, seed=3, partitions=2)
           .withColumn("bucket", F.abs(F.hash("repo")) % 3)
           .drop("repo").withColumnRenamed("bucket", "repo"))
    kw = dict(sort_cols=["repo", "path"], n_slices=5, chunk_rows=48)
    res = encode_run(spark, src, root, "code", version=1, **kw)
    assert sum(r.metrics["rows"] for r in res) == 500
    empty = [r for r in res if r.metrics["rows"] == 0]
    assert empty and all(r.metrics["by_codec"] == {}
                         and r.metrics["n_chunks"] == 0 for r in empty)
    _assert_metrics_match(spark, root, "code", 1, res)

    full = next(r.slice_id for r in res if r.metrics["rows"])
    os.remove(manifest_path(root, "code", 1, full))
    res = encode_run(spark, src, root, "code", version=1, **kw)
    assert [r.skipped for r in res] == [k != full for k in range(5)]
    _assert_metrics_match(spark, root, "code", 1, res)

    comp = compact_stage(spark, root, "code", 1)
    assert sum(r.metrics["rows"] for r in comp) == 500
    _assert_metrics_match(spark, root, "code", 2, comp)
    os.remove(manifest_path(root, "code", 2, full))
    comp = compact_stage(spark, root, "code", 1)
    assert [r.skipped for r in comp] == [k != full for k in range(5)]
    _assert_metrics_match(spark, root, "code", 2, comp)
