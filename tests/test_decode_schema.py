"""The decoded schema rides with the chunk frame: every encoder attaches
it as field metadata on the ``data`` column (``SCHEMA_META_KEY``), so
building a decode plan submits no Spark job. Frames without that
metadata (stores written before it existed) take the schema-probe
fallback and must decode to identical rows and an identical schema."""

from __future__ import annotations

import datetime
import hashlib
import itertools
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from parquet_producers_spark.datagen import source_code_df
from parquet_producers_spark.encoder import (
    SCHEMA_META_KEY,
    chunk_fields,
    decode_chunks,
    encode_files,
    encode_partitions,
    encode_staged,
    project_chunks,
    read_where,
)
from parquet_producers_spark.sortedread import read_sorted
from parquet_producers_spark.sources.snapshots import (
    commit_snapshot,
    encode_table_incremental,
    read_encoded_table,
)

_GROUP = itertools.count()


def _jobs(spark, build):
    """(build(), number of Spark jobs submitted while it ran)."""
    sc = spark.sparkContext
    gid = f"decode-schema-{next(_GROUP)}"
    sc.setJobGroup(gid, gid)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _strip(chunks):
    """The same chunk frame as a store written before the metadata."""
    return chunks.withMetadata("data", {})


def _row_shas(df) -> list[str]:
    return sorted(hashlib.sha256(repr(tuple(r)).encode()).hexdigest()
                  for r in df.collect())


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A fresh two-wave encoded store and the rows it must decode to."""
    root = tmp_path_factory.mktemp("decode_schema")
    table, enc = str(root / "tbl"), str(root / "enc")
    src = source_code_df(spark, 600, seed=21, partitions=3)
    first = F.hash("repo", "path") % 3 != 0
    commit_snapshot(spark, src.filter(first), table)
    encode_table_incremental(spark, table, enc, "files", ["repo", "path"],
                             chunk_rows=64)
    commit_snapshot(spark, src.filter(~first), table, mode="append")
    encode_table_incremental(spark, table, enc, "files", ["repo", "path"],
                             chunk_rows=64)
    return read_encoded_table(spark, enc, "files"), src


def _lookup(chunks, lang):
    return read_where(chunks, columns=["path", "repo", "lang"],
                      key_range=("org10", "org60"), equals={"lang": lang})


def test_decode_plans_submit_no_job(spark, store):
    chunks, src = store
    assert SCHEMA_META_KEY in chunks.schema["data"].metadata
    lang = src.first()["lang"]
    for build in (lambda: decode_chunks(chunks),
                  lambda: decode_chunks(chunks, ordered=True),
                  lambda: _lookup(chunks, lang),
                  lambda: chunk_fields(chunks)):  # read_sorted's schema step
        _, n = _jobs(spark, build)
        assert n == 0
    # read_sorted still plans its ranges with jobs, but the stripped
    # frame pays the probe on top of them
    _, with_meta = _jobs(spark, lambda: read_sorted(chunks, "repo"))
    _, probed = _jobs(spark, lambda: read_sorted(_strip(chunks), "repo"))
    assert probed > with_meta


def test_probe_fallback_decodes_identical_rows(spark, store):
    chunks, src = store
    legacy = _strip(chunks)
    assert SCHEMA_META_KEY not in legacy.schema["data"].metadata
    assert chunk_fields(legacy) == chunk_fields(chunks)
    _, n = _jobs(spark, lambda: decode_chunks(legacy))
    assert n >= 1  # the fallback really probed
    lang = src.first()["lang"]
    assert (_row_shas(decode_chunks(chunks))
            == _row_shas(decode_chunks(legacy)) == _row_shas(src))
    assert (_row_shas(_lookup(chunks, lang))
            == _row_shas(_lookup(legacy, lang)))
    assert _lookup(chunks, lang).count() > 0
    assert (_row_shas(read_sorted(chunks, "repo", n_ranges=3))
            == _row_shas(read_sorted(legacy, "repo", n_ranges=3)))


def _extra_types(spark):
    rows = [
        (i, Decimal(f"{i}.25"), datetime.date(2024, 1, 1 + i % 28),
         i % 2 == 0, i % 300, float(i) / 3,
         datetime.datetime(2024, 1, 1, i % 24), bytes([i % 256]),
         [f"t{i}", None])
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows, "k long, amt decimal(18,2), d date, b boolean, s short,"
              " f float, ts timestamp, bin binary, tags array<string>")


_TYPE_CASES = [
    ("orders", "o_orderkey"),
    ("events", "event_id"),
    ("part", "p_partkey"),
    ("embeddings", "vec_id"),
    ("extra", "k"),
]


@pytest.mark.parametrize("table,sort_col", _TYPE_CASES)
def test_schema_parity_metadata_vs_probe(spark, sf_dir, table, sort_col):
    """Names, types, order and nullability of the decoded schema are the
    same from metadata as from the probe, before and after projection."""
    df = (_extra_types(spark) if table == "extra"
          else spark.read.parquet(f"{sf_dir}/{table}.parquet"))
    chunks = encode_partitions(df, sort_cols=[sort_col], partitions=2,
                               chunk_rows=128).localCheckpoint()
    assert (decode_chunks(chunks).schema
            == decode_chunks(_strip(chunks)).schema)
    # projection keeps stored column order, whatever order is asked for
    keep = df.columns[::-2]
    proj = project_chunks(chunks, keep)
    assert [f.name for f in chunk_fields(proj)] == [
        c for c in df.columns if c in keep]
    assert (decode_chunks(proj).schema
            == decode_chunks(project_chunks(_strip(chunks), keep)).schema)
    assert (_row_shas(decode_chunks(proj))
            == _row_shas(df.select(*[c for c in df.columns if c in keep])))


def test_file_encoders_carry_footer_schema(spark, tmp_path):
    """encode_files and encode_staged take the schema from the first
    input file's footer; it must equal what the probe recovers."""
    src = source_code_df(spark, 300, seed=5, partitions=2)
    src.orderBy("repo", "path").coalesce(2).write.parquet(
        str(tmp_path / "in"))
    files = sorted(str(p) for p in (tmp_path / "in").glob("*.parquet"))
    for chunks in (encode_files(spark, files, chunk_rows=64),
                   encode_staged(spark, src, str(tmp_path / "spill"),
                                 sort_cols=["repo", "path"], partitions=2)):
        chunks = chunks.localCheckpoint()
        assert SCHEMA_META_KEY in chunks.schema["data"].metadata
        assert chunk_fields(chunks) == chunk_fields(_strip(chunks))
        assert (decode_chunks(chunks).schema
                == decode_chunks(_strip(chunks)).schema)
        assert _row_shas(decode_chunks(chunks)) == _row_shas(src)


def test_waves_with_an_added_column_fail_loudly(spark, tmp_path):
    """A union of waves written before and after an added column carries
    only the first wave's schema. Decoding must refuse the later wave's
    chunks rather than drop the new column, and a failed consolidation
    must leave the snapshot map (and so the column) in place."""
    import json

    from parquet_producers_spark.sources.snapshots import (
        consolidate_encoded_table,
    )

    table, enc = str(tmp_path / "tbl"), str(tmp_path / "enc")
    commit_snapshot(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id int, v string"), table)
    encode_table_incremental(spark, table, enc, "t", ["id"], chunk_rows=16)
    commit_snapshot(spark, spark.createDataFrame(
        [(i, f"v{i}", i / 2) for i in range(40, 80)],
        "id int, v string, score double"), table, mode="append")
    encode_table_incremental(spark, table, enc, "t", ["id"], chunk_rows=16)

    chunks = read_encoded_table(spark, enc, "t")
    map_path = tmp_path / "enc" / "t" / "_snapshot_map.json"
    before = json.loads(map_path.read_text())
    assert len(before["waves"]) == 2
    for run in (lambda: decode_chunks(chunks).collect(),
                lambda: decode_chunks(_strip(chunks)).collect(),
                lambda: read_sorted(chunks, "id", n_ranges=2).collect(),
                lambda: consolidate_encoded_table(spark, enc, "t", ["id"])):
        with pytest.raises(Exception, match="differ from the frame's "
                                            "decoded schema"):
            run()
    assert json.loads(map_path.read_text()) == before
