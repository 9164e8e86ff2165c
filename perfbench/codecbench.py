"""Single-thread codec micro-bench: ``encode_array`` / ``decode_array``
per codec on sampled chunks (string codecs on source-code columns,
integer codecs on ``documents``' int64 columns), ``choose_codec`` time
and the chosen codec's ratio per column. No Spark involved."""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from parquet_producers_spark.codecs.base import decode_array, encode_array
from parquet_producers_spark.codecs.select import (
    CODEC_SPEED,
    candidate_codecs,
    choose_codec,
    column_stats,
    encode_auto,
)

import inputs

STRING_CODECS = ["plain", "dict", "rle", "fsst", "linedict"]
INT_CODECS = ["for", "bitpack", "delta"]
CODECS = STRING_CODECS + INT_CODECS
SAMPLE_ROWS = 2048
MIN_TIMED_S = 0.03  # repeat a call until this much time is measured


def _time(fn) -> float:
    """Median seconds per call over enough calls to fill MIN_TIMED_S."""
    times: list[float] = []
    spent = 0.0
    while spent < MIN_TIMED_S or len(times) < 3:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        times.append(dt)
        spent += dt
    return float(np.median(times))


def sample_columns(seed: int) -> dict[str, pa.Array]:
    """One sorted source-code chunk plus ``documents``' int64 columns."""
    src = inputs.files_pdf(0, SAMPLE_ROWS, 20_000, seed).sort_values(
        ["repo", "path"])
    cols = {c: pa.array(src[c].tolist(), pa.string())
            for c in ["repo", "path", "commit", "lang", "content"]}
    docs = inputs.documents(SAMPLE_ROWS * 4, seed)
    cols["doc_id"] = docs.column("doc_id").combine_chunks()
    cols["n_chars"] = docs.column("n_chars").combine_chunks()
    return cols


def run(seed: int) -> tuple[dict[str, float], dict[str, float]]:
    """Returns (per-layer metrics, measured encode MB/s keyed like
    ``select.CODEC_SPEED``)."""
    cols = sample_columns(seed)
    out: dict[str, float] = {}
    enc_s = {c: 0.0 for c in CODECS}
    dec_s = {c: 0.0 for c in CODECS}
    raw = {c: 0 for c in CODECS}
    for name, arr in cols.items():
        shortlist = candidate_codecs(arr, column_stats(arr))
        kind = STRING_CODECS if pa.types.is_string(arr.type) else INT_CODECS
        for codec in kind:
            # a codec is timed on the columns the selector would try it
            # on; plain is the baseline on every string column
            if codec not in shortlist:
                continue
            blob, params = encode_array(arr, codec)
            enc_s[codec] += _time(lambda: encode_array(arr, codec))
            dec_s[codec] += _time(lambda: decode_array(blob, params))
            raw[codec] += arr.nbytes
    for c in CODECS:
        mb = raw[c] / 1e6
        out[f"codecs.encode_mbps.{c}"] = mb / enc_s[c] if enc_s[c] else 0.0
        out[f"codecs.decode_mbps.{c}"] = mb / dec_s[c] if dec_s[c] else 0.0

    zstd = pa.Codec("zstd", compression_level=3)
    plain = [encode_array(a, "plain")[0] for n, a in cols.items()
             if pa.types.is_string(a.type)]
    packed = [zstd.compress(b, asbytes=True) for b in plain]
    mb = sum(len(b) for b in plain) / 1e6
    out["codecs.zstd.encode_mbps"] = mb / sum(
        _time(lambda b=b: zstd.compress(b, asbytes=True)) for b in plain)
    out["codecs.zstd.decode_mbps"] = mb / sum(
        _time(lambda p=p, n=len(b): zstd.decompress(p, n, asbytes=True))
        for p, b in zip(packed, plain))

    enc_by_codec: dict[str, int] = {}
    for name, arr in cols.items():
        out[f"codecs.select_ms.{name}"] = 1e3 * _time(
            lambda: choose_codec(arr, cascade=True, profile="balanced"))
        choice, blob, _ = encode_auto(arr, cascade=True, profile="balanced")
        out[f"codecs.ratio.{name}"] = len(blob) / arr.nbytes
        enc_by_codec[choice.codec] = enc_by_codec.get(choice.codec, 0) + len(blob)
    total = sum(enc_by_codec.values())
    for c in CODECS:
        out[f"codecs.bytes_frac.{c}"] = enc_by_codec.get(c, 0) / total

    measured = {c: round(out[f"codecs.encode_mbps.{c}"], 1) for c in CODEC_SPEED}
    return out, measured


def speed_table(measured: dict[str, float]) -> list[str]:
    """Measured encode MB/s next to ``select.CODEC_SPEED``'s typed values,
    then the measured table as a literal a later change can paste."""
    lines = [f"{'codec':<10}{'measured_mbps':>15}{'CODEC_SPEED':>13}"]
    for c, hand in CODEC_SPEED.items():
        lines.append(f"{c:<10}{measured.get(c, 0.0):>15.1f}{hand:>13}")
    lines.append(f"CODEC_SPEED_MEASURED = {measured!r}")
    return lines
