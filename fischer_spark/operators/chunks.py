"""O22/O23 — chunk encode/decode: series points ⇄ compressed chunk structs.

Physical layout reasoning (SURVEY.md §4.2): one chunk per
(series key, chunk window).  encode_chunks is one aggregation on the
chunk key collecting each chunk's (unix_micros(bucket_ts), value) pairs —
the ONLY shuffle — then one mapInArrow that encodes a whole Arrow batch
of chunks per Python call, slicing the flat list buffers by their
offsets.  Points are encoded in a total order, bucket_ts then the value's
bit pattern, so chunk bytes do not depend on the input partitioning even
under tied timestamps; a NULL value is encoded as NaN.  decode_chunks is
a narrow mapInArrow, one output batch per input batch.  stat_min/
stat_max (finite values only)/stat_cnt are zone-map stats: a reader
filters chunks on them (and on t_start/t_end) BEFORE paying the decode
cost — poor-man's partition pruning over compressed blobs.

Not SQL-expressible → no DuckDB oracle; correctness is pinned by the
codec property tests, the chunk contract test against plain-numpy
encoding and the decode(encode(x)) == x Spark test (tests/test_codec.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fischer_spark.codec.gorilla import (
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
)
from fischer_spark.functions.time import bucketize, is_ntz
from fischer_spark.schemas import CHUNK_SCHEMA, SERIES_POINT_SCHEMA

KEY_COLS = ["domain", "metric", "tag"]

TS_CODEC = "dod-v1"
VAL_CODEC = "gorilla-v1"

_TS = pa.timestamp("us", tz="UTC")


def _encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for b in filter(len, batches):
        pts = b.column("pts")
        off = pts.offsets.to_numpy() - pts.offsets[0].as_py()
        ts_all, val_all = (a.to_numpy(zero_copy_only=False) for a in pts.flatten().flatten())
        out = []
        for s, e in zip(off[:-1], off[1:]):
            ts, vals = ts_all[s:e], val_all[s:e]
            order = np.lexsort((vals.view(np.uint64), ts))
            ts, vals = ts[order], vals[order]
            finite = vals[np.isfinite(vals)]
            lo, hi = (float(finite.min()), float(finite.max())) if len(finite) else (None, None)
            out.append((ts[0], ts[-1], encode_timestamps(ts), encode_values(vals), lo, hi))
        t_start, t_end, ts_bytes, val_bytes, stat_min, stat_max = zip(*out)
        n = np.diff(off)
        yield pa.RecordBatch.from_arrays(
            [b.column(c) for c in KEY_COLS]
            + [pa.array(t_start, pa.int64()).cast(_TS), pa.array(t_end, pa.int64()).cast(_TS)]
            + [pa.array(n, pa.int32()), pa.array([TS_CODEC] * len(n)), pa.array([VAL_CODEC] * len(n))]
            + [pa.array(ts_bytes, pa.binary()), pa.array(val_bytes, pa.binary())]
            + [pa.array(stat_min, pa.float64()), pa.array(stat_max, pa.float64()), pa.array(n, pa.int64())],
            names=CHUNK_SCHEMA.names,
        )


def encode_chunks(points: DataFrame, chunk_window: str = "1d") -> DataFrame:
    """Series points → one compressed chunk struct per (key, window)."""
    ntz = is_ntz(points, "bucket_ts")
    ts = F.unix_micros(F.col("bucket_ts").cast("timestamp") if ntz else F.col("bucket_ts"))
    win = bucketize("bucket_ts", chunk_window, ntz).alias("_win")
    pts = F.collect_list(F.struct(ts.alias("t"), F.col("value").alias("v"))).alias("pts")
    return points.groupBy(*KEY_COLS, win).agg(pts).drop("_win").mapInArrow(_encode, schema=CHUNK_SCHEMA)


def _decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for b in filter(len, batches):
        n = b.column("n").to_numpy()
        blobs = zip(b.column("ts_bytes").to_pylist(), b.column("val_bytes").to_pylist(), n.tolist())
        ts, vals = zip(*((decode_timestamps(t, k), decode_values(v, k)) for t, v, k in blobs))
        rows = pa.array(np.repeat(np.arange(len(n)), n))
        yield pa.RecordBatch.from_arrays(
            [b.column(c).take(rows) for c in KEY_COLS]
            + [pa.array(np.concatenate(ts)).cast(_TS), pa.array(np.concatenate(vals))],
            names=SERIES_POINT_SCHEMA.names,
        )


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """Chunk structs → exploded series points (bit-exact inverse)."""
    return chunks.mapInArrow(_decode, schema=SERIES_POINT_SCHEMA)


def prune_chunks(
    chunks: DataFrame,
    t_from=None,
    t_to=None,
    v_min: float | None = None,
    v_max: float | None = None,
) -> DataFrame:
    """Zone-map pruning: drop chunks that cannot contain matching points —
    evaluated on the tiny chunk-stat columns, never touching the blobs."""
    out = chunks
    if t_from is not None:
        out = out.filter(F.col("t_end") >= F.lit(t_from))
    if t_to is not None:
        out = out.filter(F.col("t_start") <= F.lit(t_to))
    if v_min is not None:
        out = out.filter(F.col("stat_max") >= F.lit(v_min))
    if v_max is not None:
        out = out.filter(F.col("stat_min") <= F.lit(v_max))
    return out
