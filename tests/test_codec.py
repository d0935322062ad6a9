"""§5.3 codec round-trip: bit-exact for doubles (NaN payloads, ±0, inf)
and timestamps; compression-ratio floor on gorilla-friendly data; Spark
encode→decode identity; zone-map pruning correctness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fischer_spark.codec.gorilla import (
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_ts_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    for _ in range(50):
        n = int(rng.integers(0, 400))
        ts = np.sort(rng.integers(0, 2**45, size=n).astype(np.int64))
        assert np.array_equal(decode_timestamps(encode_timestamps(ts), n), ts)


def test_ts_regular_is_tiny():
    ts = np.arange(5000, dtype=np.int64) * 60_000_000  # exact 1m cadence
    enc = encode_timestamps(ts)
    assert len(enc) < 5000 * 8 / 50  # >50x on regular cadence
    assert np.array_equal(decode_timestamps(enc, 5000), ts)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_val_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    specials = np.array(
        [0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, 1.7e308], dtype=np.float64
    )
    for k in range(60):
        n = int(rng.integers(0, 400))
        if k % 3 == 0:
            v = np.round(rng.normal(100, 1, n), 2)
        elif k % 3 == 1:
            v = rng.choice(specials, n)
        else:
            v = rng.random(n)
        dec = decode_values(encode_values(v), n)
        assert np.array_equal(v.view(np.uint64), dec.view(np.uint64))


def test_val_constant_compresses():
    v = np.full(5000, 42.5)
    enc = encode_values(v)
    assert len(enc) < 700  # ~1 bit/point


def test_spark_chunk_roundtrip(pages):
    from fischer_spark.operators.chunks import decode_chunks, encode_chunks
    from fischer_spark.operators.series import build_series

    pts = build_series(pages).filter(
        F.col("domain").isin("d000.example", "d003.example", "d007.example")
    )
    chunks = encode_chunks(pts, "1d").cache()
    back = decode_chunks(chunks)
    # bit-exact set equality (value is double; exceptAll compares exactly)
    assert pts.count() == back.count()
    assert pts.exceptAll(back).count() == 0
    assert back.exceptAll(pts).count() == 0
    # compression: chunk bytes well under raw 16B/point
    row = chunks.agg(
        F.sum(F.octet_length("ts_bytes") + F.octet_length("val_bytes")).alias("b"),
        F.sum("n").alias("n"),
    ).collect()[0]
    assert row.b < row.n * 16 * 0.7, (row.b, row.n)


def test_zone_map_pruning(pages):
    from fischer_spark.operators.chunks import decode_chunks, encode_chunks, prune_chunks
    from fischer_spark.operators.series import crawl_rate_series

    pts = crawl_rate_series(pages)
    chunks = encode_chunks(pts, "1d").cache()
    t_from = "2024-01-10 00:00:00"
    pruned = prune_chunks(chunks, t_from=t_from)
    assert pruned.count() < chunks.count()
    got = decode_chunks(pruned).filter(F.col("bucket_ts") >= t_from)
    want = pts.filter(F.col("bucket_ts") >= t_from)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


_DAY_US = 86_400_000_000
_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC


def _points_df(spark, rows, ntz=False):
    """(domain, metric, tag, unix micros, value) rows → series points
    with an exact microsecond bucket_ts (TIMESTAMP or TIMESTAMP_NTZ)."""
    df = spark.createDataFrame(
        rows, "domain string, metric string, tag string, us long, value double"
    )
    ts = F.timestamp_micros("us")
    return df.select(
        "domain", "metric", "tag",
        (ts.cast("timestamp_ntz") if ntz else ts).alias("bucket_ts"), "value",
    )


def _reference_chunks(rows):
    """Plain-numpy chunk contract: one chunk per (key, UTC day), points
    ordered by timestamp then the value's bit pattern, NULL read as NaN."""
    import struct

    def bits(v):
        return struct.unpack("<Q", struct.pack("<d", v))[0]

    groups = {}
    for d, m, tag, us, v in rows:
        v = float("nan") if v is None else v
        groups.setdefault((d, m, tag, us // _DAY_US), []).append((us, bits(v), v))
    out = {}
    for (d, m, tag, _), pts in groups.items():
        pts.sort(key=lambda p: (p[0], p[1]))
        ts = np.array([p[0] for p in pts], dtype=np.int64)
        vals = np.array([p[2] for p in pts], dtype=np.float64)
        finite = [v for v in vals.tolist() if np.isfinite(v)]
        out[(d, m, tag, int(ts[0]))] = (
            int(ts[-1]), len(pts), encode_timestamps(ts), encode_values(vals),
            min(finite) if finite else None, max(finite) if finite else None,
        )
    return out


@pytest.mark.parametrize("ntz", [False, True])
def test_spark_chunk_contract(spark, ntz):
    """encode_chunks over 3 input partitions equals plain-numpy encoding
    of each chunk's ordered points, byte for byte — NaN, ±inf, -0.0,
    NULL (encoded as NaN), tied timestamps, a 1-point chunk and a chunk
    without finite values; t_start/t_end are TIMESTAMP for either input
    type, and the zone-map stats cover finite values only."""
    from pyspark.sql import types as T

    from fischer_spark.operators.chunks import encode_chunks

    specials = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0, None]
    rows = [
        ("a.example", "page_size", None, _T0_US + (i // 2) * 1_800_000_000,
         specials[i // 4 % 6] if i % 4 == 0 else float(i % 7) - 3.5)
        for i in range(200)
    ]
    rows.append(("b.example", "crawl_rate", None, _T0_US + 5 * _DAY_US + 7, 3.0))
    no_finite = [float("nan"), None, float("inf")]
    rows += [
        ("c.example", "lang_mix", "en", _T0_US + k * 60_000_000, no_finite[k % 3])
        for k in range(5)
    ]
    pts = _points_df(spark, rows, ntz).repartition(3)
    assert pts.rdd.getNumPartitions() >= 3
    chunks = encode_chunks(pts, "1d")
    assert chunks.schema["t_start"].dataType == T.TimestampType()
    assert chunks.schema["t_end"].dataType == T.TimestampType()
    got = chunks.select(
        "domain", "metric", "tag",
        F.unix_micros("t_start").alias("t0"), F.unix_micros("t_end").alias("t1"),
        "n", "ts_bytes", "val_bytes", "stat_min", "stat_max", "stat_cnt",
        "ts_codec", "val_codec",
    ).collect()
    want = _reference_chunks(rows)
    assert len(got) == len(want) == 5
    for r in got:
        t1, n, ts_b, val_b, lo, hi = want[(r.domain, r.metric, r.tag, r.t0)]
        assert (r.t1, r.n, r.stat_cnt) == (t1, n, n)
        assert bytes(r.ts_bytes) == ts_b and bytes(r.val_bytes) == val_b
        assert (r.stat_min, r.stat_max) == (lo, hi)
        assert (r.ts_codec, r.val_codec) == ("dod-v1", "gorilla-v1")


def test_spark_chunk_bytes_independent_of_partitioning(spark):
    """A series with tied timestamps encodes to the same bytes whatever
    order the shuffle delivers its points in."""
    from fischer_spark.operators.chunks import encode_chunks

    rng = np.random.default_rng(7)
    rows = [
        ("a.example", "page_size", None, _T0_US + (i // 3) * 60_000_000, float(v))
        for i, v in enumerate(rng.integers(1_000, 90_000, size=600))
    ]
    pts = _points_df(spark, rows)
    cols = ["domain", "metric", "tag", "t_start", "ts_bytes", "val_bytes"]

    def enc(df):
        return sorted(tuple(r) for r in encode_chunks(df, "1d").select(cols).collect())

    assert enc(pts.repartition(7)) == enc(pts.repartition(3, "value"))


# -- hypothesis property coverage (SURVEY.md §5: property-based layer) ------

from hypothesis import given, settings
from hypothesis import strategies as st

_finite_or_special = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.just(float("nan")),
    st.just(0.0),
    st.just(-0.0),
    st.just(float("inf")),
    st.just(float("-inf")),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_finite_or_special, min_size=1, max_size=300))
def test_val_roundtrip_property(vals):
    """ANY float64 sequence — including NaN payloads, signed zeros and
    infinities — must round-trip BIT-exactly through the XOR codec."""
    arr = np.array(vals, dtype="float64")
    out = decode_values(encode_values(arr), len(arr))
    assert np.array_equal(
        arr.view("uint64"), out.view("uint64")
    ), "bit pattern changed"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**48), min_size=1, max_size=300
    ),
    st.integers(min_value=0, max_value=2**40),
)
def test_ts_roundtrip_property(deltas, base):
    """Monotone microsecond timestamps with arbitrary (including huge
    and zero) gaps round-trip exactly through delta-of-delta."""
    ts = base + np.cumsum(np.array(deltas, dtype="int64"))
    out = decode_timestamps(encode_timestamps(ts), len(ts))
    assert np.array_equal(ts, out)


# -- archive limb codec: property layer (no Spark — the pure kernels) --------

@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.decimals(
            min_value=-(10**22) + 1, max_value=10**22 - 1, places=6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1, max_size=200,
    )
)
def test_archive_decimal_limbs_roundtrip(vals):
    """Two-limb int64 encoding of decimal(28,6) unscaled values is a
    bit-exact inverse for the full precision range (incl. |unscaled| far
    beyond 2^64, negatives, and zero) — the property the archive tier's
    exactness claim rests on."""
    import pandas as pd

    from fischer_spark.operators.archive import _decode_series, _encode_series

    codec = "dec128-gorilla-v1:28,6"
    col = pd.Series(vals, dtype=object)
    blobs = {"x" + k: v for k, v in _encode_series(col, codec).items()}
    back = _decode_series(blobs, "x", codec, len(vals))
    assert list(back) == list(vals)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1, max_size=200,
    )
)
def test_archive_i64_bitpattern_roundtrip(ints):
    """gorilla over int64 BIT PATTERNS is payload-agnostic: any long
    round-trips exactly (incl. INT64_MIN/MAX — values whose float64
    conversion would be lossy, which is why the codec views, never
    casts)."""
    import numpy as np

    from fischer_spark.operators.archive import _dec_i64, _enc_i64

    arr = np.array(ints, dtype=np.int64)
    assert _dec_i64(_enc_i64(arr), len(ints)).tolist() == ints
