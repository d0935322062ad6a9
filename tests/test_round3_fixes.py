"""Round-3 fixes (VERDICT r2 / ADVICE r2):

- hist binning drops NULL values (quantiles were biased low by the
  NULL bin sorting first in the cumulative walk);
- hist binning params are persisted as table meta and validated at
  read time (a mismatch reinterprets stored bin indices);
- the hist tier family refreshes with late data in lockstep with the
  rollup tiers (refresh_hist_cascade_families == full recompute, bit-exact);
- --refresh --encode-keys appends newly seen series keys to key_dim;
- --refresh fails loudly on key-encoding mismatch vs the stored tiers.
"""

from __future__ import annotations

import datetime
import json
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]

LO, HI, BINS = 0.0, 100.0, 50


def _pts(spark, rows):
    return spark.createDataFrame(
        rows,
        "domain string, metric string, tag string, bucket_ts timestamp, value double",
    )


# --------------------------------------------------------------------------
# NULL values in hist binning
# --------------------------------------------------------------------------

def test_hist_states_drop_null_values(spark):
    """NULL values contribute no bin row: totals and quantiles match the
    non-null-only input exactly (rollup cnt = F.count(value) semantics)."""
    from fischer_spark.operators.histogram import hist_quantile, hist_states
    from tests.conftest import assert_df_equal

    base = datetime.datetime(2024, 1, 1)
    vals = [5.0, None, 10.0, None, 95.0, 50.0, None]
    rows = [("d", "m", None, base, v) for v in vals]
    with_nulls = hist_states(_pts(spark, rows), "1h", LO, HI, BINS)
    without = hist_states(
        _pts(spark, [r for r in rows if r[4] is not None]), "1h", LO, HI, BINS
    )
    assert_df_equal(with_nulls, without)
    # quantile over 4 real values: p50 target=ceil(0.5*4)=2nd → 10.0's bin
    q = hist_quantile(with_nulls, 0.5, LO, HI, BINS).collect()
    assert len(q) == 1 and q[0]["n"] == 4
    assert abs(q[0]["quantile"] - 10.0) <= (HI - LO) / BINS


# --------------------------------------------------------------------------
# persisted hist params + read-time validation
# --------------------------------------------------------------------------

def test_hist_params_persisted_and_validated(spark, tmp_path):
    from fischer_spark.api import query_range_hist
    from fischer_spark.operators.histogram import hist_states
    from fischer_spark.sources.storage import ParquetManifestStore

    store = ParquetManifestStore(spark, str(tmp_path / "wh"))
    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("d", "m", None, base + datetime.timedelta(minutes=i), float(i % 90))
        for i in range(240)
    ]
    store.append("hist_1h", hist_states(_pts(spark, rows), "1h", LO, HI, BINS))
    store.set_meta("hist_1h", hist_lo=LO, hist_hi=HI, hist_n_bins=BINS)

    # defaults come from the stored params
    got = query_range_hist(store, "m", "2024-01-01", "2024-01-02", 3600, 0.95)
    assert got.count() == 4
    # explicit matching params are accepted
    assert (
        query_range_hist(store, "m", "2024-01-01", "2024-01-02", 3600, 0.95, LO, HI, BINS).count()
        == 4
    )
    # mismatched params are rejected loudly, never reinterpreted
    with pytest.raises(ValueError, match="disagree"):
        query_range_hist(store, "m", "2024-01-01", "2024-01-02", 3600, 0.95, LO, 200.0, BINS)
    # meta survives compaction (Iceberg table-property semantics)
    store.append("hist_1h", hist_states(_pts(spark, rows[:10]), "1h", LO, HI, BINS))
    store.compact("hist_1h")
    assert store.meta("hist_1h")["hist_n_bins"] == BINS


def test_hist_params_required_without_meta(spark, tmp_path):
    from fischer_spark.api import query_range_hist
    from fischer_spark.operators.histogram import hist_states
    from fischer_spark.sources.storage import ParquetManifestStore

    store = ParquetManifestStore(spark, str(tmp_path / "wh"))
    rows = [("d", "m", None, datetime.datetime(2024, 1, 1), 5.0)]
    store.append("hist_1h", hist_states(_pts(spark, rows), "1h", LO, HI, BINS))
    with pytest.raises(ValueError, match="no persisted binning params"):
        query_range_hist(store, "m", "2024-01-01", "2024-01-02", 3600, 0.95)
    # explicit params still work for tables built outside the pipeline
    assert (
        query_range_hist(store, "m", "2024-01-01", "2024-01-02", 3600, 0.95, LO, HI, BINS).count()
        == 1
    )


def test_pipeline_persists_hist_params(spark, tmp_path, pages):
    """Per-family binning params land in table meta; query_range_hist
    resolves them per metric and refuses ambiguous multi-family reads."""
    from fischer_spark.api import query_range_hist
    from fischer_spark.operators.histogram import hist_quantile, hist_states
    from fischer_spark.operators.series import build_series
    from fischer_spark.plans.pipeline import RollupPipeline
    from fischer_spark.sources.storage import ParquetManifestStore
    from tests.conftest import assert_df_equal

    store = ParquetManifestStore(spark, str(tmp_path / "wh"))
    cr_params = (0.0, 100.0, 50)
    pipe = RollupPipeline(
        spark, store, "r3meta", hist=True,
        hist_params={"page_size": (0.0, float(1 << 20), 256), "crawl_rate": cr_params},
    )
    narrow = pages.select(
        "domain", "warc_ts", F.octet_length("html").alias("page_bytes"), "lang"
    )
    pipe.run(narrow, until="hist_1d")
    for t in ("hist_1h", "hist_1d"):
        m = store.meta(t)["hist_params"]
        assert m["page_size"] == [0.0, float(1 << 20), 256]
        assert m["crawl_rate"] == [0.0, 100.0, 50]

    # per-family read: crawl_rate p95 from the store == direct computation
    # with the crawl_rate edges over the raw series
    got = query_range_hist(store, "crawl_rate", "2000-01-01", "2100-01-01", 3600, 0.95)
    cr = build_series(narrow, ("crawl_rate",))
    want = hist_quantile(hist_states(cr, "1h", *cr_params), 0.95, *cr_params)
    assert_df_equal(
        got.select("domain", "metric", "tag", "bucket_ts", "n", "quantile"),
        want.withColumn("metric", F.lit("crawl_rate")).withColumn(
            "tag", F.lit(None).cast("string")
        ).select("domain", "metric", "tag", "bucket_ts", "n", "quantile"),
    )
    # ambiguous read over a multi-family table is refused
    with pytest.raises(ValueError, match="families"):
        query_range_hist(store, None, "2000-01-01", "2100-01-01", 3600, 0.95)
    # and an unknown family is refused rather than served with wrong edges
    with pytest.raises(ValueError, match="not histogrammed"):
        query_range_hist(store, "lang_mix", "2000-01-01", "2100-01-01", 3600, 0.95)


# --------------------------------------------------------------------------
# hist tier refresh == full recompute
# --------------------------------------------------------------------------

def test_refresh_hist_cascade_equals_recompute(spark, tmp_path):
    from fischer_spark.operators.histogram import (
        hist_merge,
        hist_states,
        refresh_hist_cascade_families,
    )
    from fischer_spark.sources.storage import ParquetManifestStore
    from tests.conftest import assert_df_equal

    base_ts = datetime.datetime(2024, 1, 1)
    base_rows = [
        ("d%d" % (i % 3), "m", None, base_ts + datetime.timedelta(minutes=7 * i), float(i % 110) - 3)
        for i in range(2000)
    ]
    # late delta: one in-range day revisited + one brand-new day
    late_rows = [
        ("d0", "m", None, base_ts + datetime.timedelta(hours=2, minutes=i), 42.0)
        for i in range(60)
    ] + [
        ("d9", "m", None, base_ts + datetime.timedelta(days=40, minutes=i), 7.0)
        for i in range(30)
    ]
    store = ParquetManifestStore(spark, str(tmp_path / "wh"))
    h1 = hist_states(_pts(spark, base_rows), "1h", LO, HI, BINS)
    store.append("hist_1h", h1)
    store.append("hist_1d", hist_merge(store.read("hist_1h"), "1d"))

    snaps = refresh_hist_cascade_families(store, _pts(spark, late_rows), {"m": (LO, HI, BINS)})
    assert snaps["1h"] is not None and snaps["1d"] is not None

    full = _pts(spark, base_rows + late_rows)
    assert_df_equal(store.read("hist_1h"), hist_states(full, "1h", LO, HI, BINS))
    assert_df_equal(
        store.read("hist_1d"), hist_merge(hist_states(full, "1h", LO, HI, BINS), "1d")
    )


def test_refresh_hist_empty_delta_noop(spark, tmp_path):
    from fischer_spark.operators.histogram import hist_states, refresh_hist_cascade_families
    from fischer_spark.sources.storage import ParquetManifestStore

    store = ParquetManifestStore(spark, str(tmp_path / "wh"))
    rows = [("d", "m", None, datetime.datetime(2024, 1, 1), 5.0)]
    store.append("hist_1h", hist_states(_pts(spark, rows), "1h", LO, HI, BINS))
    store.append("hist_1d", hist_states(_pts(spark, rows), "1d", LO, HI, BINS))
    snaps = refresh_hist_cascade_families(store, _pts(spark, []).limit(0), {"m": (LO, HI, BINS)})
    assert snaps == {"1h": None, "1d": None}


def test_refresh_hist_tier_keeps_callers_cache(spark, tmp_path):
    """A delta the caller persisted stays cached after the refresh, so
    the cascade's next tier merges it instead of binning the late points
    again."""
    from fischer_spark.operators.histogram import hist_states, refresh_hist_tier
    from fischer_spark.sources.storage import ParquetManifestStore

    store = ParquetManifestStore(spark, str(tmp_path / "wh"))
    rows = [("d", "m", None, datetime.datetime(2024, 1, 1), 5.0)]
    store.append("hist_1h", hist_states(_pts(spark, rows), "1h", LO, HI, BINS))
    delta = hist_states(_pts(spark, rows), "1h", LO, HI, BINS).persist()
    try:
        assert refresh_hist_tier(store, "hist_1h", "1h", delta) is not None
        assert delta.is_cached
    finally:
        delta.unpersist()


# --------------------------------------------------------------------------
# job CLI: --refresh with hist tiers + key_dim growth + mismatch guard
# --------------------------------------------------------------------------

def _run_job(args, timeout=600):
    return subprocess.run(
        [sys.executable, str(REPO / "jobs" / "rollup_job.py"), *args],
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_refresh_cli_hist_and_key_dim(tmp_path):
    """Full --encode-keys --hist job, then --refresh with a different
    seed (new domains): key_dim grows to cover every tier key_id, hist
    tiers absorb the delta in lockstep with the rollup tiers, and
    query_range serves the new keys with non-NULL labels."""
    wh = str(tmp_path / "wh")
    base = ["--warehouse", wh, "--run-id", "r3", "--encode-keys", "--hist",
            "--hist-family", "crawl_rate:0:100:50", "--impl", "fixed64"]
    p1 = _run_job(["--synth-pages", "2000", "--seed", "1", *base])
    assert p1.returncode == 0, p1.stderr[-3000:]

    sys.path.insert(0, str(REPO))
    from fischer_spark.session import get_spark
    from fischer_spark.sources.storage import ParquetManifestStore

    spark = get_spark("r3_refresh_check", master="local[4]")
    store = ParquetManifestStore(spark, wh)
    dim_before = store.read("key_dim").count()
    hist_before = store.read("hist_1h").agg(F.sum("bin_cnt")).collect()[0][0]
    cnt_before = store.read("rollup_1m").agg(F.sum("cnt")).collect()[0][0]

    p2 = _run_job(["--synth-pages", "800", "--seed", "77", "--refresh", *base])
    assert p2.returncode == 0, p2.stderr[-3000:]
    assert "refreshed hist_1h" in p2.stdout and "refreshed hist_1d" in p2.stdout

    # every key_id in the refreshed tiers resolves through key_dim
    dim = store.read("key_dim")
    assert dim.count() >= dim_before
    orphans = (
        store.read("rollup_1m").select("key_id").distinct()
        .join(dim.select("key_id"), "key_id", "left_anti")
        .count()
    )
    assert orphans == 0
    # hist absorbed the late points in lockstep with the rollup tiers,
    # PER FAMILY: for each histogrammed family, total hist mass == rollup
    # cnt over that family's keys (pages with NULL html contribute to
    # neither page_size surface — F.count(value) semantics)
    hist_after = store.read("hist_1h").agg(F.sum("bin_cnt")).collect()[0][0]
    assert hist_after > hist_before
    for fam in ("page_size", "crawl_rate"):
        fam_keys = dim.filter(F.col("metric") == fam).select("key_id")
        fam_hist = (
            store.read("hist_1h").join(fam_keys, "key_id", "left_semi")
            .agg(F.sum("bin_cnt")).collect()[0][0]
        )
        fam_cnt = (
            store.read("rollup_1m").join(fam_keys, "key_id", "left_semi")
            .agg(F.sum("cnt")).collect()[0][0]
        )
        assert fam_hist == fam_cnt, (fam, fam_hist, fam_cnt)
    assert store.read("rollup_1m").agg(F.sum("cnt")).collect()[0][0] > cnt_before
    # hist_1h and hist_1d agree on total mass after refresh
    assert (
        store.read("hist_1d").agg(F.sum("bin_cnt")).collect()[0][0] == hist_after
    )


def test_refresh_cli_encoding_mismatch_fails(tmp_path):
    wh = str(tmp_path / "wh")
    p1 = _run_job(["--synth-pages", "500", "--seed", "1",
                   "--warehouse", wh, "--run-id", "m"])
    assert p1.returncode == 0, p1.stderr[-3000:]
    p2 = _run_job(["--synth-pages", "100", "--seed", "2", "--refresh",
                   "--encode-keys", "--warehouse", wh, "--run-id", "m"])
    assert p2.returncode != 0
    assert "string-keyed" in (p2.stdout + p2.stderr)


def test_refresh_cli_hist_without_params_fails(tmp_path):
    """Hist tiers built before params were persisted: refresh must fail
    loudly, never merge against assumed bin edges."""
    wh = str(tmp_path / "wh")
    p1 = _run_job(["--synth-pages", "500", "--seed", "1", "--hist",
                   "--warehouse", wh, "--run-id", "h"])
    assert p1.returncode == 0, p1.stderr[-3000:]
    # simulate a pre-r3 store: strip the persisted params
    for t in ("hist_1h", "hist_1d"):
        mp = Path(wh) / t / "manifest.json"
        m = json.loads(mp.read_text())
        m.pop("meta", None)
        mp.write_text(json.dumps(m))
    p2 = _run_job(["--synth-pages", "100", "--seed", "2", "--refresh", "--hist",
                   "--warehouse", wh, "--run-id", "h"])
    assert p2.returncode != 0
    assert "no persisted binning params" in (p2.stdout + p2.stderr)
