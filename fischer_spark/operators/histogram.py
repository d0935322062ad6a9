"""Mergeable histogram tiers + percentile reads.

The (cnt, Σ, Σ², min, max) state answers mean/stddev/min/max at any
range, but a monitoring read surface also needs percentiles (p95
latency-style questions). This module adds a SECOND tier family whose
state is a fixed linear-bin histogram kept in LONG FORM —
(key, bucket_ts, bin, count) rows — because:

- merging is a plain groupBy SUM of integer counts: exact, associative,
  order-free under any partitioning, exactly like the rollup states, so
  1m→1h→1d histogram tiers compose bit-for-bit;
- long form is the scalable shuffle representation (a bin row only
  exists where data fell, so sparse buckets cost nothing; an
  array<long> column would carry n_bins slots per bucket everywhere);
- binning uses ONLY IEEE-exact arithmetic (subtract, divide, floor) —
  no log/exp, whose libm implementations differ between engines in the
  last ulp and would break cross-engine (DuckDB-oracle) determinism at
  bin boundaries.

Percentile estimation is the classic cumulative-bin walk: the first bin
whose running count reaches ceil(q·total) yields the estimate (bin
midpoint, clamped for the under/overflow bins). Error is bounded by
bin width — the knob is (lo, hi, n_bins), chosen per metric family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fischer_spark.functions.time import bucketize, is_ntz

KEY_COLS = ["domain", "metric", "tag"]

UNDERFLOW = -1  # values < lo


def bin_expr(value, lo: float, hi: float, n_bins: int):
    """Bin index for a value: UNDERFLOW (<lo), n_bins (>=hi overflow),
    else floor((v-lo)/width) — IEEE-exact, identical in any engine."""
    width = (hi - lo) / n_bins
    v = value
    return (
        F.when(v < F.lit(lo), F.lit(UNDERFLOW))
        .when(v >= F.lit(hi), F.lit(n_bins))
        .otherwise(F.floor((v - F.lit(lo)) / F.lit(width)))
        .cast("int")
    )


def hist_states(
    points: DataFrame, tier: str, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """Series points → long-form histogram states per (key, tier bucket).
    One shuffle (the groupBy); map-side partial agg collapses per-split
    duplicates before the wire, same as the rollup path."""
    keys = ["key_id"] if "key_id" in points.columns else KEY_COLS
    bucket = bucketize("bucket_ts", tier, is_ntz(points, "bucket_ts")).alias("bucket_ts")
    # NULL values are dropped before binning — the rollup states count with
    # F.count(value) (NULL-skipping), and a NULL bin would sort first in
    # hist_quantile's ascending cumulative walk, biasing quantiles low.
    return (
        points.filter(F.col("value").isNotNull())
        .groupBy(*keys, bucket, bin_expr(F.col("value"), lo, hi, n_bins).alias("bin"))
        .agg(F.count(F.lit(1)).alias("bin_cnt"))
        .withColumn("tier", F.lit(tier))
        .select(*keys, "tier", "bucket_ts", "bin", "bin_cnt")
    )


def hist_merge(hist: DataFrame, tier: str) -> DataFrame:
    """Finer histogram tier → coarser, by exact integer addition — the
    continuous-aggregate cascade for the histogram family."""
    keys = ["key_id"] if "key_id" in hist.columns else KEY_COLS
    bucket = bucketize("bucket_ts", tier, is_ntz(hist, "bucket_ts")).alias("bucket_ts")
    return (
        hist.groupBy(*keys, bucket, "bin")
        .agg(F.sum("bin_cnt").alias("bin_cnt"))
        .withColumn("tier", F.lit(tier))
        .select(*keys, "tier", "bucket_ts", "bin", "bin_cnt")
    )


def hist_states_families(
    points: DataFrame,
    tier: str,
    params_by_metric: dict[str, tuple[float, float, int]],
    key_dim: DataFrame | None = None,
) -> DataFrame:
    """Union of per-family histogram states: each metric family is binned
    with its OWN (lo, hi, n_bins) — a latency-shaped family (page_size,
    bytes) and a rate-shaped one (crawl_rate, small counts) cannot share
    bin edges. Families coexist in the same long-form tier tables; their
    bin indices are interpreted per-metric through the params persisted
    in table meta (api.query_range_hist resolves them by metric filter).

    Key-encoded points carry no metric column, so family selection goes
    through the persisted ``key_dim`` (broadcast semi-join per family)."""
    outs = []
    for metric, (lo, hi, n_bins) in sorted(params_by_metric.items()):
        if "key_id" in points.columns:
            if key_dim is None:
                raise ValueError(
                    "key-encoded points need key_dim to select metric families"
                )
            keys = key_dim.filter(F.col("metric") == metric).select("key_id")
            pts = points.join(F.broadcast(keys), "key_id", "left_semi")
        else:
            pts = points.filter(F.col("metric") == metric)
        outs.append(hist_states(pts, tier, lo, hi, n_bins))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def refresh_hist_tier(
    store,
    table: str,
    tier: str,
    delta_hist: DataFrame,
) -> str | None:
    """Incremental refresh of one histogram tier: merge a pre-binned
    delta (``hist_states`` over the late points, SAME (lo, hi, n_bins)
    as the stored tier — the caller validates against the persisted
    params) by exact integer bin-count addition, in ONE
    ``overwrite_range`` commit over the delta's bucket span — the same
    span merge as the rollup family's ``refresh_tier`` (ADVICE r2: a
    late-data refresh that skips the hist tiers leaves query_range_hist
    serving stale percentiles that silently disagree with query_range
    means). Returns the committed snapshot id, or None for an empty
    delta."""
    from fischer_spark.operators.rollup import _overwrite_touched

    return _overwrite_touched(
        store, table, tier, delta_hist, lambda df: hist_merge(df, tier)
    )


def refresh_hist_cascade_families(
    store,
    late_points: DataFrame,
    params_by_metric: dict[str, tuple[float, float, int]],
    key_dim: DataFrame | None = None,
    tiers: tuple[str, ...] = ("1h", "1d"),
    table_prefix: str = "hist_",
) -> dict[str, str | None]:
    """Late-data refresh across the materialized histogram tiers: the
    late points are binned ONCE at the finest tier (each family with its
    own params, matching the build); coarser deltas derive by exact
    integer merge (never re-binning), mirroring the build-time cascade.
    The union delta merges in ONE commit per tier — the span overwrite
    re-aggregates every family's rows in the span, so families not
    present in the delta ride through unchanged (state addition with an
    empty delta is identity). Returns {tier: snapshot_id-or-None}."""
    delta = hist_states_families(late_points, tiers[0], params_by_metric, key_dim).persist()
    try:
        out = {tiers[0]: refresh_hist_tier(store, f"{table_prefix}{tiers[0]}", tiers[0], delta)}
        prev = delta
        for t in tiers[1:]:
            prev = hist_merge(prev, t)
            out[t] = refresh_hist_tier(store, f"{table_prefix}{t}", t, prev)
        return out
    finally:
        delta.unpersist()


def hist_quantile(
    hist: DataFrame, q: float, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """Per (key, bucket) q-quantile estimate from the cumulative bin
    walk. target = ceil(q·total) (the rank-q element); the first bin
    reaching it contributes its midpoint; under/overflow clamp to lo/hi.
    Integer comparisons only — deterministic under any partitioning."""
    keys = ["key_id"] if "key_id" in hist.columns else KEY_COLS
    width = (hi - lo) / n_bins
    w = (
        Window.partitionBy(*keys, "bucket_ts")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy(*keys, "bucket_ts")
    cum = hist.withColumn("cum", F.sum("bin_cnt").over(w)).withColumn(
        "total", F.sum("bin_cnt").over(tot)
    )
    target = F.ceil(F.lit(q) * F.col("total"))
    hit = cum.filter(F.col("cum") >= target)
    first = (
        hit.groupBy(*keys, "bucket_ts")
        .agg(F.min("bin").alias("qbin"), F.max("total").alias("n"))
    )
    est = (
        F.when(F.col("qbin") == UNDERFLOW, F.lit(float(lo)))
        .when(F.col("qbin") >= n_bins, F.lit(float(hi)))
        .otherwise(F.lit(float(lo)) + (F.col("qbin") + F.lit(0.5)) * F.lit(width))
    )
    return first.select(*keys, "bucket_ts", F.col("n"), est.alias("quantile"))


def _fraction_consts(x: float, lo: float, hi: float, n_bins: int):
    """(bin index of x, within-bin interpolation coefficient) as PYTHON
    constants — both engines consume the same literals, so the estimate
    is bit-identical by construction (no per-engine float expression
    trees to keep in sync). x must lie in [lo, hi]."""
    if not (lo <= x <= hi):
        raise ValueError(f"fraction bound {x} outside histogram range [{lo}, {hi}]")
    width = (hi - lo) / n_bins
    b = int((x - lo) / width)  # floor for non-negative operands
    if b >= n_bins:  # x == hi: everything below overflow counts fully
        return n_bins, 0.0
    coef = (x - (lo + b * width)) / width
    return b, coef


def hist_fraction(
    hist: DataFrame, lo_v: float, hi_v: float, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """PromQL ``histogram_fraction(lo_v, hi_v, h)`` on the linear-bin
    tier: estimated fraction of observations with value in [lo_v, hi_v),
    per (key, bucket).  Bins strictly below the boundary bin count
    fully (the underflow bin counts fully once the bound is >= lo);
    the boundary bin contributes linearly interpolated mass — the same
    uniform-within-bin assumption Prometheus documents for
    histogram_fraction on classic histograms.  Bounds must lie within
    [lo, hi]: mass inside the open-ended under/overflow bins has no
    defensible interpolation and raises instead of guessing.

    One groupBy over the long-form tier (conditional sums, map-side
    partial agg); the interpolation coefficients are Python-computed
    literals shared verbatim with the SQL oracle, so integer bin counts
    are the only data-dependent inputs — exact under any partitioning."""
    if hi_v < lo_v:
        raise ValueError(f"empty fraction range [{lo_v}, {hi_v})")
    keys = ["key_id"] if "key_id" in hist.columns else KEY_COLS

    def _below(x: float):
        b, coef = _fraction_consts(x, lo, hi, n_bins)
        full = F.sum(F.when(F.col("bin") < b, F.col("bin_cnt")).otherwise(F.lit(0)))
        part = F.sum(F.when(F.col("bin") == b, F.col("bin_cnt")).otherwise(F.lit(0)))
        return full.cast("double") + F.lit(coef) * part.cast("double")

    total = F.sum("bin_cnt").cast("long")
    return (
        hist.groupBy(*keys, "bucket_ts")
        .agg(
            total.alias("n"),
            ((_below(hi_v) - _below(lo_v)) / F.sum("bin_cnt").cast("double")).alias(
                "fraction"
            ),
        )
        .select(*keys, "bucket_ts", "n", "fraction")
    )


def hist_avg_stddev(
    hist: DataFrame, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """PromQL ``histogram_avg(h)`` / ``histogram_stddev(h)`` estimates
    from the linear-bin tier: mean and standard deviation of the
    midpoint-mass distribution (uniform-within-bin, the same assumption
    the quantile walk documents; under/overflow clamp to lo/hi exactly
    like hist_quantile).

    Determinism is the module's integer discipline: each bin's midpoint
    is ``lo + 0.5·w·u`` for an INTEGER weight u (2·bin+1; underflow 0;
    overflow 2·n_bins), so the two moment sums ``Σ cnt·u`` and
    ``Σ cnt·u²`` are exact BIGINTs — order-free under any partitioning —
    and the only doubles are the pinned closing expressions

      avg = lo + (w/2)·(S₁/N)
      E[x²] = lo² + (lo·w)·(S₁/N) + (w²/4)·(S₂/N)
      stddev = sqrt(max(E[x²] − avg², 0))

    with every coefficient a Python-computed literal shared verbatim
    with the SQL oracle.  One groupBy, map-side partial agg, no window —
    the hist_fraction shape; merged coarser tiers give bit-identical
    answers because the integer moments add."""
    keys = ["key_id"] if "key_id" in hist.columns else KEY_COLS
    width = (hi - lo) / n_bins
    u = (
        F.when(F.col("bin") == UNDERFLOW, F.lit(0))
        .when(F.col("bin") >= n_bins, F.lit(2 * n_bins))
        .otherwise(F.col("bin") * 2 + 1)
    ).cast("long")
    g = hist.groupBy(*keys, "bucket_ts").agg(
        F.sum("bin_cnt").cast("long").alias("n"),
        F.sum(F.col("bin_cnt") * u).cast("long").alias("s1"),
        F.sum(F.col("bin_cnt") * u * u).cast("long").alias("s2"),
    )
    sn = F.col("s1").cast("double") / F.col("n").cast("double")
    tn = F.col("s2").cast("double") / F.col("n").cast("double")
    avg = F.lit(float(lo)) + F.lit(width * 0.5) * sn
    ex2 = (
        F.lit(float(lo) * float(lo))
        + F.lit(float(lo) * width) * sn
        + F.lit(width * width * 0.25) * tn
    )
    var = F.greatest(ex2 - avg * avg, F.lit(0.0))
    return g.select(
        *keys,
        "bucket_ts",
        "n",
        avg.alias("avg_est"),
        F.sqrt(var).alias("stddev_est"),
    )


def hist_cumulative(
    hist: DataFrame, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """Classic-Prometheus cumulative bucket export: the long-form tier
    rendered as ``(key, bucket_ts, le, cum_cnt)`` rows — running counts
    at each bin's upper bound, the overflow bin mapping to ``le=+Inf``
    (IEEE infinity, identical in any engine) — i.e. the
    ``metric_bucket{le=...}`` shape a federation endpoint or a
    Grafana heatmap expects.

    Boundary semantics: linear bins are half-open ``[b, b+1)``, so a
    cumulative count at bound ``x`` counts ``v < x`` (strict), not
    Prometheus' ``v <= x`` — identical for continuous data, one-ulp
    different for values landing exactly on a bound; documented rather
    than hidden.  Empty bins are not materialized (the long-form
    property), so a bucket with no overflow mass has no +Inf row —
    consumers needing a dense export join against a bounds spine.

    Integer counts cumulate exactly (order-free); the only doubles are
    ``lo + (bin+1)·w`` with Python-literal coefficients.  One window
    over the tier's own (key, bucket) Exchange — the hist_quantile
    shuffle shape."""
    keys = ["key_id"] if "key_id" in hist.columns else KEY_COLS
    width = (hi - lo) / n_bins
    w = (
        Window.partitionBy(*keys, "bucket_ts")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    le = F.when(F.col("bin") >= n_bins, F.lit(float("inf"))).otherwise(
        F.lit(float(lo)) + (F.col("bin") + 1).cast("double") * F.lit(width)
    )
    return hist.select(
        *keys,
        "bucket_ts",
        le.alias("le"),
        F.sum("bin_cnt").over(w).cast("long").alias("cum_cnt"),
    )
