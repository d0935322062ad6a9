"""O26/O27/O28 — fischer-style anomaly detectors + interval assembly.

The capability contract (BASELINE.json north_star): "rolling mean/stddev
z-score and seasonal (hour-of-day/day-of-week) profile deviation … as
grouped Arrow UDFs, producing scored anomaly intervals".

Both detectors exist in TWO forms that must agree to 1e-9 (SURVEY.md §5.6):
- a Catalyst-native window/groupBy form (whole-stage codegen, the fast
  path and the DuckDB-oracle-expressible one), and
- a grouped-Arrow-UDF form (`applyInPandas` with pandas rolling), the
  form the north star names explicitly.

Semantics (frozen — golden fixtures pin these):
- z-score: z_t = (x_t − mean(x_{t−W..t−1})) / stddev_samp(x_{t−W..t−1});
  defined only when the trailing window has ≥ min_periods points and
  stddev > 0.  The window EXCLUDES the current point (a spike must not
  inflate its own baseline).
- seasonal: per-(key, hour-of-day, day-of-week) slot profile over the
  history, scored LEAVE-ONE-OUT — the point is excluded from its own
  baseline via the closed form on exact slot states (in-sample z caps at
  (n−1)/√n, which would mask real anomalies at small slot counts).
- intervals: consecutive over-threshold buckets (|score| > tau) merge into
  one interval (gaps-and-islands); scored by peak/mean |score| and length.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY_COLS = ["domain", "metric", "tag"]

# frozen spec: the baseline stddev must clear an absolute + relative
# floor (sd > 1e-9 + 1e-7·|mu|) for a score to be defined.  A slot whose
# spread is below 1e-7 of its level is "constant" — float cancellation in
# any of the four detector forms (exact-decimal window, pandas rolling,
# LOO closed form, DuckDB oracle) can fabricate sd up to ~1e-6·|mu| from
# pure rounding, so scores there would be noise, not signal.
SD_EPS_ABS = 1e-9
SD_EPS_REL = 1e-7


def _sd_ok_col(sd, mu):
    return sd > (F.lit(SD_EPS_ABS) + F.lit(SD_EPS_REL) * F.abs(mu))


def _sd_ok_np(sd, mu):
    import numpy as np

    return sd > (SD_EPS_ABS + SD_EPS_REL * np.abs(mu))

_SCORED_FIELDS = (
    "domain string, metric string, tag string, bucket_ts timestamp, "
    "value double, mu double, sd double, score double"
)


def zscore_window(
    series: DataFrame,
    w: int = 24,
    min_periods: int = 8,
    value_col: str = "value",
) -> DataFrame:
    """Catalyst-native rolling z-score over a trailing, current-exclusive
    row window. Output: key, bucket_ts, value, mu, sd, score."""
    # mu/sd derive from EXACT decimal window states (sum, sum_sq) rather
    # than native avg/stddev: bit-identical across engines and partition
    # orders for integral-valued series, so threshold crossings (and hence
    # interval membership) never flip on 1e-15 accumulation noise.  Same
    # algebra as the rollup tiers (SURVEY.md §7 hard-part 1).
    #
    # PHYSICAL SHAPE: Spark evaluates sliding ROWS frames by re-summing
    # the frame per row — O(W·n) BigDecimal adds.  Instead take cumulative
    # (unbounded-preceding) sums, which Spark maintains incrementally, and
    # difference two lags: frame_sum[-w,-1] = cum@lag1 − cum@lag(w+1).
    # Decimal addition is exact, but Spark types each difference one
    # fractional digit narrower — decimal(38,17) for the decimal(38,18)
    # sums, decimal(38,11) for the decimal(38,12) sums of squares — and
    # rounds it half-up, so the result is the frame sum rounded to that
    # scale (still deterministic across partition orders), at O(n) cost.
    # ~5× faster detect stage at 20M points (measured in bench/scaling.py).
    cum_win = (
        Window.partitionBy(*KEY_COLS)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lag_win = Window.partitionBy(*KEY_COLS).orderBy("bucket_ts")
    v = F.col(value_col)
    # staged selects so each window expression is computed ONCE — inlining
    # them into the derived math expands to ~50 duplicate lag() evaluations
    # in the Window node (observed in `.explain`); projections keep the
    # plan at 3 cumulative + 6 lag window functions, all sharing one
    # Exchange + Sort.
    step1 = series.select(
        *KEY_COLS,
        "bucket_ts",
        v.cast("double").alias("value"),
        F.sum(v.cast("decimal(38,18)")).over(cum_win).alias("_cs"),
        F.sum((v * v).cast("decimal(38,12)")).over(cum_win).alias("_cq"),
        F.count(v).over(cum_win).alias("_cn"),  # non-null count
    )
    zero_s = F.lit(0).cast("decimal(38,18)")
    zero_q = F.lit(0).cast("decimal(38,12)")
    step2 = step1.select(
        *KEY_COLS,
        "bucket_ts",
        "value",
        (
            F.coalesce(F.lag("_cs", 1).over(lag_win), zero_s)
            - F.coalesce(F.lag("_cs", w + 1).over(lag_win), zero_s)
        )
        .cast("double")
        .alias("_s"),
        (
            F.coalesce(F.lag("_cq", 1).over(lag_win), zero_q)
            - F.coalesce(F.lag("_cq", w + 1).over(lag_win), zero_q)
        )
        .cast("double")
        .alias("_sq"),
        (
            F.coalesce(F.lag("_cn", 1).over(lag_win), F.lit(0))
            - F.coalesce(F.lag("_cn", w + 1).over(lag_win), F.lit(0))
        ).alias("_n"),
    )
    nd = F.col("_n").cast("double")
    s, sq = F.col("_s"), F.col("_sq")
    var = (sq - s * s / nd) / (nd - F.lit(1.0))
    # mu/sd are defined only once the trailing window holds >= min_periods
    # points — matches pandas rolling(min_periods=...) in the Arrow form.
    gate = F.col("_n") >= F.greatest(F.lit(min_periods), F.lit(2))
    step3 = step2.select(
        *KEY_COLS,
        "bucket_ts",
        "value",
        F.when(gate, s / nd).alias("mu"),
        F.when(gate, F.sqrt(F.greatest(var, F.lit(0.0)))).alias("sd"),
    )
    mu, sd = F.col("mu"), F.col("sd")
    score = F.when(_sd_ok_col(sd, mu), (F.col("value") - mu) / sd).otherwise(
        F.lit(None).cast("double")
    )
    return step3.select(
        *KEY_COLS, "bucket_ts", "value", "mu", "sd", score.alias("score")
    )


def zscore_grouped_arrow(
    series: DataFrame,
    w: int = 24,
    min_periods: int = 8,
    value_col: str = "value",
) -> DataFrame:
    """Grouped-Arrow-UDF form of the same detector: one pandas DataFrame
    per series key, pandas `rolling` on the shifted values. Must agree
    with `zscore_window` to 1e-9 (cross-check test, SURVEY.md §5.6)."""

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket_ts").reset_index(drop=True)
        x = pdf[value_col].astype("float64")
        prev = x.shift(1)  # trailing window excludes current point
        mu = prev.rolling(window=w, min_periods=min_periods).mean()
        sd = prev.rolling(window=w, min_periods=min_periods).std(ddof=1)
        score = (x - mu) / sd
        score[~_sd_ok_np(sd, mu)] = float("nan")
        out = pdf[KEY_COLS + ["bucket_ts"]].copy()
        out["value"] = x
        out["mu"] = mu
        out["sd"] = sd
        out["score"] = score
        return out

    src = series.select(*KEY_COLS, "bucket_ts", F.col(value_col).alias(value_col))
    return src.groupBy(*KEY_COLS).applyInPandas(_score, schema=_SCORED_FIELDS)


def seasonal_profile(series: DataFrame, value_col: str = "value") -> DataFrame:
    """Per-(key, hour-of-day, day-of-week) profile as EXACT algebraic
    states (slot_n, slot_s, slot_sq) plus derived mean/stddev.
    dayofweek is Spark semantics: 1=Sunday … 7=Saturday."""
    v = F.col(value_col)
    states = series.groupBy(
        *KEY_COLS,
        F.hour("bucket_ts").alias("hod"),
        F.dayofweek("bucket_ts").alias("dow"),
    ).agg(
        F.count(value_col).alias("slot_n"),
        F.sum(v.cast("decimal(38,18)")).alias("slot_s"),
        F.sum((v * v).cast("decimal(38,12)")).alias("slot_sq"),
    )
    n = F.col("slot_n").cast("double")
    s = F.col("slot_s").cast("double")
    sq = F.col("slot_sq").cast("double")
    var = (sq - s * s / n) / (n - F.lit(1.0))
    return states.withColumn("slot_mean", s / n).withColumn(
        "slot_sd",
        F.when(F.col("slot_n") < 2, F.lit(None).cast("double")).otherwise(
            F.sqrt(F.greatest(var, F.lit(0.0)))
        ),
    )


def seasonal_score(
    series: DataFrame,
    profile: DataFrame | None = None,
    min_slot_n: int = 3,
    value_col: str = "value",
) -> DataFrame:
    """Score each point against its seasonal slot, LEAVE-ONE-OUT: the
    point is excluded from its own slot baseline (closed form from the
    exact slot states), for the same reason the rolling window excludes
    the current point — an in-sample z caps at (n−1)/√n and masks real
    anomalies in short histories.  The profile side is tiny
    (keys × 168 slots) → broadcast join, no shuffle of the points."""
    if profile is None:
        profile = seasonal_profile(series, value_col)
    # tag is nullable (crawl_rate/page_size carry tag=NULL) and NULL join
    # keys never match — join on a null-safe sentinel instead.
    sentinel = "\x00"
    pts = (
        series.withColumn("hod", F.hour("bucket_ts"))
        .withColumn("dow", F.dayofweek("bucket_ts"))
        .withColumn("_tagk", F.coalesce(F.col("tag"), F.lit(sentinel)))
    )
    prof = profile.withColumn(
        "_tagk", F.coalesce(F.col("tag"), F.lit(sentinel))
    ).drop("tag")
    joined = pts.join(
        F.broadcast(prof), on=["domain", "metric", "_tagk", "hod", "dow"], how="left"
    )
    v = F.col(value_col).cast("double")
    # leave-one-out baseline from exact slot states:
    #   mu' = (S - x)/(n-1),  var' = (SQ - x² - (S-x)²/(n-1)) / (n-2)
    n = F.col("slot_n").cast("double")
    s = F.col("slot_s").cast("double")
    sq = F.col("slot_sq").cast("double")
    mu_loo = (s - v) / (n - 1.0)
    var_loo = (sq - v * v - (s - v) * (s - v) / (n - 1.0)) / (n - 2.0)
    sd_loo = F.sqrt(F.greatest(var_loo, F.lit(0.0)))
    gate = (F.col("slot_n") >= F.greatest(F.lit(min_slot_n), F.lit(3)))
    mu = F.when(gate, mu_loo)
    sd = F.when(gate, sd_loo)
    score = F.when(_sd_ok_col(sd, mu), (v - mu) / sd).otherwise(
        F.lit(None).cast("double")
    )
    return joined.select(
        *KEY_COLS,
        "bucket_ts",
        v.alias("value"),
        mu.alias("mu"),
        sd.alias("sd"),
        score.alias("score"),
    )


def seasonal_score_grouped_arrow(
    series: DataFrame, min_slot_n: int = 3, value_col: str = "value"
) -> DataFrame:
    """Grouped-Arrow-UDF form of the seasonal detector (north-star-named
    form); agrees with `seasonal_score` to 1e-9."""

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("bucket_ts").reset_index(drop=True)
        x = pdf[value_col].astype("float64")
        ts = pd.to_datetime(pdf["bucket_ts"])
        hod = ts.dt.hour
        dow = (ts.dt.dayofweek + 1) % 7 + 1  # pandas Mon=0 → Spark Sun=1
        slot = hod * 10 + dow
        g = x.groupby(slot)
        n = g.transform("count").astype("float64")
        s = g.transform("sum")
        mean = s / n
        # centered sum of squares (numerically stable vs raw sq - s²/n)
        cs = ((x - mean) ** 2).groupby(slot).transform("sum")
        # leave-one-out identity: SS₋ᵢ = SS − n/(n−1)·(xᵢ−x̄)²
        mu = (s - x) / (n - 1.0)
        ss_loo = cs - (n / (n - 1.0)) * (x - mean) ** 2
        sd = np.sqrt(np.maximum(ss_loo / (n - 2.0), 0.0))
        gate = n >= max(min_slot_n, 3)
        mu[~gate] = float("nan")
        sd[~gate] = float("nan")
        score = (x - mu) / sd
        score[~_sd_ok_np(sd, mu)] = float("nan")
        out = pdf[KEY_COLS + ["bucket_ts"]].copy()
        out["value"] = x
        out["mu"] = mu
        out["sd"] = sd
        out["score"] = score
        return out

    src = series.select(*KEY_COLS, "bucket_ts", F.col(value_col).alias(value_col))
    return src.groupBy(*KEY_COLS).applyInPandas(_score, schema=_SCORED_FIELDS)


def anomaly_intervals(
    scored: DataFrame, tau: float = 3.0, tier: str = "1h", detector: str = "zscore"
) -> DataFrame:
    """Gaps-and-islands: merge consecutive |score| > tau buckets into
    scored intervals (O28)."""
    w = Window.partitionBy(*KEY_COLS).orderBy("bucket_ts")
    flagged = scored.withColumn("is_anom", F.abs(F.col("score")) > tau)
    edged = flagged.withColumn(
        "edge",
        (
            F.col("is_anom")
            & ~F.coalesce(F.lag("is_anom").over(w), F.lit(False))
        ).cast("int"),
    ).withColumn("island", F.sum("edge").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        edged.filter(F.col("is_anom"))
        .groupBy(*KEY_COLS, "island")
        .agg(
            F.min("bucket_ts").alias("interval_start"),
            F.max("bucket_ts").alias("interval_end"),
            F.max(F.abs(F.col("score"))).alias("peak_score"),
            F.avg(F.abs(F.col("score"))).alias("mean_score"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .withColumn("tier", F.lit(tier))
        .withColumn("detector", F.lit(detector))
        .select(
            *KEY_COLS,
            "tier",
            "detector",
            "interval_start",
            "interval_end",
            "peak_score",
            "mean_score",
            "n_points",
        )
    )


def _exact_median_agg(val_col: str):
    """Conditional-aggregation exact median (rank-based lerp) — the same
    deterministic interpolation arithmetic as quantile_exact_1h_events,
    reusable per groupBy: call inside .agg() on a frame that already has
    `_rn` (row_number by val_col) and `_cnt` (partition count) columns."""
    k = (F.col("_cnt") - 1).cast("double") * F.lit(0.5)
    lo = F.max(F.when(F.col("_rn") == F.floor(k).cast("long") + 1, F.col(val_col)))
    hi = F.max(F.when(F.col("_rn") == F.ceil(k).cast("long") + 1, F.col(val_col)))
    kk = (F.max("_cnt") - 1).cast("double") * F.lit(0.5)
    return lo + (hi - lo) * (kk - F.floor(kk))


def robust_seasonal_score(
    points: DataFrame,
    key_cols: list[str],
    slot_col,
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Robust (median/MAD) seasonal deviation score — the outlier-proof
    counterpart of the mean/stddev seasonal profile: a handful of wild
    samples in a slot cannot inflate the spread and mask real anomalies
    (breakdown point 50% vs 0%).

    Per (key, slot): med = exact median of values, mad = exact median of
    |value - med|; per sample: score = 0.6745 * (value - med) / mad
    (0.6745 = Phi^-1(0.75) scales MAD to sigma-equivalents for normal
    data — the standard public robust-z formula).  NULL score where mad
    == 0 (constant slot; any deviation would be infinitely surprising —
    surface as NULL, not inf).

    Shape: two slot-keyed window/agg passes + two slot-keyed joins —
    every shuffle is on the (key, slot) profile key, the same
    partitioning the mean/stddev seasonal profile uses; medians are
    rank-based (no full collect, no approx).
    """
    # nullable keys (tag is NULL for most series) never equi-join — route
    # every profile join through the repo's null-safe sentinel convention
    slots = [f"_jk{i}" for i in range(len(key_cols) + 1)]
    shadow = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")).alias(f"_jk{i}")
        for i, c in enumerate(key_cols)
    ] + [F.coalesce(slot_col.cast("string"), F.lit("\x00")).alias(f"_jk{len(key_cols)}")]
    base = points.select(*points.columns, slot_col.alias("_slot"), *shadow)
    w = Window.partitionBy(*slots)
    r1 = base.select(
        *base.columns,
        F.row_number().over(w.orderBy(val_col)).alias("_rn"),
        F.count(F.lit(1)).over(w).alias("_cnt"),
    )
    med = r1.groupBy(*slots).agg(_exact_median_agg(val_col).alias("med"))
    with_med = base.join(med, slots)
    dev = with_med.select(
        *with_med.columns,
        F.abs(F.col(val_col) - F.col("med")).alias("_adev"),
    )
    r2 = dev.select(
        *dev.columns,
        F.row_number().over(w.orderBy("_adev")).alias("_rn"),
        F.count(F.lit(1)).over(w).alias("_cnt"),
    )
    mad = r2.groupBy(*slots).agg(_exact_median_agg("_adev").alias("mad"))
    scored = dev.join(mad, slots)
    score = F.when(
        F.col("mad") > 0,
        F.lit(0.6745) * (F.col(val_col) - F.col("med")) / F.col("mad"),
    )
    return scored.select(
        *[c for c in points.columns],
        F.col("_slot").alias("slot"),
        "med",
        "mad",
        score.alias("score"),
    )


def alert_for_intervals(
    series: DataFrame,
    cond,
    tier: str = "1h",
    for_s: int = 0,
    alertname: str = "alert",
    convention: str = "bucket",
) -> DataFrame:
    """O80 — Prometheus-style alert rule evaluation with a ``for``
    duration: the condition must hold on CONSECUTIVE tier buckets; the
    alert is `pending` from the first true bucket and `firing` once the
    run has covered ``for_s`` seconds.

    This is deliberately NOT anomaly_intervals' islanding: O28 merges
    consecutive *present* flagged rows (a quiet gap between two anomalous
    bursts joins them — right for incident grouping), while an alert
    timer RESETS on any bucket where the condition didn't hold, including
    missing buckets.  Islands are keyed on bucket_index − row_number —
    exact integer arithmetic that breaks on any gap in the bucket grid.

    **``for`` convention — BUCKET COVERAGE, not Prometheus elapsed time
    (read this before comparing to a Prometheus rule):** a run fires
    when ``n_buckets * step >= for_s``.  A tier bucket is an aggregate
    asserting the condition held over its whole step-width window, so n
    consecutive true buckets attest n*step seconds of condition time —
    3 true hourly buckets attest 3h and fire a ``for: 3h`` rule, with
    ``fires_at = starts_at + for_s`` possibly at ``ends_at + step`` (the
    boundary the attested time completes at).  Prometheus evaluates
    INSTANT samples, where the first sample attests a point, not an
    interval, so its elapsed-time rule is ``(n-1)*step >= for_s`` and
    needs 4 hourly samples for 3h.  Consumers porting Prometheus rules
    verbatim should pass ``convention="prometheus"``: the firing gate
    becomes ``(n_buckets − 1) * step >= for_s`` (elapsed time between
    the first and last true bucket), with ``fires_at`` unchanged at
    ``starts_at + for_s`` — exactly when a Prometheus evaluation at the
    tier step would transition pending→firing.  The default
    ``convention="bucket"`` keeps the coverage rule above.  The
    streaming evaluator (streaming/rollup_stream.streaming_alerts)
    implements the identical default convention — the seam test pins
    them together.

    One shuffle on the series key (window + groupBy share it).  Output:
    (key, alertname, state, starts_at, fires_at, ends_at, n_buckets)
    with fires_at = starts_at + for_s, NULL while only pending — the
    ALERTS{alertstate=...} surface a recording/alerting layer serves.
    """
    from fischer_spark.functions.time import TIER_STEP_US, is_ntz

    if convention not in ("bucket", "prometheus"):
        raise ValueError(
            f"unknown for-convention {convention!r}; 'bucket' (coverage, "
            "n*step) or 'prometheus' (elapsed, (n-1)*step)"
        )
    step_us = TIER_STEP_US[tier]
    w = Window.partitionBy(*KEY_COLS).orderBy("bucket_ts")
    ntz = is_ntz(series, "bucket_ts")
    m = F.unix_micros(
        F.col("bucket_ts").cast("timestamp") if ntz else F.col("bucket_ts")
    )
    hot = (
        series.filter(cond)
        .withColumn("_idx", (m / F.lit(step_us)).cast("long"))
        .withColumn("_island", F.col("_idx") - F.row_number().over(w))
    )
    n_attested = (
        F.col("n_buckets")
        if convention == "bucket"
        else F.col("n_buckets") - F.lit(1)
    )
    dur = n_attested * F.lit(step_us // 1_000_000)
    fires_at = F.timestamp_micros(
        F.unix_micros(F.col("starts_at").cast("timestamp")) + F.lit(int(for_s) * 1_000_000)
    )
    if ntz:
        fires_at = fires_at.cast("timestamp_ntz")
    return (
        hot.groupBy(*KEY_COLS, "_island")
        .agg(
            F.min("bucket_ts").alias("starts_at"),
            F.max("bucket_ts").alias("ends_at"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .withColumn("alertname", F.lit(alertname))
        .withColumn(
            "state", F.when(dur >= F.lit(int(for_s)), "firing").otherwise("pending")
        )
        .withColumn(
            "fires_at", F.when(F.col("state") == "firing", fires_at)
        )
        .select(
            *KEY_COLS, "alertname", "state",
            "starts_at", "fires_at", "ends_at", "n_buckets",
        )
    )


def iqr_outliers(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "bucket_ts",
    val_col: str = "value",
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier flags per group (Tukey 1977 box-plot rule):
    within each ``keys`` partition, the exact rank-lerp q1/q3 of
    ``val_col`` (frame_quantile — the quantile_exact convention) define
    fences ``[q1 - k·iqr, q3 + k·iqr]``; rows outside are flagged.  The
    non-parametric complement to the z-score detector: no normality
    assumption, breakdown point 25%, the standard first-look rule for
    skewed rate series.

    All codegen: one partition-frame collect_list + array_sort, the
    lerp expression, and per-row comparisons — no Arrow hop, ONE
    Exchange on ``keys``.  Frame memory is O(group size); run it on
    bounded groups (a day of hourly buckets = 24 values), never raw
    points.  NULL samples are dropped first (the hist_states
    convention).  Doubles appear only in the pinned lerp/fence
    expressions, so a SQL oracle replaying them matches bit-for-bit."""
    from fischer_spark.operators.overtime import frame_quantile

    clean = df.na.drop(subset=[val_col])
    win = Window.partitionBy(*keys)
    arr = F.array_sort(F.collect_list(F.col(val_col)).over(win))
    out = clean.withColumn("_arr", arr)
    q1 = frame_quantile(F.col("_arr"), 0.25)
    q3 = frame_quantile(F.col("_arr"), 0.75)
    iqr = q3 - q1
    lo = q1 - F.lit(k) * iqr
    hi = q3 + F.lit(k) * iqr
    v = F.col(val_col).cast("double")
    return out.select(
        *keys,
        ts_col,
        val_col,
        F.size("_arr").cast("long").alias("n"),
        q1.alias("q1"),
        q3.alias("q3"),
        iqr.alias("iqr"),
        lo.alias("lo_fence"),
        hi.alias("hi_fence"),
        F.when((v < lo) | (v > hi), F.lit(1)).otherwise(F.lit(0)).alias("is_outlier"),
    )


def cusum_scores(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "bucket_ts",
    val_col: str = "value",
    target_col: str = "target",
    k: float = 2.0,
    h: float = 10.0,
) -> DataFrame:
    """Two-sided CUSUM change-point scores (Page 1954, the public
    tabular form): per series ordered by ``ts_col``,

        sp_i = max(0, sp_{i-1} + (x_i − target) − k)     (upward drift)
        sn_i = max(0, sn_{i-1} − (x_i − target) − k)     (downward)
        alarm_i = 1 when sp_i > h or sn_i > h

    with sp_0 = sn_0 = 0.  Unlike the windowed z-score (level spikes)
    and the seasonal profiles (slot deviations), CUSUM accumulates many
    SMALL persistent shifts — the classic "mean moved by half a sigma"
    detector the other two structurally miss; k is the half-shift
    allowance, h the decision interval (tune as multiples of the series
    sigma).  ``target_col`` is a per-series constant column (the
    in-control mean) the caller supplies — typically the exact-decimal
    global series mean so the hash convention holds.

    Sequential state ⇒ a grouped Arrow kernel (the holt shape): ONE
    Exchange on the series key, the recurrence runs per-series inside
    the worker, memory O(series length) per group — at the 100 TB
    design point this runs on TIER rows, never raw points.  Float op
    order per step is pinned ((x − target), + prev, − k, max) so a
    recursive-CTE SQL oracle replaying the same tree matches
    bit-for-bit (the holt_exact move)."""
    from fischer_spark.operators.smooth import _out_schema

    cols = [*keys, ts_col, val_col, target_col]
    schema = _out_schema(df.select(*cols), cols, ["sp", "sn"])

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        x = pdf[val_col].to_numpy("float64")
        mu = pdf[target_col].to_numpy("float64")
        sp = 0.0
        sn = 0.0
        sps = []
        sns = []
        for i in range(len(x)):
            d = x[i] - mu[i]
            sp = max(0.0, sp + d - k)
            sn = max(0.0, sn - d - k)
            sps.append(sp)
            sns.append(sn)
        pdf["sp"] = sps
        pdf["sn"] = sns
        return pdf

    out = df.select(*cols).groupBy(*keys).applyInPandas(_fn, schema=schema)
    return out.withColumn(
        "alarm",
        F.when((F.col("sp") > F.lit(h)) | (F.col("sn") > F.lit(h)), F.lit(1))
        .otherwise(F.lit(0)),
    )
