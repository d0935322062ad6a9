"""§3.2 — the fluent series API. Thin wrappers over DataFrames: the IR
*is* the Catalyst logical plan (no custom IR by design); nothing executes
until an action on `.df`.

    Series.from_pages(pages, families=("crawl_rate",))
          .gapfill("locf", tier="1h")
          .rollup("1h")
          .score("zscore", w=24, tau=3.0)
          .intervals(tau=3.0)
          .df.show()
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fischer_spark.operators.detect import (
    anomaly_intervals,
    seasonal_score,
    zscore_window,
)
from fischer_spark.operators.gapfill import gapfill_linear, gapfill_locf
from fischer_spark.operators.rollup import (
    rollup_points,
    rollup_points_salted,
    with_derived_stats,
)
from fischer_spark.operators.series import build_series


@dataclass
class Series:
    """A lazily-built series computation; `.df` exposes the plan."""

    df: DataFrame
    tier: str | None = None

    # -- constructors -------------------------------------------------------

    @classmethod
    def from_pages(cls, pages: DataFrame, families: tuple[str, ...] = ("crawl_rate",)) -> "Series":
        return cls(build_series(pages, families))

    @classmethod
    def from_points(cls, points: DataFrame) -> "Series":
        return cls(points)

    # -- transforms ---------------------------------------------------------

    def gapfill(self, method: str = "locf", tier: str = "1h") -> "Series":
        fn = {"locf": gapfill_locf, "linear": gapfill_linear}[method]
        filled = fn(self.df, tier)
        out = filled.select(
            "domain",
            "metric",
            "tag",
            "bucket_ts",
            F.col("value_filled").alias("value"),
        )
        return Series(out, tier)

    def rollup(self, tier: str, salt_k: int | None = None) -> "Series":
        states = (
            rollup_points_salted(self.df, tier, salt_k)
            if salt_k
            else rollup_points(self.df, tier)
        )
        pts = with_derived_stats(states).select(
            "domain", "metric", "tag", "bucket_ts", F.col("mean").alias("value")
        )
        s = Series(pts, tier)
        # stash the exact states so downstream calendar re-rollups can
        # MERGE STATES (count-weighted, == the pipeline's materialized
        # calendar tiers bit-for-bit) instead of re-rolling the derived
        # per-bucket means (VERDICT r4 next #7)
        s._states = states  # type: ignore[attr-defined]
        return s

    def score(self, detector: str = "zscore", w: int = 24, min_periods: int = 8, min_slot_n: int = 3, **_) -> "Series":
        if detector == "zscore":
            scored = zscore_window(self.df, w=w, min_periods=min_periods)
        elif detector == "seasonal":
            scored = seasonal_score(self.df, min_slot_n=min_slot_n)
        else:
            raise ValueError(f"unknown detector {detector!r}")
        s = Series(scored, self.tier)
        s._detector = detector  # type: ignore[attr-defined]
        return s

    def intervals(self, tau: float = 3.0) -> "Series":
        det = getattr(self, "_detector", "zscore")
        return Series(
            anomaly_intervals(self.df, tau=tau, tier=self.tier or "1h", detector=det),
            self.tier,
        )

    def histogram(self, tier: str, lo: float, hi: float, n_bins: int = 64) -> "Series":
        """Mergeable linear-bin histogram states at a tier (the percentile
        tier family, operators/histogram.py)."""
        from fischer_spark.operators.histogram import hist_states

        s = Series(hist_states(self.df, tier, lo, hi, n_bins), tier)
        s._hist_params = (lo, hi, n_bins)  # type: ignore[attr-defined]
        return s

    def quantile(self, q: float) -> "Series":
        """q-quantile per (key, bucket) from histogram states (must
        follow .histogram())."""
        from fischer_spark.operators.histogram import hist_quantile

        params = getattr(self, "_hist_params", None)
        if params is None:
            raise ValueError(".quantile() must follow .histogram(lo, hi, n_bins)")
        return Series(hist_quantile(self.df, q, *params), self.tier)

    def downsample(self, n_out: int = 1000) -> "Series":
        """LTTB shape-preserving reduction to at most n_out points per
        series key (operators/downsample.py) — the serving step between
        a tier read and a dashboard.  Keeps first/last points and
        spike extrema; one Exchange on the series key."""
        from fischer_spark.operators.downsample import lttb_downsample

        return Series(
            lttb_downsample(
                self.df,
                ["domain", "metric", "tag"],
                ts_col="bucket_ts",
                val_col="value",
                n_out=n_out,
            ),
            self.tier,
        )

    def ewma(self, alpha: float = 0.3) -> "Series":
        """EWMA smoothing per series (operators/smooth.py); adds a
        `smoothed` column."""
        from fischer_spark.operators.smooth import ewma

        return Series(
            ewma(
                self.df,
                ["domain", "metric", "tag"],
                ts_col="bucket_ts",
                val_col="value",
                alpha=alpha,
            ),
            self.tier,
        )

    def holt(self, sf: float = 0.3, tf: float = 0.1) -> "Series":
        """Holt double exponential smoothing (PromQL holt_winters);
        adds `smoothed` (level) and `trend` columns."""
        from fischer_spark.operators.smooth import holt

        return Series(
            holt(
                self.df,
                ["domain", "metric", "tag"],
                ts_col="bucket_ts",
                val_col="value",
                sf=sf,
                tf=tf,
            ),
            self.tier,
        )

    def counter_rate(self) -> "Series":
        """Reset-aware per-sample rate (operators/counters.py) for series
        whose value is a cumulative counter."""
        from fischer_spark.operators.counters import counter_rate

        return Series(
            counter_rate(
                self.df,
                ["domain", "metric", "tag"],
                ["bucket_ts"],
                ts_col="bucket_ts",
                val_col="value",
            ),
            self.tier,
        )

    def robust_score(self) -> "Series":
        """Robust median/MAD hour-of-day seasonal deviation
        (operators/detect.py robust_seasonal_score) — the outlier-proof
        counterpart of .score('seasonal')."""
        from fischer_spark.operators.detect import robust_seasonal_score

        s = Series(
            robust_seasonal_score(
                self.df,
                ["domain", "metric", "tag"],
                F.hour("bucket_ts"),
                ts_col="bucket_ts",
                val_col="value",
            ),
            self.tier,
        )
        s._detector = "robust_seasonal"  # type: ignore[attr-defined]
        return s

    def binop(
        self,
        other: "Series",
        op: str = "div",
        match: str = "inner",
        fill: float | None = None,
        new_metric: str = "binop",
    ) -> "Series":
        """PromQL-style series algebra against another Series
        (operators/binop.py): samples pair on (domain, tag, bucket_ts) —
        the metric NAME is not a matching label, exactly as in PromQL,
        so ``errors.binop(total, 'div', new_metric='error_ratio')`` is
        the per-bucket ratio of two different metric families.  The
        result carries ``new_metric`` as its metric."""
        from fischer_spark.operators.binop import series_binop

        out = series_binop(
            self.df,
            other.df,
            op=op,
            on=("domain", "tag"),
            ts_col="bucket_ts",
            val_col="value",
            match=match,
            fill=fill,
        )
        return Series(
            out.select(
                "domain",
                F.lit(new_metric).alias("metric"),
                "tag",
                "bucket_ts",
                "value",
            ),
            self.tier,
        )

    def offset(self, offset_s: int) -> "Series":
        """PromQL ``offset`` (operators/binop.py series_offset): re-stamp
        samples ``offset_s`` seconds later so the past pairs with the
        present under .binop — ``rate.binop(rate.offset(7*86400), 'div')``
        is the week-over-week ratio."""
        from fischer_spark.operators.binop import series_offset

        return Series(series_offset(self.df, offset_s), self.tier)

    def m4(self, n_px: int = 400) -> "Series":
        """M4 pixel-bucket downsample (operators/downsample.py
        m4_downsample) — the JVM-only dashboard read (first/last/min/max
        per pixel); .downsample() (LTTB) is the shape-quality upgrade."""
        from fischer_spark.operators.downsample import m4_downsample

        return Series(
            m4_downsample(self.df, ["domain", "metric", "tag"], n_px=n_px),
            self.tier,
        )

    def alerts(self, cond, for_s: int = 0, alertname: str = "alert") -> "Series":
        """Alert rule evaluation (operators/detect.py alert_for_intervals):
        ``cond`` (a Column over this Series' rows) must hold on
        consecutive tier buckets; pending→firing after ``for_s``."""
        from fischer_spark.operators.detect import alert_for_intervals

        return Series(
            alert_for_intervals(
                self.df, cond, tier=self.tier or "1h", for_s=for_s, alertname=alertname
            ),
            self.tier,
        )

    def calendar_rollup(self, tier: str) -> "Series":
        """Calendar-bucket (1w/1mo/1y) rollup of this Series.

        **After ``.rollup()`` (the common case) this is EXACT**: the
        tier states stashed by ``.rollup()`` are merged by the same
        state addition as the pipeline's materialized calendar tiers
        (``rollup_1w``/``1mo``/``1y``, rollup_states_calendar over the
        real tier states), so the fluent form matches those tables
        bit-for-bit — count-weighted over every underlying raw point
        (closes the r3-documented mean-of-means divergence, VERDICT r4
        next #7).  A Series built directly from a STATES DataFrame
        (state columns present on ``.df``) takes the same exact path.

        **On a value-only Series** (from_points, gapfilled, scored —
        no state provenance) it falls back to the mean of THIS SERIES'
        VALUES — PromQL ``avg_over_time(series[calendar bucket])``:
        each value enters the 1d states with cnt=1, so a quiet hour
        weighs the same as a busy one.  Correct for "average of this
        series", but NOT the raw-point-weighted calendar mean — re-read
        the materialized tiers if you need that.  Either path is exact
        state algebra for the rows it starts from, bit-stable under
        partitioning."""
        from fischer_spark.operators.rollup import (
            rollup_points as _rp,
            rollup_states_calendar,
            with_derived_stats as _wds,
        )

        fine = getattr(self, "_states", None)
        if fine is None and {"cnt", "sum"} <= set(self.df.columns):
            fine = self.df  # a states table passed through from_points
        states = rollup_states_calendar(
            fine if fine is not None else _rp(self.df, "1d"), tier
        )
        pts = _wds(states).select(
            "domain", "metric", "tag", "bucket_ts", F.col("mean").alias("value")
        )
        return Series(pts, tier)

    # -- introspection ------------------------------------------------------

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)


# -- query_range: the Prometheus-style read surface -------------------------

_TIER_S = {"1m": 60, "1h": 3600, "1d": 86400}


def query_range(
    store,
    metric: str,
    start: str,
    end: str,
    step_s: int,
    domain: str | None = None,
    tag: str | None = None,
    stat: str = "mean",
    key_dim=None,
    fn: str | None = None,
    fn_args: dict | None = None,
    allow_raw: bool = False,
    domain_re: str | None = None,
    tag_re: str | None = None,
    metric_re: str | None = None,
    include_archive: bool = False,
    by: tuple[str, ...] | None = None,
    without: tuple[str, ...] | None = None,
    avg_weight: str = "points",
):
    """Prometheus ``query_range``-shaped read over the rollup tier store
    (fischer's consumers read exactly this form: per-series label sets +
    [ts, value] samples).

    ``by`` / ``without`` are PromQL's vector-aggregation label dimensions
    (``sum by (domain) (...)``): series whose kept labels agree are
    MERGED BY EXACT STATE ADDITION per step bucket — the same algebra as
    the tier cascade, so ``sum``/``count``/``min``/``max`` across series
    are exact, and ``mean``/``stddev`` are the count-weighted stats over
    every underlying raw point in the group (equivalent to having rolled
    the group up as one series).  Dropped label columns are returned as
    NULL so the output shape is unchanged.  Mutually exclusive; labels
    must be among domain/metric/tag.

    ``avg_weight`` picks the mean's weighting convention when
    aggregating across series (only meaningful with ``stat="mean"``):

    ============  =====================================================
    ``"points"``  default — count-weighted over every underlying raw
                  point in the group (rollup semantics: equals rolling
                  the group up as one series; exact state algebra)
    ``"series"``  PromQL ``avg by ()`` — each series contributes its
                  own per-step mean with EQUAL weight (a quiet series
                  counts as much as a busy one)
    ============  =====================================================

    Tier selection: the coarsest materialized tier whose bucket divides
    ``step_s`` — so a 2h-step query touches 1/3600 of the raw rows via
    the 1h tier and re-buckets by EXACT state addition (never
    recomputing from raw).  Label/time predicates are plain column
    filters, pushed into the tier scan by Catalyst.  A step no tier
    divides errors loudly unless ``allow_raw=True``, which serves it
    from the compressed chunk store instead (zone-map-pruned decode of
    the window's chunks, exact decimal aggregation at ``step_s``).

    Returns (domain, metric, tag, bucket_ts, value) rows where value is
    the requested stat (mean/min/max/count/sum) derived from the merged
    state per step bucket.

    ``fn`` composes a PromQL-style per-series transform onto the stat
    series, shape-preserving (value is replaced, row per step bucket):
    ``rate`` / ``increase`` (reset-aware counter semantics), ``delta``
    (gauge difference), ``ewma`` / ``holt`` (exponential smoothing;
    ``fn_args`` forwards alpha / sf+tf), ``quantile_over_time`` /
    ``mad_over_time`` (exact trailing-window quantile / median absolute
    deviation; ``fn_args`` forwards ``q`` and window width ``w`` in
    buckets; all-codegen, no Arrow hop) — or instant-reducing:
    ``deriv`` / ``predict_linear`` (least-squares slope per series /
    extrapolation ``fn_args={'horizon_s': ...}`` seconds past the last
    served bucket; ONE row per series).  The transforms run on TIER
    rows after the state merge — one extra window/Arrow/agg pass over
    the served series, never a raw scan.

    ``domain_re`` / ``tag_re`` are PromQL ``=~`` regex label selectors
    (Java regex, full-match like PromQL anchors): plain ``rlike``
    filters on the decoded label columns, composable with the exact
    ``domain`` / ``tag`` matchers.  They run AFTER key decode — regex
    can't prune a dictionary-encoded scan — so prefer exact matchers
    where cardinality allows.
    """
    from pyspark.sql import functions as F

    from fischer_spark.operators.rollup import (
        _point_aggs,
        _state_aggs,
        with_derived_stats,
    )

    group_labels = _vector_agg_labels(by, without)
    if avg_weight not in ("points", "series"):
        raise ValueError(
            f"unknown avg_weight {avg_weight!r}; 'points' (count-weighted "
            "rollup semantics) or 'series' (PromQL equal-weight avg)"
        )
    if avg_weight == "series" and stat != "mean":
        raise ValueError(
            "avg_weight='series' only applies to stat='mean' (PromQL avg); "
            "sum/min/max/count are weighting-free"
        )

    def _series_weighted_mean(per_series_states):
        # PromQL equal-weight avg: derive each SERIES' per-step mean from
        # its exactly-merged states first, then a plain average across
        # the group's series.  Second groupBy keys on a strict coarsening
        # of the first — AQE reuses the Exchange lineage.
        pts = with_derived_stats(per_series_states).select(
            *_ALL_LABELS, "bucket_ts", F.col("mean").alias("value")
        )
        out = pts.groupBy(*group_labels, "bucket_ts").agg(
            F.avg("value").alias("value")
        )
        out = _restore_labels(out, group_labels)
        if fn is not None:
            out = _apply_range_fn(out, fn, fn_args or {})
        return out.select(
            "domain", "metric", "tag", "bucket_ts", "value"
        ).orderBy("domain", "tag", "bucket_ts")

    tier = next(
        (t for t in ("1d", "1h", "1m") if step_s % _TIER_S[t] == 0), None
    )
    if tier is None:
        # A step no tier bucket divides (90s, 45s, …) cannot be served
        # exactly from tier states: a 1m state straddling two step windows
        # would be wholly mis-attributed to one of them. Error loudly by
        # default; allow_raw=True opts into the honest-but-expensive
        # answer — decode the zone-map-surviving raw chunks for the
        # window and aggregate exactly at step_s (cost O(chunks in
        # window), an explicit choice, never a silent raw scan).
        if not allow_raw:
            raise ValueError(
                f"step_s={step_s} is not a multiple of any materialized "
                f"tier bucket ({sorted(_TIER_S.values())}); choose a step "
                "divisible by 60, or pass allow_raw=True to serve it from "
                "the raw chunk store"
            )
        pts = _label_re_filter(
            _raw_points(store, metric, start, end, domain, tag),
            domain_re, tag_re, metric_re,
        )
        step_bucket = F.timestamp_seconds(
            (F.unix_timestamp("bucket_ts") / step_s).cast("long") * step_s
        ).alias("bucket_ts")
        if avg_weight == "series":
            return _series_weighted_mean(
                pts.groupBy(*_ALL_LABELS, step_bucket).agg(
                    *_point_aggs("decimal")
                )
            )
        merged = pts.groupBy(*group_labels, step_bucket).agg(
            *_point_aggs("decimal")
        )
        derived = with_derived_stats(_restore_labels(merged, group_labels))
        return _range_stat_select(derived, stat, "decimal", fn, fn_args)
    if include_archive:
        # serve windows past the hot horizon too: the cold half decodes
        # from zone-map-pruned archive chunks (operators/archive.py) and
        # unions with the live tier — same state algebra downstream, so
        # everything below is boundary-agnostic
        from fischer_spark.operators.archive import read_tier_with_archive

        states = read_tier_with_archive(store, tier, t_from=start, t_to=end)
    else:
        states = store.read(
            f"rollup_{tier}", t_from=start, t_to=end
        )  # day-partition pruning when the tier was committed partitioned
    if "key_id" in states.columns:
        # fast-path tier tables carry dictionary-encoded keys; decode via
        # the provided dim or the persisted `key_dim` table the pipeline
        # writes. NEVER recompute the dim from the raw series here — a
        # point-read surface must not scan the biggest table per query.
        from fischer_spark.operators.series import decode_series_keys

        if key_dim is None:
            try:
                key_dim = store.read("key_dim")
            except ValueError as e:
                raise ValueError(
                    "tier table is key-encoded but no key_dim was passed and "
                    "the store has no persisted 'key_dim' table (run the "
                    "pipeline with encode_keys=True, or pass key_dim=)"
                ) from e
        states = decode_series_keys(states, key_dim).drop("key_id")
    states = states.filter(
        (F.col("bucket_ts") >= F.lit(start)) & (F.col("bucket_ts") < F.lit(end))
    )
    if metric is not None:
        states = states.filter(F.col("metric") == metric)
    if domain is not None:
        states = states.filter(F.col("domain") == domain)
    if tag is not None:
        states = states.filter(F.col("tag") == tag)
    states = _label_re_filter(states, domain_re, tag_re, metric_re)

    impl = "fixed64" if "sq_aa" in states.columns else "decimal"
    step_bucket = F.timestamp_seconds(
        (F.unix_timestamp("bucket_ts") / step_s).cast("long") * step_s
    ).alias("bucket_ts")
    if avg_weight == "series":
        return _series_weighted_mean(
            states.groupBy(*_ALL_LABELS, step_bucket).agg(*_state_aggs(impl))
        )
    merged = states.groupBy(*group_labels, step_bucket).agg(
        *_state_aggs(impl)
    )
    derived = with_derived_stats(_restore_labels(merged, group_labels))
    return _range_stat_select(derived, stat, impl, fn, fn_args)


_ALL_LABELS = ("domain", "metric", "tag")


def _vector_agg_labels(
    by: tuple[str, ...] | None, without: tuple[str, ...] | None
) -> list[str]:
    """Resolve PromQL by/without to the label columns kept as grouping
    keys.  Default (neither given): every label — plain per-series read."""
    if by is not None and without is not None:
        raise ValueError("pass at most one of by= / without=")
    for labels in (by, without):
        bad = set(labels or ()) - set(_ALL_LABELS)
        if bad:
            raise ValueError(
                f"unknown aggregation label(s) {sorted(bad)}; "
                f"labels are {_ALL_LABELS}"
            )
    if by is not None:
        return [l for l in _ALL_LABELS if l in by]
    if without is not None:
        return [l for l in _ALL_LABELS if l not in without]
    return list(_ALL_LABELS)


def _restore_labels(df, group_labels: list[str]):
    """Aggregated-away label columns come back as typed NULLs so every
    downstream consumer (stat select, fn windows, ordering) sees the
    full (domain, metric, tag) shape."""
    for l in _ALL_LABELS:
        if l not in group_labels:
            df = df.withColumn(l, F.lit(None).cast("string"))
    return df


def vector_quantile(
    df,
    q: float,
    by: tuple[str, ...] = (),
    ts_col: str = "bucket_ts",
    val_col: str = "value",
):
    """PromQL ``quantile(q, v) by (labels)``: the EXACT q-quantile ACROSS
    SERIES per time bucket (one value per series enters each group —
    distinct from quantile_over_time along a series, and from the
    histogram tiers' pooled-raw-value quantiles).  Rank-based linear
    interpolation with the arithmetic spelled explicitly (the repo's
    hash-safe convention — built-in percentile aggregates interpolate
    with engine-specific expression shapes).

    Scale shape: one Exchange on (kept labels, bucket) shared by the
    rank/count windows and the final conditional aggregation — the O60
    plan, keyed on the aggregation labels.  Output: (domain, metric,
    tag, ts, n, value) with dropped labels NULL, like the other vector
    aggregations."""
    if by is None or isinstance(by, str):
        raise TypeError(
            "by must be an iterable of label names, e.g. by=('domain',) "
            f"— got {by!r}"
        )
    keys = _vector_agg_labels(tuple(by), None) + [ts_col]
    # NULL samples would otherwise land at rank 1 (Spark orders NULLS
    # FIRST) and skew or NULL the interpolated quantile; drop them like
    # hist_states does (ADVICE r4) — n counts non-NULL samples only.
    df = df.filter(F.col(val_col).isNotNull())
    pw = Window.partitionBy(*keys)
    r = df.select(
        *keys, F.col(val_col).alias("_v"),
        F.row_number().over(pw.orderBy(val_col)).alias("_rn"),
        F.count(F.lit(1)).over(pw).alias("_cnt"),
    )
    k = (F.col("_cnt") - 1).cast("double") * F.lit(q)
    lo = F.max(F.when(F.col("_rn") == F.floor(k).cast("long") + 1, F.col("_v")))
    hi = F.max(F.when(F.col("_rn") == F.ceil(k).cast("long") + 1, F.col("_v")))
    kk = (F.max("_cnt") - 1).cast("double") * F.lit(q)
    out = r.groupBy(*keys).agg(
        F.max("_cnt").cast("long").alias("n"),
        (lo + (hi - lo) * (kk - F.floor(kk))).alias("value"),
    )
    return _restore_labels(out, keys).select(
        "domain", "metric", "tag", ts_col, "n", "value"
    )


def _range_stat_select(derived, stat: str, impl: str, fn, fn_args):
    """Shared query_range tail: pick the requested stat off the derived
    state columns, compose fn, order for presentation."""
    val = {
        "mean": F.col("mean"),
        "stddev": F.col("stddev"),
        "min": F.col("min"),
        "max": F.col("max"),
        "count": F.col("cnt").cast("double"),
        "sum": (F.col("sum").cast("double") / (1e6 if impl == "fixed64" else 1.0)),
    }[stat]
    out = derived.select(
        "domain", "metric", "tag", "bucket_ts", val.alias("value")
    )
    if fn is not None:
        out = _apply_range_fn(out, fn, fn_args or {})
    return out.orderBy("domain", "tag", "bucket_ts")


# bucket-lookback (in steps) each recordable fn needs to evaluate one
# output bucket; fns absent here (ewma/holt/deriv/predict_linear) fold
# over UNBOUNDED history, so an incremental evaluation would silently
# diverge from the full one — record_rule rejects them loudly.
_RULE_FN_LOOKBACK = {None: 0, "rate": 1, "increase": 1, "delta": 1}


def record_rule(
    store,
    rule: str,
    metric: str,
    step_s: int,
    fn: str | None = None,
    fn_args: dict | None = None,
    stat: str = "mean",
    end: str = "9999-01-01 00:00:00",
    full: bool = False,
    **sel,
) -> str | None:
    """Prometheus-style recording rule: materialize a derived series —
    ``query_range(metric, step_s, stat=, fn=)`` — into the persisted
    ``rule_{rule}`` table, INCREMENTALLY: only buckets newer than the
    table's high-water mark are evaluated and appended, reading the tier
    from exactly ``lookback`` buckets before the mark (rate/increase/
    delta need one predecessor sample; plain stats need none).  Repeated
    runs therefore cost O(new buckets), and the concatenation of
    incremental runs equals one full evaluation bit-for-bit (pinned in
    tests) — the same discipline as the tier cascade's refresh path.

    Only bounded-lookback fns are recordable; ewma/holt/deriv fold over
    the whole series and raise here (``full=True`` recomputes the rule
    from scratch via overwrite, which is how unbounded fns or late-data
    repair should be materialized).  Late data merged into tiers BELOW
    the high-water mark does not re-trigger evaluation — run with
    ``full=True`` after a tier refresh, mirroring the hist-tier lockstep
    rule (jobs/rollup_job.py).

    Returns the commit snapshot id, or None when no new buckets exist.
    """
    if fn not in _RULE_FN_LOOKBACK and not full:
        raise ValueError(
            f"fn={fn!r} folds over unbounded history and cannot be "
            "recorded incrementally; recordable fns: "
            f"{sorted(k for k in _RULE_FN_LOOKBACK if k)} — or pass "
            "full=True to materialize it as a from-scratch overwrite"
        )
    table = f"rule_{rule}"
    keys = ["domain", "metric", "tag"]
    last = None
    if not full and store.current_snapshot(table) is not None:
        last = store.read(table).agg(F.max("bucket_ts")).first()[0]
    start = "1900-01-01 00:00:00" if last is None else str(last)
    stats = query_range(store, metric, start, end, step_s, stat=stat, **sel)
    if last is not None:
        stats = stats.filter(F.col("bucket_ts") > F.lit(str(last)))
    if fn is None:
        out = stats.select(
            *keys, "bucket_ts",
            F.col("value").alias("stat_value"), "value",
        )
    else:
        work = stats
        if last is not None:
            # lag context: each series' LAST recorded sample — which can
            # sit arbitrarily far before the global high-water mark when
            # the series is sparse, so "read one step back from the
            # mark" is NOT sufficient; the rule table persists
            # stat_value precisely so this row can be replayed here
            w = Window.partitionBy(*keys).orderBy(F.desc("bucket_ts"))
            ctx = (
                store.read(table)
                .withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select(
                    *keys, "bucket_ts", F.col("stat_value").alias("value")
                )
            )
            work = ctx.unionByName(stats)
        scored = _apply_range_fn(work, fn, fn_args or {})
        # attach stat_value back onto the scored rows; null-safe on tag
        # (NULL never equi-joins) and inner, so ctx buckets drop out
        stat_side = stats.select(
            *keys, "bucket_ts", F.col("value").alias("stat_value")
        )
        cond = [stat_side[k].eqNullSafe(scored[k]) for k in keys] + [
            stat_side["bucket_ts"] == scored["bucket_ts"]
        ]
        out = stat_side.join(scored, cond).select(
            *[stat_side[k] for k in keys],
            stat_side["bucket_ts"], "stat_value", scored["value"],
        )
    if hasattr(store, "set_meta"):
        # persist the rule's definition as table properties so a later
        # tier refresh can rebuild the rule without the caller re-typing
        # the spec (ADVICE r3: --refresh left rule_* tables silently
        # stale; jobs/rollup_job.py replays these specs with full=True).
        # Persisted BEFORE the empty-output early return (ADVICE r4): a
        # rule recorded before its data arrives must still be visible to
        # the refresh rebuild loop from its first record_rule call.
        store.set_meta(
            table,
            rule_spec={
                "rule": rule, "metric": metric, "step_s": step_s,
                "fn": fn, "fn_args": fn_args, "stat": stat,
                "end": end, "sel": sel,
            },
        )
    if full and store.current_snapshot(table) is not None:
        snap = store.overwrite_range(
            table, out, "bucket_ts",
            "1900-01-01 00:00:00", "9999-01-01 00:00:00",
        )
    elif len(out.take(1)) == 0:
        return None
    else:
        snap = store.append(table, out)
    return snap


def _label_re_filter(df, domain_re: str | None, tag_re: str | None,
                     metric_re: str | None = None):
    """PromQL ``=~`` selector semantics: full-string anchored regex on a
    label column.  ``rlike`` is substring-match, so anchor explicitly —
    PromQL `{domain=~"a.*"}` must NOT match "xa..."."""
    for col, pat in (("domain", domain_re), ("tag", tag_re),
                     ("metric", metric_re)):
        if pat is not None:
            df = df.filter(F.col(col).rlike(f"^(?:{pat})$"))
    return df


def subquery_range(
    store,
    metric: str,
    start: str,
    end: str,
    inner_step_s: int,
    outer_step_s: int,
    outer_stat: str = "max",
    **kwargs,
):
    """PromQL subquery: ``<outer_stat>_over_time(fn(x[inner])[outer:inner])``
    — evaluate ``query_range`` at ``inner_step_s`` (all its selectors /
    ``stat`` / ``fn`` compose via kwargs), then aggregate the inner
    samples per series into ``outer_step_s`` buckets with
    max/min/avg/sum/count/last_over_time semantics.

    The outer step must be a multiple of the inner step (PromQL aligns
    subquery evaluation timestamps the same way); the outer aggregation
    is one more groupBy on a strict coarsening of the inner bucket key,
    so it rides the same Exchange lineage — tier states are still read
    once.  avg_over_time averages the PRESENT inner samples (PromQL
    semantics), not the nominal outer/inner slot count.  last_over_time
    is the max-timestamp sample per outer bucket (deterministic: inner
    buckets are unique per series).

    Oracle-gated fixture form: queries_extended.subquery_max_rate_events.
    """
    if outer_step_s % inner_step_s:
        raise ValueError(
            f"outer_step_s={outer_step_s} must be a multiple of "
            f"inner_step_s={inner_step_s} (PromQL subquery alignment)"
        )
    inner = query_range(store, metric, start, end, inner_step_s, **kwargs)
    outer_bucket = F.timestamp_seconds(
        (F.unix_timestamp("bucket_ts") / outer_step_s).cast("long")
        * outer_step_s
    ).alias("bucket_ts")
    keys = ["domain", "metric", "tag"]
    if outer_stat == "last":
        w = Window.partitionBy(*keys, outer_bucket).orderBy(
            F.desc("bucket_ts")
        )
        return (
            inner.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(*keys, outer_bucket, "value")
            .orderBy("domain", "tag", "bucket_ts")
        )
    agg = {
        "max": F.max("value"),
        "min": F.min("value"),
        "avg": F.avg("value"),
        "sum": F.sum("value"),
        "count": F.count("value").cast("double"),
    }
    if outer_stat not in agg:
        raise ValueError(
            f"outer_stat={outer_stat!r} not in {sorted(agg)} + ['last']"
        )
    return (
        inner.groupBy(*keys, outer_bucket)
        .agg(agg[outer_stat].alias("value"))
        .orderBy("domain", "tag", "bucket_ts")
    )


_RANGE_FNS = (
    "rate", "increase", "delta", "ewma", "holt", "deriv", "predict_linear",
    "quantile_over_time", "mad_over_time",
)


def _apply_range_fn(df, fn: str, fn_args: dict):
    """Per-series transform for query_range(fn=...): shape-preserving
    (rate/increase/delta/ewma/holt — value replaced, row per step
    bucket) or instant-reducing (deriv/predict_linear — ONE row per
    series at the last served bucket, PromQL instant-query semantics
    over the range)."""
    keys = ["domain", "metric", "tag"]
    cols = [*keys, "bucket_ts"]
    if fn in ("deriv", "predict_linear"):
        # least-squares line per series over the served range — one
        # partial-aggregated groupBy (single hash Exchange, map-side
        # combine; regr_* are codegen aggregates).  Slope is
        # x-translation-invariant so absolute epoch-seconds are fine;
        # the prediction is centered on (avgx, avgy) so no epoch-scale
        # intercept extrapolation enters the arithmetic.  NULL value
        # for single-sample series (a line needs two points).
        x = (F.unix_micros(F.col("bucket_ts").cast("timestamp")).cast("double")
             / F.lit(1e6))
        g = df.select(*keys, F.col("bucket_ts"), x.alias("x"),
                      F.col("value").alias("y")).groupBy(*keys).agg(
            F.max("bucket_ts").alias("bucket_ts"),
            F.regr_slope("y", "x").alias("_m"),
            F.regr_avgx("y", "x").alias("_ax"),
            F.regr_avgy("y", "x").alias("_ay"),
            F.max("x").alias("_xmax"),
        )
        if fn == "deriv":
            return g.select(*cols, F.col("_m").alias("value"))
        horizon_s = float(fn_args.get("horizon_s", 3600.0))
        pred = F.col("_ay") + F.col("_m") * (
            F.col("_xmax") + F.lit(horizon_s) - F.col("_ax")
        )
        return g.select(*cols, pred.alias("value"))
    if fn == "rate":
        from fischer_spark.operators.counters import counter_rate

        out = counter_rate(df, keys, ["bucket_ts"], ts_col="bucket_ts")
        return out.select(*cols, out["rate"].alias("value"))
    if fn == "increase":
        from fischer_spark.operators.counters import counter_increase

        out = counter_increase(df, keys, ["bucket_ts"])
        return out.select(*cols, out["increase"].alias("value"))
    if fn == "delta":
        from fischer_spark.operators.counters import gauge_delta

        out = gauge_delta(df, keys, ["bucket_ts"])
        return out.select(*cols, out["delta"].alias("value"))
    if fn == "quantile_over_time":
        # PromQL quantile_over_time(q, v[w·step]) — exact trailing-window
        # quantile, whole-stage codegen (operators/overtime.py)
        from fischer_spark.operators.overtime import quantile_over_time

        q = float(fn_args.get("q", 0.5))
        w = int(fn_args.get("w", 24))
        out = quantile_over_time(df, keys, {"_q": q}, w=w)
        return out.select(*cols, F.col("_q").alias("value"))
    if fn == "mad_over_time":
        from fischer_spark.operators.overtime import mad_over_time

        out = mad_over_time(df, keys, w=int(fn_args.get("w", 24)))
        return out.select(*cols, out["mad"].alias("value"))
    if fn == "ewma":
        from fischer_spark.operators.smooth import ewma

        out = ewma(df, keys, ts_col="bucket_ts", **fn_args)
        return out.select(*cols, out["smoothed"].alias("value"))
    if fn == "holt":
        from fischer_spark.operators.smooth import holt

        out = holt(df, keys, ts_col="bucket_ts", **fn_args)
        return out.select(*cols, out["smoothed"].alias("value"))
    raise ValueError(f"unknown query_range fn={fn!r}; choose one of {_RANGE_FNS}")


def query_range_hist(
    store,
    metric: str | None,
    start: str,
    end: str,
    step_s: int,
    q: float,
    lo: float | None = None,
    hi: float | None = None,
    n_bins: int | None = None,
    domain: str | None = None,
    tag: str | None = None,
    include_archive: bool = False,
    by: tuple[str, ...] | None = None,
    without: tuple[str, ...] | None = None,
):
    """Percentile ``query_range``: serve a q-quantile series at any step
    a histogram tier divides, by EXACT bin-count addition from the
    coarsest dividing hist tier (hist_1d for day-multiple steps, else
    hist_1h) — the same never-recompute-from-raw discipline as
    query_range, extended to the percentile family.

    ``by`` / ``without`` extend PromQL vector aggregation to percentiles
    (``histogram_quantile(0.95, sum by (domain) (...))``): bin counts of
    series whose kept labels agree are summed per step bucket BEFORE the
    cumulative walk — integer addition, so the group quantile is exactly
    the quantile of the pooled underlying values (unlike averaging
    per-series quantiles, which has no such meaning).  Requires all
    aggregated series to share bin edges — guaranteed within a metric
    family; pass ``metric=`` (or have one family) or the param
    validation below refuses.  Dropped labels return as NULLs.
    Key-encoded tiers decode through key_dim before grouping.

    ``include_archive=True`` additionally decodes the zone-map-pruned
    ``archive_hist_{tier}`` chunks (operators/archive.py) and unions
    them in before the bin merge, so percentile reads cross the
    hot/cold retention boundary exactly like query_range's states do —
    bin counts are integers, so the walk is bit-identical either side.

    (lo, hi, n_bins) default to the binning params persisted with the
    tier (store meta, written by the pipeline); passing values that
    disagree with the stored ones raises — a mismatch reinterprets
    stored bin indices against different edges and returns
    plausible-looking wrong quantiles (ADVICE r2). Tables built outside
    the pipeline (no stored params) require explicit values.
    """
    from fischer_spark.operators.histogram import hist_quantile

    tier = next(
        (t for t in ("1d", "1h") if step_s % _TIER_S[t] == 0), None
    )
    if tier is None:
        raise ValueError(
            f"step_s={step_s} is not a multiple of any histogram tier bucket "
            f"({_TIER_S['1h']}, {_TIER_S['1d']}); choose a step divisible by 3600"
        )
    stored = store.meta(f"hist_{tier}") if hasattr(store, "meta") else {}
    # per-family params map (r3: each metric family has its own bin edges);
    # legacy single-triple meta keys read as a one-family map
    pmap = stored.get("hist_params")
    if pmap is None and "hist_lo" in stored:
        pmap = {None: [stored["hist_lo"], stored["hist_hi"], stored["hist_n_bins"]]}
    s_params = None
    if pmap:
        if metric is not None and metric in pmap:
            s_params = tuple(pmap[metric])
        elif len(pmap) == 1:
            s_params = tuple(next(iter(pmap.values())))
        elif metric is None:
            raise ValueError(
                f"hist_{tier} holds {sorted(k for k in pmap)} families with "
                "different bin edges; pass metric= to select one"
            )
        else:
            raise ValueError(
                f"metric {metric!r} was not histogrammed into hist_{tier} "
                f"(stored families: {sorted(k for k in pmap)})"
            )
    if lo is None or hi is None or n_bins is None:
        if s_params is None:
            raise ValueError(
                f"hist_{tier} has no persisted binning params (built outside "
                "the pipeline?); pass lo/hi/n_bins explicitly"
            )
        lo, hi, n_bins = s_params
    elif s_params is not None and (lo, hi, n_bins) != s_params:
        raise ValueError(
            f"(lo={lo}, hi={hi}, n_bins={n_bins}) disagree with the params "
            f"hist_{tier} was built with {s_params}; bin indices are only "
            "meaningful against the build edges"
        )
    if include_archive:
        from fischer_spark.operators.archive import read_tier_with_archive

        h = read_tier_with_archive(
            store, tier, t_from=start, t_to=end, table_prefix="hist"
        )
    else:
        h = store.read(f"hist_{tier}", t_from=start, t_to=end)
    h = h.filter(
        (F.col("bucket_ts") >= F.lit(start)) & (F.col("bucket_ts") < F.lit(end))
    )
    wanted = {"metric": metric, "domain": domain, "tag": tag}
    encoded = "key_id" in h.columns
    if encoded:
        # key-encoded hist tables carry no label columns: resolve label
        # predicates through the persisted key_dim (never silently skip a
        # filter — a p95 over the wrong key set is wrong, not approximate)
        dim = store.read("key_dim")
        preds = {k: v for k, v in wanted.items() if v is not None}
        if preds:
            fdim = dim
            for col, val in preds.items():
                fdim = fdim.filter(F.col(col) == val)
            h = h.join(F.broadcast(fdim.select("key_id")), "key_id", "left_semi")
    else:
        for col, val in wanted.items():
            if val is not None:
                h = h.filter(F.col(col) == val)
    agg_mode = by is not None or without is not None
    if agg_mode and encoded:
        # labels must exist before cross-series grouping; the dim join is
        # on tier rows (tiny vs raw) and the output stays label-keyed
        from fischer_spark.operators.series import decode_series_keys

        h = decode_series_keys(h, dim).drop("key_id")
        encoded = False
    if agg_mode:
        keys = _vector_agg_labels(by, without)
    else:
        keys = ["key_id"] if encoded else ["domain", "metric", "tag"]
    step_bucket = F.timestamp_seconds(
        (F.unix_timestamp("bucket_ts") / step_s).cast("long") * step_s
    ).alias("bucket_ts")
    merged = h.groupBy(*keys, step_bucket, "bin").agg(
        F.sum("bin_cnt").alias("bin_cnt")
    )
    if agg_mode:
        merged = _restore_labels(merged, keys)
    out = hist_quantile(merged, q, lo, hi, n_bins)
    if encoded:
        # decode to label sets — the read surface returns (domain, metric,
        # tag) rows like query_range, never internal key_ids (broadcast on
        # the tiny dim, applied to quantile-sized output only)
        from fischer_spark.operators.series import decode_series_keys

        out = decode_series_keys(out, dim).select(
            "domain", "metric", "tag", "bucket_ts", "n", "quantile"
        )
    return out.orderBy("domain", "metric", "tag", "bucket_ts")


def query_raw(
    store,
    metric: str | None,
    start: str,
    end: str,
    domain: str | None = None,
    tag: str | None = None,
):
    """Raw-sample range read over the compressed chunk store: zone-map
    pruning on the tiny chunk-stat columns selects the chunks that can
    overlap [start, end) BEFORE any decode cost is paid, then only those
    blobs are Gorilla-decoded and the exact time filter is applied to
    the exploded points.

    This is the TSDB read path for sub-tier granularity (a tier answers
    any step its bucket divides; raw samples inside a window come from
    chunks). Per-query cost is O(chunks overlapping the window), never
    O(table): the t_start/t_end predicates reach the parquet scan of the
    chunk table (stats are plain columns, so Catalyst pushes them), and
    the decode mapInArrow sees only surviving chunk rows.
    """
    return _raw_points(store, metric, start, end, domain, tag).orderBy(
        "domain", "tag", "bucket_ts"
    )


def _raw_points(store, metric, start, end, domain=None, tag=None):
    """query_raw without the presentation sort — the composable form
    (aggregating consumers must not pay a pre-shuffle sort)."""
    from fischer_spark.operators.chunks import decode_chunks, prune_chunks

    chunks = store.read("chunks")
    if metric is not None:
        chunks = chunks.filter(F.col("metric") == metric)
    if domain is not None:
        chunks = chunks.filter(F.col("domain") == domain)
    if tag is not None:
        chunks = chunks.filter(F.col("tag") == tag)
    pruned = prune_chunks(chunks, t_from=start, t_to=end)
    pts = decode_chunks(pruned)
    return pts.filter(
        (F.col("bucket_ts") >= F.lit(start)) & (F.col("bucket_ts") < F.lit(end))
    )
