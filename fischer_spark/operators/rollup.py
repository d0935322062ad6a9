"""O17/O18 — tiered continuous aggregates with exact algebraic states.

Design (SURVEY.md §4.2, §7 hard-part 1): a rollup row carries the algebraic
state (cnt, sum, sum_sq, min, max).  sum/sum_sq are DECIMAL, so addition is
exact and order-free — `rollup_1h(raw) == rollup_1h(rollup_1m(raw))`
bit-for-bit at every tier, under any partitioning / parallelism.  mean and
stddev are *derived* from the state at read time, never aggregated.

Scale notes:
- `rollup_points` is one shuffle on (key, bucket); map-side partial
  aggregation is automatic (hash-aggregate partial+final).
- `rollup_states` re-aggregates a *much smaller* input (bucket counts, not
  raw rows): the 1m→1h→1d cascade touches raw data exactly once.
- `rollup_points_salted` is the explicit hot-key path (BASELINE.json:
  "explicit salt-based skew handling for hot domains"): phase 1 spreads a
  hot (domain, bucket) group over SALT_K reducers, phase 2 combines the
  SALT_K exact partial states.  Because the state algebra is exact, the
  salted result is bit-identical to the unsalted one — asserted in tests.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fischer_spark.functions.time import TIER_STEP_US, bucketize, is_ntz

KEY_COLS = ["domain", "metric", "tag"]
STATE_COLS = ["cnt", "sum", "sum_sq", "min", "max"]
FIXED64_STATE_COLS = ["cnt", "sum", "sq_aa", "sq_ab", "sq_bb", "min", "max"]

# value → exact decimal: 6 fractional digits covers count/share/byte values;
# sum_sq gets 12.  value*value is computed in double (deterministic per row)
# then cast — exact for |v²| < 1e16, which holds for all three families.
_DEC_SUM = "decimal(28,6)"
_DEC_SQ = "decimal(28,12)"

# fixed64 impl: fixed-point value vs = round(value*10^6) carried in LONGS.
# Spark's decimal sum buffer above precision 18 is BigDecimal-backed —
# measured ~2x the whole rollup cascade wall and the dominant allocation
# source.  Longs stay inside whole-stage codegen's primitive fast path.
#
# sum_sq needs ~2x the digits of vs, which doesn't fit one long, so vs is
# split at B=2^20 (vs = a*B + b, pmod keeps 0<=b<B so it's exact floor
# division for negatives too) and vs² = a²B² + 2abB + b² is carried as
# three component sums (Σa², Σab, Σb²) — each a plain long sum, jointly
# exact and associative.  Reconstruction happens once per OUTPUT row in
# decimal (see with_derived_stats).
#
# Overflow bounds (ANSI mode turns violations into loud errors, never
# silent wraparound): with |value| ≤ V and n points in one (key, bucket)
# group, |Σvs| ≤ n·V·10⁶ and Σa² ≤ n·(V·10⁶/2²⁰)².  For V = 10⁶ (bytes
# per page) that allows n ≈ 10⁷ points per group — two orders above a
# 1-second-cadence key-day (86 400) — and the mandated 1m/1h/1d tiers
# never exceed a key-day.  Beyond-1d custom tiers at extreme cadence
# should use impl="decimal".
_SCALE = 1_000_000
_B = 1 << 20


def _require_ansi_for_fixed64() -> None:
    """fixed64's overflow-bound argument assumes ANSI mode (loud errors,
    never silent long wraparound). get_spark pins it on, but a foreign
    session (legacy cluster conf) may have it off — fail fast here rather
    than corrupt aggregates silently."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None and spark.conf.get("spark.sql.ansi.enabled", "true") != "true":
        raise ValueError(
            "impl='fixed64' requires spark.sql.ansi.enabled=true (overflow "
            "must error, not wrap); set the conf or use impl='decimal'"
        )


def _fixed64_cols():
    v = F.col("value")
    vs = F.round(v * F.lit(_SCALE)).cast("long")
    b = F.pmod(vs, F.lit(_B))
    a = ((vs - b) / F.lit(_B)).cast("long")
    return v, vs, a, b


def _point_aggs(impl: str = "decimal") -> list:
    if impl == "fixed64":
        _require_ansi_for_fixed64()
        v, vs, a, b = _fixed64_cols()
        return [
            F.count(v).alias("cnt"),
            F.sum(vs).alias("sum"),
            F.sum(a * a).alias("sq_aa"),
            F.sum(a * b).alias("sq_ab"),
            F.sum(b * b).alias("sq_bb"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
        ]
    v = F.col("value")
    return [
        F.count(v).alias("cnt"),
        F.sum(v.cast(_DEC_SUM)).alias("sum"),
        F.sum((v * v).cast(_DEC_SQ)).alias("sum_sq"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    ]


def _state_aggs(impl: str = "decimal") -> list:
    sums = FIXED64_STATE_COLS[:5] if impl == "fixed64" else STATE_COLS[:3]
    return [F.sum(c).alias(c) for c in sums] + [
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    ]


def state_cols(impl: str = "decimal") -> list[str]:
    return FIXED64_STATE_COLS if impl == "fixed64" else STATE_COLS


def _keys_of(points: DataFrame) -> list[str]:
    """Series key columns: dictionary-encoded ``key_id`` when present
    (the scale path — one long instead of three strings through scan,
    agg map, and shuffle), else the string key triple."""
    return ["key_id"] if "key_id" in points.columns else KEY_COLS


def rollup_points(points: DataFrame, tier: str, impl: str = "decimal") -> DataFrame:
    """Raw series points → one tier of algebraic states."""
    bucket = bucketize("bucket_ts", tier, is_ntz(points, "bucket_ts")).alias("bucket_ts")
    keys = _keys_of(points)
    return (
        points.groupBy(*keys, bucket)
        .agg(*_point_aggs(impl))
        .withColumn("tier", F.lit(tier))
        .select(*keys, "tier", "bucket_ts", *state_cols(impl))
    )


def rollup_states(states: DataFrame, tier: str) -> DataFrame:
    """Finer-tier states → coarser tier, by exact state addition.

    The state impl is inferred from the columns present, so a cascade
    started in either impl re-aggregates consistently."""
    impl = "fixed64" if "sq_aa" in states.columns else "decimal"
    bucket = bucketize("bucket_ts", tier, is_ntz(states, "bucket_ts")).alias("bucket_ts")
    keys = _keys_of(states)
    return (
        states.groupBy(*keys, bucket)
        .agg(*_state_aggs(impl))
        .withColumn("tier", F.lit(tier))
        .select(*keys, "tier", "bucket_ts", *state_cols(impl))
    )


CALENDAR_UNITS = {"1w": "week", "1mo": "month", "1y": "year"}


def rollup_states_calendar(states: DataFrame, tier: str) -> DataFrame:
    """Finer-tier states → a CALENDAR tier (ISO week / month / year), by
    exact state addition (O77).

    Calendar buckets have variable width, so the integer-epoch `bucketize`
    fast path does not apply (functions/time.py documents the allowlist);
    `date_trunc` is correct here and cheap because the input is TIER
    STATES — one row per (key, day), ~1/86 400th of raw at 1s cadence —
    not the raw volume.  The right cascade is raw→1m→1h→1d→1mo→1y: the
    calendar merge only ever re-aggregates the 1d table.  State algebra
    is the same exact decimal/long addition as `rollup_states`, so
    month/year rows match a direct calendar aggregation of raw
    bit-for-bit (asserted in tests and oracle-gated by
    `rollup_1mo_cascade_events`)."""
    unit = CALENDAR_UNITS[tier]
    impl = "fixed64" if "sq_aa" in states.columns else "decimal"
    bucket = F.date_trunc(unit, "bucket_ts").alias("bucket_ts")
    keys = _keys_of(states)
    out = (
        states.groupBy(*keys, bucket)
        .agg(*_state_aggs(impl))
        .withColumn("tier", F.lit(tier))
        .select(*keys, "tier", "bucket_ts", *state_cols(impl))
    )
    if is_ntz(states, "bucket_ts"):
        # date_trunc preserves NTZ in Spark 4, but pin it explicitly so the
        # tier schema never depends on version behavior
        out = out.withColumn("bucket_ts", F.col("bucket_ts").cast("timestamp_ntz"))
    return out


def rollup_points_salted(points: DataFrame, tier: str, salt_k: int = 16, impl: str = "decimal") -> DataFrame:
    """Two-phase skew-safe rollup: partial agg on (key, bucket, salt), then
    exact combine on (key, bucket).  Salt is a deterministic hash of the
    fine timestamp+value so re-runs shard identically.

    WHEN TO SALT: coarse buckets where one (key, bucket) group is huge —
    per-domain daily totals, all-time per-key aggregates — i.e. places
    where a single reducer would receive a hot group's full combine load.
    Do NOT salt fine buckets (raw→1m): groups there are small, map-side
    partial aggregation already combines hot groups per input partition,
    and salting multiplies the shuffled state rows instead (measured 5×
    on the 80M-point bench input — BENCH/BASELINE.md).  Exactness is
    identical either way (decimal state algebra), so the choice is purely
    a physical one."""
    bucket = bucketize("bucket_ts", tier, is_ntz(points, "bucket_ts")).alias("bucket_ts")
    keys = _keys_of(points)
    salted = points.withColumn(
        "_salt", F.pmod(F.xxhash64("bucket_ts", "value"), F.lit(salt_k))
    )
    partial = salted.groupBy(*keys, bucket, "_salt").agg(*_point_aggs(impl))
    return (
        partial.groupBy(*keys, "bucket_ts")
        .agg(*_state_aggs(impl))
        .withColumn("tier", F.lit(tier))
        .select(*keys, "tier", "bucket_ts", *state_cols(impl))
    )


def with_derived_stats(states: DataFrame) -> DataFrame:
    """Attach mean/stddev derived from the exact state.

    stddev is the sample form sqrt((sum_sq - sum²/n) / (n-1)); guarded for
    n<2 and for tiny negative residue from the final double conversion.
    """
    n = F.col("cnt").cast("double")
    if "sq_aa" in states.columns:
        # fixed64: reconstruct sum and sum_sq from the exact long state,
        # once per OUTPUT row.  sum_sq·10¹² = Σa²·B² + 2Σab·B + Σb²; the
        # state is exact, so this derivation is a pure per-row function —
        # partitioning/parallelism cannot change it.  The double combine
        # rounds at ~1e-16 relative, same order as the decimal impl's
        # final double cast.
        s = F.col("sum").cast("double") / F.lit(float(_SCALE))
        sq = (
            F.col("sq_aa").cast("double") * F.lit(float(_B * _B))
            + F.col("sq_ab").cast("double") * F.lit(float(2 * _B))
            + F.col("sq_bb").cast("double")
        ) / F.lit(float(_SCALE * _SCALE))
    else:
        s = F.col("sum").cast("double")
        sq = F.col("sum_sq").cast("double")
    var = (sq - (s * s) / n) / (n - F.lit(1.0))
    return states.withColumn("mean", s / n).withColumn(
        "stddev",
        F.when(F.col("cnt") < 2, F.lit(None).cast("double")).otherwise(
            F.sqrt(F.greatest(var, F.lit(0.0)))
        ),
    )


def tiered_rollups(points: DataFrame, tiers: tuple[str, ...] = ("1m", "1h", "1d"), salt_k: int | None = None, impl: str = "decimal") -> dict[str, DataFrame]:
    """The continuous-aggregate cascade: raw→1m once, then 1m→1h→1d from
    states.  Raw data is touched exactly once regardless of tier count."""
    out: dict[str, DataFrame] = {}
    base = (
        rollup_points_salted(points, tiers[0], salt_k, impl)
        if salt_k
        else rollup_points(points, tiers[0], impl)
    )
    out[tiers[0]] = base
    prev = base
    for t in tiers[1:]:
        prev = rollup_states(prev, t)
        out[t] = prev
    return out


def refresh_tier(
    store,
    table: str,
    tier: str,
    new_points: DataFrame,
    impl: str = "decimal",
) -> str | None:
    """Incremental continuous-aggregate refresh: roll up ``new_points``
    to ``tier`` and merge the delta into ``table`` with ONE
    ``overwrite_range`` commit over the delta's bucket span
    [min, max + tier).  Untouched buckets inside the span are rewritten
    unchanged (state addition with an empty delta is the identity), so a
    sparse delta (one late point + one current point) costs O(span)
    rows but always exactly one write and one snapshot per tier.

    The delta is MERGED onto existing states by exact state addition
    (``rollup_states`` over the union — associative in both impls), so
    a refresh is O(delta + span states), never O(history).
    Requires ``new_points`` to be strictly new (exactly-once ingest);
    with at-least-once input, re-rollup the affected range from the raw
    series store instead of merging.

    Returns the committed snapshot id, or None for an empty delta.
    """
    return _overwrite_touched(
        store, table, tier, rollup_points(new_points, tier, impl),
        lambda df: rollup_states(df, tier),
    )


def _overwrite_touched(store, table, tier, delta, merge) -> str | None:
    """Shared span merge for incremental refresh (rollup AND hist tier
    families): read the existing rows of the delta's bucket span, merge
    them with the delta via ``merge`` (exact state addition), commit one
    ``overwrite_range``.  See ``refresh_tier`` for the full contract.
    A caller's cached ``delta`` stays cached: only a cache made here is
    dropped here."""
    owned = not delta.is_cached
    if owned:
        delta = delta.persist()
    try:
        lo, hi = delta.agg(F.min("bucket_ts"), F.max("bucket_ts")).first()
        if lo is None:
            return None
        hi += datetime.timedelta(microseconds=TIER_STEP_US[tier])
        # a plain range predicate Catalyst pushes into the parquet scan
        existing = store.read(table).filter(
            (F.col("bucket_ts") >= F.lit(lo)) & (F.col("bucket_ts") < F.lit(hi))
        )
        return store.overwrite_range(
            table, merge(existing.unionByName(delta)), "bucket_ts", str(lo), str(hi)
        )
    finally:
        if owned:
            delta.unpersist()


def refresh_cascade(
    store,
    new_points: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    impl: str = "decimal",
    table_prefix: str = "rollup_",
) -> dict[str, str | None]:
    """Late-data refresh across ALL materialized tiers: each tier merges
    the same delta by exact state addition over its own bucket span, one
    commit per tier (associativity makes per-tier merges equal a full
    recompute — the continuous-aggregate invalidation story). Cost is
    O(tiers × (delta + span)), never O(history). Returns
    {tier: snapshot_id-or-None}."""
    new_points = new_points.persist()
    try:
        return {
            t: refresh_tier(store, f"{table_prefix}{t}", t, new_points, impl)
            for t in tiers
        }
    finally:
        new_points.unpersist()
