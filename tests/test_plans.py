"""Plan-shape regression tests — the claims in BENCH/PLANS.md, asserted.
These catch silent optimizer regressions (a dim join degrading to
sort-merge, a filter failing to push, a window picking up an extra
shuffle) that row-level tests can't see."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["tpch_q1ish"](spark, SF))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1].split("\n")[0]
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_dim_joins_broadcast(spark):
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["revenue_by_nation"](spark, SF))
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3


def test_cascade_single_scan(spark):
    from fischer_spark.operators.rollup import tiered_rollups
    from fischer_spark.operators.series import crawl_rate_series

    pts = crawl_rate_series(
        spark.read.parquet(f"{SF}/events.parquet").selectExpr(
            "event_type as domain", "ts as warc_ts"
        )
    )
    p = plan_of(tiered_rollups(pts, salt_k=8)["1d"])
    # one scan feeding a linear agg chain
    assert p.count("(1) Scan parquet") == 1
    assert "Join" not in p


def test_zscore_single_exchange_sort(spark):
    from fischer_spark.operators.detect import zscore_window

    pts = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_type as domain", "'m' as metric",
        "cast(null as string) as tag", "ts as bucket_ts", "value",
    )
    p = plan_of(zscore_window(pts, 24, 8))
    assert p.count("(3) Exchange") + p.count("(4) Exchange") >= 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) Sort", p)) == 1
    assert len(re.findall(r"lag\(", p)) <= 8


def test_seasonal_broadcast(spark):
    from fischer_spark.operators.detect import seasonal_score

    pts = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "event_type as domain", "'m' as metric",
        "cast(null as string) as tag", "ts as bucket_ts", "value",
    )
    p = plan_of(seasonal_score(pts))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_extraction_is_arrow_not_pickle(spark):
    from fischer_spark.functions.text import extract_text

    df = spark.createDataFrame([(b"<p>x</p>",)], "html binary").withColumn(
        "t", extract_text("html")
    )
    p = plan_of(df)
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_fixed64_rollup_plan_is_long_only_single_exchange(spark):
    """The fast-path 1m rollup: one shuffle, no decimal in the aggregate
    (long-backed codegen path), no string key columns through the wire."""
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import encode_series_keys
    from fischer_spark.sources.series_gen import synth_series

    pts, _ = encode_series_keys(synth_series(spark, n_keys=10, points_per_key=100))
    p = plan_of(rollup_points(pts, "1m", impl="fixed64"))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1  # one wire: partial below, final above
    ex_args = [l for l in p.splitlines() if "hashpartitioning" in l]
    assert ex_args and "key_id" in ex_args[0] and "domain" not in ex_args[0]
    # aggregate functions are all long-backed — no BigDecimal buffers
    fn_lines = [l for l in p.splitlines() if l.startswith("Functions")]
    assert fn_lines and all("decimal" not in l for l in fn_lines)
    assert "HashAggregate" in p


def test_ann_plan_construction_triggers_no_action(spark):
    """Building the LSH/ANN plans must not execute the upstream plan
    (VERDICT r1: the old lsh_cosine_buckets ran .first() at plan time).
    Guard: the source carries a UDF that raises on EXECUTION — plan
    construction succeeds; only an action detonates it."""
    from pyspark.sql.types import ArrayType, DoubleType

    from fischer_spark.operators.dedup import (
        ann_topk_lsh,
        embedding_near_dup_pairs,
        lsh_cosine_buckets,
    )

    def _boom(i):
        raise RuntimeError("plan was executed during construction")

    boom = F.udf(_boom, ArrayType(DoubleType()))  # test-only tripwire UDF
    src = spark.range(8).select(
        F.col("id").alias("vec_id"), boom("id").alias("embedding")
    )
    # constructing all three plans must not run the tripwire
    b = lsh_cosine_buckets(src)
    pairs = embedding_near_dup_pairs(src)
    topk = ann_topk_lsh(src, src.limit(2))
    for df in (b, pairs, topk):
        assert df.schema is not None  # schema resolution is plan-only
    # sanity: an actual action DOES detonate it (the tripwire is live) —
    # collect(), not count(): count() correctly prunes the unused UDF column
    with pytest.raises(Exception, match="plan was executed|RuntimeError|PythonException"):
        b.collect()


def test_counter_rate_single_exchange(spark):
    """counter_rate_events: cumsum + two lag windows all share ONE
    hash Exchange on the series key and one Sort — adding the rate
    column must never re-shuffle or re-sort (the z-score shape)."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["counter_rate_events"](spark, SF))
    assert p.count(") Exchange") == 1 and "hashpartitioning(user_id" in p
    assert p.count(") Sort") == 1
    assert p.count(") Window") >= 2


def test_stratified_sample_mapside_limit(spark):
    """stratified_sample_documents: the rank filter must push a PARTIAL
    WindowGroupLimit BELOW the Exchange, so at most k rows per stratum
    per input partition ever cross the wire — the property that makes a
    hash-rank sample safe at corpus scale."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["stratified_sample_documents"](spark, SF))
    assert p.count(") Exchange") == 1 and "hashpartitioning(lang" in p
    assert "WindowGroupLimit" in p and "Partial" in p
    # Partial limit sits below the Exchange in the tree rendering
    assert p.index("Partial") > p.index("Exchange (")


def test_deriv_predict_single_exchange_partial_agg(spark):
    """deriv_predict_events: all five regression states partial-aggregate
    map-side — exactly one Exchange carrying combined states, never rows."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["deriv_predict_events"](spark, SF))
    assert p.count(") Exchange") == 1
    assert "partial_sum" in p and "partial_count" in p
    # partial agg sits below the Exchange in the tree rendering
    assert p.index("partial_sum") > p.index("Exchange (")


def test_quantile_exact_no_second_exchange(spark):
    """quantile_exact_1h_events: rank + count windows and the final
    conditional aggregation all share ONE Exchange + ONE Sort (the agg
    keys equal the window partition keys, so Catalyst reuses the
    partitioning)."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["quantile_exact_1h_events"](spark, SF))
    assert p.count(") Exchange") == 1
    assert p.count(") Sort") == 1
    assert p.count(") Window") == 2


def test_funnel_two_exchange_partial_agg(spark):
    """funnel_conversion_events: the per-user firsts aggregate and the
    global fold each partial-aggregate map-side — two Exchanges total
    (user hash, then single-partition fold), no Window, no join."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["funnel_conversion_events"](spark, SF))
    assert p.count(") Exchange") == 2
    assert ") Window" not in p and "Join" not in p
    assert p.count("HashAggregate") >= 3  # partial+final per level


def test_series_cardinality_partial_distinct(spark):
    """series_cardinality_events: count_distinct expands to the two-level
    distinct aggregate (partial dedup before the shuffle), never a raw
    row shuffle."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["series_cardinality_events"](spark, SF))
    assert p.count("HashAggregate") >= 3
    assert "Join" not in p


def test_alert_for_single_exchange(spark):
    """alerts_for_events (O80): the row_number window and the island
    groupBy both key on the series labels — everything after the rate
    agg shares one partitioning; total Exchanges = rate agg + series key."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["alerts_for_events"](spark, SF))
    assert p.count(") Exchange") == 2  # hourly-rate agg, series-key window/agg
    assert p.count(") Sort") == 1
    assert "Python" not in p


def test_segment_dedup_shuffles_hashes_not_text(spark):
    """segment_dedup_documents (O81): every Exchange carries md5 hex
    (and small ints) — the document text column never crosses the wire."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["segment_dedup_documents"](spark, SF))
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", p):
        assert "text" not in m.group(1), m.group(0)
    # and the scan reads only what the query needs
    assert "CartesianProduct" not in p


def test_ingest_dedup_corpus_side_distinct_before_join(spark):
    """ingest_dedup_documents (O83): the corpus side aggregates to
    DISTINCT digests before the join (HashAggregate below the join's
    corpus input), and no text column is shuffled."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["ingest_dedup_documents"](spark, SF))
    assert "CartesianProduct" not in p
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", p):
        assert "text" not in m.group(1) or "text_hash" in m.group(1), m.group(0)
    # corpus side: two-level distinct (partial+final HashAggregate on h)
    # feeding the join's build side — the batch never joins raw corpus rows
    assert len(re.findall(r"Keys \[1\]: \[h#\d+\]", p)) == 2
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_m4_query_plan_matches_operator_contract(spark):
    """m4_events_64px: broadcast extents join + ONE main (key, px)
    Exchange shared by sort/window/agg; no Python nodes."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["m4_events_64px"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "Python" not in p
    # exchanges: hourly extents agg + main (domain, px); broadcast is separate
    assert p.count(") Exchange") == 2


def test_grouped_binop_single_join_no_cartesian(spark):
    """share_of_domain_events (O98): exactly one join (the group_left
    equi-join), never a cartesian/BNL — the strict-mode guard is a
    window on the small side, not a second join."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["share_of_domain_events"](spark, SF))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    # numbered plan nodes only — the formatted detail section repeats names
    joins = len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", p
    ))
    assert joins == 1, p


def test_agg_by_label_no_extra_exchange(spark):
    """agg_by_label_events (O91): the cross-series state merge is ONE
    extra aggregation on top of the tier build — no window, no join, and
    every Exchange is a hashpartitioning (no single-partition funnel)."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["agg_by_label_events"](spark, SF))
    assert "Window" not in p and "Join" not in p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex == 2, p  # tier-state agg + the by-label merge, nothing else
    assert "SinglePartition" not in p  # no one-partition funnel


def test_vector_quantile_shares_one_exchange_after_series_agg(spark):
    """quantile_across_series_events (O100): beyond the hourly-rate
    aggregation's Exchange, the rank/count windows and the final
    conditional aggregation share ONE further Exchange + ONE Sort on the
    (labels, bucket) key — the O60 shape lifted to cross-series."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["quantile_across_series_events"](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2  # series agg + quantile key
    assert len(re.findall(r"\(\d+\) Sort", p)) == 1
    assert "Join" not in p and "SinglePartition" not in p


def test_hist_fraction_single_exchange_no_window(spark):
    """hist_fraction_1h_events: the binned states and the fraction read
    are two stacked aggregations sharing keys — conditional sums
    partial-aggregate map-side, no Window operator anywhere (the
    quantile read needs a cumulative walk; the fraction read does not)."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["hist_fraction_1h_events"](spark, SF))
    assert ") Window" not in p
    assert "partial_sum" in p or "partial_count" in p
    # binning agg + fraction agg collapse onto ONE shuffle: the second
    # groupBy's keys are a prefix of the first's, so AQE/Catalyst may
    # keep them on one Exchange; allow at most two (never a third from
    # a stray repartition or window)
    assert 1 <= p.count(") Exchange") <= 2


def test_holt_exact_single_exchange_arrow(spark):
    """holt_exact_events_1h: exact-decimal mean agg and the grouped
    Arrow kernel — FlatMapGroupsInPandas present, joins absent, and no
    more Exchanges than the agg (hour buckets) + the regroup (series
    key) require."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["holt_exact_events_1h"](spark, SF))
    assert "FlatMapGroupsInPandas" in p
    assert "Join" not in p
    assert p.count(") Exchange") <= 2


def test_rate_extrapolated_shared_exchange_all_codegen(spark):
    """rate_extrapolated_events: the counter synth window (user_id),
    the per-ts collapse window, the in-bucket lag window and the final
    groupBy all hash on user_id-prefixed keys — refinements share
    Exchanges; no Python eval anywhere (pure codegen + window ops)."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["rate_extrapolated_events"](spark, SF))
    assert "Python" not in p and "Arrow" not in p
    # synth window keys (user_id) and bucket-refined keys: at most two
    # distinct hash partitionings -> at most two Exchanges, never more
    assert 1 <= p.count(") Exchange") <= 2


def test_iqr_outliers_one_exchange_no_python(spark):
    """iqr_outliers_events: hourly-count agg + partition-frame window +
    flags, all hashing (event_type, day)-compatible keys; the whole
    detector is codegen (collect_list/array_sort/lerp are JVM
    expressions)."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["iqr_outliers_events"](spark, SF))
    assert "Python" not in p and "Arrow" not in p
    assert ") Window" in p
    assert 1 <= p.count(") Exchange") <= 2


def test_scalar_fns_no_extra_shuffle(spark):
    """scalar_fns_events: the clamp/sgn/round projections are pure
    column expressions over the rollup — exactly the rollup's own
    Exchange and nothing else, no Window, no Python."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["scalar_fns_events"](spark, SF))
    assert "Python" not in p and ") Window" not in p
    assert p.count(") Exchange") == 1


def test_doc_chunks_zero_shuffle(spark):
    """doc_chunks_documents: chunking is a narrow per-row explode —
    NO Exchange at any scale (the 10^12-doc property, in the plan)."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["doc_chunks_documents"](spark, SF))
    assert ") Exchange" not in p
    assert "Generate" in p  # the explode


def test_hist_avg_two_stacked_aggs_no_window(spark):
    """hist_avg_1h_events: binning agg + moment agg, map-side partials,
    no Window (the moments need no cumulative walk), <=2 Exchanges."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["hist_avg_1h_events"](spark, SF))
    assert ") Window" not in p and "Python" not in p
    assert "partial_sum" in p or "partial_count" in p
    assert 1 <= p.count(") Exchange") <= 2


def test_corr_over_time_single_window_single_exchange(spark):
    """corr_over_time_events: all five moments ride ONE Window node on
    the series-key Exchange; hourly agg + window share partitioning."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["corr_over_time_events"](spark, SF))
    assert "Python" not in p and "Arrow" not in p
    assert p.count(") Window") == 1
    assert 1 <= p.count(") Exchange") <= 2


def test_boilerplate_share_shuffles_hashes_not_text(spark):
    """boilerplate_share_documents: every hashpartitioning argument is
    the md5 shingle hash or doc_id — document text never crosses the
    wire (the segment-dedup discipline)."""
    import re

    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["boilerplate_share_documents"](spark, SF))
    for args in re.findall(r"hashpartitioning\(([^)]*)\)", p):
        assert "text" not in args, args


def test_rolling_distinct_users_one_exchange_codegen(spark):
    """rolling_distinct_users_events: collect_set agg + frame window
    share the series-key partitioning; array ops are codegen."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["rolling_distinct_users_events"](spark, SF))
    assert "Python" not in p and "Arrow" not in p
    assert 1 <= p.count(") Exchange") <= 2


def test_spearman_two_windows_share_group_exchange(spark):
    """spearman_daily_events: the hourly pre-agg shuffles once on
    (type, day, hour); both rank windows and the moment aggregate then
    share ONE (type, day) Exchange — never a third shuffle, never
    Python (ranks and moments are codegen integer ops)."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["spearman_daily_events"](spark, SF))
    assert p.count(") Window") == 2
    assert 1 <= p.count(") Exchange") <= 2
    assert "ArrowEval" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_theil_sen_self_join_keyed_no_cartesian(spark):
    """theil_sen_events: the O(w^2) pair build is an EQUI-join on the
    group key (never a cartesian), and the median pick is window
    row_number — all codegen."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["theil_sen_events"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p
    assert p.count(") Exchange") <= 4


def test_cohort_retention_no_window_no_python(spark):
    """cohort_retention_events: firsts groupBy + user-keyed join +
    DISTINCT + matrix aggregate — aggregation-only shape (no Window),
    the sizes side a broadcast, everything codegen integers."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["cohort_retention_events"](spark, SF))
    assert ") Window" not in p
    assert "BroadcastHashJoin" in p  # sizes (and at this SF, firsts) broadcast
    assert "CartesianProduct" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p


def test_source_entropy_shuffles_mixture_not_documents(spark):
    """source_entropy_documents: after the first (lang, source) count
    agg, every shuffle carries mixture-cardinality rows — the text
    column never appears in any Exchange, and the totals join is a
    broadcast."""
    from fischer_spark.queries import get_queries

    df = get_queries()["source_entropy_documents"](spark, SF)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # ReadSchema must prune to the two mixture columns — never text
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "text" not in m.group(1)


def test_acf_single_window_all_lags(spark):
    """acf_events: all six lag columns ride ONE Window node (one
    in-partition sort); hourly pre-agg + series-key regroup are the
    only Exchanges; the long-form emit is a Generate over a literal
    struct array — zero Python, no join."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["acf_events"](spark, SF))
    assert p.count(") Window") == 1
    assert 1 <= p.count(") Exchange") <= 2
    assert "ArrowEval" not in p and "BatchEvalPython" not in p
    assert "Join" not in p


def test_kendall_pair_join_keyed_no_cartesian(spark):
    """kendall_daily_events: the pair build is an equi-join ON the
    group key (theil_sen shape) — never cartesian/BNLJ; tie/concord
    counters are conditional sums, all codegen, no Window."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["kendall_daily_events"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ") Window" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p
    assert p.count(") Exchange") <= 4


def test_fano_two_stacked_aggs_only(spark):
    """fano_daily_events: hour pre-agg + day agg — two stacked
    partial-aggregated groupBys, nothing else (no window, no join,
    no Python)."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["fano_daily_events"](spark, SF))
    assert ") Window" not in p and "Join" not in p
    assert "partial_count" in p or "partial_sum" in p
    assert p.count(") Exchange") <= 2
    assert "ArrowEval" not in p and "BatchEvalPython" not in p


def test_seasonal_strength_agg_only_pruned(spark):
    """seasonal_strength_events: aggregation-only shape (no Window),
    hod/total branches rejoin broadcast-side, ReadSchema pruned to
    (ts, event_type) — never value/props."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["seasonal_strength_events"](spark, SF))
    assert ") Window" not in p
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "value" not in m.group(1) and "props" not in m.group(1)


def test_interarrival_one_series_exchange(spark):
    """interarrival_events: the lag window and the rank window share
    the ONE series-key Exchange (only the in-partition sort changes);
    extremes join broadcast; all codegen."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["interarrival_events"](spark, SF))
    assert p.count(") Exchange") <= 2
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p


def test_vocab_uniqueness_token_shuffles_only(spark):
    """vocab_uniqueness_sources: shuffles carry (source, token) pairs
    and token DF counts — text is read (tokenized map-side) but never
    shuffled; no window, no Python."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["vocab_uniqueness_sources"](spark, SF))
    assert ") Window" not in p
    assert "CartesianProduct" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p
    # no Exchange row should carry the text column
    for seg in p.split("\n"):
        if "Exchange" in seg:
            assert "text" not in seg


def test_gini_one_rank_window_no_join(spark):
    """gini_user_concentration_events: user-keyed partial agg, ONE rank
    window on the series key, tiny final agg — no join, no Python."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["gini_user_concentration_events"](spark, SF))
    assert p.count(") Window") == 1
    assert "Join" not in p and "CartesianProduct" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p


def test_ccf_broadcast_lag_join_pruned(spark):
    """ccf_click_purchase_events: hourly pre-agg, literal lag explode on
    bucket-count rows, purchase side joined BROADCAST, pruned scan."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["ccf_click_purchase_events"](spark, SF))
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "value" not in m.group(1) and "props" not in m.group(1)


def test_zipf_token_shuffles_only(spark):
    """zipf_slope_sources: text tokenized map-side, shuffles carry
    (source, token) counts; one rank window; no join, no Python."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["zipf_slope_sources"](spark, SF))
    # exactly one Window node; the rank<=100 filter ALSO surfaces as
    # WindowGroupLimit partial/final pairs (Spark's top-k pushdown —
    # each partition keeps only 100 rows before the Exchange)
    assert p.count(") Window\n") == 1
    assert "WindowGroupLimit" in p
    assert "Join" not in p and "CartesianProduct" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p
    for seg in p.split("\n"):
        if "Exchange" in seg:
            assert "text" not in seg


def test_knn_purity_broadcast_probe_scan(spark):
    """knn_label_purity_embeddings: probe set broadcast, corpus scanned
    once (BroadcastNestedLoopJoin is the audit-path shape, like
    cosine_topk); dot products are JVM higher-order fns, no Python."""
    from fischer_spark.queries import get_queries

    p = plan_of(get_queries()["knn_label_purity_embeddings"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "ArrowEval" not in p and "BatchEvalPython" not in p


def _chunk_points(spark):
    import datetime as dt

    from fischer_spark.schemas import SERIES_POINT_SCHEMA

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a.example", "crawl_rate", None, t0 + dt.timedelta(hours=h), float(h))
        for h in range(72)
    ]
    return spark.createDataFrame(rows, SERIES_POINT_SCHEMA)


def test_encode_chunks_one_exchange_batch_arrow(spark):
    """encode_chunks: ONE hash-aggregate shuffle on the chunk key, then
    one MapInArrow encoding whole batches of chunks — never the
    per-group pandas apply (FlatMapGroupsInPandas)."""
    from fischer_spark.operators.chunks import encode_chunks

    p = plan_of(encode_chunks(_chunk_points(spark), "1d"))
    assert "FlatMapGroupsInPandas" not in p
    assert p.count(") Exchange") == 1
    assert "MapInArrow" in p
    assert "MapInPandas" not in p and "ArrowEval" not in p


def test_decode_chunks_no_exchange(spark):
    """decode_chunks: a narrow per-batch MapInArrow — no shuffle."""
    from fischer_spark.operators.chunks import decode_chunks, encode_chunks
    from fischer_spark.schemas import CHUNK_SCHEMA

    # a local chunk table, so the plan holds the decode alone
    rows = encode_chunks(_chunk_points(spark), "1d").collect()
    p = plan_of(decode_chunks(spark.createDataFrame(rows, CHUNK_SCHEMA)))
    assert ") Exchange" not in p
    assert "MapInArrow" in p
