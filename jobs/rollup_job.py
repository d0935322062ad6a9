#!/usr/bin/env python
"""The production job (BASELINE.json north_rule: "run via spark-submit
--py-files on a multi-executor cluster"):

    python -m zipfile -c /tmp/engine.zip fischer_spark   # or deploy.package_zip()
    spark-submit --master <cluster> --py-files /tmp/engine.zip \
        jobs/rollup_job.py \
        --input /path/to/pages_parquet  (or --synth-pages 1000000) \
        --warehouse /path/to/warehouse \
        --run-id nightly-2024-01-15 \
        [--until rollup_1h] [--salt-k 16] [--tau 3.0] [--retain-as-of "2024-02-01 00:00:00"]

Re-running with the same --run-id resumes from the last completed stage
(snapshot checkpoints).  Lineage fragments land under
<warehouse>/_lineage/<run-id>/ and are summarized on stdout.

Under spark-submit the session already exists (getOrCreate picks up the
submitted conf); standalone it builds a local one.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="fischer_spark tiered rollup job")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages parquet path (url, warc_ts, html, text, lang)")
    src.add_argument("--synth-pages", type=int, help="generate N synthetic pages instead")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--salt-k",
        type=int,
        default=None,
        help="salt factor for the raw->1m rollup; DEFAULT OFF — fine buckets "
        "must not be salted (map-side partial agg already combines hot "
        "groups; salting 1m multiplied shuffled state rows 5x in the bench — "
        "see operators/rollup.py rollup_points_salted and BENCH/BASELINE.md). "
        "Set only when a single (key, bucket) group overwhelms one reducer",
    )
    ap.add_argument("--tau", type=float, default=3.0)
    ap.add_argument(
        "--impl",
        default="decimal",
        choices=["decimal", "fixed64"],
        help="rollup state representation (fixed64 = long-backed fast path)",
    )
    ap.add_argument(
        "--encode-keys",
        action="store_true",
        help="dictionary-encode series keys through the rollup hot path",
    )
    ap.add_argument(
        "--gapfill",
        default=None,
        choices=["locf", "linear"],
        help="gap-fill the 1m series spine before rollup (north-star ordering)",
    )
    ap.add_argument(
        "--hist",
        action="store_true",
        help="also materialize the percentile tier family (hist_1h/hist_1d "
        "linear-bin histogram states over the page_size series)",
    )
    ap.add_argument(
        "--hist-family",
        action="append",
        default=None,
        metavar="METRIC:LO:HI:BINS",
        help="additional percentile family with its own bin edges, e.g. "
        "crawl_rate:0:1000:250 (repeatable; implies --hist; page_size keeps "
        "its default edges unless respecified)",
    )
    ap.add_argument(
        "--calendar",
        action="append",
        default=None,
        choices=["1w", "1mo", "1y"],
        help="also materialize calendar retention tiers (exact state merge "
        "of the 1d table; 1y merges 1mo when both requested; repeatable)",
    )
    ap.add_argument(
        "--refresh",
        action="store_true",
        help="incremental mode: treat the input as LATE/NEW pages only and "
        "merge them into the existing tier tables by exact state addition "
        "(refresh_cascade — one span commit per tier) instead "
        "of running the full pipeline",
    )
    ap.add_argument(
        "--partition-days",
        action="store_true",
        help="commit time-keyed tables day-partitioned (Iceberg "
        "days(bucket_ts) analogue) so range reads prune whole day "
        "directories — the right default at cluster scale",
    )
    ap.add_argument("--until", default=None, help="stop after this stage (debug/crash-test)")
    ap.add_argument(
        "--retain-as-of",
        default=None,
        help='apply tier retention horizons as of this timestamp ("YYYY-mm-dd HH:MM:SS")',
    )
    ap.add_argument(
        "--record-rule",
        action="append",
        default=None,
        metavar="NAME:METRIC:STEP_S[:FN]",
        help="evaluate a recording rule incrementally after the pipeline "
        '(e.g. "rate_1h:crawl_rate:3600:delta") — only buckets past the '
        "rule table's high-water mark are computed (repeatable)",
    )
    ap.add_argument(
        "--archive",
        action="append",
        default=None,
        choices=["1m", "1h", "1d"],
        help="with --retain-as-of: move the tier's past-horizon rows into "
        "the compressed archive_{tier} table (Gorilla/d-o-d state chunks, "
        "still exactly re-aggregable) instead of deleting them (repeatable)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from fischer_spark.functions.urls import with_url_parts
    from fischer_spark.plans.lineage import read_lineage
    from fischer_spark.plans.pipeline import RollupPipeline
    from fischer_spark.session import get_spark
    from fischer_spark.sources.pages import scan_pages, synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore

    spark = get_spark(f"fischer_rollup_{args.run_id}")

    if args.input:
        pages = scan_pages(spark, args.input, ["url", "warc_ts", "html", "lang"])
    else:
        pages = synth_pages(spark, args.synth_pages, seed=args.seed)
    pages = with_url_parts(pages).select(
        "domain", "warc_ts", F.octet_length("html").alias("page_bytes"), "lang"
    )

    store = ParquetManifestStore(spark, args.warehouse)

    if args.refresh:
        from fischer_spark.operators.histogram import refresh_hist_cascade_families
        from fischer_spark.operators.rollup import refresh_cascade
        from fischer_spark.operators.series import (
            build_series,
            encode_series_keys,
            verify_key_encoding,
        )

        # fail loudly on key-encoding mismatch vs the stored tiers: merging
        # string-keyed deltas into key_id tables (or vice versa) would
        # produce schema errors at best, silent splits at worst
        stored_encoded = "key_id" in store.read("rollup_1m").columns
        if stored_encoded != bool(args.encode_keys):
            raise SystemExit(
                f"store tiers are {'key-encoded' if stored_encoded else 'string-keyed'} "
                f"but --refresh ran with{'' if args.encode_keys else 'out'} "
                "--encode-keys; pass the same flag the pipeline ran with"
            )
        # compact BEFORE reading for the merge: the folded read plan is
        # O(#snapshots) nodes, and a long chain (many prior refreshes)
        # must not be re-folded per tier merge
        hist_tables = [
            t for t in ("hist_1h", "hist_1d") if store.current_snapshot(t) is not None
        ]
        for t in ("rollup_1m", "rollup_1h", "rollup_1d", *hist_tables):
            s = store.maybe_compact(t)
            if s:
                print(f"  compacted {t}: snapshot={s}")
        late_points = build_series(pages)
        if args.encode_keys:
            late_points, delta_dim = encode_series_keys(late_points)
            # union newly seen series keys into the persisted key_dim BEFORE
            # the tier merges — refreshed tiers carrying key_ids absent from
            # the dim would decode to NULL labels in query_range and be
            # silently excluded by query_range_hist's semi-join (ADVICE r2)
            existing_dim = store.read("key_dim")
            delta_dim = delta_dim.distinct()
            if not verify_key_encoding(existing_dim.unionByName(delta_dim).distinct()):
                raise SystemExit(
                    f"run {args.run_id}: key_id hash collision between the "
                    "delta's series keys and the stored dim — re-run the "
                    "full pipeline without --encode-keys"
                )
            new_keys = delta_dim.join(existing_dim.select("key_id"), "key_id", "left_anti")
            if new_keys.limit(1).count():
                s = store.append("key_dim", new_keys)
                print(f"  key_dim: appended new series keys, snapshot={s}")
        snaps = refresh_cascade(store, late_points, impl=args.impl)
        for tier, snap in snaps.items():
            print(f"  refreshed rollup_{tier}: snapshot={snap}")
        # calendar tiers must not go stale vs the refreshed 1d (the same
        # lockstep rule as the hist tiers below).  They are ≤ keys × months
        # rows, so a full overwrite from the refreshed 1d is cheaper than
        # touched-bucket bookkeeping.
        from fischer_spark.operators.rollup import rollup_states_calendar

        cal_tables = [
            t for t in ("rollup_1w", "rollup_1mo", "rollup_1y")
            if store.current_snapshot(t) is not None
        ]
        for t in cal_tables:
            tier = t.split("_")[1]
            src = "rollup_1mo" if tier == "1y" and "rollup_1mo" in cal_tables else "rollup_1d"
            s = store.overwrite_range(
                t, rollup_states_calendar(store.read(src), tier),
                "bucket_ts", "1900-01-01 00:00:00", "9999-01-01 00:00:00",
            )
            print(f"  rebuilt {t} from refreshed {src}: snapshot={s}")
        if hist_tables:
            # the percentile tiers must refresh in lockstep with the rollup
            # tiers or query_range_hist serves stale percentiles that
            # disagree with query_range means over the same window
            meta = store.meta("hist_1h")
            pmap = meta.get("hist_params")
            if pmap is None and "hist_lo" in meta:  # pre-r3 single-family meta
                pmap = {"page_size": [meta["hist_lo"], meta["hist_hi"], meta["hist_n_bins"]]}
            if pmap is None:
                raise SystemExit(
                    "store has hist tiers but no persisted binning params — "
                    "rebuild them with the current pipeline (which persists "
                    "params) before refreshing"
                )
            hsnaps = refresh_hist_cascade_families(
                store,
                late_points,
                {m: tuple(p) for m, p in pmap.items()},
                key_dim=store.read("key_dim") if args.encode_keys else None,
            )
            for tier, snap in hsnaps.items():
                print(f"  refreshed hist_{tier}: snapshot={snap}")
        # recorded rules must not go stale either (ADVICE r3): late data
        # merged below a rule's high-water mark never re-triggers its
        # incremental path, so rebuild every existing rule_* table from
        # its persisted spec with full=True — the same lockstep rule as
        # the calendar/hist tiers above.  Rule tables are ≤ keys × buckets
        # at the rule's step, far smaller than the tiers they derive from.
        import os as _os

        from fischer_spark.api import record_rule

        # include spec-only tables (manifest with rule_spec but no
        # snapshot yet): a rule recorded before its data arrived persists
        # its spec from the first record_rule call (ADVICE r4), and this
        # rebuild gives it its first materialization once data exists
        rule_tables = sorted(
            d for d in (_os.listdir(args.warehouse) if _os.path.isdir(args.warehouse) else [])
            if d.startswith("rule_")
            and (store.current_snapshot(d) is not None
                 or store.meta(d).get("rule_spec") is not None)
        )
        for t in rule_tables:
            spec = store.meta(t).get("rule_spec")
            if spec is None:
                print(
                    f"  WARNING: {t} predates spec persistence and may be "
                    "STALE vs the refreshed tiers — re-run --record-rule "
                    "to rebuild it"
                )
                continue
            snap = record_rule(
                store, spec["rule"], spec["metric"], spec["step_s"],
                fn=spec.get("fn"), fn_args=spec.get("fn_args"),
                stat=spec.get("stat", "mean"),
                end=spec.get("end", "9999-01-01 00:00:00"),
                full=True, **(spec.get("sel") or {}),
            )
            print(f"  rebuilt {t} from refreshed tiers: snapshot={snap}")
        print(f"run {args.run_id}: refresh complete")
        spark.stop()
        return 0

    hist_params = None
    if args.hist_family:
        hist_params = {"page_size": (0.0, float(1 << 20), 256)}
        for spec in args.hist_family:
            m, lo, hi, nb = spec.split(":")
            hist_params[m] = (float(lo), float(hi), int(nb))
    pipe = RollupPipeline(
        spark, store, args.run_id, salt_k=args.salt_k, tau=args.tau,
        impl=args.impl, encode_keys=args.encode_keys, gapfill=args.gapfill,
        hist=args.hist or bool(args.hist_family), hist_params=hist_params,
        partition_days=args.partition_days,
        calendar=tuple(args.calendar or ()),
    )
    snaps = pipe.run(pages, until=args.until)
    if args.encode_keys and "key_dim" in snaps:
        # hash-encoded series ids: verify injectivity on the (small,
        # persisted) dim once per run — on a collision, rerun without
        # --encode-keys (or assign dense ids); see encode_series_keys
        from fischer_spark.operators.series import verify_key_encoding

        dim = store.read("key_dim", snaps["key_dim"])
        if not verify_key_encoding(dim):
            raise SystemExit(
                f"run {args.run_id}: key_id hash collision detected in the "
                "series dim — rerun without --encode-keys"
            )
    print(f"run {args.run_id}: {len(snaps)} stages committed")
    for stage, snap in snaps.items():
        print(f"  {stage:20s} snapshot={snap} rows={store.read(stage, snap).count()}")

    if args.record_rule:
        from fischer_spark.api import record_rule

        for spec in args.record_rule:
            parts = spec.split(":")
            if len(parts) not in (3, 4):
                raise SystemExit(
                    f"--record-rule {spec!r}: expected NAME:METRIC:STEP_S[:FN]"
                )
            name, rmetric, rstep = parts[0], parts[1], int(parts[2])
            rfn = parts[3] if len(parts) == 4 else None
            snap = record_rule(store, name, rmetric, rstep, fn=rfn)
            print(
                f"  rule_{name}: "
                + (f"snapshot={snap}" if snap else "no new buckets")
            )

    if args.retain_as_of:
        # tier tables retain by their own horizon; the raw-granularity
        # tables (series / series_filled / chunks) retain at the "raw"
        # horizon (7d) — at design scale they are the biggest tables in
        # the warehouse and must not grow forever (VERDICT r1 missing #2).
        targets = [
            (t, t.split("_")[1], "bucket_ts")
            for t in ("rollup_1m", "rollup_1h", "rollup_1d", "hist_1h", "hist_1d")
        ]
        # chunks retain on t_end so a chunk straddling the cutoff (still
        # holding in-retention points) survives until fully expired
        targets += [
            (t, "raw", "t_end" if t == "chunks" else "bucket_ts")
            for t in ("series", "series_filled", "chunks")
        ]
        # archived tiers take the cold path: past-horizon rows become
        # compressed state chunks (exactly re-aggregable via
        # read_tier_with_archive) instead of being deleted; the expire
        # below then skips those tables (their live half is already
        # trimmed to the horizon by archive_tier's overwrite).
        archived: set[str] = set()
        if args.archive:
            import datetime as _dt

            from fischer_spark.operators.archive import archive_tier
            from fischer_spark.schemas import TIER_RETENTION_S

            now = _dt.datetime.fromisoformat(args.retain_as_of)
            for tier in dict.fromkeys(args.archive):
                horizon = TIER_RETENTION_S.get(tier)
                if horizon is None:
                    # infinite-retention tiers (1d) never expire, so there
                    # is nothing to move cold
                    continue
                cutoff = (
                    now - _dt.timedelta(seconds=horizon)
                ).isoformat(sep=" ")
                # both tier families go cold the same way: the hist
                # long-form (key, bucket, bin, n) rows are all-integer and
                # use the same chunk codec, so --archive covers the
                # percentile surface too (query_range_hist reads across
                # the boundary with include_archive=True)
                for prefix in ("rollup", "hist"):
                    table = f"{prefix}_{tier}"
                    if store.current_snapshot(table) is None:
                        continue
                    asnaps = archive_tier(store, tier, cutoff, table_prefix=prefix)
                    archived.add(table)
                    print(
                        f"  archived {table} before {cutoff}: "
                        + ", ".join(f"{t}={s}" for t, s in asnaps.items())
                    )
        for table, tier, ts_col in targets:
            if store.current_snapshot(table) is None or table in archived:
                continue
            s = store.expire_retention(table, tier, args.retain_as_of, ts_col=ts_col)
            if s:
                print(f"  retention applied to {table}: snapshot={s}")

    # fold long snapshot chains so read plans stay O(1) in commit count
    # (key_dim included: --refresh appends newly seen keys per run)
    rule_tables = tuple(
        f"rule_{spec.split(':')[0]}" for spec in (args.record_rule or ())
    )
    for table in ("series", "series_filled", "rollup_1m", "rollup_1h",
                  "rollup_1d", "rollup_1w", "rollup_1mo", "rollup_1y",
                  "archive_1m", "archive_1h", "archive_1d",
                  "archive_hist_1h", "archive_hist_1d",
                  "hist_1h", "hist_1d", "chunks", "key_dim", *rule_tables):
        if store.current_snapshot(table) is not None:
            s = store.maybe_compact(table)
            if s:
                print(f"  compacted {table}: snapshot={s}")

    lin = read_lineage(spark, args.warehouse, args.run_id)
    lin.groupBy("stage").agg(
        F.count("*").alias("partitions"),
        F.sum("input_rows").alias("rows"),
        F.round(F.sum("wall_ms") / 1000.0, 2).alias("cpu_s"),
    ).orderBy("stage").show(truncate=False)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
