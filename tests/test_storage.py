"""O4/O5/O6 store semantics: snapshot isolation, time travel,
overwrite-range idempotency, retention, compaction."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from fischer_spark.sources.storage import ParquetManifestStore


def _pts(spark, rows):
    return spark.createDataFrame(
        [(d, datetime(2024, 1, day, h), float(v)) for d, day, h, v in rows],
        "domain string, bucket_ts timestamp, value double",
    )


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetManifestStore(spark, str(tmp_path / "wh"))


def test_append_and_time_travel(spark, store):
    s1 = store.append("t", _pts(spark, [("a", 1, 0, 1.0)]))
    s2 = store.append("t", _pts(spark, [("a", 1, 1, 2.0)]))
    assert store.read("t").count() == 2
    assert store.read("t", s1).count() == 1
    assert store.current_snapshot("t") == s2


def test_overwrite_range_idempotent(spark, store):
    store.append("t", _pts(spark, [("a", 1, 0, 1.0), ("a", 2, 0, 2.0)]))
    repl = _pts(spark, [("a", 2, 0, 99.0)])
    lo, hi = "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    store.overwrite_range("t", repl, "bucket_ts", lo, hi)
    store.overwrite_range("t", repl, "bucket_ts", lo, hi)  # re-run: same result
    got = {(r.bucket_ts.day, r.value) for r in store.read("t").collect()}
    assert got == {(1, 1.0), (2, 99.0)}


def test_retention_delete_below(spark, store):
    store.append("1m", _pts(spark, [("a", 1, 0, 1.0), ("a", 20, 0, 2.0)]))
    snap = store.expire_retention("1m", tier="raw", now_ts="2024-01-21 00:00:00")
    assert snap is not None  # raw horizon 7d → cutoff 2024-01-14
    days = {r.bucket_ts.day for r in store.read("1m").collect()}
    assert days == {20}
    # 1d tier keeps forever
    assert store.expire_retention("x", tier="1d", now_ts="2030-01-01 00:00:00") is None


def test_compact_preserves_data(spark, store):
    store.append("t", _pts(spark, [("a", 1, 0, 1.0), ("b", 1, 0, 2.0)]))
    store.delete_below("t", "value", "1.5")
    before = sorted((r.domain, r.value) for r in store.read("t").collect())
    store.compact("t")
    after = sorted((r.domain, r.value) for r in store.read("t").collect())
    assert before == after == [("b", 2.0)]
    assert len(store.snapshots("t")) == 1


def test_missing_table_raises(store):
    with pytest.raises(ValueError):
        store.read("nope")


def test_day_partitioned_commit_layout_and_read(spark, store, tmp_path):
    """day_col commits write _day=... directories; read() strips the
    partition key and a time-ranged read prunes whole days while
    boundary-day rows survive conservatively."""
    import os

    rows = [("a", d, h, d * 100 + h) for d in (1, 2, 3, 4) for h in (0, 12)]
    store.append("t", _pts(spark, rows), day_col="bucket_ts")
    snap_dir = store.snapshots("t")[0]["path"]
    days = sorted(p for p in os.listdir(snap_dir) if p.startswith("_day="))
    assert days == [f"_day=2024-01-0{d}" for d in (1, 2, 3, 4)]

    full = store.read("t")
    assert "_day" not in full.columns and full.count() == 8

    # window [Jan 2 06:00, Jan 3 06:00): day pruning keeps days 2-3 whole
    got = store.read("t", t_from="2024-01-02 06:00:00", t_to="2024-01-03 06:00:00")
    assert got.count() == 4  # both hours of both boundary days survive
    # the pruned read IS a partition filter: only 2 of 4 day dirs scanned
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_day" in plan

    # exact row filter on top gives the precise window, as callers do
    exact = got.filter(
        (F.col("bucket_ts") >= "2024-01-02 06:00:00")
        & (F.col("bucket_ts") < "2024-01-03 06:00:00")
    )
    assert exact.count() == 2


def test_partitioned_and_plain_commits_fold_together(spark, store):
    store.append("t", _pts(spark, [("a", 1, 0, 1.0)]), day_col="bucket_ts")
    store.append("t", _pts(spark, [("a", 2, 0, 2.0)]))  # unpartitioned
    store.overwrite_range(
        "t", _pts(spark, [("a", 1, 0, 9.0)]), "bucket_ts",
        "2024-01-01 00:00:00", "2024-01-02 00:00:00", day_col="bucket_ts",
    )
    got = {r["bucket_ts"].day: r["value"] for r in store.read("t").collect()}
    assert got == {1: 9.0, 2: 2.0}


def test_compact_preserves_partition_spec(spark, store):
    import os

    for d in (1, 2):
        store.append("t", _pts(spark, [("a", d, 0, float(d))]), day_col="bucket_ts")
    snap = store.compact("t")
    entry = store.snapshots("t")[0]
    assert entry["snapshot_id"] == snap and entry["day_col"] == "bucket_ts"
    days = [p for p in os.listdir(entry["path"]) if p.startswith("_day=")]
    assert len(days) == 2
    assert store.read("t").count() == 2
    # pruning still works after compaction
    assert store.read("t", t_from="2024-01-02 00:00:00").count() == 1


def test_compact_keeps_commit_racing_the_fold(spark, store):
    """A snapshot committed while compaction folds the chain survives the
    manifest swap, after the compacted snapshot."""
    store.append("t", _pts(spark, [("a", 1, 0, 1.0)]))
    store.append("t", _pts(spark, [("b", 1, 0, 2.0)]))
    fold = store.read

    def read_then_commit(table, *args, **kwargs):
        df = fold(table, *args, **kwargs)
        store.append(table, _pts(spark, [("c", 2, 0, 3.0)]))
        return df

    store.read = read_then_commit
    snap = store.compact("t")
    del store.read

    ids = [e["snapshot_id"] for e in store.snapshots("t")]
    assert len(ids) == 2 and ids[0] == snap
    assert store.current_snapshot("t") == ids[1]
    got = sorted((r.domain, r.value) for r in store.read("t").collect())
    assert got == [("a", 1.0), ("b", 2.0), ("c", 3.0)]
