"""O4/O5/O6 store semantics: snapshot isolation, time travel,
overwrite-range idempotency, retention, compaction."""

from __future__ import annotations

import json
import sys
import threading
from datetime import datetime
from decimal import Decimal

import pytest
from pyspark.sql import DataFrameReader
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


def _typed(spark, keys_days):
    """NTZ and zoned timestamps, a decimal(38,18), binary and a NULL."""
    return spark.createDataFrame(
        [
            (k, datetime(2024, 1, d, 6), datetime(2024, 1, d, 7),
             Decimal(f"{d}.000000000000000001"), k.encode(), None if d % 2 else k)
            for k, d in keys_days
        ],
        "key string, bucket_ts timestamp_ntz, tz timestamp, "
        "amount decimal(38,18), blob binary, note string",
    )


def _commit_shape(spark, store, shape):
    first = _typed(spark, [("a", 1), ("b", 2), ("c", 3)])
    later = _typed(spark, [("d", 2), ("e", 4)])
    day2 = ("2024-01-02 00:00:00", "2024-01-03 00:00:00")
    if shape == "append":
        store.append("t", first)
    elif shape == "partitioned_append":
        store.append("t", first, day_col="bucket_ts")
    elif shape == "overwrite_range":
        store.append("t", first)
        store.overwrite_range("t", later.filter("key = 'd'"), "bucket_ts", *day2)
    elif shape == "delete_below":
        store.append("t", first)
        store.delete_below("t", "bucket_ts", day2[0])
    elif shape == "compacted":
        store.append("t", first, day_col="bucket_ts")
        store.append("t", later)
        store.delete_below("t", "bucket_ts", day2[0])
        store.compact("t")
    elif shape == "mixed":
        store.append("t", first, day_col="bucket_ts")
        store.append("t", later)
        store.overwrite_range(
            "t", _typed(spark, [("z", 2)]), "bucket_ts", *day2, day_col="bucket_ts"
        )


@pytest.mark.parametrize(
    "shape",
    ["append", "partitioned_append", "overwrite_range", "delete_below", "compacted", "mixed"],
)
def test_read_with_manifest_schema_equals_inferred(spark, store, shape, monkeypatch):
    """Every commit shape reads back, with the schema its manifest
    records, the schema and rows that schema inference gives the same
    chain."""
    _commit_shape(spark, store, shape)
    got = store.read("t")
    schema, rows = got.schema, sorted(got.collect(), key=lambda r: r.key)
    with monkeypatch.context() as mp:
        mp.setattr(DataFrameReader, "schema", lambda reader, _schema: reader)
        inferred = store.read("t")
        want_schema, want_rows = inferred.schema, sorted(inferred.collect(), key=lambda r: r.key)
    assert schema == want_schema
    assert rows == want_rows and rows


def test_read_without_manifest_schema_raises(spark, store):
    snap = store.append("t", _pts(spark, [("a", 1, 0, 1.0)]))
    path = store._manifest_path("t")
    with open(path) as f:
        m = json.load(f)
    del m["snapshots"][0]["schema"]
    with open(path, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match=f"{snap}.*'t'"):
        store.read("t")


def test_two_writers_keep_every_snapshot(spark, store, monkeypatch):
    """Two threads committing to one table both read the manifest before
    either swaps it (the barrier holds each reader until the other has
    read too, or gives up after 1 s when the lock keeps the other out);
    every snapshot survives, in one parent chain."""
    store.append("t", _pts(spark, [("a", 1, 0, 1.0)]))
    read_manifest = store._manifest
    both_read = threading.Barrier(2)

    def read_then_wait(table):
        m = read_manifest(table)
        try:
            both_read.wait(timeout=1)
        except threading.BrokenBarrierError:
            pass
        return m

    monkeypatch.setattr(store, "_manifest", read_then_wait)
    frames = [_pts(spark, [(d, 2, 0, 2.0)]) for d in ("b", "c")]
    writers = [threading.Thread(target=store.append, args=("t", df)) for df in frames]
    for w in writers:
        w.start()
    for w in writers:
        w.join(timeout=120)
        assert not w.is_alive()
    monkeypatch.undo()

    snaps = store.snapshots("t")
    assert len(snaps) == 3
    assert [e["parent"] for e in snaps] == [None] + [e["snapshot_id"] for e in snaps[:-1]]
    assert store.current_snapshot("t") == snaps[-1]["snapshot_id"]
    assert sorted(r.domain for r in store.read("t").collect()) == ["a", "b", "c"]


def test_concurrent_set_meta_loses_no_key(store):
    """More writer threads than cores, each adding its own keys through
    the manifest read-modify-write with a short switch interval: no
    update is lost."""
    def write(i):
        for j in range(10):
            store.set_meta("t", **{f"k{i}_{j}": j})

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        writers = [threading.Thread(target=write, args=(i,)) for i in range(8)]
        for w in writers:
            w.start()
        for w in writers:
            w.join(timeout=60)
            assert not w.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert store.meta("t") == {f"k{i}_{j}": j for i in range(8) for j in range(10)}
