"""Property: an incremental refresh equals a full recompute.

Random late batches are merged into stored rollup tiers
(``refresh_cascade``) and histogram tiers
(``refresh_hist_cascade_families``).  A batch is any mix of: a contiguous
run of minutes, a sparse pair of points days apart, a scattered backfill
with more than 64 isolated buckets, a brand-new series, points beyond the
end of the history — or nothing at all.  After the refresh every tier must
equal a recompute over history ∪ late, and a non-empty refresh must add
exactly one snapshot per tier (an empty one adds none).
"""

from __future__ import annotations

import datetime
import functools
import shutil

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from fischer_spark.operators.histogram import (
    hist_merge,
    hist_states_families,
    refresh_hist_cascade_families,
)
from fischer_spark.operators.rollup import refresh_cascade, tiered_rollups
from fischer_spark.sources.storage import ParquetManifestStore
from tests.conftest import assert_df_equal

BASE = datetime.datetime(2024, 1, 1)
HISTORY_MIN = 7 * 1440
SCHEMA = "domain string, metric string, tag string, bucket_ts timestamp, value double"
HIST_PARAMS = {"m": (0.0, 100.0, 20), "n": (-10.0, 10.0, 8)}
SERIES = [("a", "m"), ("b", "m"), ("a", "n")]


def _row(domain, metric, minute, value):
    return (domain, metric, None, BASE + datetime.timedelta(minutes=minute), value)


HISTORY = [
    _row(d, m, t, float((t // 20 * 7 + i) % 23) - 3.0)
    for i, (d, m) in enumerate(SERIES)
    for t in range(0, HISTORY_MIN, 20)
]


def contiguous(series, start, values):
    return [_row(*series, start + k, v) for k, v in enumerate(values)]


def sparse_pair(series, start, gap, v1, v2):
    return [_row(*series, start, v1), _row(*series, start + gap, v2)]


def scattered(series, offset, v):
    # one point every 2 h: 72 isolated buckets on the 1m and 1h tiers
    return [_row(*series, k * 120 + offset, v + k % 5) for k in range(72)]


def new_series(points):
    return [_row("z", "m", t, v) for t, v in points]


def beyond_history(series, start, values):
    return [_row(*series, HISTORY_MIN + start + 37 * k, v) for k, v in enumerate(values)]


series_st = st.sampled_from(SERIES)
value_st = st.integers(-40, 240).map(lambda v: v / 2)
minute_st = st.integers(0, HISTORY_MIN - 1)
late_st = st.lists(
    st.one_of(
        st.builds(contiguous, series_st, minute_st, st.lists(value_st, min_size=1, max_size=90)),
        st.builds(
            sparse_pair, series_st, st.integers(0, 2 * 1440),
            st.integers(3 * 1440, 4 * 1440), value_st, value_st,
        ),
        st.builds(scattered, series_st, st.integers(0, 59), value_st),
        st.builds(new_series, st.lists(st.tuples(minute_st, value_st), min_size=1, max_size=5)),
        st.builds(
            beyond_history, series_st, st.integers(0, 5 * 1440),
            st.lists(value_st, min_size=1, max_size=10),
        ),
    ),
    max_size=3,
).map(lambda parts: [r for p in parts for r in p])

# run besides the random draws, so each shape is always hit (an empty hist
# refresh is test_round3_fixes.py::test_refresh_hist_empty_delta_noop)
EVERY_SHAPE = (
    contiguous(SERIES[0], 100, [1.5] * 30)
    + sparse_pair(SERIES[1], 50, 4000, 7.0, 99.5)
    + scattered(SERIES[2], 13, -4.0)
    + new_series([(600, 3.0)])
    + beyond_history(SERIES[0], 200, [5.0, 6.0])
)
PROPERTY = settings(max_examples=2, deadline=None, derandomize=True)


@pytest.fixture(scope="module")
def base_roots(spark, tmp_path_factory):
    """The history's tiers, built once: {impl: root} for the rollup tiers
    and {"hist": root} for the histogram tiers."""
    history = spark.createDataFrame(HISTORY, SCHEMA)
    roots = {}
    for impl in ("decimal", "fixed64"):
        store = ParquetManifestStore(spark, str(tmp_path_factory.mktemp(impl)))
        for t, df in tiered_rollups(history, impl=impl).items():
            store.append(f"rollup_{t}", df)
        roots[impl] = store.root
    store = ParquetManifestStore(spark, str(tmp_path_factory.mktemp("hist")))
    store.append("hist_1h", hist_states_families(history, "1h", HIST_PARAMS))
    store.append("hist_1d", hist_merge(store.read("hist_1h"), "1d"))
    roots["hist"] = store.root
    return roots


def _clone(spark, tmp_path_factory, root):
    """A fresh store over the base tables: manifests hold absolute snapshot
    paths and snapshots are immutable, so copying the manifests is enough."""
    dst = tmp_path_factory.mktemp("clone")
    shutil.copytree(root, dst, ignore=shutil.ignore_patterns("snapshots"), dirs_exist_ok=True)
    return ParquetManifestStore(spark, str(dst))


def _union(dfs):
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def _check_commits(store, tables, before, snaps, late):
    after = {t: len(store.snapshots(t)) for t in tables}
    added = 1 if late else 0
    assert after == {t: n + added for t, n in before.items()}
    assert all((s is not None) == bool(late) for s in snaps.values()), snaps


@PROPERTY
@example(late=[], impl="decimal")
@example(late=EVERY_SHAPE, impl="fixed64")
@given(late=late_st, impl=st.sampled_from(["decimal", "fixed64"]))
def test_refresh_cascade_equals_recompute(spark, tmp_path_factory, base_roots, late, impl):
    store = _clone(spark, tmp_path_factory, base_roots[impl])
    tables = [f"rollup_{t}" for t in ("1m", "1h", "1d")]
    before = {t: len(store.snapshots(t)) for t in tables}

    snaps = refresh_cascade(store, spark.createDataFrame(late, SCHEMA), impl=impl)

    _check_commits(store, tables, before, snaps, late)
    want = tiered_rollups(spark.createDataFrame(HISTORY + late, SCHEMA), impl=impl)
    assert_df_equal(_union(store.read(t) for t in tables), _union(want.values()))


@PROPERTY
@example(late=EVERY_SHAPE)
@given(late=late_st)
def test_refresh_hist_cascade_families_equals_recompute(spark, tmp_path_factory, base_roots, late):
    store = _clone(spark, tmp_path_factory, base_roots["hist"])
    tables = ["hist_1h", "hist_1d"]
    before = {t: len(store.snapshots(t)) for t in tables}

    snaps = refresh_hist_cascade_families(
        store, spark.createDataFrame(late, SCHEMA), HIST_PARAMS
    )

    _check_commits(store, tables, before, snaps, late)
    want_1h = hist_states_families(
        spark.createDataFrame(HISTORY + late, SCHEMA), "1h", HIST_PARAMS
    )
    assert_df_equal(
        _union(store.read(t) for t in tables), want_1h.unionByName(hist_merge(want_1h, "1d"))
    )
