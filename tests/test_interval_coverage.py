"""Interval-union islands: hand-built merge cases + plan shape."""

from cloud_native_mapreduce_spark.operators.events import (
    interval_coverage)
from cloud_native_mapreduce_spark.plans import audit as PA


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp")


def test_overlap_merges_and_gap_splits(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base),                              # island A: [0, 300)
        (1, base + dt.timedelta(seconds=200)),  # overlaps -> [0, 500)
        (1, base + dt.timedelta(seconds=900)),  # gap -> island B [900,1200)
        (2, base),                              # other user untouched
    ]
    got = {r.user_id: r for r in
           interval_coverage(_ev(spark, rows)).collect()}
    assert got[1].n_islands == 2
    assert got[1].covered_seconds == 500 + 300
    assert got[1].longest_island_seconds == 500
    assert got[2].n_islands == 1 and got[2].covered_seconds == 300


def test_touching_intervals_merge(spark):
    """[0,300) then start exactly at 300: s == prev_max -> NOT a new
    island (the half-open union is contiguous)."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [(1, base), (1, base + dt.timedelta(seconds=300))]
    [r] = interval_coverage(_ev(spark, rows)).collect()
    assert r.n_islands == 1
    assert r.covered_seconds == 600


def test_plan_two_partitioned_windows_only(spark):
    from cloud_native_mapreduce_spark.sources.tables import load_table
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    a = PA.audit(interval_coverage(ev))
    assert a.unpartitioned_window_count == 0
    assert a.global_sort_count == 0
    assert "CartesianProduct" not in a.text
