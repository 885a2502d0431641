"""Tabular CUSUM changepoint: closed-form window identity vs the
textbook recursion, detection behavior on the planted shift, plan
shape."""

import pyspark.sql.functions as F

from cloud_native_mapreduce_spark.operators import events as E
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_window_identity_matches_textbook_recursion(spark):
    """S_i = P_i - min(0, min_j P_j) must equal the sequential
    max(0, S+d) recursion — checked in plain Python on one type's
    series pulled once."""
    ev = load_table(spark, SF_DIR, "events")
    rows = (ev.where(F.col("event_type") == "click")
            .select("event_id", "ts", "value")
            .orderBy("ts", "event_id").collect())
    pivot = "2024-01-20 00:00:00"
    import datetime
    piv = datetime.datetime(2024, 1, 20)
    xs = [round(r.value * 100) + (E.CUSUM_SHIFT if r.ts >= piv else 0)
          for r in rows]
    base = [x for r, x in zip(rows, xs) if r.ts < piv]
    mu0 = sum(base) // len(base)
    s, alarms, mx = 0, 0, 0
    for x in xs:
        s = max(0, s + x - mu0 - E.CUSUM_K)
        mx = max(mx, s)
        if s > E.CUSUM_H:
            alarms += 1
    got = {r.event_type: r for r in
           E.cusum_changepoint(ev).collect()}["click"]
    assert got.n_alarms_up == alarms
    assert got.max_s_up == mx


def test_detects_shift_not_noise(spark):
    """Every type alarms only AFTER the planted pivot; no down alarms
    (the shift is upward)."""
    out = E.cusum_changepoint(load_table(spark, SF_DIR, "events"))
    for r in out.collect():
        assert r.n_alarms_down == 0, r
        assert r.n_alarms_up > 0, r
        assert r.first_alarm_ts >= "2024-01-20", r


def test_plan_single_partitioned_window(spark):
    df = E.cusum_changepoint(load_table(spark, SF_DIR, "events"))
    a = PA.audit(df)
    assert a.unpartitioned_window_count == 0
    assert a.global_sort_count == 0
    assert "CartesianProduct" not in a.text
