"""Markov stationary distribution: probability invariants + a
hand-checked absorbing-ish chain."""

from cloud_native_mapreduce_spark.operators.events import (
    markov_stationary)
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table


def test_distribution_sums_to_one(spark):
    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    rows = markov_stationary(ev).collect()
    assert len(rows) == 5
    total = sum(r.pi for r in rows)
    assert abs(total - 1.0) < 1e-4
    assert all(0.0 <= r.pi <= 1.0 for r in rows)


def test_biased_chain_concentrates(spark):
    """A chain where every state transitions to 'view' should
    concentrate pi on view."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    seq = ["click", "view", "view", "view", "view", "view",
           "purchase", "view", "view", "view", "view", "view"]
    ev = spark.createDataFrame(
        [(i, 1, t, base + dt.timedelta(seconds=i), 1.0)
         for i, t in enumerate(seq)],
        "event_id long, user_id long, event_type string, "
        "ts timestamp, value double")
    rows = {r.state: r.pi for r in markov_stationary(ev).collect()}
    # states never observed as antecedents have all-zero rows, so
    # total mass < 1 on this toy chain; compare normalized share
    total = sum(rows.values())
    assert rows["view"] / total > 0.8


def test_plan_shape(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    a = PA.audit(markov_stationary(ev))
    assert a.unpartitioned_window_count == 0
    assert a.global_sort_count == 0
    assert "CartesianProduct" not in a.text
