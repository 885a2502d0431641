"""Allen interval algebra: one hand-built pair per relation (all 13),
plus exhaustiveness and plan shape on the real corpus."""

import datetime


from cloud_native_mapreduce_spark.operators.relational import (
    allen_interval_relations)
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"

ALL_RELATIONS = {
    "before", "meets", "overlaps", "starts", "during", "finishes",
    "equals", "after", "met_by", "overlapped_by", "started_by",
    "contains", "finished_by",
}


def _orders(spark, rows):
    """rows = (custkey, orderkey, date) — duration is orderkey%25+1
    days, interval 1 is the LOWER orderkey of the pair."""
    data = [(ok, ck, datetime.datetime(2020, 1, d)) for ck, ok, d in rows]
    return spark.createDataFrame(
        data, "o_orderkey long, o_custkey long, o_orderdate timestamp")


def test_all_thirteen_relations_classify_correctly(spark):
    # one customer per relation; interval = [date, date + ok%25+1 days]
    cases = {
        # rel: (ok1, day1, ok2, day2) with ok1 < ok2
        "before":        (25, 1, 50, 10),    # [1,2]  vs [10,11]
        "meets":         (26, 1, 50, 3),     # [1,3]  vs [3,4]
        "overlaps":      (28, 1, 54, 3),     # [1,5]  vs [3,8]
        "starts":        (25, 1, 52, 1),     # [1,2]  vs [1,4]
        "during":        (25, 2, 53, 1),     # [2,3]  vs [1,5]
        "finishes":      (25, 4, 53, 1),     # [4,5]  vs [1,5]
        "equals":        (25, 1, 50, 1),     # [1,2]  vs [1,2]
        "after":         (25, 10, 50, 1),    # [10,11] vs [1,2]
        "met_by":        (25, 3, 51, 1),     # [3,4]  vs [1,3]
        "overlapped_by": (29, 3, 53, 1),     # [3,8]  vs [1,5]
        "started_by":    (27, 1, 50, 1),     # [1,4]  vs [1,2]
        "contains":      (28, 1, 50, 2),     # [1,5]  vs [2,3]
        "finished_by":   (28, 1, 50, 4),     # [1,5]  vs [4,5]
    }
    rows = []
    for ck, (rel, (ok1, d1, ok2, d2)) in enumerate(cases.items(), 1):
        rows.append((ck, ok1, d1))
        rows.append((ck, ok2, d2))
    got = {r.rel: (r.n_pairs, r.n_customers)
           for r in allen_interval_relations(_orders(spark,
                                                     rows)).collect()}
    assert got == {rel: (1, 1) for rel in cases}


def test_classification_is_exhaustive_on_corpus(spark):
    """Every same-customer pair lands in exactly one relation (no
    NULL bucket) and total pairs equal C(n_orders_per_cust, 2)."""
    orders = load_table(spark, SF_DIR, "orders")
    rows = allen_interval_relations(orders).collect()
    assert {r.rel for r in rows} <= ALL_RELATIONS
    assert None not in {r.rel for r in rows}
    per_cust = (orders.groupBy("o_custkey").count().collect())
    want_pairs = sum(r["count"] * (r["count"] - 1) // 2
                     for r in per_cust)
    assert sum(r.n_pairs for r in rows) == want_pairs


def test_plan_is_customer_keyed_equi_join(spark):
    orders = load_table(spark, SF_DIR, "orders")
    a = PA.audit(allen_interval_relations(orders))
    assert "CartesianProduct" not in a.text
    assert "BroadcastNestedLoopJoin" not in a.text
    assert a.unpartitioned_window_count == 0
