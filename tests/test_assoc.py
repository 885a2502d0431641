"""Association-rule invariants on a hand-built basket set + plan shape."""

from cloud_native_mapreduce_spark.operators import assoc as A
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table


def test_hand_checked_metrics(spark):
    """Baskets: {1,2} x3, {1,3} x1, {2,3} x1 -> rule 1->2 support 3,
    sup(1)=4, sup(2)=4, n=5; conf=3*10000//4=7500;
    lift=3*5/(4*4)=0.9375."""
    rows = [(o, p) for o, ps in enumerate(
        [[1, 2], [1, 2], [1, 2], [1, 3], [2, 3]]) for p in ps]
    li = spark.createDataFrame(
        [(o, p) for o, p in rows], "l_orderkey long, l_partkey long")
    got = {(r.antecedent, r.consequent): r
           for r in A.association_rules(li, min_support=3).collect()}
    assert set(got) == {(1, 2), (2, 1)}
    r = got[(1, 2)]
    assert r.support == 3
    assert r.conf_x10000 == 7500
    assert r.lift == 0.9375


def test_sequential_rules_respect_order(spark):
    """Customer buys part 7 then part 9 (twice across two customers):
    rule 7->9 exists with support 2, 9->7 does not."""
    orders = spark.createDataFrame(
        [(1, 10, "1996-01-01"), (1, 11, "1996-02-01"),
         (2, 20, "1996-01-05"), (2, 21, "1996-03-01")],
        "o_custkey long, o_orderkey long, o_orderdate string")
    li = spark.createDataFrame(
        [(10, 7), (11, 9), (20, 7), (21, 9)],
        "l_orderkey long, l_partkey long")
    got = {(r.antecedent, r.consequent): r
           for r in A.next_purchase_rules(orders, li).collect()}
    assert set(got) == {(7, 9)}
    assert got[(7, 9)].support == 2
    assert got[(7, 9)].conf_x10000 == 10000


def test_plan_shape(spark):
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    for df in (A.association_rules(li), A.next_purchase_rules(o, li)):
        a = PA.audit(df)
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0
        assert "CartesianProduct" not in a.text


def test_subsequence_patterns_match_bruteforce(spark):
    """Greedy earliest matching must agree with a brute-force
    all-embeddings subsequence check, per user, including ties on ts
    broken by event_id and patterns with repeated types."""
    import datetime
    from itertools import combinations, product

    from cloud_native_mapreduce_spark.operators.assoc import (
        subsequence_patterns)

    t0 = datetime.datetime(2024, 1, 1)
    streams = {1: ["a", "c", "b", "a", "b"],
               2: ["b", "b", "b"],
               3: ["c", "a"],
               4: ["a"]}
    rows, eid = [], 0
    for uid, seq in streams.items():
        for i, t in enumerate(seq):
            # user 2's events share one timestamp: order = event_id
            ts = t0 if uid == 2 else t0 + datetime.timedelta(minutes=i)
            rows.append((eid, ts, uid, t, 1.0))
            eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    got = {(r.t1, r.t2, r.t3): r.n_users
           for r in subsequence_patterns(events).collect()}

    want = {}
    for trip in product("abc", repeat=3):
        n = sum(any(tuple(seq[i] for i in idx) == trip
                    for idx in combinations(range(len(seq)), 3))
                for seq in streams.values())
        if n:
            want[trip] = n
    assert got == want
