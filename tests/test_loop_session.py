"""The loop session (`session.loop_session`) and the lineage cut
(`session.cut`): width rule, child reuse, where a cut runs, checkpoint
hand-back, and the promise that the caller's conf is only read. Also
the host-sized driver heap default."""

from __future__ import annotations

import pytest
from pyspark import SparkContext

from cloud_native_mapreduce_spark import session as S
from cloud_native_mapreduce_spark.registry import QUERIES

#: rows of `spark.range` whose size estimate (8 B per row) is one
#: advisory partition (64 MiB), and one minimum partition (1 MiB)
_PER_PARTITION = 64 * 2**20 // 8
_PER_MIB = 2**20 // 8


def test_host_driver_memory_is_half_the_ram_capped_at_16g(monkeypatch):
    page = 4096

    def host(gib):
        def sysconf(name):
            return page if name == "SC_PAGE_SIZE" else gib * 2**30 // page
        return sysconf

    monkeypatch.setattr(S.os, "sysconf", host(16))
    assert S.host_driver_memory() == "8192m"
    monkeypatch.setattr(S.os, "sysconf", host(64))
    assert S.host_driver_memory() == "16384m"

    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(S.os, "sysconf", unknown)
    assert S.host_driver_memory() == "16g"


def _cores(monkeypatch, n):
    """Make the SparkContext report `n` as its default parallelism."""
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: n))


@pytest.fixture
def rule_spark(spark, monkeypatch):
    """The shared session with 1 core, so that the advisory term
    decides W. With the suite's 8 cores every frame of 4 MiB or more
    would clamp to the cap, that is to AQE."""
    _cores(monkeypatch, 1)
    return spark


def test_width_rule(rule_spark, monkeypatch):
    """W = clamp(ceil(edges_bytes / advisory),
    min(cores, ceil(edges_bytes / min_partition)), shuffle.partitions)."""
    spark = rule_spark
    assert S.loop_width(spark.range(200)) == 1
    assert S.loop_width(spark.range(2 * _PER_PARTITION)) == 2
    assert S.loop_width(spark.range(3 * _PER_PARTITION)) == 3
    assert S.loop_width(spark.range(3 * _PER_PARTITION + 1)) == 4
    assert S.loop_width(spark.range(100 * _PER_PARTITION)) == 4
    _cores(monkeypatch, 3)
    assert S.loop_width(spark.range(200)) == 1
    assert S.loop_width(spark.range(2 * _PER_MIB)) == 2
    assert S.loop_width(spark.range(2 * _PER_MIB + 1)) == 3
    assert S.loop_width(spark.range(10 * _PER_MIB)) == 3
    assert S.loop_width(spark.range(3 * _PER_PARTITION + 1)) == 4
    _cores(monkeypatch, 8)
    assert S.loop_width(spark.range(10 * _PER_MIB)) == 4


def test_one_child_per_width_and_caller_at_the_clamp(rule_spark,
                                                     monkeypatch):
    spark = rule_spark
    before = spark.conf.getAll
    one = S.loop_session(spark.range(10))
    assert one is S.loop_session(spark.range(500))
    two = S.loop_session(spark.range(2 * _PER_PARTITION))
    assert two is S.loop_session(spark.range(2 * _PER_PARTITION - 5))
    assert one is not two and one is not spark
    for child, width in ((one, "1"), (two, "2")):
        assert child.conf.get("spark.sql.adaptive.enabled") == "false"
        assert child.conf.get("spark.sql.shuffle.partitions") == width
        assert child.sparkContext is spark.sparkContext
    assert S.loop_session(spark.range(100 * _PER_PARTITION)) is spark
    _cores(monkeypatch, 4)  # as many cores as shuffle partitions
    assert S.loop_session(spark.range(4 * _PER_MIB)) is spark
    assert S.loop_session(spark.range(10)) is one
    assert spark.conf.getAll == before


def test_child_is_replaced_when_the_caller_conf_changes(rule_spark):
    """A caller conf change gives a fresh child that copies it, in
    place of the old one: one cached child per width, not per conf."""
    spark = rule_spark
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    one = S.loop_session(spark.range(10))
    spark.conf.set(key, "1234")
    try:
        fresh = S.loop_session(spark.range(10))
        assert fresh is not one and fresh.conf.get(key) == "1234"
        assert S.loop_session(spark.range(10)) is fresh
        assert spark.__dict__["_cnms_loop_sessions"][1][1] is fresh
    finally:
        spark.conf.set(key, old)


def test_cut_hands_back_a_partitioned_frame(rule_spark, monkeypatch):
    spark = rule_spark
    _cores(monkeypatch, 2)  # W=2: one partition would read SinglePartition
    loop = S.loop_session(spark.range(2 * _PER_MIB))
    assert loop.conf.get("spark.sql.shuffle.partitions") == "2"
    df = spark.range(50).selectExpr("id % 7 AS v", "id AS x") \
        .groupBy("v").sum("x")
    ck = S.cut(df, loop)
    assert ck.sparkSession is spark
    assert sorted(ck.collect()) == sorted(df.collect())
    plan = ck._jdf.queryExecution().executedPlan()
    assert "Scan ExistingRDD" in plan.toString(), plan.toString()
    assert plan.outputPartitioning().toString() \
        .startswith("hashpartitioning(v#"), plan.outputPartitioning()


def test_an_estimate_past_the_int_limit_is_at_the_clamp(rule_spark):
    """A size estimate with more digits than Python converts to an int
    (4300) is past every width: the rule returns its upper clamp."""
    spark = rule_spark
    df = spark.range(10**18).toDF("c")
    for i in range(8):  # each self cross join squares the estimate
        df = df.crossJoin(df.toDF(*[f"{c}{i}" for c in df.columns]))
    assert S.loop_width(df) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))


def _cut_sessions(spark, monkeypatch):
    """Record the session of every frame `localCheckpoint` runs on."""
    seen = []
    frame = type(spark.range(1))  # the concrete class, not the API base
    real = frame.localCheckpoint

    def recording(self, *args, **kwargs):
        seen.append(self.sparkSession)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", recording)
    return seen


def test_cut_of_a_small_frame_runs_in_the_width_child(rule_spark,
                                                      monkeypatch):
    spark = rule_spark
    seen = _cut_sessions(spark, monkeypatch)
    df = spark.range(40).selectExpr("id % 3 AS k").groupBy("k").count()
    ck = S.cut(df)
    child = S.loop_session(df)
    assert seen == [child] and child is not spark
    assert child.conf.get("spark.sql.adaptive.enabled") == "false"
    assert child.conf.get("spark.sql.shuffle.partitions") == "1"
    assert ck.sparkSession is spark
    assert sorted(ck.collect()) == sorted(df.collect())


def test_cut_at_the_clamp_runs_in_the_caller_session(rule_spark,
                                                     monkeypatch):
    spark = rule_spark
    seen = _cut_sessions(spark, monkeypatch)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")  # the upper clamp: every frame is at it
    try:
        df = spark.range(40).selectExpr("id % 3 AS k").groupBy("k").count()
        ck = S.cut(df)
        assert S.loop_session(df) is spark
        assert sorted(ck.collect()) == sorted(df.collect())
    finally:
        spark.conf.set(key, old)
    assert seen == [spark]
    assert ck.sparkSession is spark


def test_a_one_off_cut_is_sized_by_its_inputs(rule_spark, monkeypatch):
    """A frame topped by a limit or a global aggregate has a tiny
    output estimate, but every shuffle under it runs at the cut's
    width: the cut takes the width of its largest input instead."""
    spark = rule_spark
    big = spark.range(3 * _PER_PARTITION)
    top = big.selectExpr("id % 1000 AS k").groupBy("k").count().limit(5)
    total = big.groupBy().sum("id")
    assert S.loop_width(top) == 1 and S.loop_width(total) == 1
    assert S.cut_width(top) == S.cut_width(total) == S.loop_width(big) == 3
    seen = _cut_sessions(spark, monkeypatch)
    S.cut(top)
    assert seen == [S.loop_session(big)]


def test_a_converging_loop_cuts_every_round_in_one_session(rule_spark,
                                                          monkeypatch):
    """`connected_components` takes the loop session of its edge frame
    once: its rounds do not each size a width from their own,
    compounding, estimate."""
    from cloud_native_mapreduce_spark.dedup.components import (
        connected_components)
    spark = rule_spark
    nodes = spark.range(12).selectExpr("id AS doc_id")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 10, 2)] + [(1, 2), (5, 6)],
        "doc_a long, doc_b long")
    seen = _cut_sessions(spark, monkeypatch)
    comps = connected_components(nodes, edges).collect()
    assert len(seen) >= 4  # edges, seed labels and at least two rounds
    assert all(s is seen[0] for s in seen), seen
    assert len({r["comp"] for r in comps}) == 12 - 7


@pytest.mark.parametrize("name", [
    "dag_layers", "bfs_hops", "sssp_weighted", "pagerank",
    "pagerank_personalized", "kcore_membership", "label_propagation",
    "wl_fingerprints", "luby_mis", "boruvka_msf"])
def test_loop_queries_leave_caller_conf_untouched(rule_spark, sf_dir, name):
    spark = rule_spark
    spark.__dict__.pop("_cnms_loop_sessions", None)
    before = spark.conf.getAll
    QUERIES[name].builder(spark, sf_dir).collect()
    assert spark.conf.getAll == before
    assert list(spark.__dict__["_cnms_loop_sessions"]) == [1]  # ran there
