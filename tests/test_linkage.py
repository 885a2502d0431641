"""Fellegi-Sunter record linkage: blocking losslessness, scoring
quality, and plan shape."""

import pyspark.sql.functions as F
import pytest

from cloud_native_mapreduce_spark.operators import linkage as L
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def customer(spark):
    return load_table(spark, SF_DIR, "customer")


def test_quality_meets_design_targets(customer):
    row = L.linkage_quality(customer).collect()[0]
    assert row.precision >= 0.95
    assert row.recall >= 0.95
    assert row.f1 >= 0.95


def test_every_corruption_mode_keeps_one_block_key(customer):
    """Blocking losslessness: for EVERY true pair, prefix-17 or tail-5
    of the corrupted name equals the clean one's — so no true pair is
    lost before scoring."""
    dirty = L.corrupted_customers(customer).withColumn(
        "clean_key", F.col("dirty_key") - L.DIRTY_OFFSET)
    joined = dirty.join(
        customer.select(F.col("c_custkey").alias("clean_key"),
                        F.col("c_name")), "clean_key")
    lost = joined.where(
        (F.substring("c_name", 1, 17) != F.substring("d_name", 1, 17))
        & (F.substring("c_name", 14, 5) != F.substring("d_name", 14, 5))
    ).count()
    assert lost == 0


def test_matches_are_scored_above_threshold_only(customer):
    m = L.record_linkage(customer)
    assert m.where(F.col("score") < L.MATCH_THRESHOLD).count() == 0


def test_corruption_is_deterministic(customer):
    a = L.corrupted_customers(customer).orderBy("dirty_key").collect()
    b = L.corrupted_customers(customer).orderBy("dirty_key").collect()
    assert a == b
    # all three name modes actually occur
    modes = {r.d_name[-1] == "X" for r in a[:200]}
    lens = {len(r.d_name) for r in a}
    assert lens == {17, 18}


def test_plan_shape(customer):
    a = PA.audit(L.record_linkage(customer))
    assert "CartesianProduct" not in a.text
    assert a.unpartitioned_window_count == 0
    assert a.global_sort_count == 0
    aq = PA.audit(L.linkage_quality(customer))
    assert "CartesianProduct" not in aq.text


def test_golden_record_survivorship_invariants(spark, sf_dir):
    """Survivorship invariants at sf0.001: every record lands in
    exactly one entity (sum of cluster sizes = clean + dirty corpus);
    the overwhelming majority of entities are the true {k, k+OFFSET}
    pair; blank-demotion means NO pair-or-larger entity ever
    survives with segment 'UNKNOWN' (the clean member always has a
    real segment); and the master-record rule puts the balance on
    the clean side (master_key below the replica offset) for every
    multi-member entity."""
    from cloud_native_mapreduce_spark.operators.linkage import (
        DIRTY_OFFSET,
        golden_record,
    )
    from cloud_native_mapreduce_spark.sources.tables import load_table

    customer = load_table(spark, sf_dir, "customer")
    n = customer.count()
    rows = golden_record(customer).collect()
    assert sum(r.n_members for r in rows) == 2 * n
    pairs = [r for r in rows if r.n_members >= 2]
    assert len(pairs) >= 0.9 * n
    for r in pairs:
        assert r.golden_seg != "UNKNOWN"
        assert r.master_key < DIRTY_OFFSET
        assert r.entity_id == r.master_key  # min-key is both label+master
