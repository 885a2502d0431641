"""Aggregate IVM: incremental result equals a from-scratch recompute,
and the plan never rescans base facts on the delta path."""

import pyspark.sql.functions as F

from cloud_native_mapreduce_spark.operators.relational import (
    ivm_agg_delta)
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_incremental_equals_recompute(spark):
    part = load_table(spark, SF_DIR, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    base = part.select(F.col("p_partkey").alias("k"),
                       F.col("p_brand").alias("brand"),
                       cents.alias("c"))
    post = (base.where(F.col("k") % 7 == 0)
            .select("brand", (F.col("c") + 200).alias("c"))
            .unionAll(base.where((F.col("k") % 7 != 0)
                                 & (F.col("k") % 11 != 0))
                      .select("brand", "c"))
            .unionAll(base.where(F.col("k") % 13 == 0)
                      .select("brand", F.lit(1).cast("bigint")
                              .alias("c"))))
    want = {r.brand: (r.n, r.s) for r in
            post.groupBy("brand")
            .agg(F.count("*").alias("n"), F.sum("c").alias("s"))
            .collect()}
    got = {r.brand: (r.n_parts, r.cents_total) for r in
           ivm_agg_delta(part).collect()}
    assert got == want


def test_plan_shape(spark):
    part = load_table(spark, SF_DIR, "part")
    a = PA.audit(ivm_agg_delta(part))
    assert a.unpartitioned_window_count == 0
    assert a.global_sort_count == 0
    assert "CartesianProduct" not in a.text
