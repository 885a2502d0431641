"""MMR diversity re-ranking: greedy invariants and plan shape."""

import pyspark.sql.functions as F
import pytest

from cloud_native_mapreduce_spark.operators.retrieval import mmr_rerank
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.similarity.graph_ann import (
    _int_dot, quantized)
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def ranked(emb):
    return mmr_rerank(emb).orderBy("rank").collect()


def test_first_pick_is_pure_relevance_argmax(emb, ranked):
    q = emb.select("vec_id", quantized(F.col("embedding")).alias("q"))
    qv = q.where(F.col("vec_id") == 0).select(F.col("q").alias("qq"))
    top = (q.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
           .select("vec_id",
                   _int_dot(F.col("q"), F.col("qq")).alias("d"))
           .orderBy(F.col("d").desc(), "vec_id").limit(1).collect()[0])
    assert ranked[0].vec_id == top.vec_id
    assert ranked[0].rel_q == top.d


def test_mmr_reorders_but_never_invents(emb, ranked):
    """All picks come from the top-30 relevance pool, are distinct,
    and MMR scores decrease with rank (greedy argmax invariant —
    adding selections only lowers later marginal scores)."""
    assert len(ranked) == 10
    assert len({r.vec_id for r in ranked}) == 10
    scores = [r.mmr_x10 for r in ranked]
    assert scores == sorted(scores, reverse=True)
    # diversity actually engaged: the MMR order differs from the pure
    # relevance order
    rel_order = [r.vec_id for r in
                 sorted(ranked, key=lambda r: (-r.rel_q, r.vec_id))]
    assert [r.vec_id for r in ranked] != rel_order


def test_plan_shape(emb):
    a = PA.audit(mmr_rerank(emb))
    assert "CartesianProduct" not in a.text
    assert a.unpartitioned_window_count == 0
    assert a.global_sort_count == 0
