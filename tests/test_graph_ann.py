"""Graph-based ANN: k-NN graph build + beam search quality and plan
shape. The build must never degrade to all-pairs; the search must only
move a parameter-bounded frontier per round; and the approximation must
actually find neighbors (recall vs exact brute force)."""

import pyspark.sql.functions as F
import pytest

from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.similarity import graph_ann as GA
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def test_auto_planes_scaling_law():
    # expected bucket size stays ~TARGET_BUCKET at any corpus size
    assert GA.auto_planes(10) == 2
    assert GA.auto_planes(64) == 2
    assert GA.auto_planes(500) == 3
    assert GA.auto_planes(2000) == 5
    assert GA.auto_planes(2_000_000) == 15
    assert GA.auto_planes(64 * 2**20) == 20


def test_plane_sign_matches_duckdb_md5_parity():
    """The Python-baked literals and the oracle's in-query md5 must be
    the same function — check a sample against duckdb directly."""
    import duckdb
    con = duckdb.connect()
    for t, i, j in [(0, 0, 1), (1, 2, 17), (3, 7, 64), (2, 5, 33)]:
        got = con.execute(
            "SELECT CASE WHEN ('0x'||substr(md5(?||':'||?||'_'||?),1,8))"
            "::BIGINT % 2 = 0 THEN 1 ELSE -1 END",
            [str(t), str(i), str(j)]).fetchone()[0]
        assert got == GA.plane_sign(t, i, j), (t, i, j)


def test_knn_graph_degree_bounded(emb):
    g = GA.knn_graph(emb, k=8)
    over = (g.groupBy("src").count().where(F.col("count") > 8).count())
    assert over == 0
    # directed graph: every vector with at least one bucket-mate appears
    assert g.select("src").distinct().count() == 500


def test_knn_graph_never_plans_all_pairs(emb):
    a = PA.audit(GA.knn_graph(emb, k=8))
    assert "CartesianProduct" not in a.text
    assert a.unpartitioned_window_count == 0
    assert a.global_sort_count == 0


def test_search_plan_is_bounded(emb):
    df = GA.ann_graph_search(emb, graph_k=12)
    a = PA.audit(df)
    assert "CartesianProduct" not in a.text
    assert a.unpartitioned_window_count == 0
    # every orderBy feeds a limit -> TakeOrdered, never a global Sort
    assert a.global_sort_count == 0


def test_search_recall_vs_bruteforce(emb, spark):
    """The registry configuration (degree 12, beam 32, 4 rounds) must
    recover the exact top-10 on this corpus; degree 8 at least 80%."""
    q = emb.select("vec_id", GA.quantized(F.col("embedding")).alias("q"))
    qv = q.where(F.col("vec_id") == 0).select(F.col("q").alias("qq"))
    bf = (q.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
          .select("vec_id",
                  GA._int_dot(F.col("q"), F.col("qq")).alias("d"))
          .orderBy(F.col("d").desc(), "vec_id").limit(10))
    exact = {r.vec_id for r in bf.collect()}
    got12 = {r.vec_id for r in
             GA.ann_graph_search(emb, graph_k=12).collect()}
    assert len(exact & got12) == 10
    got8 = {r.vec_id for r in
            GA.ann_graph_search(emb, graph_k=8).collect()}
    assert len(exact & got8) >= 8


def test_search_excludes_query_and_orders_descending(emb):
    rows = GA.ann_graph_search(emb, graph_k=12).collect()
    assert all(r.vec_id != 0 for r in rows)
    dots = [r.dot_q for r in rows]
    assert dots == sorted(dots, reverse=True)
    assert len(rows) == 10
