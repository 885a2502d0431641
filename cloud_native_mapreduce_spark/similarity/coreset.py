"""Coreset selection over the embedding table: greedy k-center
(farthest-point traversal, Gonzalez 1985 — the 2-approximation for
minimax coverage) — the EMBEDDING-SPACE diversity pick next to
`curation.greedy_coverage_select`'s lexical one: choose k vectors so
every vector is close to some pick; the natural seed-selection /
"spread" sampler for semantic dedup thresholds, annotation batches,
and eval-set construction.

Exactness: embeddings quantize once to the engine's 1e-4 integer grid
(the graph_ann convention), distances are 1e8 − exact-int dot
(unit-norm ⇒ dot IS scaled cosine), so the per-round argmax
(farthest, ties by vec_id) and the final coverage radius are pure
integer comparisons — no floats anywhere in the operator.

Scale: each of the k rounds is one broadcast of the 1-row new center
against the vector frame (a narrow map — zip_with/aggregate inside
codegen), a least() fold into the running min-distance column, and a
deterministic 1-row TakeOrdered; the frame is localCheckpointed per
round so lineage stays flat. No collects, no all-pairs."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_native_mapreduce_spark.session import cut, loop_session

#: Picks made by k_center_select.
K_CENTER_K = 5
#: Scaled self-similarity of a unit vector on the 1e-4 grid.
DOT_SCALE = 100_000_000

#: Exact integer dot of the row vector q against the broadcast center
#: cq (both BIGINT arrays) — JVM higher-order functions, no UDF.
_DOT = ("aggregate(zip_with(q, cq, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)")


def k_center_select(embeddings: DataFrame,
                    k: int = K_CENTER_K) -> DataFrame:
    """(pick_rank, vec_id, separation, coverage_radius): greedy
    farthest-point picks; separation = the new pick's distance to
    its nearest earlier center (DOT_SCALE for the seed), and
    coverage_radius = max over all vectors of the distance to their
    nearest center AFTER all k picks (the k-center objective)."""
    q = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
               " * 10000) AS BIGINT))").alias("q"))
    loop = loop_session(q)
    seed = cut(q.orderBy("vec_id").limit(1), loop)
    state = cut(q.crossJoin(F.broadcast(seed.select(F.col("q").alias("cq"))))
                .select("vec_id", "q",
                        (F.lit(DOT_SCALE) - F.expr(_DOT)).alias("dmin")),
                loop)
    out = seed.select(F.lit(1).cast("bigint").alias("pick_rank"),
                      "vec_id",
                      F.lit(DOT_SCALE).cast("bigint").alias("separation"))
    for r in range(2, k + 1):
        pick = cut(state.orderBy(F.col("dmin").desc(), "vec_id").limit(1),
                   loop)
        out = out.unionByName(
            pick.select(F.lit(r).cast("bigint").alias("pick_rank"),
                        "vec_id",
                        F.col("dmin").cast("bigint").alias("separation")))
        state = cut(state.crossJoin(F.broadcast(
            pick.select(F.col("q").alias("cq"))))
            .select("vec_id", "q",
                    F.least(F.col("dmin"),
                            F.lit(DOT_SCALE) - F.expr(_DOT))
                    .alias("dmin")), loop)
    radius = state.agg(F.max("dmin").cast("bigint")
                       .alias("coverage_radius"))
    return out.crossJoin(F.broadcast(radius))
