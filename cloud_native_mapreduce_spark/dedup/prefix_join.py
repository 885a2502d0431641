"""Prefix-filtered set-similarity self-join (PPJoin's prefix filter —
Xiao, Wang, Lin & Yu, WWW 2008): all document pairs with token-set
Jaccard ≥ t, with candidate pairs generated from each set's PREFIX
under the canonical global token order instead of its full posting
list.

Why this exists next to `dedup/ngram_jaccard.py`: the shingle join
there bounds fan-out with an absolute df cap (lossy by design,
mirrored in its oracle). The prefix filter is the LOSSLESS version of
the same idea — sort each set by ascending corpus frequency and emit
only its first L − ⌈tL⌉ + 1 tokens as join keys; two sets with
Jaccard ≥ t MUST share a prefix token (pigeonhole on the ⌈tL⌉-sized
overlap), so no qualifying pair is missed, while corpus-hot tokens
sort to the END of every set and never become join keys at all. The
oracle runs the UNFILTERED full-posting join with the same final
Jaccard predicate, so the driver's value gate verifies the filter's
losslessness itself, pair for pair.

Scale: one tokenize; the df frame is vocabulary-bounded and
broadcasts; prefix selection is a doc-partitioned rank window; the
candidate join's fan-out is Σ over PREFIX postings of df² — skew-
resistant by construction because a token's prefix-posting count
shrinks as its df grows (hot tokens leave the prefixes). Exact
verification joins full postings for candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_native_mapreduce_spark.functions.text import tokens
from cloud_native_mapreduce_spark.session import cut

#: Jaccard threshold as an exact rational (t = T_NUM / T_DEN).
#: 0.9, not the PPJoin-paper-typical 0.6: the synthetic documents
#: corpus shares most of its vocabulary across docs (59% of ALL pairs
#: clear 0.6 at sf0.01), so a low threshold degenerates to near-all-
#: pairs OUTPUT regardless of filter quality; at 0.9 the prefix is
#: ~0.1·L+1 tokens, which is also where the filter prunes hardest.
T_NUM = 9
T_DEN = 10


def jaccard_prefix_join(docs: DataFrame, text_col: str = "text",
                        dedup_identical: bool | str = "auto") -> DataFrame:
    """(doc_a, doc_b, n_shared, jaccard) for every pair with
    token-set Jaccard ≥ T_NUM/T_DEN, candidates from prefix postings
    only (lossless, see module docstring). Ties in the canonical
    token order break on the token string; prefix length
    L − ⌈tL⌉ + 1 uses exact integer ceil arithmetic.

    `dedup_identical`: the round-7 duplication-immunity rule
    (ngram_jaccard's canonicalization, applied verbatim): Jaccard is
    a pure function of text, so byte-identical docs collapse to one
    representative BEFORE any posting work and member pairs expand
    back afterwards — intra-group pairs are exactly J = 1.0 with
    n_shared = the set size (no cap here, unlike ngram_jaccard's
    capped variant), cross pairs inherit their reps' scores. On the
    10×-tiled soak corpus the naive plan's candidate+verify volume
    is 100× the canonical one (>600 s vs seconds at sf1 — measured
    this round before the gate was added). "auto" pays for
    canonicalization only past canonical.AUTO_RATIO."""
    from pyspark import StorageLevel

    from cloud_native_mapreduce_spark.dedup import canonical

    if dedup_identical == "auto":
        docs = (docs.select("doc_id", F.col(text_col))
                .persist(StorageLevel.MEMORY_AND_DISK))
    dedup_identical = canonical.resolve(
        docs, F.col(text_col), dedup_identical)
    if dedup_identical:
        keyed = docs.select("doc_id", F.col(text_col),
                            F.md5(F.col(text_col)).alias("_ckey"))
        groups = (keyed.groupBy("_ckey")
                  .agg(F.min("doc_id").alias("rep_id"),
                       F.first(text_col).alias(text_col))
                  .persist(StorageLevel.MEMORY_AND_DISK))
        rep_docs = groups.select(F.col("rep_id").alias("doc_id"),
                                 text_col)
        members = (keyed.select("doc_id", "_ckey")
                   .join(groups.select("_ckey", "rep_id"), "_ckey")
                   .select("doc_id", "rep_id")
                   .persist(StorageLevel.MEMORY_AND_DISK))
    else:
        rep_docs = docs.select("doc_id", F.col(text_col))
        members = None
    toks = (rep_docs.select("doc_id",
                            F.explode(tokens(F.col(text_col)))
                            .alias("tok"))
            .distinct()
            # cut: `cut` raises jaccard_prefix_join 19/19 → 28/28 jobs
            .localCheckpoint(eager=False))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = toks.join(F.broadcast(dfreq), "tok")
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = (ordered.withColumn("rk", F.row_number().over(w))
              .join(F.broadcast(sizes), "doc_id"))
    # prefix length = sz − ceil(t·sz) + 1; ceil(a/b) = (a+b−1) DIV b
    prefix = ranked.where(
        F.col("rk") <= F.col("sz")
        - F.expr(f"({T_NUM} * sz + {T_DEN} - 1) DIV {T_DEN}") + 1) \
        .select("doc_id", "tok", "sz")
    # round-14 optimizations on the candidate stage:
    #   * LENGTH FILTER (PPJoin §3.1, lossless): J >= t forces
    #     t·|B| <= |A| (shared <= |A| and shared >= t·union >= t·|B|),
    #     checked with exact integer cross-multiplication BEFORE the
    #     pair distinct — prunes size-incompatible candidates without
    #     touching the result set;
    #   * PINNED join width: the prefix frame is tiny in BYTES, so AQE
    #     coalesces the token join to one partition and the Σ df²
    #     candidate FAN-OUT (11.3M pairs at sf0.1) would compute on one
    #     core; an explicit repartition on the join key at the
    #     deploy-configured width replaces (not adds to) the join's own
    #     exchange and keeps the fan-out parallel. Width comes from
    #     spark.sql.shuffle.partitions — the knob a cluster deploy
    #     already sizes — never a local constant.
    n_shuffle = int(docs.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    a = (prefix.select(F.col("doc_id").alias("doc_a"), "tok",
                       F.col("sz").alias("sz_pa"))
         .repartition(n_shuffle, F.col("tok")))
    b = (prefix.select(F.col("doc_id").alias("doc_b"), "tok",
                       F.col("sz").alias("sz_pb"))
         .repartition(n_shuffle, F.col("tok")))
    cand = cut(a.join(b, "tok")
               .where((F.col("doc_a") < F.col("doc_b"))
                      & (F.col("sz_pa") * T_DEN >= T_NUM * F.col("sz_pb"))
                      & (F.col("sz_pb") * T_DEN >= T_NUM * F.col("sz_pa")))
               .select("doc_a", "doc_b").distinct())
    # verify via sorted-array intersection (the triangle_count
    # edge-iterator lesson, round-14 optimization): the former
    # posting-explode form joined every candidate pair with BOTH full
    # posting lists — |cand| × tokens-per-doc rows (~150M at sf0.1)
    # through a shuffle + pair aggregate; attaching each doc's sorted
    # distinct-token array once and intersecting JVM-side shuffles
    # Σ doc tokens bytes + |cand| narrow rows instead. Both sides are
    # distinct sets, so |array_intersect| IS the shared-token count —
    # value-identical, and the oracle stays the unfiltered full join.
    arrs = (toks.groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("tok")).alias("ts")))
    aa = arrs.select(F.col("doc_id").alias("doc_a"),
                     F.col("ts").alias("ts_a"))
    ab = arrs.select(F.col("doc_id").alias("doc_b"),
                     F.col("ts").alias("ts_b"))
    shared = (cand.join(aa, "doc_a").join(ab, "doc_b")
              .select("doc_a", "doc_b",
                      F.size(F.array_intersect("ts_a", "ts_b"))
                      .cast("bigint").alias("n_shared")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("sz_b"))
    uni = "(sz_a + sz_b - n_shared)"
    rep_pairs = (shared.join(F.broadcast(sa), "doc_a")
                 .join(F.broadcast(sb), "doc_b")
                 .where(F.expr(f"n_shared * {T_DEN} >= {T_NUM} * {uni}"))
                 .select("doc_a", "doc_b",
                         F.col("n_shared").cast("bigint")
                         .alias("n_shared"),
                         (F.round(F.expr(
                             f"CAST(n_shared AS DOUBLE) / {uni}"), 4)
                          + F.lit(0.0)).alias("jaccard")))
    if not dedup_identical:
        return rep_pairs
    # cross-group expansion: member pairs inherit their reps' scores
    ma = members.select(F.col("rep_id").alias("doc_a"),
                        F.col("doc_id").alias("da"))
    mb = members.select(F.col("rep_id").alias("doc_b"),
                        F.col("doc_id").alias("db"))
    cross = (rep_pairs.join(ma, "doc_a").join(mb, "doc_b")
             .select(F.least("da", "db").alias("doc_a"),
                     F.greatest("da", "db").alias("doc_b"),
                     "n_shared", "jaccard"))
    # intra-group pairs: identical token sets, no cap anywhere =>
    # J = 1.0 exactly and n_shared = the set size
    dup = (members.join(
        sizes.select(F.col("doc_id").alias("rep_id"),
                     F.col("sz").alias("n_shared")), "rep_id"))
    ia = dup.select("rep_id", "n_shared", F.col("doc_id").alias("da"))
    ib = dup.select("rep_id", F.col("doc_id").alias("db"))
    intra = (ia.join(ib, "rep_id")
             .where(F.col("da") < F.col("db"))
             .select(F.col("da").alias("doc_a"),
                     F.col("db").alias("doc_b"),
                     F.col("n_shared").cast("bigint").alias("n_shared"),
                     (F.lit(1.0) + F.lit(0.0)).alias("jaccard")))
    return cross.unionByName(intra)
