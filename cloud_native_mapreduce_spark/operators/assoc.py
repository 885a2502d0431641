"""Association-rule mining over order baskets (Agrawal & Srikant's
Apriori setting, pair rules) and its sequential sibling over
consecutive orders — the market-basket analytics a recommender
pipeline derives from transaction logs.

``association_rules``: items co-occurring in the SAME order.
Pair supports come from the per-basket sorted-array suffix-slice
enumeration (the `graph.copart_pairs` shape WITHOUT the distinct —
support needs multiplicity), so the fact table is never self-joined;
per-item supports and the basket count are one aggregate each.
Directed rules a→b and b→a are emitted for pairs at or above the
support floor with exact integer confidence
(support·10000 // sup(antecedent)) and lift rounded from exact counts.

``next_purchase_rules``: items in a customer's order followed by items
in their NEXT order (consecutive by date — one lead() over a window
partitioned by customer). The transition pair table is bounded by
(orders × items-per-order²), never |parts|².

At 100 TB: basket assembly is one shuffle on the order key; pair
enumeration is per-basket (bounded by lines-per-order); everything
downstream aggregates on item keys. No all-pairs over the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_native_mapreduce_spark.session import cut

#: Support floor for emitted rules.
MIN_SUPPORT = 3
#: Sequential-rule support floor (transitions are sparser).
MIN_SEQ_SUPPORT = 2


def association_rules(lineitem: DataFrame,
                      min_support: int = MIN_SUPPORT) -> DataFrame:
    """(antecedent, consequent, support, conf_x10000, lift) directed
    pair rules with support >= min_support."""
    baskets = (lineitem.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("ps")))
    pair_sup = (baskets
                .select(F.posexplode("ps").alias("i", "a"), F.col("ps"))
                .select("a", F.explode(
                    F.slice("ps", F.col("i") + F.lit(2), F.size("ps")))
                    .alias("b"))
                .groupBy("a", "b")
                .agg(F.count("*").cast("bigint").alias("support"))
                .where(F.col("support") >= min_support))
    item_sup = (baskets.select(F.explode("ps").alias("p"))
                .groupBy("p")
                .agg(F.count("*").cast("bigint").alias("sup_p")))
    n_baskets = baskets.agg(F.count("*").cast("bigint").alias("nb"))
    directed = (pair_sup.select(F.col("a").alias("antecedent"),
                                F.col("b").alias("consequent"),
                                "support")
                .unionByName(
                    pair_sup.select(F.col("b").alias("antecedent"),
                                    F.col("a").alias("consequent"),
                                    "support")))
    return (directed
            .join(item_sup.select(F.col("p").alias("antecedent"),
                                  F.col("sup_p").alias("sup_a")),
                  "antecedent")
            .join(item_sup.select(F.col("p").alias("consequent"),
                                  F.col("sup_p").alias("sup_c")),
                  "consequent")
            .crossJoin(F.broadcast(n_baskets))
            .select("antecedent", "consequent", "support",
                    F.expr("div(support * 10000, sup_a)")
                    .alias("conf_x10000"),
                    (F.round((F.col("support") * F.col("nb"))
                             / (F.col("sup_a") * F.col("sup_c")), 4)
                     + F.lit(0.0)).alias("lift")))


def next_purchase_rules(orders: DataFrame, lineitem: DataFrame,
                        min_support: int = MIN_SEQ_SUPPORT) -> DataFrame:
    """(antecedent, consequent, support, conf_x10000) sequential rules:
    part a in a customer's order, part c in their NEXT order."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate",
                                                "o_orderkey")
    trans = (orders
             .select("o_custkey", "o_orderkey", "o_orderdate")
             .withColumn("next_ok", F.lead("o_orderkey").over(w))
             .where(F.col("next_ok").isNotNull())
             .select(F.col("o_orderkey").alias("ok1"),
                     F.col("next_ok").alias("ok2")))
    items = lineitem.select(F.col("l_orderkey").alias("ok"),
                            F.col("l_partkey").alias("p")).distinct()
    ante = (trans.join(items.withColumnRenamed("ok", "ok1")
                       .withColumnRenamed("p", "a"), "ok1"))
    full = (ante.join(items.withColumnRenamed("ok", "ok2")
                      .withColumnRenamed("p", "c"), "ok2"))
    sup = (full.groupBy("a", "c")
           .agg(F.count("*").cast("bigint").alias("support"))
           .where(F.col("support") >= min_support))
    n_trans_a = (ante.groupBy("a")
                 .agg(F.count("*").cast("bigint").alias("n_a")))
    return (sup.join(n_trans_a, "a")
            .select(F.col("a").alias("antecedent"),
                    F.col("c").alias("consequent"), "support",
                    F.expr("div(support * 10000, n_a)")
                    .alias("conf_x10000")))


def subsequence_patterns(events: DataFrame) -> DataFrame:
    """Gap-allowed length-3 sequential patterns (the PrefixSpan
    projection step, Pei et al. ICDE 2001): for every ordered type
    triple (t1, t2, t3), how many users' event streams contain t1
    then t2 then t3 as a SUBSEQUENCE — any gaps allowed — under the
    total event order (ts, event_id). The with-gaps complement of
    `path_trigrams`' contiguous windows: "signup … later purchase …
    later error" counts here even with clicks in between.

    Existence of a subsequence is decided by GREEDY EARLIEST
    matching (correct for existence: if any embedding exists, the
    earliest-prefix one does): f1(u,t1) = first t1 event;
    f2(u,t1,t2) = first t2 event after f1; supported iff any t3
    event after f2. Each step is ONE keyed equi-join of the event
    stream against a per-user frontier frame of at most |T| (then
    |T|²) rows — events move through a user-keyed join exactly
    twice, nothing is ever enumerated per-subsequence. Event order
    is the lexicographic (ts, event_id) struct — engine-portable
    row-value comparison, no timestamp packing.

    Output: (t1, t2, t3, n_users, support_pct vs users with any
    event), |T|³-bounded."""
    ev = events.select("user_id", "event_type",
                       F.struct("ts", "event_id").alias("pos"))
    f1 = (ev.groupBy("user_id", F.col("event_type").alias("t1"))
          .agg(F.min("pos").alias("p1")))
    f2 = (ev.join(f1, "user_id")
          .where(F.col("pos") > F.col("p1"))
          .groupBy("user_id", "t1", F.col("event_type").alias("t2"))
          .agg(F.min("pos").alias("p2")))
    sup3 = (ev.join(f2, "user_id")
            .where(F.col("pos") > F.col("p2"))
            .groupBy("user_id", "t1", "t2",
                     F.col("event_type").alias("t3"))
            .agg(F.lit(1).alias("one"))
            .groupBy("t1", "t2", "t3")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users")))
    n_users_total = (events.select("user_id").distinct()
                     .agg(F.count(F.lit(1)).alias("n_total")))
    return (sup3.crossJoin(F.broadcast(n_users_total))
            .select("t1", "t2", "t3", "n_users",
                    F.round(F.col("n_users") * 100.0 / F.col("n_total"),
                            4).alias("support_pct")))


def also_bought_topk(lineitem: DataFrame, k: int = 5,
                     min_support: int = MIN_SUPPORT) -> DataFrame:
    """Per-item "customers also bought" top-k — the ranked
    recommendation LIST the global `association_rules` table is the
    model for: for every part, its k strongest same-basket
    companions by co-occurrence count (ties by companion key).

    Reuses the basket suffix-slice pair enumeration (never a fact
    self-join, fan-out bounded by basket size²), symmetrizes, and
    ranks companions with an item-partitioned window — exact integer
    counts, deterministic total order, |parts|·k output."""
    baskets = (lineitem.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("ps")))
    # the union below consumes pair_sup twice — without the cut both
    # branches re-run the basket scan
    pair_sup = cut(baskets
                   .select(F.posexplode("ps").alias("i", "a"), F.col("ps"))
                   .select("a", F.explode(
                       F.slice("ps", F.col("i") + F.lit(2), F.size("ps")))
                       .alias("b"))
                   .groupBy("a", "b")
                   .agg(F.count("*").cast("bigint").alias("n_baskets"))
                   .where(F.col("n_baskets") >= min_support))
    sym = (pair_sup.select(F.col("a").alias("part"),
                           F.col("b").alias("also"), "n_baskets")
           .unionByName(pair_sup.select(F.col("b").alias("part"),
                                        F.col("a").alias("also"),
                                        "n_baskets")))
    w = (Window.partitionBy("part")
         .orderBy(F.col("n_baskets").desc(), F.col("also")))
    return (sym.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("part", F.col("rk").cast("bigint").alias("rk"),
                    "also", "n_baskets"))
