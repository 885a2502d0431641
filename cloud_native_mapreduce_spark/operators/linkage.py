"""Probabilistic record linkage: Fellegi-Sunter scoring over blocked
candidate pairs — the entity-resolution operator every warehouse
consolidation runs (Fellegi & Sunter, JASA 1969; the Splink/dedupe
model family).

Shape: a deterministically corrupted replica of the customer table is
linked back to the clean table —

1. **Corrupt** (in-query, md5-parity decisions, so the DuckDB oracle
   replays it bit-for-bit): per record, maybe drop the name's last
   char, maybe 'X'-out a middle digit, maybe shift nationkey, maybe
   blank the segment, maybe round the balance to whole dollars.
2. **Block** with a UNION of two keys — the 17-char name prefix
   (stable under tail-drop) and the 5-char name tail (stable under
   middle-digit noise). Union blocking is the standard recall hedge:
   a pair is lost only if EVERY pass misses it — here every corruption
   mode keeps at least one key intact, so blocking loses nothing and
   only the score decides. Never all-pairs.
3. **Score** each candidate with fixed integer agreement/disagreement
   weights per field (log-likelihood-ratio-shaped, the m/u constants
   an offline EM fit would produce, scaled ×10 to stay in exact int
   arithmetic) and keep pairs at or above the match threshold.

Ground truth is free (the replica keeps the source key offset by
9,000,000), so ``linkage_quality`` reports exact precision/recall of
the threshold — the evaluation half of a linkage run.

At 100 TB: corruption/feature extraction is a narrow map; both blocking
passes are keyed equi-joins whose block sizes are bounded by key design
(name-prefix blocks ~10, attribute blocks split by the digit prefix);
scoring is codegen CASE arithmetic; no UDFs, no driver state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_native_mapreduce_spark.session import cut

#: Offset namespace for the corrupted replica's keys.
DIRTY_OFFSET = 9_000_000

#: Fellegi-Sunter weights ×10 ≈ 10·log2(m/u) under the corruption
#: model (the numbers an offline EM fit against the known error rates
#: would produce), all integer so scoring is exact. Name has THREE
#: agreement levels matching the three corruption modes; balance uses
#: a band comparator (every corruption keeps the balance within 50
#: cents, so |diff|<=50 is the true-pair signature).
W_NAME_EXACT = 90
W_NAME_PREFIX = 70   # 17-char prefix agrees (tail dropped)
W_NAME_MID = 70      # prefix-12 + tail agree (middle digit noised)
W_NAME_DIS = -50
W_NATION_AGREE = 43
W_NATION_DIS = -23
W_SEG_AGREE = 21
W_SEG_DIS = -25
W_BAL_BAND = 33      # |diff| <= 50 cents
W_BAL_DIS = -33
MATCH_THRESHOLD = 80


def _h(key: Column, salt: str) -> Column:
    """32-bit md5 prefix of ``key:salt`` — the repo's uniform-hash
    convention, replayed in SQL as
    ``('0x'||substr(md5(custkey||':<salt>'),1,8))::BIGINT``."""
    return F.conv(F.substring(
        F.md5(F.concat(key.cast("string"), F.lit(f":{salt}"))), 1, 8),
        16, 10).cast("bigint")


def corrupted_customers(customer: DataFrame) -> DataFrame:
    """The dirty replica: (custkey+OFFSET, d_name, d_nation, d_seg,
    d_bal_cents) with per-field md5-parity perturbations."""
    k = F.col("c_custkey")
    nm = _h(k, "n") % 3
    name = F.col("c_name")
    d_name = (F.when(nm == 0, F.substring(name, 1, 17))
              .when(nm == 1, F.concat(F.substring(name, 1, 12),
                                      F.lit("X"),
                                      F.substring(name, 14, 5)))
              .otherwise(name))
    d_nation = F.when(_h(k, "k") % 5 == 0,
                      (F.col("c_nationkey") + 1) % 25) \
        .otherwise(F.col("c_nationkey"))
    d_seg = F.when(_h(k, "s") % 7 == 0, F.lit("UNKNOWN")) \
        .otherwise(F.col("c_mktsegment"))
    d_bal = F.when(_h(k, "b") % 2 == 0,
                   F.round(F.col("c_acctbal")).cast("bigint") * 100) \
        .otherwise(F.round(F.col("c_acctbal") * 100).cast("bigint"))
    return customer.select(
        (k + DIRTY_OFFSET).alias("dirty_key"),
        d_name.alias("d_name"),
        d_nation.cast("int").alias("d_nation"),
        d_seg.alias("d_seg"),
        d_bal.alias("d_bal_cents"))


def _clean_features(customer: DataFrame) -> DataFrame:
    return customer.select(
        F.col("c_custkey").alias("clean_key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("int").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("bigint")
        .alias("bal_cents"))


def record_linkage(customer: DataFrame,
                   threshold: int = MATCH_THRESHOLD) -> DataFrame:
    """(clean_key, dirty_key, score): Fellegi-Sunter matches at or
    above ``threshold`` from union-blocked candidates."""
    clean = _clean_features(customer)
    dirty = corrupted_customers(customer)
    # pass 1: 17-char name prefix — stable under tail-drop (mode 0)
    # and no-op (mode 2); pass 2: name tail (chars 14-18) — stable
    # under middle-digit noise (mode 1). Every corruption mode keeps
    # at least one key intact, so BLOCKING loses nothing; only the
    # score decides. Blocks are ~10 records (key = 8 leading / 5
    # trailing digits of a dense numeric id) at any corpus size.
    c1 = clean.select("clean_key",
                      F.substring("name", 1, 17).alias("bk"))
    d1 = dirty.select("dirty_key",
                      F.substring("d_name", 1, 17).alias("bk"))
    c2 = clean.select("clean_key",
                      F.substring("name", 14, 5).alias("bk"))
    d2 = dirty.select("dirty_key",
                      F.substring("d_name", 14, 5).alias("bk"))
    cand = (c1.join(d1, "bk").select("clean_key", "dirty_key")
            .unionByName(c2.join(d2, "bk")
                         .select("clean_key", "dirty_key"))
            .distinct())
    feats = (cand.join(clean, "clean_key").join(dirty, "dirty_key"))
    score = (
        F.when(F.col("name") == F.col("d_name"), W_NAME_EXACT)
        .when(F.substring("name", 1, 17) == F.substring("d_name", 1, 17),
              W_NAME_PREFIX)
        .when((F.substring("name", 1, 12)
               == F.substring("d_name", 1, 12))
              & (F.substring("name", 14, 5)
                 == F.substring("d_name", 14, 5)), W_NAME_MID)
        .otherwise(W_NAME_DIS)
        + F.when(F.col("nation") == F.col("d_nation"),
                 W_NATION_AGREE).otherwise(W_NATION_DIS)
        + F.when(F.col("seg") == F.col("d_seg"),
                 W_SEG_AGREE).otherwise(W_SEG_DIS)
        + F.when(F.abs(F.col("bal_cents") - F.col("d_bal_cents")) <= 50,
                 W_BAL_BAND).otherwise(W_BAL_DIS))
    return (feats.select("clean_key", "dirty_key",
                         score.cast("bigint").alias("score"))
            .where(F.col("score") >= threshold))


def linkage_quality(customer: DataFrame,
                    threshold: int = MATCH_THRESHOLD) -> DataFrame:
    """One-row exact evaluation of the linkage run against the free
    ground truth (dirty_key - OFFSET == clean_key): true/false
    positives, false negatives, precision/recall/F1 rounded to 4.
    Entirely in-plan (one aggregate over the match set crossJoined
    with the broadcast 1-row corpus count) — no driver-side counts."""
    matches = record_linkage(customer, threshold)
    agg = matches.agg(
        F.sum(F.when(F.col("dirty_key") - DIRTY_OFFSET
                     == F.col("clean_key"), 1).otherwise(0))
        .cast("bigint").alias("tp"),
        F.count("*").cast("bigint").alias("n_match"))
    total = customer.agg(F.count("*").cast("bigint").alias("n_true"))
    prec = F.col("tp") / F.col("n_match")
    rec = F.col("tp") / F.col("n_true")
    return (agg.crossJoin(F.broadcast(total))
            .select(
                "tp",
                (F.col("n_match") - F.col("tp")).alias("fp"),
                (F.col("n_true") - F.col("tp")).alias("fn"),
                (F.round(prec, 4) + F.lit(0.0)).alias("precision"),
                (F.round(rec, 4) + F.lit(0.0)).alias("recall"),
                (F.round(2 * prec * rec / (prec + rec), 4)
                 + F.lit(0.0)).alias("f1")))


def golden_record(customer: DataFrame,
                  threshold: int = MATCH_THRESHOLD) -> DataFrame:
    """Survivorship — the step AFTER linkage in every MDM / entity-
    resolution pipeline: fold the matched clean+dirty record graph
    into one golden record per entity, under explicit deterministic
    survivorship rules (the Talend/Informatica "survivor" rule-book,
    made engine-exact):

      * entity id       = min member key (connected component label);
      * name            = longest value, ties lexicographic-smallest
                          (longest survives truncation corruption);
      * nation          = mode, ties smallest value;
      * segment         = mode among non-'UNKNOWN' values first
                          (explicit blank-demotion, not alphabetical
                          luck), ties smallest;
      * balance         = taken from the MASTER record (min key —
                          clean keys sort below the replica offset,
                          so the authoritative side wins by design);
      * n_members       = cluster size (singletons survive as their
                          own golden record).

    Clusters come from `connected_components` over the F-S match
    pairs (min-label propagation, |V|-row state per round); every
    survivorship rule is a comp-partitioned window or keyed
    aggregate over the members frame — no collects, no global
    sorts. Output is |entities|-sized."""
    from cloud_native_mapreduce_spark.dedup.components import (
        connected_components)

    clean = _clean_features(customer)
    dirty = corrupted_customers(customer)
    matches = record_linkage(customer, threshold)

    members = cut(clean.select(F.col("clean_key").alias("rec_key"),
                               "name", "nation", "seg", "bal_cents")
                  .unionByName(dirty.select(
                      F.col("dirty_key").alias("rec_key"),
                      F.col("d_name").alias("name"),
                      F.col("d_nation").alias("nation"),
                      F.col("d_seg").alias("seg"),
                      F.col("d_bal_cents").alias("bal_cents"))))
    # edges_canonical: record_linkage emits DISTINCT (clean, dirty)
    # pairs and clean keys sort strictly below the replica offset, so
    # the reversed leg can never collide — skip the components loop's
    # symmetrize-dedup shuffle (round-14 optimization)
    comps = connected_components(
        members.select("rec_key"), matches, node_col="rec_key",
        src_col="clean_key", dst_col="dirty_key",
        edges_canonical=True, hint_labels=True)
    m = cut(members.join(comps, "rec_key"))

    w_name = Window.partitionBy("comp").orderBy(
        F.length("name").desc(), F.col("name"))
    gname = (m.select("comp", "name")
             .withColumn("rn", F.row_number().over(w_name))
             .where(F.col("rn") == 1)
             .select("comp", F.col("name").alias("golden_name")))
    ncnt = m.groupBy("comp", "nation").agg(F.count(F.lit(1)).alias("c"))
    w_nat = Window.partitionBy("comp").orderBy(
        F.col("c").desc(), F.col("nation"))
    gnat = (ncnt.withColumn("rn", F.row_number().over(w_nat))
            .where(F.col("rn") == 1)
            .select("comp", F.col("nation").alias("golden_nation")))
    scnt = m.groupBy("comp", "seg").agg(F.count(F.lit(1)).alias("c"))
    w_seg = Window.partitionBy("comp").orderBy(
        F.when(F.col("seg") == "UNKNOWN", 1).otherwise(0),
        F.col("c").desc(), F.col("seg"))
    gseg = (scnt.withColumn("rn", F.row_number().over(w_seg))
            .where(F.col("rn") == 1)
            .select("comp", F.col("seg").alias("golden_seg")))
    w_master = Window.partitionBy("comp").orderBy("rec_key")
    master = (m.select("comp", "rec_key", "bal_cents")
              .withColumn("rn", F.row_number().over(w_master))
              .where(F.col("rn") == 1)
              .select("comp", F.col("rec_key").alias("master_key"),
                      F.col("bal_cents").alias("master_bal_cents")))
    sz = m.groupBy("comp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"))
    return (sz.join(gname, "comp").join(gnat, "comp")
            .join(gseg, "comp").join(master, "comp")
            .select(F.col("comp").cast("bigint").alias("entity_id"),
                    "n_members", "master_key", "golden_name",
                    "golden_nation", "golden_seg", "master_bal_cents"))
