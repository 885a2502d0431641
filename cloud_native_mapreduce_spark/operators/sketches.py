"""Mergeable cardinality / frequency sketches, built from scratch on
JVM-side expressions: HyperLogLog registers and a Count-Min sketch.

North-star scope (the reference has no sketch surface): at 100 TB,
exact distinct counts and exact per-item frequencies are shuffle-heavy
(a full repartition on the key); sketches compress either to a few KB
of MERGEABLE state — the sketch of a union is the element-wise
max/sum of the sketches, so partial sketches combine map-side exactly
like partial sums, and a day×source cube of cardinalities costs one
scan. Spark ships approx_count_distinct (HLL++) built in; these
operators exist because a training-data pipeline needs sketches it can
PERSIST, MERGE ACROSS RUNS, and AUDIT — which requires the register
layout to be an explicit, deterministic table, not an opaque binary
aggregate. Both sketches here are pure integer state derived from a
deterministic md5-prefix hash (the engine's established cross-engine
uniform — `weighted_sample`), so every register/counter is an exact
integer a SQL oracle can recompute, and estimates follow from the
registers by a fixed arithmetic expression.

HyperLogLog (Flajolet et al., AofA 2007): p = 10 → m = 1024 buckets.
h = first 32 bits of md5; bucket = h mod m; w = h div m (22 bits);
rho(w) = 23 − bitlen(w) (leading-zero rank in the 22-bit window,
rho = 23 when w = 0). Register M_j = max rho over items in bucket j.
Estimate: alpha_m·m² / Σ 2^(−M_j) with empty buckets contributing
2⁰ = 1. Every term 2^(−M_j) ≥ 2^(−23) is exactly representable and
all partial sums fit the 52-bit mantissa, so the double sum is EXACT
and aggregation-order independent — the estimate is deterministic
across engines, not just the registers.

Count-Min (Cormode & Muthukrishnan, J.Alg 2005): depth d = 4 rows,
width 256 cells; counter(j, c) = Σ count of items hashing to cell c
under salted hash h_j. Point estimate = min_j counter(j, h_j(q)) —
an upper bound on the true count with error ≤ εN at probability
1 − (1/2)^d; integer state, exact oracle, `est >= true` is a theorem
the property test pins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloud_native_mapreduce_spark.session import cut

#: HLL precision: 2^10 = 1024 registers (~0.032 rel. std. error).
HLL_P = 10
HLL_M = 1 << HLL_P
#: Bits hashed beyond the bucket index (32 − p).
HLL_WBITS = 32 - HLL_P

#: Count-Min geometry.
CMS_DEPTH = 4
CMS_WIDTH = 256


def _hash32(col: Column) -> Column:
    """Deterministic 32-bit uniform from the md5 hex prefix — the
    cross-engine hash (DuckDB: ('0x' || substring(md5(x), 1, 8)))."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8),
                  16, 10).cast("bigint")


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """HyperLogLog register table over `df[col]`: (bucket, m) with
    m = max leading-zero rank in the bucket. One map-side-combining
    max aggregate over a scan — never a distinct, never a wide
    shuffle; output is HLL_M rows max, mergeable by element-wise max.
    """
    h = _hash32(F.col(col))
    w = F.floor(h / F.lit(HLL_M)).cast("bigint")
    rho = (F.when(w == 0, F.lit(HLL_WBITS + 1))
           .otherwise(F.lit(HLL_WBITS + 1) - F.length(F.bin(w))))
    return (df.select(F.pmod(h, F.lit(HLL_M)).alias("bucket"),
                      rho.cast("bigint").alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("m"))
            .orderBy("bucket"))


def hll_estimate(df: DataFrame, col: str) -> DataFrame:
    """Single-row HLL cardinality estimate next to the exact distinct
    count: (n_buckets_used, est_distinct, true_distinct, rel_err).
    The exact count is computed alongside deliberately — the entry
    demonstrates (and the oracle checks) estimator accuracy, and at
    production scale the exact column is the one you drop. All
    register-sum arithmetic is exact dyadic (module docstring), so
    the estimate is bit-deterministic.
    """
    regs = hll_registers(df, col)
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    summed = regs.agg(
        F.count("*").cast("bigint").alias("n_buckets_used"),
        F.sum(F.expr("CAST(1 AS DOUBLE) / CAST(shiftleft("
                     "CAST(1 AS BIGINT), CAST(m AS INT)) AS DOUBLE)"))
        .alias("s"))
    exact = df.agg(F.countDistinct(col).cast("bigint")
                   .alias("true_distinct"))
    est = (F.lit(alpha * HLL_M * HLL_M)
           / (F.col("s") + (F.lit(HLL_M) - F.col("n_buckets_used"))))
    return (summed.crossJoin(exact)
            .select("n_buckets_used",
                    F.round(est, 2).alias("est_distinct"),
                    "true_distinct",
                    F.round((est - F.col("true_distinct"))
                            / F.col("true_distinct"), 4)
                    .alias("rel_err")))


def _cms_cell(col: Column, depth: Column) -> Column:
    """Salted cell index for an item under sketch row `depth`."""
    salted = F.concat_ws(":", depth.cast("string"), col.cast("string"))
    return F.pmod(F.conv(F.substring(F.md5(salted), 1, 8), 16, 10)
                  .cast("bigint"), F.lit(CMS_WIDTH))


def cms_sketch(items: DataFrame, col: str, weight: str) -> DataFrame:
    """Count-Min sketch table (depth, cell, counter) over weighted
    items (`weight` = per-item count, so the corpus is pre-collapsed
    to its frequency table and the sketch build touches |vocab| rows,
    not the corpus). The depth dimension joins in as a broadcast
    d-row frame (the engine's broadcast-scalar-frame convention —
    NOT an explode of a literal array, which Catalyst rewrites into
    a d-way union that re-scans the input), so the build is ONE scan
    + one map-side-combining aggregate; ≤ d·CMS_WIDTH rows out;
    mergeable by element-wise sum."""
    spark = items.sparkSession
    depths = (spark.range(CMS_DEPTH)
              .select(F.col("id").cast("int").alias("depth")))
    out = (items.crossJoin(F.broadcast(depths))
           .select("depth", _cms_cell(F.col(col), F.col("depth"))
                   .alias("cell"), F.col(weight).alias("w")))
    return (out.groupBy("depth", "cell")
            .agg(F.sum("w").cast("bigint").alias("counter"))
            .orderBy("depth", "cell"))


def cms_point_estimates(items: DataFrame, col: str, weight: str,
                        queries: list[str]) -> DataFrame:
    """Point-frequency estimates for `queries` against the sketch of
    `items`: est(q) = min_j counter(j, h_j(q)), the canonical CMS
    read — an upper bound on the true count (collisions only ADD).
    Emits (word, est_count, true_count); the absent-word case reads 0
    only if all d cells are empty (the est >= true bound at work).
    The query frame is a broadcast literal; each lookup is a keyed
    join against the ≤ d·width-row sketch — no scan of the corpus
    beyond the sketch build."""
    spark = items.sparkSession
    sketch = cms_sketch(items, col, weight)
    q = spark.createDataFrame([(w,) for w in queries], f"{col} string")
    dk = (spark.range(CMS_DEPTH)
          .select(F.col("id").cast("int").alias("depth")))
    probe = (q.crossJoin(F.broadcast(dk))
             .select(F.col(col), "depth",
                     _cms_cell(F.col(col), F.col("depth"))
                     .alias("cell")))
    est = (probe.join(sketch, ["depth", "cell"], "left")
           .groupBy(col)
           .agg(F.min(F.coalesce(F.col("counter"), F.lit(0)))
                .cast("bigint").alias("est_count")))
    true = (items.where(F.col(col).isin(queries))
            .groupBy(col).agg(F.sum(weight).cast("bigint")
                              .alias("true_count")))
    return (est.join(true, col, "left")
            .select(col, "est_count",
                    F.coalesce("true_count", F.lit(0)).cast("bigint")
                    .alias("true_count"))
            .orderBy(col))


def hll_registers_merged_daily(events: DataFrame,
                               col: str = "user_id") -> DataFrame:
    """The persist-and-merge path the explicit register layout exists
    for: per-DAY HLL register tables (the artifact a nightly pipeline
    would write), merged by element-wise max into the corpus-wide
    registers. Algebraically identical to sketching the whole corpus
    in one pass — max is associative/commutative — which is exactly
    what the oracle states (it computes the DIRECT single-pass
    registers): merge-then-read == read-then-merge, checked at value
    level. Two map-side-combining max aggregates; the intermediate is
    days × m rows."""
    h = _hash32(F.col(col))
    w = F.floor(h / F.lit(HLL_M)).cast("bigint")
    rho = (F.when(w == 0, F.lit(HLL_WBITS + 1))
           .otherwise(F.lit(HLL_WBITS + 1) - F.length(F.bin(w))))
    daily = (events.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.pmod(h, F.lit(HLL_M)).alias("bucket"),
        rho.cast("bigint").alias("rho"))
        .groupBy("day", "bucket").agg(F.max("rho").alias("m")))
    return (daily.groupBy("bucket").agg(F.max("m").alias("m"))
            .orderBy("bucket"))


#: KMV sketch size: k smallest hashes kept per set.
KMV_K = 256
#: Hash domain for the KMV threshold arithmetic (32-bit md5 prefix).
KMV_DOMAIN = 1 << 32


def kmv_sketch(df: DataFrame, set_col: str, item_col: str) -> DataFrame:
    """K-minimum-values (theta) sketch per set: the KMV_K smallest
    32-bit md5 hashes of the DISTINCT items in each set (Beyer et al.
    SIGMOD'07 / the Apache DataSketches theta family). Unlike HLL,
    KMV samples ITEMS — two sketches intersect by intersecting their
    samples under the shared threshold — so it supports set-operation
    cardinalities (A ∩ B, A ∖ B), which registers cannot.

    Deterministic: the k-smallest-of-a-fixed-hash is a pure function
    of the set, so the sketch TABLE carries a full value oracle (the
    oracle is a per-set ORDER BY hash LIMIT k). One distinct + one
    partitioned window rank — never a global sort; k·|sets| rows out;
    mergeable: the sketch of a union is the k smallest of the
    sketches' union."""
    from pyspark.sql.window import Window
    h = _hash32(F.col(item_col))
    w = Window.partitionBy(set_col).orderBy("h")
    return (df.select(F.col(set_col), h.alias("h")).distinct()
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= KMV_K)
            .select(set_col, "h", F.col("rk").cast("bigint").alias("rk"))
            .orderBy(set_col, "h"))


def kmv_intersection(events: DataFrame, type_a: str = "click",
                     type_b: str = "purchase") -> DataFrame:
    """Set-operation cardinality from KMV sketches: estimate
    |users(type_a) ∩ users(type_b)| — the audience-overlap question
    HLL registers cannot answer — next to the exact overlap (the
    column you drop at scale; here it demonstrates, and the oracle
    checks, estimator accuracy).

    Theta arithmetic, exact-mode aware: cap_x = the sketch's max
    (= kth smallest) hash when the sketch is FULL, else the hash
    DOMAIN (a non-full sketch holds its entire set — exact mode);
    cap = min(cap_a, cap_b); the sample intersection counts common
    hashes STRICTLY below cap (every set element with h < cap is
    provably present in both full sketches), and est = |sample| /
    (cap / DOMAIN). When both sets are small the estimator
    degenerates to the exact overlap by construction. All estimate
    inputs are exact integers; the one division is fixed-form —
    deterministic across engines. The events table is touched once
    per side to build k-row sketches; every join after that is
    sketch-sized."""
    ua = kmv_sketch(events.where(F.col("event_type") == type_a),
                    "event_type", "user_id")         .select(F.col("h").alias("ha"))
    ub = kmv_sketch(events.where(F.col("event_type") == type_b),
                    "event_type", "user_id")         .select(F.col("h").alias("hb"))
    ca = ua.agg(F.when(F.count("*") == KMV_K, F.max("ha"))
                .otherwise(F.lit(KMV_DOMAIN)).alias("cap_a"))
    cb = ub.agg(F.when(F.count("*") == KMV_K, F.max("hb"))
                .otherwise(F.lit(KMV_DOMAIN)).alias("cap_b"))
    caps = (ca.crossJoin(F.broadcast(cb))
            .select(F.least("cap_a", "cap_b").alias("cap")))
    inter = (ua.join(ub, ua.ha == ub.hb)
             .crossJoin(F.broadcast(caps))
             .where(F.col("ha") < F.col("cap"))
             .groupBy("cap")
             .agg(F.count("*").cast("bigint").alias("n_sample")))
    # cap survives through the aggregate; re-derive a sample-less row
    # if the intersection is empty
    inter = caps.join(inter, "cap", "left").select(
        "cap", F.coalesce("n_sample", F.lit(0)).cast("bigint")
        .alias("n_sample"))
    exact = (events.where(F.col("event_type") == type_a)
             .select("user_id").distinct()
             .join(events.where(F.col("event_type") == type_b)
                   .select("user_id").distinct(), "user_id")
             .agg(F.count("*").cast("bigint").alias("true_overlap")))
    return (inter.crossJoin(F.broadcast(exact))
            .select(
                "n_sample",
                F.round(F.col("n_sample")
                        / (F.col("cap").cast("double")
                           / F.lit(float(KMV_DOMAIN))), 2)
                .alias("est_overlap"),
                "true_overlap"))


def cms_selfjoin_size(lineitem: DataFrame,
                      key: str = "l_partkey") -> DataFrame:
    """Self-join size (the second frequency moment F2 = Σ_v f_v²)
    of lineitem on `key`, estimated from the Count-Min sketch's
    inner product with itself (AMS '96 / Cormode-Muthukrishnan '05:
    est = min_depth Σ_cell counter² ≥ F2, collisions only ADD) next
    to the exact value and the relative error — the cardinality
    estimate a cost-based optimizer wants BEFORE committing to a
    join strategy, from a sketch that is mergeable and one scan to
    build.

    All arithmetic is exact integers: counters are exact sums, the
    per-depth inner products accumulate in decimal(38,0) (HUGEINT in
    the oracle — Σ counter² approaches N², past bigint at N ≳ 3e9
    rows), the final min/true values report as bigint, and the one
    relative-error double is a fixed-form rounded expression. Shape:
    the corpus collapses to its key-frequency table once (map-side
    combine), the sketch build fans depth out via the broadcast
    d-row frame (`cms_sketch`), and everything downstream is
    sketch-sized (≤ d·width rows)."""
    freq = (lineitem.groupBy(F.col(key).alias("k"))
            .agg(F.count("*").alias("cnt")))
    sketch = cms_sketch(freq, "k", "cnt")
    c = F.col("counter").cast("decimal(38,0)")
    per_depth = (sketch.groupBy("depth")
                 .agg(F.sum(c * c).alias("ip")))
    est = per_depth.agg(F.min("ip").cast("bigint").alias("est_f2"))
    n = F.col("cnt").cast("decimal(38,0)")
    true = freq.agg(F.sum(n * n).cast("bigint").alias("true_f2"))
    e, t = F.col("est_f2").cast("double"), F.col("true_f2").cast("double")
    return (est.crossJoin(F.broadcast(true))
            .select("est_f2", "true_f2",
                    (F.round((e - t) / t, 4) + F.lit(0.0))
                    .alias("rel_err")))


# ---------------------------------------------------------------------------
# HDR log-linear quantile sketch
# ---------------------------------------------------------------------------

#: Sub-bucket resolution: 2^5 = 32 sub-buckets per octave — every
#: bucket spans at most value/32, so any quantile estimate is within
#: 1/32 ≈ 3.1% relative error of the true order statistic.
HDR_SUB_BITS = 5

#: Quantiles reported by `hdr_quantiles`, as exact integer fractions
#: (numerator, denominator, label) — the rank threshold ceil(q·n) is
#: computed in integer arithmetic, never through a double.
HDR_QUANTILES = ((1, 2, "p50"), (9, 10, "p90"),
                 (99, 100, "p99"), (999, 1000, "p999"))


def hdr_bucket(cents_col: str) -> "tuple[Column, Column]":
    """(level, sub) HdrHistogram bucket of a non-negative integer
    column (by name — the shift amount is itself a column, which the
    pyspark `shiftright` wrapper can't express): level
    k = max(0, bitlen(v) − (SUB_BITS+1)), sub = v >> k. For k ≥ 1 sub
    lies in [2^SUB_BITS, 2^(SUB_BITS+1)) — 32 log-linear sub-buckets
    per octave; k = 0 stores v exactly. Pure integer bit arithmetic
    (bin()/shift exist in both engines), so the bucket table is
    bit-identical under any partitioning."""
    k = (f"greatest(0, length(bin({cents_col})) - {HDR_SUB_BITS + 1})")
    return (F.expr(k),
            F.expr(f"shiftright({cents_col}, {k})"))


def hdr_quantiles(lineitem: DataFrame,
                  value_col: str = "l_extendedprice",
                  group_col: str = "l_returnflag") -> DataFrame:
    """Mergeable fixed-relative-error quantile sketch (HdrHistogram /
    DDSketch family: Gil Tene's HdrHistogram; Masson et al., VLDB'19)
    over `value_col` cents, one sketch per `group_col` plus the
    merged 'ALL' sketch — the quantile analogue of the HLL/CMS/KMV
    suite: exact-integer log-linear bucket counts that merge by
    bucket-wise SUM, so per-partition (or per-day) sketches combine
    map-side exactly like partial sums and quantiles come out of the
    merged table with a proven ≤ 2^-SUB_BITS relative error.

    Scale shape: the corpus collapses to its bucket table in ONE
    map-side-combined aggregate (≤ ~levels×64 rows per group); the
    'ALL' sketch is a bucket-wise re-aggregate of the per-group
    sketches — NEVER a rescan (that is the merge law, exercised
    in-query); cumulative ranks run as a keyed triangular join over
    the bounded bucket frame; rank thresholds ceil(q·n) and bucket
    representatives ((2·sub+1)·2^k − 1) div 2 are exact integers,
    leaving one fixed-form division rounded 2dp."""
    spark = lineitem.sparkSession
    cents = F.expr(f"CAST(round({value_col} * 100, 0) AS BIGINT)")
    v = lineitem.select(F.col(group_col).alias("g"), cents.alias("v"))
    k, sub = hdr_bucket("v")
    per_g = (v.select("g", k.alias("k"), sub.alias("sub"))
             .groupBy("g", "k", "sub")
             .agg(F.count(F.lit(1)).alias("cnt")))
    merged = (per_g.groupBy("k", "sub")
              .agg(F.sum("cnt").alias("cnt"))
              .select(F.lit("ALL").alias("g"), "k", "sub", "cnt"))
    buckets = cut(per_g.unionByName(merged)
                  .select("g", "k", "sub", "cnt",
                          (F.col("k") * (2 << HDR_SUB_BITS) + F.col("sub"))
                          .alias("o")))
    tot = buckets.groupBy("g").agg(F.sum("cnt").alias("n"))
    lower = buckets.select(F.col("g").alias("g2"), F.col("o").alias("o2"),
                           F.col("cnt").alias("c2"))
    cum = (buckets.join(F.broadcast(lower),
                        (F.col("g2") == F.col("g"))
                        & (F.col("o2") <= F.col("o")))
           .groupBy("g", "o").agg(F.sum("c2").alias("cum")))
    qf = spark.createDataFrame(list(HDR_QUANTILES),
                               "qn long, qd long, q_label string")
    thresholds = (tot.crossJoin(F.broadcast(qf))
                  .select("g", "q_label", "n",
                          F.expr("(qn * n + qd - 1) DIV qd").alias("r")))
    pick = (cum.join(F.broadcast(thresholds.withColumnRenamed("g", "g3")),
                     (F.col("g3") == F.col("g")) & (F.col("cum") >= F.col("r")))
            .groupBy("g", "q_label", "n")
            .agg(F.min("o").alias("o")))
    rep = F.expr("(shiftleft(2 * sub + 1, k) - 1) DIV 2")
    return (pick.join(buckets.select("g", "o", "k", "sub"), ["g", "o"])
            .select(F.col("g").alias(group_col), "q_label",
                    F.col("n").cast("bigint").alias("n_vals"),
                    F.round(rep.cast("double") / F.lit(100.0), 2)
                    .alias("est_price")))


def cms_heavy_change(orders: DataFrame, lineitem: DataFrame,
                     top_k: int = 20) -> DataFrame:
    """Heavy-CHANGE detection from Count-Min sketch DIFFERENCES
    (Cormode & Muthukrishnan's "what's new" question, 2004): which
    part keys' order volume moved most between the first and second
    half of the date range — answered from two mergeable sketches
    whose cell-wise DIFFERENCE is itself a sketch of the signed
    change (CMS is linear), probed over the part dimension.

    The point: at 100 TB the two halves' sketches are d·width-cell
    tables built in one scan each and SHIPPABLE (KBs) — the change
    query runs against sketches that may have been built on
    different days by different jobs, never against the raw facts
    twice. Each probe estimate est_h = min_j counter_j upper-bounds
    that half's true count; the report carries both halves'
    estimates, the signed change, and exact true counts beside them
    (the audit columns the planted-oracle convention favors).

    All integer: md5 cells, exact counters, deterministic top-k by
    (|change| DESC, part).

    One-pass rework (round 14 — the r12→r13 bench residue on this
    query was adjudicated as environment, but the audit exposed four
    separate passes over the joined fact frame: freq_a, freq_b,
    parts.distinct, true): the per-key half counts ARE the per-half
    frequency tables AND the audit columns AND the probe key set, so
    ONE groupBy(part) aggregate now feeds all of them; the sketch
    builds then run over |parts|-row frames, never the fact frame.
    Same cells, same counters, same output — the DuckDB oracle is
    unchanged."""
    spark = orders.sparkSession
    li = (lineitem.join(orders,
                        lineitem.l_orderkey == orders.o_orderkey)
          .select(F.col("l_partkey").alias("part"),
                  F.to_date("o_orderdate").alias("day")))
    bounds = li.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    half = F.expr("date_add(dmin, CAST(datediff(dmax, dmin) DIV 2 "
                  "AS INT))")
    tagged = (li.crossJoin(F.broadcast(bounds))
              .select("part", (F.col("day") <= half).alias("is_a")))
    base = cut(tagged.groupBy("part")
               .agg(F.sum(F.col("is_a").cast("int")).cast("bigint")
                    .alias("true_a"),
                    F.sum((~F.col("is_a")).cast("int")).cast("bigint")
                    .alias("true_b")))
    freq_a = (base.where("true_a > 0")
              .select(F.col("part").alias("k"),
                      F.col("true_a").alias("cnt")))
    freq_b = (base.where("true_b > 0")
              .select(F.col("part").alias("k"),
                      F.col("true_b").alias("cnt")))
    sk_a = cms_sketch(freq_a, "k", "cnt")
    sk_b = cms_sketch(freq_b, "k", "cnt")
    parts = base.select("part")
    dk = (spark.range(CMS_DEPTH)
          .select(F.col("id").cast("int").alias("depth")))
    probe = (parts.crossJoin(F.broadcast(dk))
             .select("part", "depth",
                     _cms_cell(F.col("part"), F.col("depth"))
                     .alias("cell")))

    def est(sk, name):
        return (probe.join(sk, ["depth", "cell"], "left")
                .groupBy("part")
                .agg(F.min(F.coalesce(F.col("counter"), F.lit(0)))
                     .cast("bigint").alias(name)))

    return (est(sk_a, "est_a").join(est(sk_b, "est_b"), "part")
            .join(base, "part")
            .select("part", "est_a", "est_b",
                    (F.col("est_b") - F.col("est_a")).alias("est_change"),
                    "true_a", "true_b")
            .orderBy(F.abs(F.col("est_change")).desc(), "part")
            .limit(top_k))
