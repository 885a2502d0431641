"""Distribution-comparison statistics: rank tests, inequality and
digit-law audits over the TPC-H-ish corpus.

Beyond-reference additions (the reference engine at
cmd/worker/mr_worker.go has no statistics surface): the nonparametric
siblings of the parametric family already in the registry —
`anova_oneway` compares means assuming normality; `mann_whitney_u`
and `ks_two_sample` here compare whole distributions with no
distributional assumption, which is what a data-quality gate on a
heterogeneous 100 TB corpus actually needs.

Cross-engine exactness playbook (DESIGN.md float conventions):

* Every corpus-sized sum accumulates in integers (counts) or
  decimal(38,0)/HUGEINT (products), never raw doubles.
* The value domain of the tested column (``n_chars``) is bounded by
  the document-length cap, so both tests collapse the corpus to a
  per-distinct-value count frame with ONE map-side-combined
  aggregate; every rank/ECDF computation after that runs on the
  frame, not the data. Cumulative counts over that bounded frame use
  a broadcast triangular self-join — NOT an unpartitioned window
  (repo rule: zero global Window nodes).
* The final test statistics are fixed-form double expressions whose
  TEXT is shared verbatim with the DuckDB oracle
  (`mann_whitney_exprs` / `ks_exprs`), the `ols3_exprs` convention —
  identical IEEE op trees on identical integer inputs, rounded 6dp
  in-query both sides.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from cloud_native_mapreduce_spark.session import cut, loop_session


# ---------------------------------------------------------------------------
# Shared fixed-form expression text (parsed by Spark AND DuckDB)
# ---------------------------------------------------------------------------

def mann_whitney_exprs() -> dict:
    """Expression texts over columns n_a, n_b (BIGINT), two_u
    (DOUBLE, exact: 2U is an integer), s_ties (DOUBLE, exact integer
    sum of t^3 - t over tie groups)."""
    n = "(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))"
    var = (f"(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 * "
           f"(({n} + 1.0) - s_ties / ({n} * ({n} - 1.0))))")
    u = "(two_u / 2.0)"
    mu = "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)"
    return {
        "u_stat": u,
        "z": f"(({u} - {mu}) / sqrt({var}))",
        "effect_r": (f"({u} / (CAST(n_a AS DOUBLE) * "
                     f"CAST(n_b AS DOUBLE)))"),
    }


def ks_exprs() -> dict:
    """Expression texts over n_a, n_b (BIGINT) and d_num (DOUBLE,
    exact: max |cumA*nB - cumB*nA| is an integer)."""
    nanb = "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
    d = f"(d_num / {nanb})"
    return {
        "d_stat": d,
        # scaled statistic sqrt(nA*nB/(nA+nB)) * D (the K-S test's
        # asymptotic abscissa)
        "k_stat": (f"({d} * sqrt({nanb} / (CAST(n_a AS DOUBLE) + "
                   f"CAST(n_b AS DOUBLE))))"),
    }


def benford_expected_sql() -> str:
    """CASE literal table of Benford first-digit probabilities
    log10(1 + 1/d), emitted as 17-significant-digit literals so both
    engines parse the identical double — no cross-engine log10 call."""
    arms = " ".join(
        f"WHEN {d} THEN CAST({math.log10(1.0 + 1.0 / d)!r} AS DOUBLE)"
        for d in range(1, 10))
    return f"(CASE digit {arms} END)"


# ---------------------------------------------------------------------------
# Rank / ECDF tests on the bounded n_chars domain
# ---------------------------------------------------------------------------

def _value_counts(docs: DataFrame, lang_a: str, lang_b: str) -> DataFrame:
    """Collapse the corpus to one row per distinct n_chars value with
    per-group counts — the single corpus-sized aggregate both tests
    share. Output is bounded by the document-length domain (~600
    values), independent of corpus size. Materialized (lazy
    localCheckpoint) because every consumer fans out into multiple
    branches — without the barrier each branch would re-run the
    corpus scan + aggregate (the explode-rescan lesson applied to
    DAG-shaped plans)."""
    return cut(docs.where(F.col("lang").isin(lang_a, lang_b))
               .groupBy("n_chars")
               .agg(F.sum(F.when(F.col("lang") == lang_a, 1).otherwise(0))
                    .cast("bigint").alias("ca"),
                    F.sum(F.when(F.col("lang") == lang_b, 1).otherwise(0))
                    .cast("bigint").alias("cb")))


def mann_whitney_u(docs: DataFrame, lang_a: str = "en",
                   lang_b: str = "de") -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing the document
    length distribution between two languages, with the normal
    approximation z including the exact tie correction.

    Rank-free formulation: U_A counts pairs (a, b) with a > b plus
    half the ties, so with per-value counts ca(v), cb(v) and the
    exclusive cumulative cumb(v) = sum_{u<v} cb(u):

        2*U_A = sum_v ca(v) * (2*cumb(v) + cb(v))

    — an integer, computed exactly (decimal(38,0): the pair count is
    ~n_a*n_b and overflows bigint at corpus scale). The tie term
    S = sum(t^3 - t) is exact the same way. The corpus collapses to
    the bounded value frame in one aggregate; the cumulative runs as
    a broadcast triangular self-join on that frame; z is a shared-
    text IEEE expression (`mann_whitney_exprs`) rounded 6dp."""
    vals = _value_counts(docs, lang_a, lang_b)
    lo = vals.select(F.col("n_chars").alias("u"), F.col("cb").alias("cbu"))
    cum = (vals.join(F.broadcast(lo), F.col("u") < F.col("n_chars"),
                     "left")
           .groupBy("n_chars", "ca", "cb")
           .agg(F.coalesce(F.sum("cbu"), F.lit(0)).alias("cumb")))
    dd = "decimal(38,0)"
    t = (F.col("ca") + F.col("cb")).cast(dd)
    sums = cum.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
        F.sum(F.col("ca").cast(dd)
              * (F.lit(2).cast(dd) * F.col("cumb").cast(dd)
                 + F.col("cb").cast(dd))).cast("double").alias("two_u"),
        F.sum(t * t * t - t).cast("double").alias("s_ties"))
    e = mann_whitney_exprs()
    return sums.select(
        "n_a", "n_b",
        (F.expr(e["u_stat"]) + F.lit(0.0)).alias("u_stat"),
        (F.round(F.expr(e["z"]), 6) + F.lit(0.0)).alias("z"),
        (F.round(F.expr(e["effect_r"]), 6) + F.lit(0.0))
        .alias("effect_r"))


def ks_two_sample(docs: DataFrame, lang_a: str = "en",
                  lang_b: str = "de") -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between the document length
    distributions of two languages, plus the scaled statistic
    sqrt(nA*nB/(nA+nB))*D.

    D is located exactly: the ECDF gap at value v is
    |cumA(v)*nB - cumB(v)*nA| / (nA*nB) with INCLUSIVE cumulatives,
    and the numerator is an exact integer (decimal(38,0) — the cross
    product is ~n^2), so the argmax is engine-independent; d_at
    reports the smallest value attaining it. Same bounded-frame +
    triangular-cumulative shape as `mann_whitney_u`."""
    vals = _value_counts(docs, lang_a, lang_b)
    lo = vals.select(F.col("n_chars").alias("u"),
                     F.col("ca").alias("cau"), F.col("cb").alias("cbu"))
    cum = cut(vals.join(F.broadcast(lo), F.col("u") <= F.col("n_chars"))
              .groupBy("n_chars")
              .agg(F.sum("cau").alias("cuma"), F.sum("cbu").alias("cumb")))
    dd = "decimal(38,0)"
    tot = cum.agg(F.max("cuma").cast("bigint").alias("n_a"),
                  F.max("cumb").cast("bigint").alias("n_b"))
    gaps = cut(cum.crossJoin(F.broadcast(tot))
               .select("n_chars", "n_a", "n_b",
                       F.abs(F.col("cuma").cast(dd) * F.col("n_b").cast(dd)
                             - F.col("cumb").cast(dd)
                             * F.col("n_a").cast(dd)).alias("gap")))
    best = (gaps.groupBy("n_a", "n_b")
            .agg(F.max("gap").alias("maxgap")))
    located = (gaps.join(F.broadcast(best), ["n_a", "n_b"])
               .where(F.col("gap") == F.col("maxgap"))
               .groupBy("n_a", "n_b")
               .agg(F.min("n_chars").alias("d_at"),
                    F.max("gap").cast("double").alias("d_num")))
    e = ks_exprs()
    return located.select(
        "n_a", "n_b", "d_at",
        (F.round(F.expr(e["d_stat"]), 6) + F.lit(0.0)).alias("d_stat"),
        (F.round(F.expr(e["k_stat"]), 6) + F.lit(0.0)).alias("k_stat"))


# ---------------------------------------------------------------------------
# Inequality and digit-law audits on orders
# ---------------------------------------------------------------------------

def gini_by_nation(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Gini coefficient of customer spend within each nation — the
    inequality audit run on revenue concentration (a skew detector:
    nations near 1.0 are dominated by few buyers, exactly the keys
    that need salting downstream).

    Exact rank form on ascending spend x_1..x_n (ties broken by
    custkey — the i*x_i sum over a tied block is order-invariant, so
    the tie-break only fixes determinism, not the value):

        G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))

    Spend accumulates as exact cents; i*x_i sums in decimal(38,0).
    The rank window partitions by nation (repo rule: no global
    windows) and the output is nation-keyed (|nation| = 25 rows at
    any scale)."""
    from pyspark.sql.window import Window

    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    spend = (orders.select("o_custkey", cents.alias("cents"))
             .groupBy("o_custkey").agg(F.sum("cents").alias("x")))
    by_nation = spend.join(
        customer.select(F.col("c_custkey").alias("o_custkey"),
                        F.col("c_nationkey").alias("nationkey")),
        "o_custkey")
    w = (Window.partitionBy("nationkey")
         .orderBy(F.col("x").asc(), F.col("o_custkey").asc()))
    dd = "decimal(38,0)"
    ranked = by_nation.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buyers"),
        F.sum("x").cast(dd).alias("sx"),
        F.sum(F.col("i").cast(dd) * F.col("x").cast(dd)).alias("six"))
    g = ((F.lit(2).cast(dd) * F.col("six")
          - (F.col("n_buyers") + 1).cast(dd) * F.col("sx"))
         .cast("double")
         / (F.col("n_buyers").cast(dd) * F.col("sx")).cast("double"))
    return agg.select(
        "nationkey", "n_buyers",
        F.col("sx").cast("double").alias("total_cents"),
        (F.round(g, 6) + F.lit(0.0)).alias("gini"))


def benford_digits(orders: DataFrame) -> DataFrame:
    """First-significant-digit distribution of order totals (cents)
    against Benford's law, with a chi-square goodness-of-fit — the
    classic synthetic-data / fraud audit.

    The expected probabilities log10(1+1/d) are emitted as shared
    17-digit literals (`benford_expected_sql`) so neither engine
    calls log10. Chi-square terms quantize to 1e-6 integers BEFORE
    the cross-digit sum (the drift_chisq order-free convention); the
    output is 9 digit rows carrying the total. One map-side-combined
    aggregate collapses the corpus; everything after is 9-sized."""
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = cut(orders.select(digit.alias("digit"))
              .groupBy("digit").agg(F.count(F.lit(1)).alias("obs")))
    tot = obs.agg(F.sum("obs").alias("n_orders"))
    p = F.expr(benford_expected_sql())
    term = (F.col("obs") - F.col("n_orders") * p) \
        * (F.col("obs") - F.col("n_orders") * p) \
        / (F.col("n_orders") * p)
    per = cut(obs.crossJoin(F.broadcast(tot))
              .select("digit", "obs", "n_orders",
                      F.round(F.col("n_orders") * p, 4).alias("expected"),
                      F.round(term * 1e6).cast("bigint").alias("term_micro")))
    chi = per.groupBy().agg(
        (F.sum("term_micro") / F.lit(1e6)).alias("chi2"))
    return (per.crossJoin(F.broadcast(chi))
            .select("digit", "obs",
                    (F.col("expected") + F.lit(0.0)).alias("expected"),
                    (F.round(F.col("term_micro") / 1e6, 6) + F.lit(0.0))
                    .alias("chi2_term"),
                    (F.round("chi2", 6) + F.lit(0.0)).alias("chi2_total")))


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap
# ---------------------------------------------------------------------------

#: Bootstrap replicate count and the Poisson(1) multiplicity ladder on
#: a uniform 0..999 hash draw: P(0)=.368, P(1)=.368, P(2)=.184,
#: P(3)=.061, P(4+)=.019 (cumulative cut points below).
BOOTSTRAP_B = 40
_POISSON_CUTS = (368, 736, 920, 981)


def poisson_mult_case(h: str) -> str:
    """Multiplicity CASE text over a 0..999 integer expression `h` —
    shared with the oracle (value-identical hash inputs on both
    engines make the draw deterministic)."""
    c0, c1, c2, c3 = _POISSON_CUTS
    return (f"(CASE WHEN {h} < {c0} THEN 0 WHEN {h} < {c1} THEN 1 "
            f"WHEN {h} < {c2} THEN 2 WHEN {h} < {c3} THEN 3 "
            f"ELSE 4 END)")


def bootstrap_ci_mean(orders: DataFrame,
                      n_boot: int = BOOTSTRAP_B) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order total
    (cents) — the distributed bootstrap (each row draws an
    independent Poisson(1) multiplicity per replicate, so no
    resample ever needs a global index), made fully DETERMINISTIC by
    drawing from the md5 row-replicate hash instead of an RNG: both
    engines replay the identical resamples.

    Exactness: replicate sums accumulate m*cents in decimal(38,0);
    each replicate mean is ONE division of exact integers; the
    5%/97.5% order statistics over the B-row mean frame come from a
    broadcast triangular rank count (no global window/sort).

    Scale: the corpus joins a broadcast B-row replicate frame (never
    an explode re-scan), drops m=0 rows immediately (~37%), and
    shuffles only the (b, partial-sum) combine — map-side combined,
    B-bounded state."""
    from cloud_native_mapreduce_spark.sources.tables import fan_out
    b = (orders.sparkSession.range(n_boot)
         .select(F.col("id").cast("int").alias("b")))
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    # fan_out: the B-way replicate fan-out hashes N·B md5s BEFORE the
    # first exchange; a single-row-group orders scan would run all of
    # it on one core (guide §2.5 — no-op once the scan parallelizes)
    base = fan_out(orders.select(F.col("o_orderkey").alias("okey"),
                                 cents.alias("cents")), "okey")
    h = (F.conv(F.substring(
        F.md5(F.concat(F.col("okey").cast("string"), F.lit("_"),
                       F.col("b").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 1000)
    rep = (base.crossJoin(F.broadcast(b))
           .select("b", "cents", h.alias("h"))
           .select("b", "cents",
                   F.expr(poisson_mult_case("h")).alias("m"))
           .where(F.col("m") > 0))
    dd = "decimal(38,0)"
    means = cut(rep.groupBy("b")
                .agg(F.sum(F.col("m").cast(dd) * F.col("cents").cast(dd))
                     .alias("s"),
                     F.sum("m").cast("bigint").alias("n"))
                .select("b", (F.col("s").cast("double")
                              / F.col("n").cast("double")).alias("mean_b")))
    ranked = (means.join(
        F.broadcast(means.select(F.col("b").alias("b2"),
                                 F.col("mean_b").alias("m2"))),
        (F.col("m2") < F.col("mean_b"))
        | ((F.col("m2") == F.col("mean_b")) & (F.col("b2") <= F.col("b"))))
        .groupBy("b", "mean_b")
        .agg(F.count(F.lit(1)).alias("rank")))
    k_lo = max(1, int(0.05 * n_boot))
    k_hi = min(n_boot, int(round(0.975 * n_boot)))
    lo = (ranked.where(F.col("rank") == k_lo)
          .agg(F.min("mean_b").alias("ci_lo")))
    hi = (ranked.where(F.col("rank") == k_hi)
          .agg(F.min("mean_b").alias("ci_hi")))
    point = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (F.sum(F.col("cents").cast(dd)).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("point_mean"))
    return (point.crossJoin(F.broadcast(lo))
            .crossJoin(F.broadcast(hi))
            .select("n_orders",
                    (F.round("point_mean", 6) + F.lit(0.0))
                    .alias("point_mean"),
                    (F.round("ci_lo", 6) + F.lit(0.0)).alias("ci_lo"),
                    (F.round("ci_hi", 6) + F.lit(0.0)).alias("ci_hi"),
                    F.lit(n_boot).cast("int").alias("n_boot")))


def quantile_normalize(docs: DataFrame) -> DataFrame:
    """Quantile normalization of each source's document-length
    distribution onto the POOLED length distribution (the microarray
    normalization of Bolstad et al. 2003, generalized to unequal
    group sizes by inverse-CDF rank mapping) — the feature-alignment
    step that makes per-source length features comparable before a
    mixed-corpus quality model trains on them: a doc at within-source
    rank r of n_s maps to the pooled value at rank ceil(r·N/n_s).

    Exactness: ranks are integers from a source-partitioned window
    under the total (n_chars, doc_id) order; the target rank is
    integer ceil division; the pooled inverse CDF is the bounded
    length histogram (value domain capped by the document-length
    cap) with cumulative counts from the broadcast triangular join —
    each doc then matches EXACTLY ONE histogram bin via the
    half-open rank interval (cum − c, cum]. No floats anywhere.

    Shape: one histogram aggregate + one per-source count + one
    partitioned window over the corpus + a broadcast single-match
    range join against the bounded histogram. Output is per-doc."""
    hist = (docs.groupBy(F.col("n_chars").alias("q_val"))
            .agg(F.count(F.lit(1)).alias("c")))
    rhs = hist.select(F.col("q_val").alias("v2"), F.col("c").alias("c2"))
    cum = (hist.join(F.broadcast(rhs), F.col("v2") <= F.col("q_val"))
           .groupBy("q_val", "c").agg(F.sum("c2").alias("cum")))
    n_tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    ns = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = (docs.select("doc_id", "source", "n_chars")
              .withColumn("r", F.row_number().over(w))
              .join(F.broadcast(ns), "source")
              .crossJoin(F.broadcast(n_tot))
              .withColumn("tr", F.expr(
                  "(r * n_total + n_s - 1) DIV n_s")))
    return (ranked.join(F.broadcast(cum),
                        (F.col("tr") <= F.col("cum"))
                        & (F.col("tr") > F.col("cum") - F.col("c")))
            .select("doc_id", "source", "n_chars",
                    F.col("q_val").cast("bigint").alias("norm_chars")))


#: PSI bucket width in cents (10 fixed $5,000 buckets clamp at #9 —
#: fixed-width, not data-quantile, so the bucket edges are constants
#: and the metric is comparable across runs; standard practice for
#: monitoring dashboards).
PSI_BUCKET_CENTS = 5_000_000
PSI_N_BUCKETS = 10
#: Micro-quantization scale for exact-summable PSI contributions.
PSI_SCALE = 100_000_000


def psi_drift(orders: DataFrame) -> DataFrame:
    """Population Stability Index (the standard ML-monitoring drift
    metric: PSI = Σ (p−q)·ln(p/q) over value buckets; <0.1 stable,
    >0.25 action) of the order-price distribution between the FIRST
    and SECOND half of the order-date range — the model-input drift
    check `drift_chisq` (a significance test) doesn't answer:
    chi-square says "is there ANY drift", PSI says "how much, and
    from which buckets".

    Determinism: halves split on the exact integer midpoint day;
    buckets are fixed-width integer cent divisions (clamped top
    bucket); counts are add-one smoothed so empty buckets stay
    finite; each bucket's contribution is ONE fixed-form double
    expression — and the headline total is the EXACT INTEGER sum of
    per-bucket contributions quantized to 1e-8 (micronat playbook),
    so the sum is aggregation-order-free. Output: one row per bucket
    (counts, p, q, contribution) plus the exact total as psi.

    Shape: one scan buckets both halves (map-side combined), the
    |buckets|-row frame carries everything after."""
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("dmin"),
        F.max(F.to_date("o_orderdate")).alias("dmax"))
    half = F.expr("date_add(dmin, CAST(datediff(dmax, dmin) DIV 2 "
                  "AS INT))")
    b = F.expr(f"least({PSI_N_BUCKETS - 1}, "
               f"CAST(round(o_totalprice * 100, 0) AS BIGINT) "
               f"DIV {PSI_BUCKET_CENTS})")
    cnt = (orders.crossJoin(F.broadcast(bounds))
           .select(b.alias("bucket"),
                   (F.to_date("o_orderdate") <= half).cast("int")
                   .alias("is_ref"))
           .groupBy("bucket")
           .agg(F.sum("is_ref").alias("n_ref"),
                F.sum(F.expr("1 - is_ref")).alias("n_cur")))
    tot = cnt.agg(F.sum("n_ref").alias("t_ref"),
                  F.sum("n_cur").alias("t_cur"))
    p = f"(CAST(n_ref + 1 AS DOUBLE) / (t_ref + {PSI_N_BUCKETS}))"
    q = f"(CAST(n_cur + 1 AS DOUBLE) / (t_cur + {PSI_N_BUCKETS}))"
    contrib = f"(({p} - {q}) * ln({p} / {q}))"
    per = cut(cnt.crossJoin(F.broadcast(tot))
              .select(F.col("bucket").cast("bigint").alias("bucket"),
                      F.col("n_ref").cast("bigint").alias("n_ref"),
                      F.col("n_cur").cast("bigint").alias("n_cur"),
                      (F.round(F.expr(p), 6) + F.lit(0.0)).alias("p_ref"),
                      (F.round(F.expr(q), 6) + F.lit(0.0)).alias("p_cur"),
                      (F.round(F.expr(contrib), 6) + F.lit(0.0))
                      .alias("contribution"),
                      F.expr(f"CAST(round(({contrib}) * {PSI_SCALE}, 0) "
                             f"AS BIGINT)").alias("c_mn")))
    total = per.agg((F.sum("c_mn") / F.lit(float(PSI_SCALE)))
                    .alias("psi"))
    return (per.crossJoin(F.broadcast(total))
            .select("bucket", "n_ref", "n_cur", "p_ref", "p_cur",
                    "contribution",
                    (F.round("psi", 6) + F.lit(0.0)).alias("psi")))


def eb_shrunk_rates(lineitem: DataFrame) -> DataFrame:
    """Empirical-Bayes shrinkage of per-part return rates under a
    method-of-moments Beta prior (Robbins 1956; the James-Stein idea
    every marketplace "product score" uses): a part seen 3 times
    with 2 returns must NOT outrank a part seen 300 times with 120 —
    raw rates are replaced by (a + x)/(a + b + n) where the Beta(a,b)
    prior is fitted from the corpus's own rate distribution:

        m  = mean of raw rates,  v = variance of raw rates
        a  = m·(m(1−m)/v − 1),   b = (1−m)·(m(1−m)/v − 1)

    Exactness: per-part (x, n) are exact integers; the rate moments
    accumulate as exact scaled-integer sums (rate_scaled = x·10^6
    div n — integer division, engine-identical), so m and v are
    fixed-form doubles from exact integers, computed ONCE in a 1-row
    frame that broadcasts; each part's shrunk rate is one more
    fixed-form expression rounded 6dp. Output: top-50 parts by
    shrunk rate (deterministic order) with raw and shrunk columns.

    Shape: one fact aggregate to |parts| rows; one 1-row moment
    frame; a broadcast join-back; a TakeOrdered cut."""
    per = cut(lineitem.groupBy(F.col("l_partkey").alias("part"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.when(F.col("l_returnflag") == "R", 1)
                         .otherwise(0)).alias("x"))
              .withColumn("rs", F.expr("(x * 1000000) DIV n")))
    mom = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("rs").alias("s1"),
        F.sum(F.expr("CAST(rs AS decimal(38,0)) * rs")).alias("s2"))
    m = "(CAST(s1 AS DOUBLE) / k / 1000000.0)"
    v = ("(CAST(s2 AS DOUBLE) / k / 1000000.0 / 1000000.0 "
         f"- {m} * {m})")
    c = f"({m} * (1.0 - {m}) / {v} - 1.0)"
    ab = mom.select(F.expr(f"{m} * {c}").alias("a"),
                    F.expr(f"(1.0 - {m}) * {c}").alias("b"))
    shrunk = ("((a + x) / (a + b + n))")
    return (per.crossJoin(F.broadcast(ab))
            .select("part", F.col("n").cast("bigint").alias("n"),
                    F.col("x").cast("bigint").alias("x"),
                    (F.round(F.expr("CAST(x AS DOUBLE) / n"), 6)
                     + F.lit(0.0)).alias("raw_rate"),
                    (F.round(F.expr(shrunk), 6) + F.lit(0.0))
                    .alias("shrunk_rate"))
            .orderBy(F.col("shrunk_rate").desc(), "part").limit(50))


def emd_length_drift(docs: DataFrame) -> DataFrame:
    """Per-source earth-mover distance (1-D Wasserstein) between the
    source's document-length distribution and the pooled corpus —
    the mass-TRANSPORT drift metric next to `psi_drift`'s density
    ratio and `ks_two_sample`'s sup-gap: EMD says how far the mass
    must move, in characters, so a source whose docs are uniformly
    200 chars longer scores exactly 200.

    Closed form in 1-D: EMD = ∫|F_src − F_pool| dv = Σ over the
    pooled support |F_src(v_i) − F_pool(v_i)|·(v_{i+1} − v_i) — and
    every term is EXACT INTEGER here: scaled CDF difference
    |cumS·N − cumP·nS| times the integer value gap, accumulated in
    decimal(38) (HUGEINT in the oracle), with ONE final fixed-form
    division by nS·N rounded 4dp. The tail past the max value
    contributes zero (both CDFs are 1), so dropping the last gap is
    exact, not an approximation.

    Shape: the corpus collapses to bounded length histograms (value
    domain capped by document length); cumulatives and gaps are
    keyed triangular joins over those frames; sources fan out over a
    broadcast |sources|-row frame. Output is |sources| rows."""
    v = F.col("n_chars").alias("v")
    hist_p = docs.groupBy(v).agg(F.count(F.lit(1)).alias("cp"))
    vals = cut(hist_p.select("v"))
    rhs_p = hist_p.select(F.col("v").alias("v2"), F.col("cp").alias("c2"))
    cum_p = (vals.join(F.broadcast(rhs_p), F.col("v2") <= F.col("v"))
             .groupBy("v").agg(F.sum("c2").alias("cump")))
    rhs_v = vals.select(F.col("v").alias("v3"))
    gaps = (vals.join(F.broadcast(rhs_v), F.col("v3") > F.col("v"))
            .groupBy("v").agg((F.min("v3") - F.col("v")).alias("gap"))
            .select("v", "gap"))
    ns = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    n_tot = docs.agg(F.count(F.lit(1)).alias("n_total"))
    hist_s = (docs.groupBy("source", F.col("n_chars").alias("vs"))
              .agg(F.count(F.lit(1)).alias("cs")))
    sv = ns.select("source").crossJoin(vals)
    cum_s = (sv.join(F.broadcast(hist_s),
                     (F.col("vs") <= F.col("v"))
                     & (hist_s.source == sv.source), "left")
             .groupBy(sv.source.alias("source"), "v")
             .agg(F.coalesce(F.sum("cs"), F.lit(0)).alias("cums")))
    d = "decimal(38,0)"
    term = F.expr(f"abs(CAST(cums AS {d}) * n_total "
                  f"- CAST(cump AS {d}) * n_s) * gap")
    return (cum_s.join(cum_p, "v").join(gaps, "v")
            .join(F.broadcast(ns), "source")
            .crossJoin(F.broadcast(n_tot))
            .groupBy("source", "n_s", "n_total")
            .agg(F.sum(term).alias("t"))
            .select("source", F.col("n_s").cast("bigint").alias("n_docs"),
                    (F.round(F.expr(
                        "CAST(t AS DOUBLE) / (CAST(n_s AS DOUBLE) "
                        "* n_total)"), 4) + F.lit(0.0))
                    .alias("emd_chars")))


#: Bins built by v_optimal_histogram.
VOPT_BINS = 4


def v_optimal_histogram(docs: DataFrame,
                        k: int = VOPT_BINS) -> DataFrame:
    """V-optimal histogram construction (Jagadish et al., VLDB 1998
    — the synopsis a cost-based optimizer builds when equi-width/
    equi-depth misestimate skew): partition the doc-length value
    domain into k bins minimizing total within-bin weighted SSE,
    by exact dynamic programming over the bounded value histogram.

    Determinism: interval costs are the weighted SSE in QUANTIZED
    integer units — sse(a,b) = (Svv·m − Sv²) div m over exact
    decimal(38) prefix sums (floor quantization < 1 unit, applied
    identically in both engines), so the DP table, the argmin
    splits (ties = smallest boundary) and bin edges are exact
    integer comparisons throughout.

    Shape: the corpus collapses to the value histogram once; prefix
    sums and the O(n²) interval-cost frame are keyed triangular
    joins over that bounded frame (value domain capped by document
    length — independent of corpus size); the DP unrolls k−1 joins
    and the backtrack k deterministic 1-row TakeOrdereds. Output is
    k rows: (bin, lo, hi, n_docs, sse_q)."""
    hist = cut(docs.groupBy(F.col("n_chars").alias("v"))
               .agg(F.count(F.lit(1)).alias("c")))
    # dense 1..n value ranks WITHOUT a global window (repo rule):
    # i = triangular count over the bounded histogram frame
    lower = hist.select(F.col("v").alias("v2"))
    idx = cut(hist.join(F.broadcast(lower), F.col("v2") <= F.col("v"))
              .groupBy("v", "c")
              .agg(F.count(F.lit(1)).cast("int").alias("i")))
    d = "decimal(38,0)"
    rhs = idx.select(F.col("i").alias("j"), F.col("v").alias("vj"),
                     F.col("c").alias("cj"))
    # interval costs for every (a <= b) from PREFIX sums: the former
    # direct triangular form materialized Σ interval lengths = O(n³)/6
    # rows through one join (the round-14 optimization); prefix sums
    # cost O(n²) and interval sums are their exact decimal(38)
    # differences — integer sums of the same terms, so every m/sv/svv
    # (and hence the DP and the bins) is bit-identical
    pre = cut(idx.select(F.col("i").alias("p"))
              .join(F.broadcast(rhs), F.col("j") <= F.col("p"))
              .groupBy("p")
              .agg(F.sum("cj").alias("pc"),
                   F.sum(F.expr(f"CAST(cj AS {d}) * vj")).alias("psv"),
                   F.sum(F.expr(f"CAST(cj AS {d}) * vj * vj")).alias("psvv")))
    pb = pre.select(F.col("p").alias("b"), F.col("pc").alias("cb"),
                    F.col("psv").alias("svb"), F.col("psvv").alias("svvb"))
    pa = pre.select((F.col("p") + 1).cast("int").alias("a"),
                    F.col("pc").alias("ca"),
                    F.col("psv").alias("sva"), F.col("psvv").alias("svva"))
    zc = F.lit(0).cast("bigint")
    zd = F.lit(0).cast(d)
    seg = cut(idx.select(F.col("i").alias("a"))
              .join(F.broadcast(idx.select(F.col("i").alias("b"))),
                    F.col("a") <= F.col("b"))
              .join(F.broadcast(pb), "b")
              .join(F.broadcast(pa), "a", "left")
              .select("a", "b",
                      (F.col("cb") - F.coalesce(F.col("ca"), zc)).alias("m"),
                      (F.col("svb") - F.coalesce(F.col("sva"), zd))
                      .cast(d).alias("sv"),
                      (F.col("svvb") - F.coalesce(F.col("svva"), zd))
                      .cast(d).alias("svv"))
              .select("a", "b", "m",
                      F.expr(f"CAST((svv * m - sv * sv) DIV m AS {d})")
                      .alias("sse")))
    n_vals = idx.agg(F.max("i").alias("n")).collect()[0]["n"]
    # DP: dk[(b)] = min cost of covering 1..b with kk bins
    dk = seg.where(F.col("a") == 1).select("b", F.col("sse").alias("d"))
    loop = loop_session(seg)
    tables = {1: cut(dk, loop)}
    for kk in range(2, k + 1):
        prev = tables[kk - 1].select(F.col("b").alias("j"),
                                     F.col("d").alias("dp"))
        dk = (seg.join(F.broadcast(prev), F.col("j") == F.col("a") - 1)
              .groupBy("b")
              .agg(F.min(F.col("dp") + F.col("sse")).alias("d")))
        tables[kk] = cut(dk, loop)
    # backtrack: walk right edge down, picking the smallest argmin j
    edges = []  # bin right-edge indexes, discovered right-to-left
    b_cur = n_vals
    for kk in range(k, 1, -1):
        prev = tables[kk - 1].select(F.col("b").alias("j"),
                                     F.col("d").alias("dp"))
        pick = (seg.where((F.col("b") == b_cur))
                .join(F.broadcast(prev), F.col("j") == F.col("a") - 1)
                .orderBy((F.col("dp") + F.col("sse")).asc(),
                         F.col("a").asc())
                .limit(1).select("a").collect())
        edges.append((int(pick[0]["a"]), b_cur))
        b_cur = int(pick[0]["a"]) - 1
    edges.append((1, b_cur))
    edges.reverse()
    spark = docs.sparkSession
    bins = spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(edges)],
        "bin long, a int, b int")
    return (bins.join(F.broadcast(seg), ["a", "b"])
            .join(F.broadcast(idx.select(F.col("i").alias("a"),
                                         F.col("v").alias("lo"))), "a")
            .join(F.broadcast(idx.select(F.col("i").alias("b"),
                                         F.col("v").alias("hi"))), "b")
            .select("bin", F.col("lo").cast("bigint").alias("lo"),
                    F.col("hi").cast("bigint").alias("hi"),
                    F.col("m").cast("bigint").alias("n_docs"),
                    F.col("sse").cast("bigint").alias("sse_q")))


#: HBOS feature-cost quantization (micronats) and report size.
HBOS_SCALE = 1_000_000
HBOS_TOP_K = 20
#: Price-bucket width (cents) and clamp, shared with the oracle.
HBOS_BUCKET_CENTS = 5_000_000
HBOS_N_BUCKETS = 10


def hbos_cost_expr() -> str:
    """Per-feature-value HBOS cost as SQL text over integer columns
    c (value count) and n (corpus size), shared verbatim with the
    oracle: -ln(density) = ln(N/c), quantized to BIGINT micronats
    (one ln per BOUNDED feature value, never per row)."""
    return (f"CAST(round(ln(CAST(n AS DOUBLE) / c) * {HBOS_SCALE}, 0) "
            f"AS BIGINT)")


def hbos_outliers(orders: DataFrame) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel 2012 — the
    embarrassingly parallel unsupervised outlier detector: assume
    feature independence, score each row by the summed negative log
    density of its per-feature histogram buckets). Features here:
    the order's price bucket (fixed integer-cent divisions, clamped
    top bucket — the psi_drift binning), order month, and order
    priority. High score = the order sits in rare buckets on several
    independent features at once.

    Exactness: per-feature-value costs quantize to BIGINT micronats
    at the BOUNDED (feature, value) frame (`hbos_cost_expr`, shared
    text — one ln per bucket, never per row); a row's score is then
    an exact integer SUM of three costs, so the top-k cut is an
    exact integer order with o_orderkey tiebreak.

    Scale: one stack-unpivot scan builds all three histograms
    (map-side combined, |features × values|-bounded); the fact scan
    joins the three BROADCAST cost maps and cuts top-k via
    TakeOrdered. Two scans total, no shuffle of the fact."""
    pb = (f"least({HBOS_N_BUCKETS - 1}, "
          f"CAST(round(o_totalprice * 100, 0) AS BIGINT) "
          f"DIV {HBOS_BUCKET_CENTS})")
    feats = {
        "price_b": f"CAST({pb} AS STRING)",
        "month": "CAST(month(to_date(o_orderdate)) AS STRING)",
        "prio": "o_orderpriority",
    }
    stack_args = ", ".join(f"'{k}', {v}" for k, v in feats.items())
    unpiv = orders.select(F.expr(
        f"stack({len(feats)}, {stack_args}) AS (feat, val)"))
    n = orders.agg(F.count(F.lit(1)).alias("n"))
    hist = cut(unpiv.groupBy("feat", "val")
               .agg(F.count(F.lit(1)).alias("c"))
               .crossJoin(F.broadcast(n))
               .select("feat", "val", F.expr(hbos_cost_expr()).alias("mn")))
    fact = orders.select(
        "o_orderkey",
        F.expr(feats["price_b"]).alias("v1"),
        F.expr(feats["month"]).alias("v2"),
        F.expr(feats["prio"]).alias("v3"))
    cost = {k: (hist.where(F.col("feat") == k)
                .select(F.col("val").alias(f"v{i+1}"),
                        F.col("mn").alias(f"mn{i+1}")))
            for i, k in enumerate(feats)}
    scored = fact
    for i in range(len(feats)):
        scored = scored.join(F.broadcast(cost[list(feats)[i]]),
                             f"v{i+1}")
    return (scored
            .select("o_orderkey",
                    F.col("v1").cast("bigint").alias("price_bucket"),
                    F.col("v2").cast("bigint").alias("order_month"),
                    F.col("v3").alias("priority"),
                    (F.col("mn1") + F.col("mn2") + F.col("mn3"))
                    .cast("bigint").alias("score_mn"))
            .withColumn("hbos_score",
                        F.round(F.col("score_mn").cast("double")
                                / F.lit(float(HBOS_SCALE)), 6)
                        + F.lit(0.0))
            .orderBy(F.col("score_mn").desc(), "o_orderkey")
            .limit(HBOS_TOP_K))


def cuped_exprs() -> "dict[str, str]":
    """CUPED quantities as SQL text over exact integer moment columns
    (n, sx, sy, sxx, sxy, syy, na, sxa, sya), shared verbatim with
    the oracle. theta and the variance-reduction percentage come
    from the pooled moments; per-arm adjusted means combine arm sums
    with the pooled theta and pooled pre-period mean."""
    cov = "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    varx = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    vary = "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
    theta = f"({cov} / {varx})"
    return {
        "theta": theta,
        "var_reduction_pct":
            f"(100.0 * {cov} * {cov} / ({varx} * {vary}))",
        "mean_post": "(CAST(sya AS DOUBLE) / na / 100.0)",
        "mean_post_adj":
            f"((CAST(sya AS DOUBLE) - {theta} * (CAST(sxa AS DOUBLE) "
            f"- CAST(na AS DOUBLE) * (CAST(sx AS DOUBLE) / n))) "
            f"/ na / 100.0)",
    }


def cuped_adjusted_lift(events: DataFrame) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013 —
    the pre-experiment covariate adjustment every large experiment
    platform applies): users split into arms by user_id parity (an
    A/A by construction, like `ab_test_conversion`); each user's
    PRE-period revenue (first half of the date range) is the
    covariate X for their POST-period revenue Y; the adjusted metric
    Y − θ(X − E[X]) with θ = cov(X,Y)/var(X) keeps the same mean but
    removes 100·ρ² percent of the variance — the report shows raw vs
    adjusted per-arm means, θ, and that reduction.

    Exactness: X/Y are exact integer cents from ONE conditional
    per-user aggregate; all moments (Σx, Σy, Σx², Σxy, Σy²)
    accumulate exactly in decimal(38,0); θ, the adjusted means and
    the reduction are fixed-form doubles over those integers
    (`cuped_exprs`, shared text). Scale: one corpus scan → |users|
    frame → two 1/2-row moment frames; everything broadcasts."""
    d38 = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    day = F.to_date("ts")
    bounds = events.agg(F.min(day).alias("dmin"), F.max(day).alias("dmax"))
    half = F.expr("date_add(dmin, CAST(datediff(dmax, dmin) DIV 2 "
                  "AS INT))")
    per_user = cut(events.crossJoin(F.broadcast(bounds))
                   .select(F.col("user_id"), cents.alias("c"),
                           (day <= half).cast("int").alias("is_pre"))
                   .groupBy("user_id")
                   .agg(F.sum(F.expr("c * is_pre")).cast("bigint")
                        .alias("x"),
                        F.sum(F.expr("c * (1 - is_pre)")).cast("bigint")
                        .alias("y")))
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"CAST(x AS {d38}) * x")).alias("sxx"),
        F.sum(F.expr(f"CAST(x AS {d38}) * y")).alias("sxy"),
        F.sum(F.expr(f"CAST(y AS {d38}) * y")).alias("syy"))
    arms = (per_user.groupBy((F.col("user_id") % 2).alias("arm"))
            .agg(F.count(F.lit(1)).alias("na"),
                 F.sum("x").cast("bigint").alias("sxa"),
                 F.sum("y").cast("bigint").alias("sya")))
    e = cuped_exprs()
    return (arms.crossJoin(F.broadcast(pooled))
            .select(F.col("arm").cast("bigint").alias("arm"),
                    F.col("na").cast("bigint").alias("n_users"),
                    (F.round(F.expr(e["mean_post"]), 4) + F.lit(0.0))
                    .alias("mean_post"),
                    (F.round(F.expr(e["mean_post_adj"]), 4)
                     + F.lit(0.0)).alias("mean_post_adj"),
                    (F.round(F.expr(e["theta"]), 6) + F.lit(0.0))
                    .alias("theta"),
                    (F.round(F.expr(e["var_reduction_pct"]), 4)
                     + F.lit(0.0)).alias("var_reduction_pct")))


#: Stratification: activity strata (event-count buckets) and the
#: micro-cent quantization of per-stratum ATE contributions.
STRATA_BUCKET = 5
STRATA_MAX = 4
ATE_SCALE = 1_000_000


def stratified_treatment_effect(events: DataFrame) -> DataFrame:
    """Stratified average-treatment-effect estimate (Cochran 1968 —
    the exact-matching form of propensity adjustment): arms by
    user_id parity (A/A by construction, the ab_test_conversion /
    cuped design), strata by user ACTIVITY (event-count bucket — the
    confounder a naive diff ignores: heavy users both buy more and
    land in either arm), outcome = the user's purchase revenue.
    ATE = Σ_s w_s · (ȳ_1s − ȳ_0s) with w_s = n_s / N.

    Exactness: per-user (n_events, revenue cents) are exact integers
    from one conditional aggregate; per-(stratum, arm) sums are
    exact; each stratum's weighted contribution is ONE fixed-form
    double quantized to micro-cents (round ·1e6 → BIGINT), so the
    headline ATE is an exact integer sum of per-stratum terms
    (order-free, the psi_drift playbook). Output: one row per
    stratum (sizes, arm means, diff, weight, contribution) with the
    headline ATE alongside.

    Scale: corpus → |users| frame → |strata × 2| frame; everything
    after broadcasts."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    pu = (events.groupBy("user_id")
          .agg(F.count(F.lit(1)).alias("n_ev"),
               F.sum(F.when(F.col("event_type") == "purchase", cents)
                     .otherwise(0)).cast("bigint").alias("y"))
          .select((F.col("user_id") % 2).alias("arm"),
                  F.expr(f"least({STRATA_MAX}, "
                         f"(n_ev - 1) DIV {STRATA_BUCKET})")
                  .cast("bigint").alias("stratum"),
                  "y"))
    cell = (pu.groupBy("stratum", "arm")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum("y").cast("bigint").alias("sy")))
    strata = cut(cell.groupBy("stratum")
                 .agg(F.sum(F.when(F.col("arm") == 0, F.col("n"))
                            .otherwise(0)).cast("bigint").alias("n0"),
                      F.sum(F.when(F.col("arm") == 0, F.col("sy"))
                            .otherwise(0)).cast("bigint").alias("sy0"),
                      F.sum(F.when(F.col("arm") == 1, F.col("n"))
                            .otherwise(0)).cast("bigint").alias("n1"),
                      F.sum(F.when(F.col("arm") == 1, F.col("sy"))
                            .otherwise(0)).cast("bigint").alias("sy1"))
                 .where((F.col("n0") > 0) & (F.col("n1") > 0)))
    total = strata.agg(F.sum(F.col("n0") + F.col("n1")).alias("nn"))
    diff = ("(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)")
    contrib = (f"(CAST(n0 + n1 AS DOUBLE) / nn * {diff})")
    per = cut(strata.crossJoin(F.broadcast(total))
              .select("stratum", "n0", "n1",
                      (F.round(F.expr("CAST(sy0 AS DOUBLE) / n0 / 100.0"),
                               4) + F.lit(0.0)).alias("mean_y0"),
                      (F.round(F.expr("CAST(sy1 AS DOUBLE) / n1 / 100.0"),
                               4) + F.lit(0.0)).alias("mean_y1"),
                      (F.round(F.expr(f"{diff} / 100.0"), 4) + F.lit(0.0))
                      .alias("diff"),
                      F.expr(f"CAST(round(({contrib}) * {ATE_SCALE}, 0) "
                             f"AS BIGINT)").alias("c_mn")))
    ate = per.agg((F.sum("c_mn")
                   / F.lit(float(ATE_SCALE) * 100.0)).alias("a"))
    return (per.crossJoin(F.broadcast(ate))
            .select("stratum", "n0", "n1", "mean_y0", "mean_y1",
                    "diff",
                    (F.round("a", 6) + F.lit(0.0)).alias("ate")))


#: QTE quantiles as exact rationals (numerator, denominator, label).
QTE_QUANTILES = ((1, 4, "p25"), (1, 2, "p50"),
                 (3, 4, "p75"), (9, 10, "p90"))


def quantile_treatment_effect(events: DataFrame) -> DataFrame:
    """Quantile treatment effects (Doksum 1974 — where the
    distribution moved, not just its mean): exact per-arm order
    statistics of each user's PURCHASE COUNT (parity arms, the A/A
    design shared with ab_test/cuped/stratified ATE) and their
    differences at p25/p50/p75/p90 — a treatment that only moves the
    heavy tail shows a zero median QTE and a large p90 QTE, which
    the mean-based `stratified_treatment_effect` averages away.

    Exactness: the outcome domain (purchases per user) is BOUNDED,
    so quantiles are exact ceil(q·n) selections from per-arm count
    histograms via broadcast triangular cumulatives (the
    conversion_lag_quantiles machinery, per arm); every output is an
    integer.

    Scale: corpus → |users| frame → |arms × counts| histogram;
    everything after broadcasts."""
    spark = events.sparkSession
    pu = (events.groupBy("user_id")
          .agg(F.sum(F.when(F.col("event_type") == "purchase", 1)
                     .otherwise(0)).alias("np"))
          .select((F.col("user_id") % 2).alias("arm"), "np"))
    hist = cut(pu.groupBy("arm", "np")
               .agg(F.count(F.lit(1)).alias("c")))
    rhs = hist.select(F.col("arm").alias("a2"),
                      F.col("np").alias("np2"), F.col("c").alias("c2"))
    cum = (hist.join(F.broadcast(rhs),
                     (F.col("a2") == F.col("arm"))
                     & (F.col("np2") <= F.col("np")))
           .groupBy("arm", "np").agg(F.sum("c2").alias("cum")))
    tot = pu.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    qf = spark.createDataFrame(list(QTE_QUANTILES),
                               "qn long, qd long, q_label string")
    th = (tot.crossJoin(F.broadcast(qf))
          .select("arm", "q_label", "n",
                  F.expr("(qn * n + qd - 1) DIV qd").alias("r")))
    qv = (cum.join(F.broadcast(th), "arm")
          .where(F.col("cum") >= F.col("r"))
          .groupBy("q_label", "arm", "n")
          .agg(F.min("np").alias("val")))
    a0 = qv.where(F.col("arm") == 0).select(
        "q_label", F.col("n").cast("bigint").alias("n0"),
        F.col("val").cast("bigint").alias("q_arm0"))
    a1 = qv.where(F.col("arm") == 1).select(
        "q_label", F.col("n").cast("bigint").alias("n1"),
        F.col("val").cast("bigint").alias("q_arm1"))
    return (a0.join(a1, "q_label")
            .select("q_label", "n0", "n1", "q_arm0", "q_arm1",
                    (F.col("q_arm1") - F.col("q_arm0")).cast("bigint")
                    .alias("qte")))


#: Lorenz curve points per decile of the (ascending-spend) population.
LORENZ_DECILES = 10


def lorenz_curve_points(orders: DataFrame,
                        customer: DataFrame) -> DataFrame:
    """Lorenz curve of customer spend within each nation at decile
    resolution — the curve `gini_by_nation`'s single number
    integrates: L(d) = share of total spend held by the poorest
    ⌊d·n/10⌋ buyers. Reading the two together is the standard
    inequality audit (a nation can hit the same Gini with very
    different tail shapes; the curve shows WHERE the concentration
    lives).

    Exactness: same ascending (spend, custkey) total order and
    exact-cent sums as gini_by_nation; the running cumulative is a
    nation-PARTITIONED window over exact integers; each decile row
    picks the exact rank ⌊d·n/10⌋ (integer DIV) and reports one
    fixed-form division, 6dp. Output: (nationkey, decile,
    buyers_cum, spend_share)."""
    from pyspark.sql.window import Window as W

    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    spend = (orders.select("o_custkey", cents.alias("cents"))
             .groupBy("o_custkey").agg(F.sum("cents").alias("x")))
    by_nation = spend.join(
        customer.select(F.col("c_custkey").alias("o_custkey"),
                        F.col("c_nationkey").alias("nationkey")),
        "o_custkey")
    w = (W.partitionBy("nationkey")
         .orderBy(F.col("x").asc(), F.col("o_custkey").asc()))
    ranked = cut(by_nation
                 .withColumn("i", F.row_number().over(w))
                 .withColumn("cum", F.sum("x").over(
                     w.rowsBetween(W.unboundedPreceding, W.currentRow))))
    per_nat = ranked.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"))
    spark = orders.sparkSession
    dec = spark.createDataFrame(
        [(d,) for d in range(1, LORENZ_DECILES + 1)], "decile long")
    th = (per_nat.crossJoin(F.broadcast(dec))
          .select("nationkey", "decile", "sx",
                  F.expr(f"(decile * n) DIV {LORENZ_DECILES}")
                  .alias("i"))
          .where(F.col("i") >= 1))
    return (ranked.select("nationkey", "i", "cum")
            .join(F.broadcast(th), ["nationkey", "i"])
            .select(F.col("nationkey").cast("bigint").alias("nationkey"),
                    "decile",
                    F.col("i").cast("bigint").alias("buyers_cum"),
                    (F.round(F.expr("CAST(cum AS DOUBLE) / sx"), 6)
                     + F.lit(0.0)).alias("spend_share")))


#: BH-FDR level (micro units) and the p-value quantization scale.
BH_ALPHA_MICRO = 100_000          # alpha = 0.10
BH_P_SCALE = 1_000_000


def normal_two_sided_p_expr(z_expr: str) -> str:
    """SQL text for the two-sided normal p-value 2(1−Φ(|z|)) =
    erfc(|z|/√2) via the Abramowitz & Stegun 7.1.26 rational
    approximation (|error| < 1.5e-7) — shared VERBATIM with the
    DuckDB oracle (the flesch_expr convention): both engines
    evaluate the identical IEEE expression (one exp(), five fused
    polynomial terms), so the micro-quantized p matches exactly.
    Neither engine ships erf() as a portable builtin; this is the
    standard published workaround."""
    x = f"(abs({z_expr}) / 1.4142135623730951)"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (f"({t} * (0.254829592 + {t} * (-0.284496736 "
            f"+ {t} * (1.421413741 + {t} * (-1.453152027 "
            f"+ {t} * 1.061405429)))))")
    return f"({poly} * exp(-({x}) * ({x})))"


def bh_fdr_return_rates(lineitem: DataFrame, orders: DataFrame,
                        customer: DataFrame) -> DataFrame:
    """Benjamini-Hochberg FDR control (Benjamini & Hochberg 1995)
    over the 25 per-nation "is this nation's return rate different?"
    two-proportion z-tests — the multiple-testing correction the
    repo's test family (MWU, KS, ANOVA, drift χ²) was missing: at
    m = 25 simultaneous tests, α = 0.1 per test produces false
    discoveries by design; BH caps the expected FALSE DISCOVERY
    FRACTION at α instead.

    Per nation h: k_h returned of n_h line items vs the rest of the
    corpus, pooled z = (p_h − p_rest)/√(p̄(1−p̄)(1/n_h + 1/n_rest))
    — a fixed-form double over exact integer counts; the two-sided
    p = erfc(|z|/√2) via the shared A&S 7.1.26 text (micro-
    quantized, so everything downstream is integer arithmetic).
    BH step-up: with p₍₁₎≤…≤p₍ₘ₎ (nation tiebreak), p_adj(i) =
    min_{j≥i} p₍ⱼ₎·m/j (clamped to 1) computed as integer
    (p_mn·m·1000) DIV j terms with a suffix-min via a triangular
    self-join ON THE BOUNDED m-row frame — never a global window;
    discovery ⇔ p_adj ≤ α.

    Scale: one fact-side aggregate (orderkey join broadcast through
    the customer dimension) collapses the corpus to 25 rows;
    everything after is bounded-frame arithmetic."""
    flag = (F.col("l_returnflag") == "R").cast("bigint")
    nat = cut(lineitem.select("l_orderkey", flag.alias("r"))
              .join(orders.select(F.col("o_orderkey").alias("l_orderkey"),
                                  "o_custkey"), "l_orderkey")
              .join(F.broadcast(customer.select(
                  F.col("c_custkey").alias("o_custkey"),
                  F.col("c_nationkey").alias("nation"))), "o_custkey")
              .groupBy("nation")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_h"),
                   F.sum("r").cast("bigint").alias("k_h")))
    tot = nat.agg(F.sum("n_h").cast("bigint").alias("n_all"),
                  F.sum("k_h").cast("bigint").alias("k_all"),
                  F.count(F.lit(1)).cast("bigint").alias("m"))
    z = ("((CAST(k_h AS DOUBLE) / n_h "
         "  - CAST(k_all - k_h AS DOUBLE) / (n_all - n_h)) "
         " / sqrt((CAST(k_all AS DOUBLE) / n_all) "
         "        * (1.0 - CAST(k_all AS DOUBLE) / n_all) "
         "        * (1.0 / n_h + 1.0 / (n_all - n_h))))")
    p = normal_two_sided_p_expr(z)
    base = cut(nat.crossJoin(F.broadcast(tot))
               .select("nation", "n_h", "k_h", "m",
                       (F.round(F.expr(z), 4) + F.lit(0.0)).alias("z"),
                       F.expr(f"CAST(round({p} * {BH_P_SCALE}, 0) "
                              "AS BIGINT)").alias("p_micro")))
    rhs = base.select(F.col("p_micro").alias("p2"),
                      F.col("nation").alias("nat2"))
    ranked = (base.join(F.broadcast(rhs),
                        (F.col("p2") < F.col("p_micro"))
                        | ((F.col("p2") == F.col("p_micro"))
                           & (F.col("nat2") < F.col("nation"))),
                        "left")
              .groupBy("nation", "n_h", "k_h", "m", "z", "p_micro")
              .agg((F.count("nat2") + 1).cast("bigint").alias("i")))
    # suffix min over j >= i of (p_(j)*m*1000) DIV j, clamped to 1
    terms = ranked.select(F.col("i").alias("j"),
                          F.expr(f"least(CAST(p_micro AS BIGINT) * m "
                                 f"* 1000 DIV j, "
                                 f"{BH_P_SCALE} * 1000)")
                          .alias("term"))
    adj = (ranked.join(F.broadcast(terms), F.col("j") >= F.col("i"))
           .groupBy("nation", "n_h", "k_h", "z", "p_micro", "i")
           .agg(F.min("term").alias("adj_q")))
    return adj.select(
        F.col("nation").cast("bigint").alias("nation"),
        "n_h", "k_h", "z", "p_micro",
        F.expr("adj_q DIV 1000").cast("bigint").alias("p_adj_micro"),
        (F.col("adj_q") <= BH_ALPHA_MICRO * 1000).alias("discovery"))


def did_estimate(events: DataFrame) -> DataFrame:
    """Difference-in-differences (the canonical panel causal
    estimator) on the CUPED panel: users split into arms by user_id
    parity (an A/A by construction), each user's revenue split into
    the pre/post halves of the date range, and the effect is
    (ΔY_treat) − (ΔY_control) of per-user means — the missing
    member of the experimentation family next to CUPED (covariate
    adjustment), stratified ATE, and QTE.

    The z-statistic uses each arm's per-user delta d = y − x with
    sample variance from exact decimal(38) moments:
    z = DiD / √(s₁²/n₁ + s₀²/n₀) (Welch form). Every mean and the
    statistic are fixed-form doubles over exact integer cents.

    Scale: one corpus scan → |users| frame → one 2-row arm
    aggregate; output is ONE row. Single-user arms (variance
    undefined) or single-arm data report NULL z, guarded explicitly
    (Spark 4 ANSI throws on /0)."""
    d38 = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    day = F.to_date("ts")
    bounds = events.agg(F.min(day).alias("dmin"),
                        F.max(day).alias("dmax"))
    half = F.expr("date_add(dmin, CAST(datediff(dmax, dmin) DIV 2 "
                  "AS INT))")
    per_user = (events.crossJoin(F.broadcast(bounds))
                .select("user_id", cents.alias("c"),
                        (day <= half).cast("int").alias("is_pre"))
                .groupBy("user_id")
                .agg(F.sum(F.expr("c * is_pre")).cast("bigint")
                     .alias("x"),
                     F.sum(F.expr("c * (1 - is_pre)")).cast("bigint")
                     .alias("y")))
    arms = (per_user
            .groupBy((F.col("user_id") % 2).alias("arm"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum("x").cast("bigint").alias("sx"),
                 F.sum("y").cast("bigint").alias("sy"),
                 F.sum(F.expr(f"CAST(y - x AS {d38}) * (y - x)"))
                 .cast(d38).alias("sdd")))
    t = (arms.where(F.col("arm") == 1)
         .select(F.col("n").alias("n1"), F.col("sx").alias("sx1"),
                 F.col("sy").alias("sy1"), F.col("sdd").alias("sdd1")))
    c = (arms.where(F.col("arm") == 0)
         .select(F.col("n").alias("n0"), F.col("sx").alias("sx0"),
                 F.col("sy").alias("sy0"), F.col("sdd").alias("sdd0")))
    m = lambda s, n: f"(CAST({s} AS DOUBLE) / {n} / 100.0)"
    did = (f"(({m('sy1', 'n1')} - {m('sx1', 'n1')}) "
           f"- ({m('sy0', 'n0')} - {m('sx0', 'n0')}))")
    var = (lambda sdd, sx, sy, n:
           f"((CAST({sdd} AS DOUBLE) "
           f"  - (CAST({sy} AS DOUBLE) - {sx}) "
           f"    * (CAST({sy} AS DOUBLE) - {sx}) / {n}) "
           f" / ({n} - 1) / 10000.0)")
    v1 = var("sdd1", "sx1", "sy1", "n1")
    v0 = var("sdd0", "sx0", "sy0", "n0")
    z = (f"CASE WHEN n1 < 2 OR n0 < 2 "
         f"OR {v1} / n1 + {v0} / n0 <= 0.0 "
         f"THEN CAST(NULL AS DOUBLE) "
         f"ELSE {did} / sqrt({v1} / n1 + {v0} / n0) END")
    return (t.crossJoin(F.broadcast(c))
            .select(
                F.col("n1").alias("n_treat"),
                F.col("n0").alias("n_ctrl"),
                (F.round(F.expr(m("sx1", "n1")), 4) + F.lit(0.0))
                .alias("pre_treat"),
                (F.round(F.expr(m("sy1", "n1")), 4) + F.lit(0.0))
                .alias("post_treat"),
                (F.round(F.expr(m("sx0", "n0")), 4) + F.lit(0.0))
                .alias("pre_ctrl"),
                (F.round(F.expr(m("sy0", "n0")), 4) + F.lit(0.0))
                .alias("post_ctrl"),
                (F.round(F.expr(did), 4) + F.lit(0.0)).alias("did"),
                (F.round(F.expr(z), 6) + F.lit(0.0)).alias("z")))


def bennet_decomposition(events: DataFrame) -> DataFrame:
    """Bennet (symmetric two-factor) decomposition of the revenue
    change between the two halves of the date range, per event_type:
    ΔR = volume effect + rate effect with
      volume = (n₂−n₁)·(r₁+r₂)/2,  rate = (r₂−r₁)·(n₁+n₂)/2
    (Bennet 1920 — the index-number identity BI teams call
    rate/mix analysis; symmetric so neither period is the
    privileged base, and the two effects sum EXACTLY to ΔR).

    Exactness: n and s (cents) are exact integers per (type, half);
    the effects are fixed-form doubles of those four integers; the
    identity volume + rate = ΔR is pinned in the tests at 4dp.
    Types absent from either half report NULL effects (ANSI /0
    guard), with the raw totals still shown.

    Scale: ONE conditional aggregate over the corpus → |types|
    frame; everything after is row-local arithmetic."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    day = F.to_date("ts")
    bounds = events.agg(F.min(day).alias("dmin"),
                        F.max(day).alias("dmax"))
    half = F.expr("date_add(dmin, CAST(datediff(dmax, dmin) DIV 2 "
                  "AS INT))")
    per = (events.crossJoin(F.broadcast(bounds))
           .select("event_type", cents.alias("c"),
                   (day <= half).cast("int").alias("is_pre"))
           .groupBy("event_type")
           .agg(F.sum("is_pre").cast("bigint").alias("n1"),
                F.sum(F.expr("c * is_pre")).cast("bigint").alias("s1"),
                F.sum(F.expr("1 - is_pre")).cast("bigint").alias("n2"),
                F.sum(F.expr("c * (1 - is_pre)")).cast("bigint")
                .alias("s2")))
    r1 = "(CAST(s1 AS DOUBLE) / n1)"
    r2 = "(CAST(s2 AS DOUBLE) / n2)"
    guard = "n1 = 0 OR n2 = 0"
    vol = (f"CASE WHEN {guard} THEN CAST(NULL AS DOUBLE) ELSE "
           f"(CAST(n2 - n1 AS DOUBLE) * ({r1} + {r2}) / 2) / 100.0 "
           f"END")
    rate = (f"CASE WHEN {guard} THEN CAST(NULL AS DOUBLE) ELSE "
            f"(({r2} - {r1}) * CAST(n1 + n2 AS DOUBLE) / 2) / 100.0 "
            f"END")
    return per.select(
        "event_type", "n1", "n2",
        (F.round(F.col("s1") / 100.0, 2) + F.lit(0.0)).alias("rev_pre"),
        (F.round(F.col("s2") / 100.0, 2) + F.lit(0.0))
        .alias("rev_post"),
        (F.round((F.col("s2") - F.col("s1")) / 100.0, 2) + F.lit(0.0))
        .alias("delta"),
        (F.round(F.expr(vol), 4) + F.lit(0.0)).alias("volume_effect"),
        (F.round(F.expr(rate), 4) + F.lit(0.0)).alias("rate_effect"))


def cochran_armitage_returns(lineitem: DataFrame,
                             orders: DataFrame) -> DataFrame:
    """Cochran-Armitage trend test (Cochran 1954; Armitage 1955) for
    a MONOTONE trend in return rate across the ordinal order-priority
    scale (1-URGENT … 5-LOW) — the right test when the exposure is
    ordered: a plain chi-square (`drift_chisq`'s shape) ignores the
    ordering and wastes power on non-monotone alternatives.

    Scores w = the priority's leading digit (1..5). With per-level
    line counts n_k and returned counts r_k, the statistic is built
    from five exact integer sums (N, R, Σw·r, Σw·n, Σw²·n):
    z = (Σwr − Σwn·R/N) / √(R/N·(1−R/N)·(Σw²n − (Σwn)²/N)) — one
    fixed-form double, 6dp, NULL when R∈{0,N} or the score variance
    is 0. Per-level rows carry the observed rates; the z/direction
    columns are constant across the 5 rows (the kruskal_wallis_dow
    presentation convention).

    Scale: one orderkey join (the only shuffle), one 5-level
    aggregate, broadcast scalar join-back."""
    j = (lineitem.select("l_orderkey", "l_returnflag")
         .join(orders.select("o_orderkey", "o_orderpriority"),
               F.col("l_orderkey") == F.col("o_orderkey")))
    lev = (j.groupBy(F.substring("o_orderpriority", 1, 1)
                     .cast("int").alias("w"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                F.sum((F.col("l_returnflag") == "R").cast("bigint"))
                .cast("bigint").alias("n_returned")))
    tot = lev.agg(
        F.sum("n_lines").cast("bigint").alias("nn"),
        F.sum("n_returned").cast("bigint").alias("rr"),
        F.sum(F.expr("w * n_returned")).cast("bigint").alias("swr"),
        F.sum(F.expr("w * n_lines")).cast("bigint").alias("swn"),
        F.sum(F.expr("w * w * n_lines")).cast("bigint").alias("sw2n"))
    z = ("CASE WHEN rr = 0 OR rr = nn "
         "OR nn * sw2n = swn * swn THEN CAST(NULL AS DOUBLE) "
         "ELSE (CAST(swr AS DOUBLE) - CAST(swn AS DOUBLE) * rr / nn) "
         "/ sqrt((CAST(rr AS DOUBLE) / nn) * (1.0 - CAST(rr AS DOUBLE) / nn) "
         "* (CAST(sw2n AS DOUBLE) - CAST(swn AS DOUBLE) * swn / nn)) "
         "END")
    return (lev.crossJoin(F.broadcast(tot))
            .select("w", "n_lines", "n_returned",
                    (F.round(F.expr(
                        "CAST(n_returned AS DOUBLE) / n_lines"), 6)
                     + F.lit(0.0)).alias("return_rate"),
                    (F.round(F.expr(z), 6) + F.lit(0.0))
                    .alias("z_trend"),
                    F.expr(f"CASE WHEN {z} > 1.959963984540054 "
                           f"THEN 'increasing' "
                           f"WHEN {z} < -1.959963984540054 "
                           f"THEN 'decreasing' ELSE 'none' END")
                    .alias("direction")))


def jonckheere_terpstra(lineitem: DataFrame,
                        orders: DataFrame) -> DataFrame:
    """Jonckheere-Terpstra test (Jonckheere 1954; Terpstra 1952) for
    an ORDERED shift in line quantity across the order-priority scale
    (1-URGENT … 5-LOW) — the k-sample ordered-alternative test that
    `kruskal_wallis_dow` (unordered k-sample) and
    `cochran_armitage_returns` (binary outcome) bracket: here the
    outcome is the full quantity distribution and the alternative is
    "quantities shift monotonically with priority".

    J = Σ_{i<j} U_ij with U_ij = #{x∈gᵢ, y∈gⱼ : x < y} + ½·ties.
    Quantity lives on a closed 50-value integer domain, so U folds to
    exact arithmetic on per-(priority, quantity) COUNTS: the
    5×50-cell table joins to itself on (wᵢ < wⱼ) × (qᵢ {<,=} qⱼ) —
    a bounded 250×250 cell join, never a data-sized pair join. 2J is
    an exact BIGINT. The null moments use the tie-corrected variance
    (Hollander & Wolfe 1999, §6.2):
        E[J] = (N² − Σnᵢ²) / 4
        Var  = [N(N−1)(2N+5) − Σnᵢ(nᵢ−1)(2nᵢ+5)
                − Σt_u(t_u−1)(2t_u+5)] / 72
             + [Σnᵢ(nᵢ−1)(nᵢ−2)]·[Σt_u(t_u−1)(t_u−2)]
                / (36·N(N−1)(N−2))
             + [Σnᵢ(nᵢ−1)]·[Σt_u(t_u−1)] / (8·N(N−1))
    (t_u = overall count of value u). Every ingredient is an exact
    BIGINT/DECIMAL(38) sum; z is one fixed-form double of them, 6dp.

    Scale: one orderkey join (the only data shuffle) → 250 cells;
    everything after is constant-size."""
    d38 = "decimal(38,0)"
    j = (lineitem.select("l_orderkey",
                         F.col("l_quantity").cast("bigint").alias("q"))
         .join(orders.select("o_orderkey", "o_orderpriority"),
               F.col("l_orderkey") == F.col("o_orderkey")))
    cells = cut(j.groupBy(F.substring("o_orderpriority", 1, 1)
                          .cast("int").alias("w"), "q")
                .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    a = cells.select(F.col("w").alias("wi"), F.col("q").alias("qi"),
                     F.col("c").alias("ci"))
    b = cells.select(F.col("w").alias("wj"), F.col("q").alias("qj"),
                     F.col("c").alias("cj"))
    # 2J = Σ 2·cᵢcⱼ·[qᵢ<qⱼ] + Σ cᵢcⱼ·[qᵢ=qⱼ] over group pairs wᵢ<wⱼ
    pairs = (a.join(F.broadcast(b), F.col("wi") < F.col("wj"))
             .select(F.expr(
                 f"CASE WHEN qi < qj THEN 2 * CAST(ci AS {d38}) * cj "
                 f"WHEN qi = qj THEN CAST(ci AS {d38}) * cj "
                 "ELSE CAST(0 AS DECIMAL(38,0)) END").alias("u2")))
    # single-group inputs leave the pair frame EMPTY: J is then
    # vacuously 0 (no ordered pairs exist), not NULL — the
    # generated-input differential caught the uncoalesced sum
    j2 = pairs.agg(F.coalesce(F.sum("u2"), F.lit(0)).cast(d38)
                   .alias("j2"))
    grp = (cells.groupBy("w")
           .agg(F.sum("c").cast("bigint").alias("n_g"))
           .agg(F.sum("n_g").cast("bigint").alias("nn"),
                F.sum(F.expr("n_g * n_g")).cast("bigint").alias("sn2"),
                F.sum(F.expr(
                    "CAST(n_g AS DECIMAL(38,0)) * (n_g - 1) "
                    "* (2 * n_g + 5)")).cast(d38).alias("sn_a"),
                F.sum(F.expr(
                    "CAST(n_g AS DECIMAL(38,0)) * (n_g - 1) "
                    "* (n_g - 2)")).cast(d38).alias("sn_b"),
                F.sum(F.expr("CAST(n_g AS DECIMAL(38,0)) * (n_g - 1)"))
                .cast(d38).alias("sn_c")))
    tie = (cells.groupBy("q")
           .agg(F.sum("c").cast("bigint").alias("t"))
           .agg(F.sum(F.expr(
               "CAST(t AS DECIMAL(38,0)) * (t - 1) * (2 * t + 5)"))
               .cast(d38).alias("st_a"),
                F.sum(F.expr(
                    "CAST(t AS DECIMAL(38,0)) * (t - 1) * (t - 2)"))
                .cast(d38).alias("st_b"),
                F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * (t - 1)"))
                .cast(d38).alias("st_c")))
    flat = j2.crossJoin(F.broadcast(grp)).crossJoin(F.broadcast(tie))
    nd = "CAST(nn AS DOUBLE)"
    mean2 = f"(({nd}) * nn - sn2) / 2.0"  # 2·E[J]
    var_a = (f"(({nd}) * (nn - 1) * (2 * {nd} + 5) "
             "- CAST(sn_a AS DOUBLE) - CAST(st_a AS DOUBLE)) / 72.0")
    var_b = ("CAST(sn_b AS DOUBLE) * CAST(st_b AS DOUBLE) "
             f"/ (36.0 * ({nd}) * (nn - 1) * (nn - 2))")
    var_c = ("CAST(sn_c AS DOUBLE) * CAST(st_c AS DOUBLE) "
             f"/ (8.0 * ({nd}) * (nn - 1))")
    var = f"(({var_a}) + ({var_b}) + ({var_c}))"
    z = (f"(CAST(j2 AS DOUBLE) - ({mean2})) / (2.0 * sqrt({var}))")
    return flat.select(
        F.col("nn").alias("n"),
        (F.col("j2").cast("double") / 2.0).alias("j_stat"),
        (F.round(F.expr(f"({mean2}) / 2.0"), 2) + F.lit(0.0))
        .alias("j_expected"),
        (F.round(F.expr(
            f"CASE WHEN nn > 2 AND ({var}) > 0 THEN {z} END"), 6)
         + F.lit(0.0)).alias("z_stat"))


def slope_reversal_audit(lineitem: DataFrame) -> DataFrame:
    """Simpson's-paradox screen (Simpson 1951; Blyth 1972) on the
    price-vs-quantity relationship: the POOLED OLS slope of extended
    price on quantity versus the per-return-flag slopes, with a flag
    when aggregation reverses the sign — the warning light every
    segmented dashboard needs before anyone trusts a pooled trend.

    Exactness: x = quantity (integer 1..50), y = price cents; per
    group and pooled, slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from
    exact DECIMAL(38) sums — ONE fixed-form double each, 4dp. The
    reversal flag compares exact-integer numerator/denominator signs
    (slope sign = sign(nΣxy − ΣxΣy) since the denominator is a
    positive variance), so the flag never rests on a rounded double.

    Scale: one pass to |groups| moment rows; pooled = Σ of those
    (never a second scan); output is |groups| rows with the pooled
    columns repeated (the kruskal_wallis_dow flat-frame
    convention)."""
    d38 = "decimal(38,0)"
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    x = F.col("l_quantity").cast("bigint")
    base = lineitem.select(F.col("l_returnflag").alias("grp"),
                           x.alias("x"), y.alias("y"))
    g = cut(base.groupBy("grp")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.col("x").cast(d38)).alias("sx"),
                 F.sum(F.col("y").cast(d38)).alias("sy"),
                 F.sum(F.col("x").cast(d38) * F.col("y").cast(d38))
                 .alias("sxy"),
                 F.sum(F.col("x").cast(d38) * F.col("x").cast(d38))
                 .alias("sxx")))
    pool = g.agg(F.sum("n").cast("bigint").alias("np"),
                 F.sum("sx").cast(d38).alias("sxp"),
                 F.sum("sy").cast(d38).alias("syp"),
                 F.sum("sxy").cast(d38).alias("sxyp"),
                 F.sum("sxx").cast(d38).alias("sxxp"))
    slope = ("(CAST({n} AS DOUBLE) * {sxy} "
             "- CAST({sx} AS DOUBLE) * {sy}) "
             "/ (CAST({n} AS DOUBLE) * {sxx} "
             "- CAST({sx} AS DOUBLE) * {sx})")
    g_slope = slope.format(n="n", sxy="sxy", sx="sx", sy="sy",
                           sxx="sxx")
    p_slope = slope.format(n="np", sxy="sxyp", sx="sxp", sy="syp",
                           sxx="sxxp")
    # exact integer numerator signs: n·Σxy − Σx·Σy in decimal(38)
    g_num = f"(CAST(n AS {d38}) * sxy - sx * sy)"
    p_num = f"(CAST(np AS {d38}) * sxyp - sxp * syp)"
    return (g.crossJoin(F.broadcast(pool))
            .select(
                "grp", "n",
                (F.round(F.expr(
                    f"CASE WHEN n >= 2 THEN {g_slope} END"), 4)
                 + F.lit(0.0)).alias("group_slope"),
                (F.round(F.expr(
                    f"CASE WHEN np >= 2 THEN {p_slope} END"), 4)
                 + F.lit(0.0)).alias("pooled_slope"),
                F.expr(f"sign({g_num}) <> sign({p_num})")
                .alias("sign_reversed")))


#: Two-sided 5% / one-sided 20% normal quantiles for the 80%-power
#: minimum-detectable-effect readout, written to full double
#: precision (shared text with the oracle).
MDE_Z_ALPHA = 1.959963984540054
MDE_Z_BETA = 0.8416212335729143


def effect_size_pairs(events: DataFrame) -> DataFrame:
    """Standardized effect sizes for every event-type pair on
    per-event value — the magnitude companion to
    `welch_ttest_pairs`' significance: Cohen's d on the pooled sd
    (Cohen 1988), the small-sample Hedges' g correction
    J = 1 − 3/(4·df − 1) (Hedges 1981), and the 80%-power minimum
    detectable effect MDE = (z_{α/2} + z_β)·√(1/n_a + 1/n_b) in
    pooled-sd units — "could this experiment even have seen d?".

    Exactness: the same exact integer moments as welch_ttest_pairs
    (one k-row aggregate, bounded pair self-join); d, g, and MDE are
    single fixed-form doubles, 4dp. Pairs with a degenerate side
    (n < 2 or zero pooled variance) report null.

    Scale: one pass to k rows; constant-size after."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    d38 = "decimal(38,0)"
    g = (events
         .groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(cents.cast(d38)).alias("s"),
              F.sum(cents.cast(d38) * cents.cast(d38)).alias("ss")))
    a = g.select(F.col("event_type").alias("type_a"),
                 F.col("n").alias("na"), F.col("s").alias("sa"),
                 F.col("ss").alias("ssa"))
    b = g.select(F.col("event_type").alias("type_b"),
                 F.col("n").alias("nb"), F.col("s").alias("sb"),
                 F.col("ss").alias("ssb"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    ma = "CAST(sa AS DOUBLE) / na"
    mb = "CAST(sb AS DOUBLE) / nb"
    # pooled variance: (SSa + SSb) / (na + nb − 2), SS = Σy² − (Σy)²/n
    ssq_a = f"(CAST(ssa AS DOUBLE) - ({ma}) * sa)"
    ssq_b = f"(CAST(ssb AS DOUBLE) - ({mb}) * sb)"
    sp2 = f"(({ssq_a}) + ({ssq_b})) / (na + nb - 2)"
    d = f"(({ma}) - ({mb})) / sqrt({sp2})"
    jf = "(1.0 - 3.0 / (4.0 * (na + nb - 2) - 1.0))"
    mde = (f"({MDE_Z_ALPHA} + {MDE_Z_BETA}) "
           "* sqrt(1.0 / na + 1.0 / nb)")
    ok = f"na > 1 AND nb > 1 AND ({sp2}) > 0"
    return pairs.select(
        "type_a", "type_b", "na", "nb",
        (F.round(F.expr(f"CASE WHEN {ok} THEN {d} END"), 4)
         + F.lit(0.0)).alias("cohens_d"),
        (F.round(F.expr(f"CASE WHEN {ok} THEN ({d}) * {jf} END"), 4)
         + F.lit(0.0)).alias("hedges_g"),
        (F.round(F.expr(f"CASE WHEN {ok} THEN {mde} END"), 4)
         + F.lit(0.0)).alias("mde_80"))


def theil_decomposition(orders: DataFrame,
                        customer: DataFrame) -> DataFrame:
    """Theil T inequality index of customer spend, decomposed into
    within-nation and between-nation components (Theil 1967):
    T = Σ_g s_g·T_g + Σ_g s_g·ln(ȳ_g/μ), where s_g is the nation's
    spend share — the decomposable complement to `gini_by_nation`
    (Gini does not decompose additively; Theil is the standard tool
    for "how much inequality is BETWEEN segments").

    Exactness: spend is exact cents; the per-customer y·ln(y) term
    is quantized to 1e-2 BEFORE the per-nation sum (the bartlett
    convention: Σ of quantized BIGINTs is order-free where float Σ
    is not; terms ride DECIMAL(38) against 100 TB row counts).
    T_g and the decomposition are fixed-form doubles of those exact
    sums, 6dp. Zero-spend customers are excluded (y·ln y → 0
    boundary; spend is positive by construction here).

    Scale: one custkey aggregate + one nation join (the shuffles),
    then |nations| rows; output per nation with the corpus totals
    repeated."""
    d38 = "decimal(38,0)"
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    spend = (orders.select("o_custkey", cents.alias("c"))
             .groupBy("o_custkey")
             .agg(F.sum("c").cast("bigint").alias("y"))
             .where(F.col("y") > 0))
    by_nation = spend.join(
        customer.select(F.col("c_custkey").alias("o_custkey"),
                        F.col("c_nationkey").alias("nationkey")),
        "o_custkey")
    per = (by_nation.groupBy("nationkey")
           .agg(F.count("*").cast("bigint").alias("n_g"),
                F.sum(F.col("y").cast(d38)).alias("s_g"),
                F.sum(F.expr(
                    "CAST(round(y * ln(y) * 100) AS DECIMAL(38,0))"))
                .alias("ylny_q2")))
    tot = per.agg(F.sum("n_g").cast("bigint").alias("n"),
                  F.sum("s_g").cast(d38).alias("s"),
                  F.sum("ylny_q2").cast(d38).alias("ylny_tot_q2"))
    j = per.crossJoin(F.broadcast(tot))
    mu = "(CAST(s AS DOUBLE) / n)"
    mu_g = "(CAST(s_g AS DOUBLE) / n_g)"
    # T_g = Σ_{i∈g} (y/S_g)·ln(y/ȳ_g) = (Σ y·ln y)/S_g − ln(ȳ_g)
    t_g = (f"CAST(ylny_q2 AS DOUBLE) / 100.0 / CAST(s_g AS DOUBLE) "
           f"- ln({mu_g})")
    share = "(CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))"
    between_g = f"({share}) * ln(({mu_g}) / ({mu}))"
    t_total = (f"CAST(ylny_tot_q2 AS DOUBLE) / 100.0 "
               f"/ CAST(s AS DOUBLE) - ln({mu})")
    return j.select(
        "nationkey", "n_g",
        (F.round(F.expr(share), 6) + F.lit(0.0)).alias("spend_share"),
        (F.round(F.expr(t_g), 6) + F.lit(0.0)).alias("theil_within"),
        (F.round(F.expr(between_g), 6) + F.lit(0.0))
        .alias("between_term"),
        (F.round(F.expr(t_total), 6) + F.lit(0.0)).alias("theil_total"))
