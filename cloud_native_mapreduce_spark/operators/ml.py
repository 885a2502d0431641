"""Distributed classical-ML training operators: the models a curation
pipeline trains ON the cluster, over the full corpus, without a
driver-side solver — multinomial naive Bayes (the classic language /
quality classifier) and a CART decision stump (the unit step of every
boosted-tree quality filter).

North-star scope (the reference has no ML surface): at 100 TB the
training data cannot leave the executors, so both operators are
expressed as pure DataFrame aggregates — model "fitting" IS a groupBy:
NB's sufficient statistics are token-class counts; the stump's are
class histograms per candidate split. No gradient loop, no collect of
anything data-sized.

Determinism playbook (what makes these oracle-able cross-engine):
  * NB quantizes each model cell's log-likelihood to an exact BIGINT
    micronat (round(ln(p)·1e6)) at MODEL-BUILD time — one ln per
    bounded model cell — so document scoring and the argmax run in
    exact integer arithmetic: no float sum-order sensitivity, and the
    predicted class is bit-identical under any partitioning or engine.
    (This is also what production classifiers ship: a quantized model.)
  * the stump ranks candidate splits by EXACT weighted Gini impurity:
    the impurity rational num/den is evaluated as a scaled integer
    division ((num·10^6) div den) in decimal(38) — argmin over exact
    integers with a (feature, threshold) total-order tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_native_mapreduce_spark.functions.text import tokens
from cloud_native_mapreduce_spark.session import cut

#: Micronat quantization scale for NB model cells: 1e6 keeps ln values
#: (|ln p| < 20) inside 8 digits — summed over a 10^5-token document
#: the score stays < 2^53 and far inside BIGINT.
NB_SCALE = 1_000_000


def _micronat(log_expr: str) -> str:
    """SQL text quantizing a log-space expression to BIGINT micronats
    (shared verbatim with the DuckDB oracle; Spark round() and DuckDB
    round() both round halves away from zero for doubles)."""
    return f"CAST(round(({log_expr}) * {NB_SCALE}, 0) AS BIGINT)"


def nb_scored(train: DataFrame, test: DataFrame) -> DataFrame:
    """(doc_id, actual_lang, lang, score) — every test document's
    micronat score under EVERY class of the NB model fitted on
    `train`: the shared scoring frame `nb_predictions` cuts to its
    argmax and `nb_margin_calibration` reads top-2 margins from."""
    tl = (train.select(F.col("lang"), F.explode(tokens(F.col("text")))
                       .alias("tok"))
          .groupBy("lang", "tok")
          .agg(F.count(F.lit(1)).alias("c"))
          # cut: `cut` raises naive_bayes_lang 23/24 → 25/25 jobs (sf0.01)
          .localCheckpoint(eager=False))
    vocab = tl.select("tok").distinct().agg(F.count(F.lit(1)).alias("v"))
    totals = tl.groupBy("lang").agg(F.sum("c").alias("ctot"))
    n_train = train.agg(F.count(F.lit(1)).alias("n_total"))
    priors = (train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
              .crossJoin(F.broadcast(n_train)))

    lang_frame = (priors.join(totals, "lang")
                  .crossJoin(F.broadcast(vocab))
                  .select(
                      "lang", "ctot", "v",
                      F.expr(_micronat(
                          "ln(CAST(n_docs AS DOUBLE) "
                          "/ CAST(n_total AS DOUBLE))")).alias("prior_mn"),
                      F.expr(_micronat(
                          "ln(CAST(1 AS DOUBLE) "
                          "/ CAST(ctot + v AS DOUBLE))")).alias("unk_mn")))
    model = (tl.join(F.broadcast(lang_frame.select("lang", "ctot", "v")),
                     "lang")
             .select("lang", "tok",
                     F.expr(_micronat(
                         "ln(CAST(c + 1 AS DOUBLE) "
                         "/ CAST(ctot + v AS DOUBLE))")).alias("llr_mn")))

    test_tc = (test.select("doc_id", F.col("lang").alias("actual_lang"),
                           F.explode(tokens(F.col("text"))).alias("tok"))
               .groupBy("doc_id", "actual_lang", "tok")
               .agg(F.count(F.lit(1)).alias("n")))
    scored = (test_tc
              .crossJoin(F.broadcast(
                  lang_frame.select("lang", "prior_mn", "unk_mn")))
              .join(model, ["lang", "tok"], "left")
              .groupBy("doc_id", "actual_lang", "lang", "prior_mn")
              .agg(F.sum(F.col("n")
                         * F.coalesce(F.col("llr_mn"), F.col("unk_mn")))
                   .alias("ll"))
              .select("doc_id", "actual_lang", "lang",
                      (F.col("prior_mn") + F.col("ll")).alias("score")))
    return scored


def nb_predictions(train: DataFrame, test: DataFrame) -> DataFrame:
    """(doc_id, actual_lang, predicted_lang) for `test` under the
    micronat-quantized multinomial NB model fitted on `train` — the
    scoring core `naive_bayes_lang` and `nb_learning_curve` share
    (model and plan shape documented on naive_bayes_lang)."""
    pred = (nb_scored(train, test).withColumn(
        "rk", F.row_number().over(
            Window.partitionBy("doc_id")
            .orderBy(F.col("score").desc(), F.col("lang"))))
        .where(F.col("rk") == 1))
    return pred.select("doc_id", "actual_lang",
                       F.col("lang").alias("predicted_lang"))


#: Margin-calibration bucket width (micronats) and clamp.
MARGIN_BUCKET_MN = 2_000_000
MARGIN_MAX_BUCKET = 9


def nb_margin_calibration(docs: DataFrame,
                          n_folds: int = 5) -> DataFrame:
    """Margin-based calibration audit of the NB classifier: does the
    model's CONFIDENCE (the integer micronat margin between its top
    two class scores) predict its accuracy? The reliability-diagram
    question (DeGroot & Fienberg 1983) asked of the margin instead
    of a softmax probability — the margin is already an EXACT
    integer under the micronat model, so the whole audit stays in
    integer arithmetic where softmax would drag cross-engine exp()
    into every cell.

    Train = folds 1..n-1, test = fold 0 (doc_id arithmetic, the
    holdout_bigram / nb_learning_curve convention). Per margin
    bucket (2-meganat wide, clamped): document count, correct count,
    accuracy in integer basis points, mean margin via integer DIV.
    A calibrated classifier shows accuracy_bp rising with bucket.

    Scale: nb_scored's plan (model tables vocabulary-bounded and
    broadcast; one test-corpus scoring join); the top-2 cut is a
    doc-PARTITIONED rank window; output is ≤10 rows."""
    fold = F.col("doc_id") % n_folds
    scored = nb_scored(docs.where(fold != 0), docs.where(fold == 0))
    r = scored.withColumn(
        "rk", F.row_number().over(
            Window.partitionBy("doc_id")
            .orderBy(F.col("score").desc(), F.col("lang"))))
    top2 = (r.where(F.col("rk") <= 2)
            .groupBy("doc_id", "actual_lang")
            .agg(F.max(F.when(F.col("rk") == 1, F.col("lang")))
                 .alias("pred"),
                 F.max(F.when(F.col("rk") == 1, F.col("score")))
                 .alias("s1"),
                 F.max(F.when(F.col("rk") == 2, F.col("score")))
                 .alias("s2")))
    m = (top2.select(
        (F.col("pred") == F.col("actual_lang")).cast("int")
        .alias("ok"),
        (F.col("s1") - F.col("s2")).alias("margin")))
    return (m.groupBy(F.expr(
        f"least({MARGIN_MAX_BUCKET}, margin DIV {MARGIN_BUCKET_MN})")
        .cast("bigint").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum("ok").cast("bigint").alias("n_correct"),
             F.sum("margin").cast("bigint").alias("_sm"))
        .select("bucket", "n_docs", "n_correct",
                F.expr("(n_correct * 10000) DIV n_docs")
                .cast("bigint").alias("accuracy_bp"),
                F.expr("_sm DIV n_docs").cast("bigint")
                .alias("mean_margin_mn")))


def nb_roc_auc(docs: DataFrame, n_folds: int = 5) -> DataFrame:
    """One-vs-rest ROC-AUC of the NB classifier, per class — the
    threshold-free ranking metric the eval family was missing next to
    the confusion matrix (`naive_bayes_lang`), calibration
    (`nb_margin_calibration`) and learning curve: does class L's
    score rank class-L documents above the rest, regardless of where
    the argmax lands?

    AUC via the rank-sum identity (Hanley & McNeil 1982; the
    probabilistic reading of `mann_whitney_u`'s U statistic):
    AUC = (R₁ − n₁(n₁+1)/2) / (n₁n₀) with R₁ the sum of the
    positives' ascending ranks, ties by midrank. The micronat scores
    are EXACT integers, so doubled midranks are integers too
    (2·midrank = 2·cnt_less + cnt_tie + 1) and the whole statistic
    is integer arithmetic down to one final integer DIV — engine-
    and partitioning-independent, like the rest of the NB family.

    Train = folds 1..n−1, test = fold 0 (the nb_margin_calibration
    convention). Output per class: (lang, n_pos, n_neg, auc_micro)
    with auc_micro = AUC·1e6 floored.

    Scale: nb_scored's plan (vocabulary-bounded broadcast model, one
    corpus-keyed scoring join); the rank pass first collapses the
    |test|×|lang| scored frame to per-(lang, score) count groups
    (map-side combined), so the per-class cumulative window runs
    over the distinct-score frame, never raw documents."""
    fold = F.col("doc_id") % n_folds
    scored = nb_scored(docs.where(fold != 0), docs.where(fold == 0))
    g = (scored.groupBy("lang", "score")
         .agg(F.sum((F.col("actual_lang") == F.col("lang"))
                    .cast("bigint")).alias("pos_n"),
              F.count(F.lit(1)).alias("tot_n")))
    w = (Window.partitionBy("lang").orderBy("score")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = g.withColumn(
        "c_less", F.coalesce(F.sum("tot_n").over(w), F.lit(0)))
    agg = (cum.groupBy("lang")
           .agg(F.sum("pos_n").cast("bigint").alias("n_pos"),
                (F.sum("tot_n") - F.sum("pos_n")).cast("bigint")
                .alias("n_neg"),
                F.sum(F.col("pos_n")
                      * (2 * F.col("c_less") + F.col("tot_n") + 1))
                .cast("bigint").alias("r2")))
    return agg.select(
        "lang", "n_pos", "n_neg",
        # AUC is undefined for a single-class fold (n_pos or n_neg =
        # 0): NULL instead of a DIVIDE_BY_ZERO crash under ANSI mode,
        # mirrored in the oracle (round-13 advice).
        F.expr("CASE WHEN n_pos = 0 OR n_neg = 0 "
               "THEN CAST(NULL AS BIGINT) "
               "ELSE ((r2 - n_pos * (n_pos + 1)) * 1000000) "
               "DIV (2 * n_pos * n_neg) END")
        .cast("bigint").alias("auc_micro"))


def naive_bayes_lang(docs: DataFrame, n_folds: int = 5,
                     test_fold: int = 0) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained on the
    corpus's own (text, lang) pairs and evaluated on a held-out fold —
    the work-horse language/quality classifier of real curation stacks
    (fastText-style jobs before anyone reaches for a GPU). Returns the
    held-out confusion matrix (actual_lang, predicted_lang, n_docs).

    Model: P(lang) = docs_lang/docs_train; P(tok|lang) with add-one
    smoothing = (c(tok,lang)+1)/(c(lang)+V). Every cell's
    log-likelihood is quantized to BIGINT micronats at build time
    (`NB_SCALE`), so per-doc scores are exact integer dot products
    and argmax (ties broken by lang) is engine-exact — the float ln
    appears once per bounded model cell, never in a corpus-sized sum.

    Plan: ONE training-corpus tokenize → (lang, tok) count table
    (map-side combined, vocabulary-bounded); per-lang totals, priors
    and unknown-token defaults are |lang|-row frames that BROADCAST;
    scoring joins the test token stream to the model on the token key
    and the argmax is a doc_id-partitioned window. The confusion
    matrix is |lang|²-sized."""
    fold = F.col("doc_id") % n_folds
    pred = nb_predictions(docs.where(fold != test_fold),
                          docs.where(fold == test_fold))
    return (pred.groupBy("actual_lang", "predicted_lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))


def nb_learning_curve(docs: DataFrame) -> DataFrame:
    """NB accuracy as a function of training-set size — the
    learning curve that answers "is more labelled data still
    buying accuracy?" before anyone pays for labels: the model is
    re-fitted on 1, 2, then all 4 training folds (test fold 0 held
    fixed) and scored on exact integer counts.

    (n_train_folds, n_train, n_test, n_correct, accuracy_bp) per
    point, accuracy in integer basis points (DIV) — no floats. Cost
    is three passes of the NB pipeline over shrinking training
    corpora; each pass keeps the naive_bayes_lang plan shape."""
    test = docs.where(F.col("doc_id") % 5 == 0)
    out = None
    for folds in ((1,), (1, 2), (1, 2, 3, 4)):
        train = docs.where((F.col("doc_id") % 5).isin(*folds))
        pred = nb_predictions(train, test)
        n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
        row = (pred.agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum((F.col("actual_lang") == F.col("predicted_lang"))
                  .cast("int")).alias("n_correct"))
            .crossJoin(F.broadcast(n_train))
            .select(F.lit(len(folds)).cast("bigint")
                    .alias("n_train_folds"),
                    F.col("n_train").cast("bigint").alias("n_train"),
                    F.col("n_test").cast("bigint").alias("n_test"),
                    F.col("n_correct").cast("bigint").alias("n_correct"),
                    F.expr("(n_correct * 10000) DIV n_test")
                    .cast("bigint").alias("accuracy_bp")))
        out = row if out is None else out.unionByName(row)
    return out


#: Fixed-point scale for the stump's Gini ranking: the scaled impurity
#: ((A·nR + B·nL)·10^6) div (nL·nR) ≈ N·10^6 stays inside BIGINT to
#: ~9e12 rows; the decimal(38) intermediates hold to ~4e10 rows per
#: side — beyond that, drop the scale a decade (documented bound, not
#: a silent cap).
STUMP_SCALE = 1_000_000


def decision_stump(lineitem: DataFrame) -> DataFrame:
    """CART decision stump (one-split tree — the unit step of every
    boosted-tree quality filter, Breiman et al. 1984): the best
    (feature, threshold) split of lineitem predicting the positive
    class `l_returnflag = 'R'`, chosen by EXACT weighted Gini
    impurity over every distinct value of the two low-cardinality
    candidate features (l_quantity, l_discount).

    Determinism: per-side impurity is the rational
    (n² − pos² − neg²)/n; the weighted sum over the two sides shares
    the denominator nL·nR and is ranked as the scaled integer
    ((A·nR + B·nL)·SCALE) div (nL·nR), evaluated in decimal(38)
    (HUGEINT in the oracle) — the argmin over candidates is exact
    integer comparison with a (feature, threshold) total-order
    tiebreak, bit-identical in any engine.

    Plan: ONE corpus scan unpivots both features (stack) into a
    map-side-combined per-value histogram (≤ ~60 rows); left-side
    cumulative counts come from a keyed triangular join within each
    feature over that bounded frame; everything downstream is
    candidate-sized. The winner row reports the split, its side
    histograms, and each side's majority-class prediction."""
    pos = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    vals = lineitem.select(
        F.expr("stack(2, 'quantity', CAST(l_quantity AS DOUBLE), "
               "'discount', l_discount) AS (feature, val)"),
        pos.alias("pos"))
    hist = cut(vals.groupBy("feature", "val")
               .agg(F.count(F.lit(1)).alias("cnt"),
                    F.sum("pos").alias("p")))
    tot = hist.groupBy("feature").agg(F.sum("cnt").alias("n"),
                                      F.sum("p").alias("pos_tot"))
    rhs = hist.select(F.col("feature").alias("f2"),
                      F.col("val").alias("v2"),
                      F.col("cnt").alias("c2"), F.col("p").alias("p2"))
    left = (hist.select("feature", "val")
            .join(F.broadcast(rhs), (F.col("f2") == F.col("feature"))
                  & (F.col("v2") <= F.col("val")))
            .groupBy("feature", F.col("val").alias("threshold"))
            .agg(F.sum("c2").alias("n_left"),
                 F.sum("p2").alias("pos_left")))
    cand = (left.join(F.broadcast(tot), "feature")
            .select("feature", "threshold", "n_left", "pos_left",
                    (F.col("n") - F.col("n_left")).alias("n_right"),
                    (F.col("pos_tot") - F.col("pos_left"))
                    .alias("pos_right"))
            .where((F.col("n_right") > 0) & (F.col("n_left") > 0)))
    d = "decimal(38,0)"
    imp = F.expr(
        f"CAST((( (CAST(n_left AS {d}) * n_left"
        f"       - CAST(pos_left AS {d}) * pos_left"
        f"       - CAST(n_left - pos_left AS {d}) * (n_left - pos_left)"
        f"      ) * n_right"
        f"    + ( CAST(n_right AS {d}) * n_right"
        f"       - CAST(pos_right AS {d}) * pos_right"
        f"       - CAST(n_right - pos_right AS {d}) * (n_right - pos_right)"
        f"      ) * n_left"
        f"   ) * {STUMP_SCALE} DIV (CAST(n_left AS {d}) * n_right))"
        f" AS BIGINT)")
    ranked = cand.select(
        "feature", "threshold", imp.alias("gini_scaled"),
        F.col("n_left").cast("bigint").alias("n_left"),
        F.col("pos_left").cast("bigint").alias("pos_left"),
        F.col("n_right").cast("bigint").alias("n_right"),
        F.col("pos_right").cast("bigint").alias("pos_right"))
    best = (ranked
            .orderBy("gini_scaled", "feature", "threshold")
            .limit(1))
    maj = (lambda p, n: F.when(2 * F.col(p) >= F.col(n), F.lit("R"))
           .otherwise(F.lit("not_R")))
    return best.select(
        "feature", "threshold", "gini_scaled",
        "n_left", "pos_left", "n_right", "pos_right",
        maj("pos_left", "n_left").alias("predict_left"),
        maj("pos_right", "n_right").alias("predict_right"))


def classifier_agreement_kappa(docs: DataFrame,
                               n_folds: int = 5) -> DataFrame:
    """Inter-classifier agreement between the trained NB language
    model and the stopword-marker heuristic on the held-out fold —
    Cohen's kappa (Cohen 1960): raw agreement corrected for the
    agreement two classifiers with these marginals would reach by
    chance. The model-governance question ("is the cheap heuristic a
    safe fallback for the trained model?") answered with a number,
    over the same fold-0 holdout as nb_margin_calibration.

    Exactness: the confusion matrix is exact integers; kappa
    collapses to ONE fixed-form expression of exact integer sums —
    kappa = (n·Σdiag − Σ_k r_k·c_k) / (n² − Σ_k r_k·c_k) — with the
    marginal products accumulated in decimal(38), so there is no
    po/pe float intermediate to drift.

    Output: one row per confusion cell (nb_lang, heur_lang, n_docs)
    with the headline agreement_bp and kappa alongside."""
    from cloud_native_mapreduce_spark.functions.text import (
        language_id_heuristic)

    fold = F.col("doc_id") % n_folds
    test = docs.where(fold == 0)
    nb = nb_predictions(docs.where(fold != 0), test) \
        .select("doc_id", F.col("predicted_lang").alias("nb_lang"))
    heur = language_id_heuristic(test) \
        .select("doc_id", F.col("lang_pred").alias("heur_lang"))
    conf = cut(nb.join(heur, "doc_id")
               .groupBy("nb_lang", "heur_lang")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    d38 = "decimal(38,0)"
    rows = conf.groupBy(F.col("nb_lang").alias("lab")) \
        .agg(F.sum("n_docs").alias("r"))
    cols = conf.groupBy(F.col("heur_lang").alias("lab")) \
        .agg(F.sum("n_docs").alias("c"))
    rc = (rows.join(cols, "lab")
          .agg(F.coalesce(F.sum(F.expr(f"CAST(r AS {d38}) * c")),
                          F.lit(0).cast(d38)).alias("src")))
    tot = conf.agg(
        F.sum("n_docs").alias("n"),
        F.sum(F.when(F.col("nb_lang") == F.col("heur_lang"),
                     F.col("n_docs")).otherwise(0)).alias("diag"))
    kap = ("((CAST(n AS DOUBLE) * diag - CAST(src AS DOUBLE)) "
           "/ (CAST(n AS DOUBLE) * n - CAST(src AS DOUBLE)))")
    head = (tot.crossJoin(F.broadcast(rc))
            .select(F.expr("(diag * 10000) DIV n").cast("bigint")
                    .alias("agreement_bp"),
                    (F.round(F.expr(kap), 6) + F.lit(0.0))
                    .alias("kappa")))
    return conf.crossJoin(F.broadcast(head))


#: PCA constants: embedding dimensionality of the embeddings table,
#: the milli quantization of coordinates, the normalization scale of
#: matrix entries and the iterated vector, the matrix-SQUARING count
#: and the power-round budget. Squaring is the eigengap accelerator:
#: the synthetic embeddings have lambda2/lambda1 = 0.987, so plain
#: power iteration needs ~300 rounds for 4-digit convergence; five
#: squarings iterate C^32 instead, making 15 rounds an effective
#: exponent of 480 ((0.987)^480 ~ 2e-3). The oracle unrolls the
#: identical squarings and rounds — the budget is part of the
#: operator's defined semantics, not a tolerance.
PCA_DIM = 64
PCA_Q = 1_000
PCA_V_SCALE = 1_000_000
PCA_SQUARINGS = 5
PCA_ROUNDS = 15


def _sdiv(x: str, d: str, div: str = "DIV") -> str:
    """Sign-split integer division text: Spark DIV truncates toward
    zero while DuckDB // floors, so negative dividends would differ
    by one — splitting the sign makes both engines floor/truncate
    the same non-negative quotient. `div` is the dialect token
    (the split_case_sql convention)."""
    return (f"CASE WHEN ({x}) < 0 THEN -((-({x})) {div} ({d})) "
            f"ELSE ({x}) {div} ({d}) END")


def _pca_cmat(embeddings: DataFrame) -> DataFrame:
    """(i, j, c): the EXACT integer scaled scatter matrix
    C = N·G − s·sᵀ, entrywise sign-split-floored by N — the one
    corpus-sized pass (Θ(N·d²)) every PCA entry shares; see
    pca_top_component for the full determinism playbook."""
    spark = embeddings.sparkSession
    d38 = "decimal(38,0)"
    from cloud_native_mapreduce_spark.sources.tables import fan_out
    q = F.expr(f"transform(embedding, x -> CAST(round(CAST(x AS "
               f"DOUBLE) * {PCA_Q}, 0) AS BIGINT))")
    # fan_out: the Θ(N·d²) scatter expansion (N×4096 rows through the
    # partial aggregate) happens BEFORE the first exchange; the single-
    # row-group embeddings scan would run it all on one core
    vecs = cut(fan_out(embeddings.select("vec_id", q.alias("q")), "vec_id")
               .select("q"))
    di = spark.range(1, PCA_DIM + 1).select(
        F.col("id").cast("int").alias("i"))
    dj = spark.range(1, PCA_DIM + 1).select(
        F.col("id").cast("int").alias("j"))
    nf = vecs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = (vecs.crossJoin(F.broadcast(di))
         .groupBy("i")
         .agg(F.sum(F.expr("element_at(q, i)")).cast("bigint")
              .alias("si")))
    g = (vecs.crossJoin(F.broadcast(di)).crossJoin(F.broadcast(dj))
         .groupBy("i", "j")
         .agg(F.sum(F.expr(f"CAST(element_at(q, i) AS {d38}) "
                           "* element_at(q, j)"))
              .cast(d38).alias("g")))
    cfull = (f"(CAST(n AS {d38}) * g "
             f"- CAST(si AS {d38}) * sj)")
    return cut(g.join(F.broadcast(s), "i")
               .join(F.broadcast(s.select(F.col("i").alias("j"),
                                          F.col("si").alias("sj"))), "j")
               .crossJoin(F.broadcast(nf))
               .select("i", "j",
                       F.expr(_sdiv(cfull, "n")).cast("bigint")
                       .alias("c")))


def _sdiv_py(x: int, d: int) -> int:
    """Python replica of `_sdiv`'s sign-split integer division: on the
    split non-negative operands Python's // (floor), Spark's DIV
    (truncate) and DuckDB's // (floor) all agree."""
    return -((-x) // d) if x < 0 else x // d


def _renorm_py(mat: "list[list[int]]") -> "list[list[int]]":
    """Renorm step (the oracle's SQL spells the same arithmetic over
    decimal(38)): entries rescaled to max|m| = exactly 1e6 via
    sign-split (x·1e6) // max|x|; all-zero matrices renorm to zero.
    Python ints are arbitrary-precision, so this is bit-identical to
    the decimal(38) form (whose intermediates stay < 1e28 by
    construction: deflation maxima top out near 1e25, ·1e6 < 1e31)."""
    mx = max(abs(x) for row in mat for x in row)
    if mx == 0:
        return [[0] * len(r) for r in mat]
    return [[_sdiv_py(x * PCA_V_SCALE, mx) for x in row] for row in mat]


def _matmul_py(a: "list[list[int]]",
               b: "list[list[int]]") -> "list[list[int]]":
    bt = list(zip(*b))
    return [[sum(x * y for x, y in zip(row, col)) for col in bt]
            for row in a]


def _pca_power_py(m: "list[list[int]]", squarings: int,
                  rounds: int) -> "list[int]":
    """Dominant eigenvector of a renormed integer matrix by `squarings`
    exact matrix squarings + `rounds` integer power rounds — the LOCAL
    replica of the former 64³-bounded distributed loop (which the
    oracle still unrolls in SQL; the oracle gate at sf0.001/0.01/0.1
    is the bit-equality proof). The eigen-phase input is the
    PARAMETER-BOUNDED d×d matrix (d = 64 regardless of corpus size),
    so this is MLlib's computePrincipalComponents shape: the Θ(N·d²)
    scatter pass stays distributed, the O(d³) tail runs where a 4096-
    cell matrix belongs instead of through 20 checkpointed shuffle
    rounds. Integer sums are order-free, so local evaluation is exact."""
    d = len(m)
    for _ in range(squarings):
        m = _renorm_py(_matmul_py(m, m))
    v = [PCA_V_SCALE] * d
    for _ in range(rounds):
        w = [sum(x * y for x, y in zip(row, v)) for row in m]
        mx = max(abs(x) for x in w)
        v = [0 if mx == 0 else _sdiv_py(x * PCA_V_SCALE, mx) for x in w]
    return v


def _pca_collect(cmat: DataFrame) -> "list[list[int]] | None":
    """Collect the d² scatter cells (bounded at 64² rows independent of
    corpus size — the repo's bounded-collect class) into a dense local
    matrix; None for an empty corpus (the distributed loop's empty-
    frame fixpoint, which yields an empty result)."""
    rows = cmat.collect()
    if not rows:
        return None
    mat = [[0] * PCA_DIM for _ in range(PCA_DIM)]
    for r in rows:
        mat[r["i"] - 1][r["j"] - 1] = int(r["c"])
    return mat


def _v_frame(spark, v: "list[int] | None") -> DataFrame:
    """(j, v) frame from a local eigenvector (empty when the corpus
    produced no scatter cells — matching the distributed loop)."""
    if v is None:
        return spark.createDataFrame([], "j int, v bigint")
    return spark.createDataFrame(
        [(j + 1, int(x)) for j, x in enumerate(v)], "j int, v bigint")


def _pca_readout(cmat: DataFrame, v: DataFrame,
                 component: int) -> DataFrame:
    """(component, dim, v_q, lambda_over_trace): evaluate a power-
    phase vector against the ORIGINAL scatter — one double division
    of exact integers, the explained-variance readout."""
    d38 = "decimal(38,0)"
    wfin = (cmat.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.expr(f"CAST(c AS {d38}) * v")).cast(d38)
                 .alias("w")))
    mx = wfin.agg(F.max(F.abs(F.col("w"))).alias("mx"))
    tr = (cmat.where(F.col("i") == F.col("j"))
          .agg(F.sum(F.expr(f"CAST(c AS {d38})")).alias("tr")))
    ratio = (f"(CAST(mx AS DOUBLE) / {PCA_V_SCALE}) "
             f"/ CAST(tr AS DOUBLE)")
    return (v.crossJoin(F.broadcast(mx)).crossJoin(F.broadcast(tr))
            .select(F.lit(component).cast("int").alias("component"),
                    F.col("j").alias("dim"),
                    F.col("v").alias("v_q"),
                    (F.round(F.expr(ratio), 6) + F.lit(0.0))
                    .alias("lambda_over_trace")))


def pca_top_component(embeddings: DataFrame,
                      squarings: int = PCA_SQUARINGS,
                      rounds: int = PCA_ROUNDS) -> DataFrame:
    """Top principal component of the embedding corpus by
    SQUARED-matrix power iteration on the EXACT integer scatter
    matrix — distributed PCA with no float accumulation anywhere: the
    data pass is one d²-cell aggregate (the XᵀX every PCA starts
    with; work Θ(N·d²), the honest cost), and everything after runs
    LOCALLY on the collected parameter-bounded 64×64 matrix in exact
    Python ints (MLlib's computePrincipalComponents shape — the
    round-14 optimization; formerly 20 checkpointed distributed
    rounds over 4096-row frames, ~10 s of pure barrier cost at any
    data size). The oracle still unrolls the identical squarings and
    rounds in SQL, so the gate proves bit-equality of the local
    replica.

    Determinism playbook (what makes this oracle-able):
      * coordinates quantize to milli units once (round(x·1e3),
        float32→double→round is engine-exact);
      * the scaled scatter C = N·G − s·sᵀ is computed in
        decimal(38)/HUGEINT EXACTLY, then entrywise sign-split-
        floored by N (Spark DIV truncates, DuckDB // floors — the
        split makes them agree);
      * the matrix is renormalized to integer 1e6 scale and SQUARED
        `squarings` times (64³ bounded joins) — the eigengap
        accelerator that replaces hundreds of power rounds on
        slow-gap spectra — then `rounds` integer power rounds with
        sign-split renormalization finish the job: no norms, no
        sqrt, no float sum order anywhere;
      * every budget is fixed and unrolled identically by the
        oracle. The eigenvalue readout λ̂/trace — the explained-
        variance ratio — evaluates the final vector against the
        ORIGINAL (unsquared) matrix as one double division of
        exact integers.

    Output: (dim 1-based, v_q ≈ v·1e6/max|v|, lambda_over_trace)."""
    spark = embeddings.sparkSession
    cmat = _pca_cmat(embeddings)
    mat = _pca_collect(cmat)
    v = (None if mat is None
         else _pca_power_py(_renorm_py(mat), squarings, rounds))
    return (_pca_readout(cmat, _v_frame(spark, v), 1)
            .select("dim", "v_q", "lambda_over_trace"))


def pca_top2_components(embeddings: DataFrame,
                        squarings: int = PCA_SQUARINGS,
                        rounds: int = PCA_ROUNDS) -> DataFrame:
    """Top TWO principal components by Hotelling deflation on the
    renormed integer scatter — the multi-component extension of
    `pca_top_component` with the same no-solver, no-float contract:
    after the squared-matrix power phase finds v₁, the deflated
    matrix M₂ = M·(v₁ᵀw) − w·wᵀ with w = M·v₁ removes v₁'s invariant
    subspace by integer CROSS-MULTIPLICATION (the rational Rayleigh
    quotient never materializes — M₂ is exact integer arithmetic,
    then renormalized back to the 1e6 grid), and the identical
    squaring/power phase on M₂ yields v₂ — all on the LOCAL
    parameter-bounded matrix (see pca_top_component), with the
    oracle unrolling the same arithmetic in SQL. Deflation runs on the
    RENORMED base matrix, whose eigenvectors are the scatter's
    (entrywise scalar division; the truncation error is the same one
    the top component already carries, pinned by the numpy
    differential and the orthogonality test).

    Output: (component 1|2, dim, v_q, lambda_over_trace) — 2·64
    rows; both explained-variance readouts evaluate against the
    ORIGINAL scatter."""
    spark = embeddings.sparkSession
    cmat = _pca_cmat(embeddings)
    mat = _pca_collect(cmat)
    if mat is None:
        v1 = v2 = None
    else:
        m0 = _renorm_py(mat)
        v1 = _pca_power_py(m0, squarings, rounds)
        w = [sum(x * y for x, y in zip(row, v1)) for row in m0]
        t = sum(wi * vi for wi, vi in zip(w, v1))
        defl = [[m0[i][j] * t - w[i] * w[j] for j in range(PCA_DIM)]
                for i in range(PCA_DIM)]
        v2 = _pca_power_py(_renorm_py(defl), squarings, rounds)
    return (_pca_readout(cmat, _v_frame(spark, v1), 1)
            .unionByName(_pca_readout(cmat, _v_frame(spark, v2), 2)))


#: k-NN text classifier parameters: neighbors, posting cap (the
#: TFIDF_MAX_DF discipline — terms carried by more than max_df
#: training docs are dropped from BOTH sides, bounding join fan-out
#: at df² independent of corpus size; mirrored in the oracle).
KNN_K = 5
KNN_MAX_DF = 256


def knn_text_classifier(docs: DataFrame, n_folds: int = 5,
                        test_fold: int = 0, k: int = KNN_K,
                        max_df: int = KNN_MAX_DF) -> DataFrame:
    """k-NN language classifier over raw token-count vectors
    (Cover & Hart 1967) — the instance-based baseline next to the
    parametric `naive_bayes_lang`: a test doc takes the majority
    language of its k most similar training docs, similarity = the
    EXACT integer dot product of token-count vectors (sparse, via
    one term-keyed join — never a dense matrix or a UDF).

    Determinism: integer dots; neighbor cut by (dot DESC, train doc
    ASC); vote by (count DESC, best-neighbor-dot DESC, lang ASC) —
    total orders everywhere, so the confusion matrix is engine-exact.
    Test docs sharing no un-capped term with any training doc have no
    neighbors and are excluded (documented; the oracle replays the
    same rule).

    Scale: the df cap bounds the term join at Σ_t df_t·tf ≤ max_df²
    rows per term; the top-k and vote are doc-partitioned windows
    over ≤|test|·k rows. Output: (actual_lang, predicted_lang,
    n_docs)."""
    from cloud_native_mapreduce_spark.functions.text import tokens

    fold = F.col("doc_id") % n_folds
    train = docs.where(fold != test_fold)
    test = docs.where(fold == test_fold)

    def counts(d: DataFrame, prefix: str) -> DataFrame:
        return (d.select(F.col("doc_id").alias(f"{prefix}_doc"),
                         F.explode(tokens(F.col("text"))).alias("w"))
                .groupBy(f"{prefix}_doc", "w")
                .agg(F.count(F.lit(1)).cast("bigint")
                     .alias(f"{prefix}_c")))

    tr = counts(train, "tr")
    te = counts(test, "te")
    kept = (tr.groupBy("w")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("w"))
    dots = (te.join(kept, "w")
            .join(tr, "w")
            .groupBy("te_doc", "tr_doc")
            .agg(F.sum(F.expr("te_c * tr_c")).cast("bigint")
                 .alias("dot")))
    w_nn = Window.partitionBy("te_doc").orderBy(
        F.col("dot").desc(), F.col("tr_doc").asc())
    nn = (dots.withColumn("rn", F.row_number().over(w_nn))
          .where(F.col("rn") <= k))
    tr_lang = train.select(F.col("doc_id").alias("tr_doc"),
                           F.col("lang").alias("nb_lang"))
    votes = (nn.join(tr_lang, "tr_doc")
             .groupBy("te_doc", "nb_lang")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"),
                  F.max("dot").alias("best_dot")))
    w_v = Window.partitionBy("te_doc").orderBy(
        F.col("n_votes").desc(), F.col("best_dot").desc(),
        F.col("nb_lang").asc())
    pred = (votes.withColumn("rv", F.row_number().over(w_v))
            .where(F.col("rv") == 1)
            .select("te_doc", F.col("nb_lang").alias("predicted_lang")))
    actual = test.select(F.col("doc_id").alias("te_doc"),
                         F.col("lang").alias("actual_lang"))
    return (pred.join(actual, "te_doc")
            .groupBy("actual_lang", "predicted_lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))


#: Margin floor for the label-noise screen: one calibration bucket
#: (2 meganats) — "confidently wrong", not merely wrong.
NOISE_MARGIN_MN = 2_000_000


def label_noise_suspects(docs: DataFrame, n_folds: int = 5,
                         margin_mn: int = NOISE_MARGIN_MN) -> DataFrame:
    """Label-noise screen in the confident-learning spirit (Northcutt
    et al. 2021): held-out docs the NB model classifies WRONGLY with
    a LARGE margin — when a well-calibrated model is confidently
    contradicted by the label, the label is the better suspect. The
    actionable report `nb_margin_calibration` aggregates away: that
    entry shows confidence predicts accuracy; this one lists the
    specific docs to re-annotate.

    Same exact-integer micronat machinery as the calibration audit
    (train folds 1..n−1, test fold 0, doc-partitioned top-2 window);
    the margin floor is one calibration bucket. Output: (doc_id,
    actual_lang, predicted_lang, margin_mn), the full suspect list —
    exact integers end to end."""
    fold = F.col("doc_id") % n_folds
    scored = nb_scored(docs.where(fold != 0), docs.where(fold == 0))
    r = scored.withColumn(
        "rk", F.row_number().over(
            Window.partitionBy("doc_id")
            .orderBy(F.col("score").desc(), F.col("lang"))))
    top2 = (r.where(F.col("rk") <= 2)
            .groupBy("doc_id", "actual_lang")
            .agg(F.max(F.when(F.col("rk") == 1, F.col("lang")))
                 .alias("predicted_lang"),
                 F.max(F.when(F.col("rk") == 1, F.col("score")))
                 .alias("s1"),
                 F.max(F.when(F.col("rk") == 2, F.col("score")))
                 .alias("s2")))
    return (top2
            .where((F.col("predicted_lang") != F.col("actual_lang"))
                   & ((F.col("s1") - F.col("s2")) >= margin_mn))
            .select("doc_id", "actual_lang", "predicted_lang",
                    (F.col("s1") - F.col("s2")).cast("bigint")
                    .alias("margin_mn")))


def _best_splits_per_node(vals: DataFrame) -> DataFrame:
    """Best (feature, threshold) split PER NODE by exact scaled-integer
    Gini — the `decision_stump` candidate machinery with a `node`
    grouping key so one pass scores every node of a tree level.
    `vals` columns: node, feature, val, pos. Nodes with no valid
    split (pure or single-valued) simply emit no row."""
    hist = cut(vals.groupBy("node", "feature", "val")
               .agg(F.count(F.lit(1)).alias("cnt"),
                    F.sum("pos").alias("p")))
    tot = hist.groupBy("node", "feature").agg(
        F.sum("cnt").alias("n"), F.sum("p").alias("pos_tot"))
    rhs = hist.select(F.col("node").alias("n2"),
                      F.col("feature").alias("f2"),
                      F.col("val").alias("v2"),
                      F.col("cnt").alias("c2"), F.col("p").alias("p2"))
    left = (hist.select("node", "feature", "val")
            .join(F.broadcast(rhs), (F.col("n2") == F.col("node"))
                  & (F.col("f2") == F.col("feature"))
                  & (F.col("v2") <= F.col("val")))
            .groupBy("node", "feature", F.col("val").alias("threshold"))
            .agg(F.sum("c2").alias("n_left"),
                 F.sum("p2").alias("pos_left")))
    cand = (left.join(F.broadcast(tot), ["node", "feature"])
            .select("node", "feature", "threshold", "n_left",
                    "pos_left",
                    (F.col("n") - F.col("n_left")).alias("n_right"),
                    (F.col("pos_tot") - F.col("pos_left"))
                    .alias("pos_right"))
            .where((F.col("n_right") > 0) & (F.col("n_left") > 0)))
    d = "decimal(38,0)"
    imp = F.expr(
        f"CAST((( (CAST(n_left AS {d}) * n_left"
        f"       - CAST(pos_left AS {d}) * pos_left"
        f"       - CAST(n_left - pos_left AS {d}) * (n_left - pos_left)"
        f"      ) * n_right"
        f"    + ( CAST(n_right AS {d}) * n_right"
        f"       - CAST(pos_right AS {d}) * pos_right"
        f"       - CAST(n_right - pos_right AS {d}) * (n_right - pos_right)"
        f"      ) * n_left"
        f"   ) * {STUMP_SCALE} DIV (CAST(n_left AS {d}) * n_right))"
        f" AS BIGINT)")
    w = Window.partitionBy("node").orderBy(
        "gini_scaled", "feature", "threshold")
    return (cand.select("node", "feature", "threshold",
                        imp.alias("gini_scaled"),
                        F.col("n_left").cast("bigint").alias("n_left"),
                        F.col("pos_left").cast("bigint")
                        .alias("pos_left"),
                        F.col("n_right").cast("bigint")
                        .alias("n_right"),
                        F.col("pos_right").cast("bigint")
                        .alias("pos_right"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))


def decision_tree_depth2(lineitem: DataFrame) -> DataFrame:
    """Depth-2 CART tree (Breiman et al. 1984) predicting
    `l_returnflag = 'R'` from (quantity, discount) — `decision_stump`
    grown one level: the root split, then the best split of EACH
    child, all by the stump's exact scaled-integer Gini argmin (no
    float comparison anywhere, total-order tie-breaks), and all
    WITHOUT a driver-side loop — the root winner is a broadcast
    1-row frame that conditions the second-level histograms, so the
    recursion is two distributed passes, not driver orchestration.

    Output: one row per splittable node ('root', 'left', 'right')
    with the chosen split, exact side histograms, and majority-class
    leaf predictions. A pure or single-valued child emits no row
    (there is no valid split — absence is the honest answer, not a
    null-stuffed placeholder).

    Scale: two corpus passes (root histograms; side-conditioned
    histograms), each collapsing to ≤ |values|·nodes rows; the
    winner selection is a bounded-frame window. The root row is a
    one-row broadcast — never a collect."""
    pos = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    rows = cut(lineitem.select(
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_discount").alias("discount"), pos.alias("pos")))
    stacked = rows.select(
        F.lit("root").alias("node"),
        F.expr("stack(2, 'quantity', quantity, 'discount', discount) "
               "AS (feature, val)"), "pos")
    root = _best_splits_per_node(stacked)
    root_b = F.broadcast(root.select(
        F.col("feature").alias("rf"), F.col("threshold").alias("rt")))
    side = F.when(
        ((F.col("rf") == "quantity")
         & (F.col("quantity") <= F.col("rt")))
        | ((F.col("rf") == "discount")
           & (F.col("discount") <= F.col("rt"))),
        F.lit("left")).otherwise(F.lit("right"))
    stacked2 = (rows.crossJoin(root_b)
                .select(side.alias("node"),
                        F.expr("stack(2, 'quantity', quantity, "
                               "'discount', discount) "
                               "AS (feature, val)"), "pos"))
    lvl2 = _best_splits_per_node(stacked2)
    maj = (lambda p, n: F.when(2 * F.col(p) >= F.col(n), F.lit("R"))
           .otherwise(F.lit("not_R")))
    out = root.unionByName(lvl2)
    return out.select(
        "node", "feature", "threshold", "gini_scaled",
        "n_left", "pos_left", "n_right", "pos_right",
        maj("pos_left", "n_left").alias("predict_left"),
        maj("pos_right", "n_right").alias("predict_right"))
