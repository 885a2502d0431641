"""Training-data curation operators: stratified sampling, corpus mixing,
benchmark decontamination, TF-IDF term extraction, sequence packing.

North-star scope (the reference has no data-curation surface —
SURVEY.md §2 note): these are the operators an LLM-training pipeline
runs between raw corpus and tokenized batches. Every operator is
deterministic — sampling decisions come from a content hash, never from
`df.sample` RNG — so results are stable across engines, retries and
repartitioning, and every one carries a full DuckDB value-level oracle.

Scale posture at 100 TB:
  * sampling/mixing: one scan + a broadcast of per-stratum rates (the
    rate table is |strata| rows — KBs); no shuffle of the corpus.
  * decontamination: the benchmark side is small by construction (eval
    sets are thousands of docs) — its distinct n-gram set broadcasts,
    so the corpus-side n-gram stream is filtered map-side and never
    shuffles.
  * TF-IDF: two hash aggregates (doc-term, term) with map-side partial
    combine; the vocabulary table is bounded by |vocab|, not corpus.
  * packing: sequential by nature *within* a pack group; parallel
    across groups. Group by a hash bucket at scale so parallelism is
    chosen, not inherited from data cardinality.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_native_mapreduce_spark.functions.text import WORD_RE as T_WORD_RE
from cloud_native_mapreduce_spark.functions.text import tokens

#: Whitespace-run token pattern with an EXPLICIT class, not \S: Java's
#: \s includes U+000B (vertical tab) while RE2's (DuckDB oracle)
#: excludes it — \x0B spells VT identically in both (same rationale as
#: functions/text.py BPE_RE).
WS_TOKEN_RE = r"[^ \t\n\x0B\f\r]+"

#: 2^32 as a double: an 8-hex-char md5 prefix divided by this is an
#: exact power-of-two scaling, so the uniform is bit-identical in any
#: IEEE-754 engine.
_HASH_DENOM = 4294967296.0


def hash_uniform(key: F.Column) -> F.Column:
    """Deterministic uniform-[0,1) draw from a row key: the first 8 hex
    chars of md5(key) as an integer, scaled by 2^-32.

    This is the engine-portable replacement for `rand()`: md5 is
    byte-identical everywhere, the draw survives retries and
    repartitioning, and the DuckDB oracle spells the same expression as
    ``('0x' || substring(md5(k), 1, 8))::BIGINT / 4294967296.0``.
    """
    return (F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
             .cast("bigint") / F.lit(_HASH_DENOM))


def stratified_sample(docs: DataFrame, strata_col: str = "source",
                      target_per_stratum: int = 10,
                      key_col: str = "doc_id") -> DataFrame:
    """Deterministic stratified sample: ~`target_per_stratum` rows from
    each stratum, chosen by key hash.

    Per-stratum rates come from one tiny aggregate (|strata| rows) that
    broadcast-joins back onto the corpus — the corpus itself is scanned
    once and never shuffled. Rare strata (count <= target) are kept
    whole via `least(1.0, ...)`. The kept count per stratum is binomial
    around the target, not exact — exact-k-per-stratum needs a
    per-stratum top-k by hash (see `window_rank` for that shape); the
    rate formulation is the one that stays one-pass at 100 TB.
    """
    rates = (docs.groupBy(strata_col)
             .agg(F.count("*").alias("n_stratum"))
             .withColumn("rate", F.least(
                 F.lit(1.0),
                 F.lit(float(target_per_stratum)) / F.col("n_stratum"))))
    return (docs
            .join(F.broadcast(rates), strata_col)
            .where(hash_uniform(F.col(key_col)) < F.col("rate"))
            .select(key_col, strata_col, "lang", "n_chars"))


def corpus_mix(docs: DataFrame, weights: dict[str, float],
               strata_col: str = "source",
               key_col: str = "doc_id") -> DataFrame:
    """Deterministic corpus mixing: sample each source so the result
    matches the target weight proportions at the largest total size the
    bottleneck source allows.

    Classic mixture math: with n_s rows available and weight w_s, the
    scale factor is T = min_s(n_s / w_s); source s keeps w_s * T rows
    (rate = w_s * T / n_s — the bottleneck source is kept whole, every
    other source is hash-downsampled to proportion). Sources without a
    weight are dropped. Plan shape: two tiny aggregates (per-source
    counts, scalar T) broadcast onto a single corpus scan — no shuffle.
    """
    w_df = docs.sparkSession.createDataFrame(
        [(s, float(w)) for s, w in sorted(weights.items())],
        f"{strata_col} string, wt double")
    counts = (docs.groupBy(strata_col)
              .agg(F.count("*").alias("n_src"))
              .join(F.broadcast(w_df), strata_col))
    t_scalar = counts.agg(
        F.min(F.col("n_src") / F.col("wt")).alias("t_min"))
    rates = (counts.crossJoin(F.broadcast(t_scalar))
             .select(strata_col,
                     F.least(F.lit(1.0),
                             F.col("wt") * F.col("t_min") / F.col("n_src"))
                      .alias("rate")))
    return (docs
            .join(F.broadcast(rates), strata_col)
            .where(hash_uniform(F.col(key_col)) < F.col("rate"))
            .select(key_col, strata_col))


def _word_ngrams(docs: DataFrame, n: int,
                 text_col: str = "text") -> DataFrame:
    """(doc_id, gram) stream of word n-grams under the shared tokenizer.

    The n-gram build is a JVM `transform` over an index sequence with
    only the exploded gram column leaving the projection (DESIGN.md HOF
    trap #2 — never let an explode carry wide companions)."""
    toks = docs.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    return toks.select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(toks) < {n} THEN array() "
            f"ELSE transform(sequence(0, size(toks) - {n}), "
            f"i -> array_join(slice(toks, i + 1, {n}), ' ')) END"
        )).alias("gram"))


def decontaminate(train: DataFrame, bench: DataFrame,
                  n: int = 5) -> DataFrame:
    """Benchmark decontamination: drop every training doc sharing any
    word n-gram with the benchmark set (the contamination filter every
    published pretraining pipeline runs — GPT-3 appendix C uses 13-gram
    spans; n is a knob because synthetic corpora need shorter spans to
    collide at all).

    The benchmark is small by construction, so its distinct gram set is
    BROADCAST and the anti-join filters the training gram stream
    map-side — the 100 TB training corpus is scanned once and its grams
    are never shuffled. Returns surviving training rows.
    """
    bench_grams = _word_ngrams(bench, n).select("gram").distinct()
    contaminated = (_word_ngrams(train, n)
                    .join(F.broadcast(bench_grams), "gram", "left_semi")
                    .select("doc_id").distinct())
    return (train.join(contaminated, "doc_id", "left_anti")
            .select("doc_id", "lang", "source"))


def contamination_report(train: DataFrame, bench: DataFrame,
                         n: int = 5) -> DataFrame:
    """The flagged complement of `decontaminate`: per contaminated
    training doc, how many distinct benchmark n-grams it shares.
    Same broadcast shape; the report is what a curation run logs."""
    bench_grams = _word_ngrams(bench, n).select("gram").distinct()
    return (_word_ngrams(train, n).distinct()
            .join(F.broadcast(bench_grams), "gram", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared_grams")))


def tfidf_top_terms(docs: DataFrame, k: int = 3,
                    text_col: str = "text") -> DataFrame:
    """Top-k TF-IDF terms per document (idf = ln(N/df), the classic
    smooth-free variant).

    Plan: one explode -> hash aggregate to (doc, term, tf); the df table
    derives from THAT aggregate (each (doc, term) row counts once), so
    the corpus is tokenized exactly once. Both aggregates take map-side
    partial combine; the df/N sides are vocabulary-bounded and the
    scalar N broadcasts. Scores round to 4 places so the float ln is
    hash-stable across engines; ties break on term asc for a
    deterministic top-k. The per-doc window partitions on doc_id —
    maximal parallelism, no global sort.
    """
    tf = (docs.select("doc_id", F.explode(tokens(F.col(text_col)))
                      .alias("term"))
          .groupBy("doc_id", "term")
          .agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df_term"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(df_, "term")
              .crossJoin(F.broadcast(n_docs))
              .select(
                  "doc_id", "term", "tf",
                  F.round(F.col("tf") * F.log(
                      F.col("n_docs").cast("double") / F.col("df_term")), 4)
                   .alias("score")))
    w = (Window.partitionBy("doc_id")
         .orderBy(F.col("score").desc(), F.col("term").asc()))
    return (scored
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("doc_id", "term", "tf", "score"))


#: Default pack-group fan-out when `sequence_pack` derives its own
#: bucket column. 64 gives full parallelism on the test rig; at 100 TB
#: raise toward 4096 — the knob chooses the number of sequential
#: packing units, independent of how many sources the corpus has.
PACK_BUCKETS = 64


def sequence_pack(docs: DataFrame, max_tokens: int = 512,
                  group_col: str | None = None,
                  n_buckets: int = PACK_BUCKETS) -> DataFrame:
    """Greedy next-fit sequence packing: within each pack group (ordered
    by doc_id), docs accumulate into sequences until the next doc would
    overflow `max_tokens`, then a new sequence starts. Oversize docs are
    clamped to `max_tokens` (truncation is the packing contract; the
    clamp keeps every doc packable).

    Next-fit is a running sum with reset — inherently sequential within
    a group, so the group IS the parallelism unit: applyInPandas runs
    one Python pass per group while groups pack concurrently. The
    DEFAULT group (`group_col=None`) is therefore a deterministic hash
    bucket of `doc_id` — `md5(doc_id) % n_buckets`, the same
    engine-portable hash the sampler uses — so the number of groups is
    CHOSEN (`n_buckets`), not inherited from data cardinality; packing
    quality is unaffected because next-fit accepts any order. Passing a
    natural column (e.g. `group_col="source"`) instead pins packs to
    strata, at the cost of exactly-|strata|-way parallelism and one
    giant Arrow batch per stratum at scale — opt-in only. The per-group
    loop is O(rows) plain Python over an Arrow batch; the alternative
    (windowed cumsum) cannot express the reset.

    Returns (group, doc_id, n_tok, seq_id) — one row per doc, so the
    assignment itself is value-checked by the oracle's recursive CTE.
    """
    if group_col is None:
        group_expr = (F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16, 10).cast("bigint") % n_buckets).cast("string")
    else:
        group_expr = F.col(group_col).cast("string")
    base = docs.select(
        group_expr.alias("pack_group"),
        "doc_id",
        F.least(
            F.lit(max_tokens),
            F.size(F.regexp_extract_all(
                F.col("text"), F.lit(WS_TOKEN_RE), 0))).cast("bigint")
         .alias("n_tok"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", ignore_index=True)
        seq_ids, seq, fill = [], 1, 0
        for t in pdf["n_tok"]:
            if fill and fill + t > max_tokens:
                seq, fill = seq + 1, 0
            fill += t
            seq_ids.append(seq)
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        return pdf

    return base.groupBy("pack_group").applyInPandas(
        pack, "pack_group string, doc_id bigint, n_tok bigint, seq_id bigint")


# --- corpus language-model scoring ------------------------------------------

def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the cheapest LM-based quality score (a document of
    rare/garbled tokens scores low; the heavy-tailed real version swaps
    the corpus model for a pretrained KenLM, same plan shape).

    Plan: one tokenize/explode feeds (doc, term, tf); the corpus term
    table derives from THAT aggregate (corpus scanned once); the
    join-back shuffles on term with a vocabulary-bounded build side —
    never on the corpus; the scalar token total broadcasts. Scores
    round to 4 places (float ln sum; reordering error ~1e-12 per doc).
    """
    tf = (docs.select("doc_id", F.explode(tokens(F.col(text_col)))
                      .alias("term"))
          .groupBy("doc_id", "term")
          .agg(F.count("*").alias("tf")))
    ctf = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    total = ctf.agg(F.sum("ctf").alias("n_total"))
    return (tf.join(ctf, "term")
            .crossJoin(F.broadcast(total))
            .groupBy("doc_id")
            .agg(F.sum("tf").alias("n_tokens"),
                 (F.round(
                     F.sum(F.col("tf")
                           * F.log(F.col("ctf") / F.col("n_total")))
                     / F.sum("tf"), 4) + F.lit(0.0)).alias("avg_logprob")))


# --- PII detection / redaction ----------------------------------------------

#: PII patterns spelled to behave identically under Java regex (Spark)
#: and RE2 (DuckDB oracle): explicit classes, no \d / \s shorthands
#: whose definitions drift between engines.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
IPV4_RE = (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b")
PHONE_RE = r"\+[0-9]{7,12}"


def pii_redact(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Detect-and-redact pass for the three mechanically-findable PII
    shapes (emails, IPv4 literals, international phone numbers):
    per-row match counts plus the redacted text.

    One narrow projection — counts via regexp_extract_all, redaction
    via chained regexp_replace (emails first: an address can embed
    digit runs that the later patterns would otherwise shred). All
    JVM-side regex; at 100 TB this runs at scan speed with no shuffle.
    The corpus-side contract is the operator; callers wanting only
    flagged rows filter `n_pii > 0` and Catalyst pushes that onto the
    scan.
    """
    text = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0))
    n_ip = F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), 0))
    n_tel = F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<email>"),
            IPV4_RE, "<ip>"),
        PHONE_RE, "<tel>")
    return df.select(
        F.col(id_col),
        n_email.cast("bigint").alias("n_email"),
        n_ip.cast("bigint").alias("n_ip"),
        n_tel.cast("bigint").alias("n_tel"),
        (n_email + n_ip + n_tel).cast("bigint").alias("n_pii"),
        redacted.alias("redacted"))


# --- cross-document boilerplate removal -------------------------------------

def boilerplate_strip(docs: DataFrame, k: int = 5, min_docs: int = 3,
                      max_hot: int = 1024,
                      text_col: str = "text") -> DataFrame:
    """Strip cross-document boilerplate: word k-gram spans that occur in
    >= `min_docs` distinct documents (license headers, site footers,
    navigation chrome — the spans substring-level dedup papers target)
    are removed token-wise from every document.

    Plan shape at 100 TB:
      * the positioned gram stream is |tokens| rows — one shuffle to
        count per-gram document frequency (count-distinct on doc_id);
      * the hot set is top-`max_hot` grams by df (df desc, gram asc —
        deterministic): boilerplate is by definition low-cardinality,
        and the explicit cap keeps the set broadcastable no matter how
        adversarial the corpus (same posture as minhash's MAX_BUCKET /
        ngram's max_df caps), so covered-position marking is a
        broadcast semi-join on the gram stream — the corpus-side
        stream never shuffles on gram;
      * covered positions aggregate per doc (bounded by doc length)
        and the rebuild is one indexed-lambda `filter` pass — JVM HOFs
        throughout, no Python.
    The token array is materialized once (lazy localCheckpoint): it
    feeds both the gram stream and the final rebuild, and the barrier
    stops Catalyst re-inlining the tokenize per consumer (the
    project-collapse blowup documented in DESIGN notes).
    Returns (doc_id, n_before, n_after, cleaned).
    """
    toks = (docs.select("doc_id", tokens(F.col(text_col)).alias("toks"))
            .localCheckpoint(eager=False))
    grams = toks.select(
        "doc_id",
        F.posexplode(F.expr(
            f"CASE WHEN size(toks) < {k} THEN "
            f"CAST(array() AS ARRAY<STRING>) "
            f"ELSE transform(sequence(0, size(toks) - {k}), "
            f"i -> array_join(slice(toks, i + 1, {k}), ' ')) END"
        )).alias("pos", "gram"))
    hot = (grams.groupBy("gram")
           .agg(F.count_distinct("doc_id").alias("df"))
           .where(F.col("df") >= min_docs)
           .orderBy(F.col("df").desc(), F.col("gram").asc())
           .limit(max_hot)
           .select("gram"))
    cov = (grams.join(F.broadcast(hot), "gram")
           .select("doc_id",
                   F.explode(F.expr(f"sequence(pos, pos + {k - 1})"))
                    .alias("cpos"))
           .groupBy("doc_id")
           .agg(F.collect_set("cpos").alias("cov")))
    return (toks.join(cov, "doc_id", "left")
            .select("doc_id",
                    F.size("toks").cast("bigint").alias("n_before"),
                    F.expr("filter(toks, (x, i) -> cov IS NULL "
                           "OR NOT array_contains(cov, i))").alias("kept"))
            .select("doc_id", "n_before",
                    F.size("kept").cast("bigint").alias("n_after"),
                    F.array_join("kept", " ").alias("cleaned")))


# --- RAG-style document chunking --------------------------------------------

def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16,
                    text_col: str = "text") -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    retrieval/embedding preprocessing step (every chunk becomes an
    embedding row downstream). Stride = chunk_tokens - overlap; chunk
    starts advance by the stride so consecutive chunks share `overlap`
    tokens; the tail chunk may be short. Empty documents yield no
    chunks.

    One narrow JVM pass: tokenize once, generate start offsets with
    `sequence`, posexplode, slice per start — no shuffle at all; the
    output is ~(1 + overlap/stride)× the corpus tokens, the accepted
    cost of overlap. chunk_id is the ordinal of the chunk within its
    document (deterministic, re-derivable)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = docs.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    return (toks.select(
        "doc_id",
        F.posexplode(F.expr(
            f"CASE WHEN size(toks) = 0 THEN CAST(array() AS ARRAY<INT>) "
            f"ELSE sequence(0, size(toks) - 1, {step}) END"
        )).alias("chunk_id", "start"),
        F.col("toks"))
        .select("doc_id",
                F.col("chunk_id").cast("bigint").alias("chunk_id"),
                F.expr(f"slice(toks, start + 1, {chunk_tokens})")
                 .alias("chunk"))
        .select("doc_id", "chunk_id",
                F.size("chunk").cast("bigint").alias("n_tokens"),
                F.array_join("chunk", " ").alias("chunk_text")))


#: The Gopher stopword-presence list (Rae et al. 2021, "Scaling Language
#: Models: ... Gopher", §A1.1 quality filtering): a document must
#: contain at least 2 distinct of these to pass the stopword rule.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def gopher_quality(docs: DataFrame, text_col: str = "text",
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                   min_alpha_frac: float = 0.8,
                   min_stopwords: int = 2) -> DataFrame:
    """Per-document Gopher quality-rule flags (the public rule set from
    Rae et al. 2021 that most pretraining pipelines reimplement): word
    count bounds, mean word length bounds, fraction of words containing
    an alphabetic character, and the distinct-stopword requirement —
    plus the composite pass flag. Emitting the per-rule flags (not just
    the verdict) is deliberate: curation debugging is "which rule
    killed my corpus", and downstream mixes often re-weight rules.

    Physical shape: ONE narrow JVM pass, no shuffle, no Python — the
    token array comes from one regexp_extract_all over lower(text);
    total token chars is length(array_join(toks, '')) (one JVM call,
    not a per-element HOF sum — DESIGN.md HOF trap); alphabetic words
    re-use a single second regex pass; the stopword check intersects
    the distinct token array with an 8-element literal. The top-2-gram
    repetition rule from the same paper lives in `repetition_ratio`.
    Ratios round to 4 so the oracle hash is float-stable.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)),
                                F.lit(WS_TOKEN_RE), 0)
    alpha_re = WS_TOKEN_RE.replace("]+", "]*") + "[a-z]" \
        + WS_TOKEN_RE.replace("]+", "]*")
    alpha_toks = F.regexp_extract_all(F.lower(F.col(text_col)),
                                      F.lit(alpha_re), 0)
    d = docs.select("doc_id", toks.alias("toks"),
                    F.size(alpha_toks).cast("bigint").alias("n_alpha"))
    n_words = F.size("toks").cast("bigint")
    total_chars = F.length(F.array_join("toks", ""))
    mean_len = F.round(total_chars.cast("double") /
                       F.greatest(F.size("toks"), F.lit(1)), 4)
    alpha_frac = F.round(F.col("n_alpha").cast("double") /
                         F.greatest(F.size("toks"), F.lit(1)), 4)
    stop_distinct = F.size(F.array_intersect(
        F.array_distinct("toks"),
        F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))).cast("bigint")
    out = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        stop_distinct.alias("stop_distinct"))
    pass_wc = F.col("n_words").between(min_words, max_words)
    pass_len = F.col("mean_word_len").between(min_mean_len, max_mean_len)
    pass_alpha = F.col("alpha_word_frac") >= min_alpha_frac
    pass_stop = F.col("stop_distinct") >= min_stopwords
    return out.select(
        "doc_id", "n_words", "mean_word_len", "alpha_word_frac",
        "stop_distinct",
        pass_wc.alias("pass_word_count"),
        pass_len.alias("pass_mean_word_len"),
        pass_alpha.alias("pass_alpha_words"),
        pass_stop.alias("pass_stopwords"),
        (pass_wc & pass_len & pass_alpha & pass_stop)
        .alias("pass_gopher"))


def source_quality_filter(docs: DataFrame,
                          min_stopword_ratio: float = 0.05,
                          strata_col: str = "source",
                          text_col: str = "text") -> DataFrame:
    """Domain-level quality filtering (the C4/Gopher "drop bad domains"
    step): keep documents whose SOURCE's mean stopword ratio clears a
    floor — stopword-rich text is natural language; a source whose
    average falls below the floor is dropped wholesale.

    Plan: one corpus scan computes per-doc stopword ratios and
    aggregates them per source (|sources| rows — KBs); that tiny table
    filters to surviving sources and BROADCASTS back against a second
    corpus scan as a semi-join, so the corpus itself never shuffles.
    Mean ratios round to 4 places for cross-engine float stability.
    """
    from cloud_native_mapreduce_spark.functions.text import STOPWORDS
    t = tokens(F.col(text_col))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = (F.size(F.filter(t, lambda w: F.array_contains(stop_arr, w)))
             / F.nullif(F.size(t), F.lit(0)))
    per_source = (docs
                  .select(F.col(strata_col), ratio.alias("r"))
                  .groupBy(strata_col)
                  .agg(F.round(F.avg("r"), 4).alias("mean_stopword_ratio")))
    kept = per_source.where(
        F.col("mean_stopword_ratio") >= min_stopword_ratio)
    return (docs.join(F.broadcast(kept), strata_col)
            .select("doc_id", strata_col, "mean_stopword_ratio"))


def token_budget_sample(docs: DataFrame, budget_tokens: int = 2000,
                        strata_col: str = "source",
                        key_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-source token-budget sampling: admit documents in
    deterministic hash order until each source's running token total
    reaches the budget (the document that crosses the line is kept, so
    every source with enough material contributes ≥ budget tokens).

    This is how training mixtures are actually budgeted — by tokens,
    not rows (`corpus_mix` is the row-proportional sibling). Admission
    order is `hash_uniform(key)` — an unbiased, engine-portable,
    retry-stable shuffle of each source, not "earliest doc_id wins".
    The running total is a window partitioned BY SOURCE (maximal
    parallelism, never a global sort) with an explicit ROWS frame over
    a unique ordering, so Spark and the oracle tally identically.
    """
    n_tok = F.size(tokens(F.col(text_col))).cast("bigint")
    base = docs.select(
        "doc_id", F.col(strata_col), n_tok.alias("n_tokens"),
        hash_uniform(F.col(key_col)).alias("u"))
    w = (Window.partitionBy(strata_col)
         .orderBy(F.col("u").asc(), F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (base
            .withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .where(F.col("cum_tokens") - F.col("n_tokens")
                   < F.lit(budget_tokens))
            .select("doc_id", strata_col, "n_tokens", "cum_tokens"))


def bigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram model — `unigram_logprob`'s context-aware
    sibling (the role a pretrained KenLM plays in real pipelines;
    swapping the model keeps the plan shape).

    Model definition (mirrored exactly in the oracle): for bigram
    (w1, w2), P = (c(w1 w2) + 1) / (c(w1·) + V) where c(w1·) is w1's
    count AS A CONTEXT (Σ bigrams starting w1) and V is the context
    vocabulary size. Docs with fewer than 2 tokens have no bigrams and
    emit no row.

    Plan: one tokenize builds per-doc bigram counts; the corpus bigram
    table derives from THAT aggregate; context counts and V are
    vocabulary-bounded; the join back to docs shuffles on the bigram
    key — never re-scans the corpus. Rounding to 4 keeps the float ln
    sum hash-stable (same acceptance as unigram_logprob).
    """
    toks = docs.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(" ",
                              F.get(F.col("toks"), i),
                              F.get(F.col("toks"), i + 1)))
    bg = (toks.where(F.size("toks") >= 2)
          .select("doc_id", F.explode(bigrams).alias("bg"))
          .groupBy("doc_id", "bg")
          .agg(F.count("*").alias("n")))
    cbg = bg.groupBy("bg").agg(F.sum("n").alias("cbg"))
    ctx = (cbg.select(F.split(F.col("bg"), " ")[0].alias("w1"), "cbg")
           .groupBy("w1").agg(F.sum("cbg").alias("cctx")))
    v = ctx.agg(F.count("*").alias("v"))
    scored = (bg.join(cbg, "bg")
              .withColumn("w1", F.split(F.col("bg"), " ")[0])
              .join(ctx, "w1")
              .crossJoin(F.broadcast(v)))
    return (scored.groupBy("doc_id")
            .agg(F.sum("n").cast("bigint").alias("n_bigrams"),
                 (F.round(
                     F.sum(F.col("n")
                           * F.log((F.col("cbg") + 1.0)
                                   / (F.col("cctx") + F.col("v"))))
                     / F.sum("n"), 4) + F.lit(0.0)).alias("avg_logprob")))


def flesch_expr() -> str:
    """Flesch reading-ease as SQL expression TEXT over integer
    columns w (words), s (sentences), syl (syllables) — shared
    verbatim with the DuckDB oracle (the ols3_exprs portability
    convention), so the score is the identical IEEE double in both
    engines and banding on it is engine-stable."""
    return ("(CAST(206.835 AS DOUBLE) "
            "- CAST(1.015 AS DOUBLE) "
            "* (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) "
            "- CAST(84.6 AS DOUBLE) "
            "* (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)))")


def readability_profile(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease histogram per language — the classic
    readability member of the quality-scoring family (gopher_quality
    gates on mechanical ratios; this scores prose difficulty).

    Counts per doc, all JVM-side regex (no UDF): words by the
    reference-parity tokenizer, sentences as [.!?]+ runs (min 1),
    syllables as [aeiouy]+ vowel groups clamped to ≥ 1 per word (the
    standard dictionary-free heuristic). The score is a fixed-form
    shared-text expression over those integers (`flesch_expr`), so
    the 10-point band assignment is identical across engines; band
    min/max are order-free aggregates rounded 4dp and counts/word
    sums are exact integers — no corpus-sized double sum.

    Scale: a single narrow projection over the scan (reads only
    lang + text), one |lang × band|-sized aggregate."""
    from cloud_native_mapreduce_spark.functions.text import tokens

    w = F.size(tokens(F.col("text")))
    s = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
        F.lit(1))
    v = F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                    F.lit("[aeiouy]+"), 0))
    per = (docs.select("lang", w.alias("w"), s.alias("s"), v.alias("v"))
           .where(F.col("w") > 0)
           .select("lang", "w", "s",
                   F.greatest(F.col("v"), F.col("w")).alias("syl")))
    fl = F.expr(flesch_expr())
    banded = per.select(
        "lang", "w", fl.alias("fl"),
        F.floor(fl / 10).cast("int").alias("band"))
    return (banded.groupBy("lang", "band")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("w").cast("bigint").alias("n_words"),
                 (F.round(F.min("fl"), 4) + F.lit(0.0)).alias("min_score"),
                 (F.round(F.max("fl"), 4) + F.lit(0.0)).alias("max_score")))


def heaps_law_curve(docs: DataFrame, n_stages: int = 10) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct
    vocabulary as the corpus grows through `n_stages` equal doc-id
    stages — the sub-linear vocab/corpus relationship (Heaps 1978)
    that sizes tokenizer vocabularies and dedup posting tables before
    a full-corpus run.

    The scalable trick: a word's first appearance is its MINIMUM doc
    id, so the curve needs ONE corpus token aggregate (word -> min
    doc id, map-side combined) and never rescans text per stage;
    stages are arithmetic buckets over [min_id, max_id] computed
    with integer DIV (exact in both engines), and the cumulative
    counts run as a broadcast triangular join over the
    n_stages-row frame."""
    from cloud_native_mapreduce_spark.functions.text import tokens

    bounds = docs.agg(F.min("doc_id").alias("mn"),
                      F.max("doc_id").alias("mx"))

    def bucket(col: str):
        return F.least(
            F.lit(n_stages),
            F.lit(1) + F.expr(f"(({col} - mn) * {n_stages}) DIV "
                              "greatest(mx - mn, 1)")).alias("k")

    d_stage = (docs.select("doc_id").crossJoin(F.broadcast(bounds))
               .select(bucket("doc_id"))
               .groupBy("k").agg(F.count(F.lit(1)).alias("docs_new")))
    w_first = (docs.select("doc_id",
                           F.explode(tokens(F.col("text"))).alias("w"))
               .groupBy("w").agg(F.min("doc_id").alias("first_id")))
    w_stage = (w_first.crossJoin(F.broadcast(bounds))
               .select(bucket("first_id"))
               .groupBy("k").agg(F.count(F.lit(1)).alias("words_new")))
    stages = (d_stage.join(w_stage, "k", "left")
              .select("k", "docs_new",
                      F.coalesce("words_new", F.lit(0))
                      .alias("words_new"))
              .localCheckpoint(eager=False))
    lower = stages.select(F.col("k").alias("k2"),
                          F.col("docs_new").alias("d2"),
                          F.col("words_new").alias("w2"))
    cum = (stages.join(F.broadcast(lower), F.col("k2") <= F.col("k"))
           .groupBy("k")
           .agg(F.sum("d2").cast("bigint").alias("n_docs"),
                F.sum("w2").cast("bigint").alias("vocab_size")))
    return cum.join(stages.select("k", F.col("words_new").cast("bigint")
                                  .alias("new_words")), "k")


def simpson_diversity(docs: DataFrame) -> DataFrame:
    """Simpson diversity of the language mix within each source:
    D = sum c_l*(c_l - 1) / (n*(n - 1)) — the probability two
    random docs from the source share a language (1 = monolingual,
    lower = more diverse; Simpson 1949), plus the Gini-Simpson
    complement. Exact integer numerators/denominators in one
    fixed-form division rounded 6dp; two keyed aggregates, output
    |source|-sized."""
    cl = (docs.groupBy("source", "lang")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    agg = (cl.groupBy("source")
           .agg(F.sum("c").cast("bigint").alias("n"),
                F.count(F.lit(1)).cast("bigint").alias("n_langs"),
                F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint")
                .alias("num")))
    d = (F.col("num").cast("double")
         / (F.col("n") * (F.col("n") - 1)).cast("double"))
    return (agg.where(F.col("n") >= 2)
            .select("source", F.col("n").alias("n_docs"), "n_langs",
                    (F.round(d, 6) + F.lit(0.0)).alias("simpson"),
                    (F.round(F.lit(1.0) - d, 6) + F.lit(0.0))
                    .alias("gini_simpson")))


def kn_prob_expr() -> str:
    """Interpolated Kneser-Ney bigram probability as SQL expression
    TEXT over integer columns cbg (bigram count), cctx (context
    total), n1pv (distinct successors of the context), n1pw (distinct
    predecessors of the word), b (distinct bigram types) — shared
    verbatim with the DuckDB oracle (the flesch_expr / ols3_exprs
    portability convention) so both engines evaluate the identical
    IEEE op sequence. Discount d = 0.75 ships as CAST(0.75 AS
    DOUBLE): a bare 0.75 literal is DECIMAL in DuckDB's parser."""
    return ("((greatest(CAST(cbg AS DOUBLE) - CAST(0.75 AS DOUBLE), "
            "CAST(0 AS DOUBLE)) "
            "+ CAST(0.75 AS DOUBLE) * CAST(n1pv AS DOUBLE) "
            "* (CAST(n1pw AS DOUBLE) / CAST(b AS DOUBLE))) "
            "/ CAST(cctx AS DOUBLE))")


def kneser_ney_logprob(docs: DataFrame,
                       text_col: str = "text") -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's
    own INTERPOLATED KNESER-NEY model (Kneser & Ney, ICASSP 1995;
    Chen & Goodman 1998 — the smoothing real KenLM quality filters
    use, one order up from `bigram_logprob`'s add-one):

        P(w|v) = (max(c(vw) − d, 0) + d · N1+(v·) · Pcont(w)) / c(v·)
        Pcont(w) = N1+(·w) / N1+(··),  d = 0.75

    where N1+(v·) / N1+(·w) are the distinct-successor / distinct-
    predecessor counts and N1+(··) the distinct bigram types — the
    "novel continuation" weighting that makes KN the strongest
    count-based LM. Every model term is an exact integer from ONE
    corpus bigram aggregate; the probability is one fixed-form shared
    expression (`kn_prob_expr`), and the per-doc ln sum rounds 4dp
    (the bigram_logprob acceptance).

    Plan: one tokenize → per-doc bigram counts → the corpus model
    derives from that aggregate (all model tables vocabulary-
    bounded); scoring joins are keyed on bigram / w1 / w2; the 1-row
    type total broadcasts. Never re-scans text."""
    toks = docs.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(" ",
                              F.get(F.col("toks"), i),
                              F.get(F.col("toks"), i + 1)))
    bg = (toks.where(F.size("toks") >= 2)
          .select("doc_id", F.explode(bigrams).alias("bg"))
          .groupBy("doc_id", "bg")
          .agg(F.count("*").alias("n")))
    cbg = (bg.groupBy("bg").agg(F.sum("n").alias("cbg"))
           .localCheckpoint(eager=False))
    ctx = (cbg.select(F.split(F.col("bg"), " ")[0].alias("w1"), "cbg")
           .groupBy("w1").agg(F.sum("cbg").alias("cctx"),
                              F.count("*").alias("n1pv")))
    cont = (cbg.select(F.split(F.col("bg"), " ")[1].alias("w2"))
            .groupBy("w2").agg(F.count("*").alias("n1pw")))
    b = cbg.agg(F.count("*").alias("b"))
    scored = (bg.join(cbg, "bg")
              .withColumn("w1", F.split(F.col("bg"), " ")[0])
              .withColumn("w2", F.split(F.col("bg"), " ")[1])
              .join(ctx, "w1").join(cont, "w2")
              .crossJoin(F.broadcast(b)))
    return (scored.groupBy("doc_id")
            .agg(F.sum("n").cast("bigint").alias("n_bigrams"),
                 (F.round(
                     F.sum(F.col("n") * F.log(F.expr(kn_prob_expr())))
                     / F.sum("n"), 4) + F.lit(0.0))
                 .alias("kn_logprob")))


#: (split, permille) allocation for exact_stratified_split — exact
#: largest-remainder targets per stratum, train first on remainder
#: ties (the declared priority order).
SPLIT_ALLOC = (("train", 800), ("val", 100), ("test", 100))


def exact_stratified_split(docs: DataFrame,
                           strata_col: str = "source",
                           key_col: str = "doc_id") -> DataFrame:
    """Deterministic EXACT-count train/val/test split per stratum by
    the largest-remainder (Hamilton) method — the reproducible-split
    guarantee `stratified_sample`'s rate formulation deliberately
    trades away (binomial around the target): here every stratum
    gets floor(n_s·p) rows per split plus one bonus row per largest
    remainder until the counts sum exactly to n_s, and membership is
    decided by the stratum-local md5-hash rank, so the split is
    stable under repartitioning, retries, engines, AND row order.

    Remainder ties break by the declared split priority
    (train > val > test, encoded as allocation order); rank ties
    cannot happen (md5 collisions aside, the tiebreak is the unique
    key). Shape: one per-stratum count aggregate broadcasts back;
    ranks are a stratum-partitioned window; the allocation arithmetic
    is pure integer permille — no floats anywhere."""
    ranked = (docs
              .select(key_col, strata_col,
                      hash_uniform(F.col(key_col)).alias("u"))
              .withColumn("r", F.row_number().over(
                  Window.partitionBy(strata_col)
                  .orderBy("u", key_col))))
    ns = docs.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_s"))
    return (ranked.join(F.broadcast(ns), strata_col)
            .select(key_col, strata_col,
                    F.expr(split_case_sql()).alias("split")))


def split_case_sql() -> str:
    """The largest-remainder split decision as SQL expression TEXT
    over integer columns r (stratum-local hash rank) and n_s
    (stratum size) — shared verbatim with the DuckDB oracle (the
    flesch_expr convention). Pure integer permille arithmetic:
    base_i = n_s·p_i div 1000; the k = n_s − Σbase bonus rows go to
    the largest remainders, ties broken by the declared allocation
    priority (train > val > test) via the epsilon term. Integer
    division is spelled `DIV` (Spark); the oracle builder swaps the
    token for DuckDB's `//` — the only engine-dialect difference in
    the text."""
    allocs = list(SPLIT_ALLOC)
    base = {s: f"(n_s * {p}) DIV 1000" for s, p in allocs}
    rem = {s: f"((n_s * {p}) % 1000)" for s, p in allocs}
    eps = {s: len(allocs) - 1 - i for i, (s, _) in enumerate(allocs)}
    n_bonus = f"(n_s - ({' + '.join(base.values())}))"
    # bonus_i = 1 iff fewer than n_bonus splits have (rem, eps)
    # strictly greater than split i's
    bonus = {}
    for s, _ in allocs:
        greater = " + ".join(
            f"(CASE WHEN ({rem[t]}) * 4 + {eps[t]} > "
            f"({rem[s]}) * 4 + {eps[s]} THEN 1 ELSE 0 END)"
            for t, _ in allocs if t != s)
        bonus[s] = f"(CASE WHEN ({greater}) < {n_bonus} THEN 1 ELSE 0 END)"
    quota = {s: f"(({base[s]}) + {bonus[s]})" for s, _ in allocs}
    cut_train = quota["train"]
    cut_val = f"({quota['train']} + {quota['val']})"
    return (f"CASE WHEN r <= {cut_train} THEN 'train' "
            f"WHEN r <= {cut_val} THEN 'val' ELSE 'test' END")


#: Picks made by greedy_coverage_select.
COVERAGE_K = 5


def greedy_coverage_select(docs: DataFrame,
                           k: int = COVERAGE_K) -> DataFrame:
    """Greedy maximum-coverage document selection (the classic
    (1−1/e)-approximate submodular pick, Nemhauser 1978) — the
    diversity-first data-selection step: choose k docs that together
    cover the most distinct vocabulary, each round taking the doc
    with the largest MARGINAL gain (new tokens only). What TF-IDF
    topical pickers can't do — the second pick avoids what the first
    already covered.

    Output: (pick_rank, doc_id, gain, covered_total) per round.
    Selection STOPS EARLY when coverage saturates (every remaining
    doc has zero marginal gain) — a zero-gain pick is noise, not
    selection; on the synthetic corpus's deliberately tiny shared
    vocabulary one document can cover everything, and the single
    row IS the correct answer.

    Exactness: gains are distinct-token counts (integers); ties
    break (gain DESC, doc_id) — fully ordered. Shape: the corpus
    tokenizes ONCE into a distinct (doc, token) posting frame that
    persists across rounds; each of the k rounds is an anti-join of
    that frame against the covered-token set (vocabulary-bounded,
    grows monotonically), one count aggregate, and a deterministic
    1-row TakeOrdered — NO driver-side collect anywhere; round
    frames are localCheckpointed so lineage stays flat."""
    pt = (docs.select("doc_id",
                      F.explode(tokens(F.col("text"))).alias("tok"))
          .distinct()
          .localCheckpoint(eager=True))
    spark = docs.sparkSession
    cov = spark.createDataFrame([], "tok string")
    out = None
    for r in range(1, k + 1):
        gains = (pt.join(F.broadcast(cov), "tok", "left_anti")
                 .groupBy("doc_id")
                 .agg(F.count(F.lit(1)).alias("gain")))
        if out is not None:
            gains = gains.join(out.select("doc_id"), "doc_id",
                               "left_anti")
        pick = (gains.orderBy(F.col("gain").desc(), "doc_id").limit(1)
                .select(F.lit(r).cast("bigint").alias("pick_rank"),
                        "doc_id", F.col("gain").cast("bigint")
                        .alias("gain"))
                .localCheckpoint(eager=True))
        cov = (cov.unionByName(
            pt.join(pick.select("doc_id"), "doc_id").select("tok"))
            .distinct()
            .localCheckpoint(eager=True))
        n_cov = cov.agg(F.count(F.lit(1)).cast("bigint")
                        .alias("covered_total"))
        row = pick.crossJoin(F.broadcast(n_cov))
        out = row if out is None else out.unionByName(row)
        out = out.localCheckpoint(eager=True)
    return out


def holdout_bigram_logprob(docs: DataFrame,
                           text_col: str = "text") -> DataFrame:
    """Held-out LM evaluation: per fold-0 document, the mean bigram
    log-probability under an add-one model fitted on the OTHER four
    folds — the GENERALIZATION measurement `bigram_logprob` (which
    scores the corpus under its own counts) cannot give: a held-out
    score that keeps dropping as data grows means the corpus is
    repetitive; train-vs-holdout gap is the memorization signal.

    OOV semantics are the natural add-one limits: unseen bigram in a
    seen context → 1/(cctx+V); wholly unseen context → 1/V — both
    fall out of COALESCE(·,0) in the single shared formula, no
    special cases. Plan shape matches bigram_logprob: the train
    tokenize builds the model tables (vocabulary-bounded), the test
    bigram stream joins them on bigram/context keys, V broadcasts."""
    fold = F.col("doc_id") % 5

    def bg_counts(d):
        toks = d.select("doc_id", tokens(F.col(text_col)).alias("toks"))
        bigrams = F.transform(
            F.sequence(F.lit(0), F.size("toks") - 2),
            lambda i: F.concat_ws(" ",
                                  F.get(F.col("toks"), i),
                                  F.get(F.col("toks"), i + 1)))
        return (toks.where(F.size("toks") >= 2)
                .select("doc_id", F.explode(bigrams).alias("bg"))
                .groupBy("doc_id", "bg")
                .agg(F.count("*").alias("n")))

    train_bg = bg_counts(docs.where(fold != 0))
    test_bg = bg_counts(docs.where(fold == 0))
    cbg = train_bg.groupBy("bg").agg(F.sum("n").alias("cbg"))
    ctx = (cbg.select(F.split(F.col("bg"), " ")[0].alias("w1"), "cbg")
           .groupBy("w1").agg(F.sum("cbg").alias("cctx")))
    v = ctx.agg(F.count("*").alias("v"))
    scored = (test_bg
              .join(cbg, "bg", "left")
              .withColumn("w1", F.split(F.col("bg"), " ")[0])
              .join(ctx, "w1", "left")
              .crossJoin(F.broadcast(v)))
    p = ("((COALESCE(cbg, 0) + CAST(1 AS DOUBLE)) "
         "/ (COALESCE(cctx, 0) + v))")
    return (scored.groupBy("doc_id")
            .agg(F.sum("n").cast("bigint").alias("n_bigrams"),
                 (F.round(F.sum(F.col("n") * F.log(F.expr(p)))
                          / F.sum("n"), 4) + F.lit(0.0))
                 .alias("holdout_logprob")))


#: Fightin'-Words prior strength (pseudo-token mass of the corpus
#: prior) and report size per language.
FW_ALPHA0 = 1000.0
FW_TOP_K = 10


def fw_z_expr() -> str:
    """Monroe/Colaresi/Quinn 2008 log-odds z-score as SQL text over
    exact integer columns y (term count in the language), yw (corpus
    term count), nl (language token total), nt (corpus token total)
    — shared verbatim with the oracle. The informative Dirichlet
    prior is the corpus itself scaled to FW_ALPHA0 pseudo-tokens:
    alpha_w = ALPHA0·yw/nt. One fixed-form ln/sqrt chain per
    VOCABULARY×LANGUAGE cell, never per token. The prior strength is
    spelled CAST(... AS DOUBLE): a bare 1000.0 literal parses as
    DECIMAL(5,1) in Spark but DOUBLE in DuckDB, and the mixed
    decimal/double arithmetic diverged at the 4th decimal (the
    robust_anomaly CAST(0.6745 AS DOUBLE) lesson)."""
    a0 = f"CAST({FW_ALPHA0} AS DOUBLE)"
    aw = f"({a0} * yw / nt)"
    yr = "(yw - y)"          # count in the REST of the corpus
    nr = "(nt - nl)"
    num_l = f"(y + {aw})"
    den_l = f"(nl + {a0} - y - {aw})"
    num_r = f"({yr} + {aw})"
    den_r = f"({nr} + {a0} - {yr} - {aw})"
    delta = f"(ln({num_l} / {den_l}) - ln({num_r} / {den_r}))"
    var = f"(1.0 / {num_l} + 1.0 / {num_r})"
    return f"({delta} / sqrt({var}))"


def odds_ratio_keywords(docs: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """Distinctive vocabulary per language by informative-Dirichlet
    log-odds (Monroe, Colaresi & Quinn 2008, "Fightin' Words" — the
    statistically honest replacement for raw tf-idf/PMI keyword
    lists: variance-aware, so a rare term with two lucky hits cannot
    outrank a genuinely overused common term): for each (language,
    term) the z-scored log-odds of the term in that language vs the
    rest of the corpus, under the corpus-as-prior smoothing; top-10
    terms per language by (z desc, term).

    Exactness note (why this one is NOT integer-quantized): the z
    chain needs four ln's and a sqrt per cell; quantizing each would
    change the statistic. Instead every z is ONE fixed-form
    expression over exact integers (`fw_z_expr`, shared text), so
    both engines evaluate the identical IEEE tree — the ols3_exprs
    portability rule — and the result rounds 4dp.

    Scale: one tokenize feeds the (lang, term) count aggregate;
    corpus term counts and language totals broadcast back; the z
    evaluation and the lang-PARTITIONED top-k window run on the
    vocabulary×|langs|-bounded cell frame."""
    tl = (docs.select("lang",
                      F.explode(tokens(F.col(text_col))).alias("tok"))
          .groupBy("lang", "tok")
          .agg(F.count(F.lit(1)).alias("y"))
          .localCheckpoint(eager=False))
    tw = tl.groupBy("tok").agg(F.sum("y").alias("yw"))
    nl = tl.groupBy("lang").agg(F.sum("y").alias("nl"))
    nt = tl.agg(F.sum("y").alias("nt"))
    cell = (tl.join(F.broadcast(tw), "tok")
            .join(F.broadcast(nl), "lang")
            .crossJoin(F.broadcast(nt))
            .select("lang", "tok", "y",
                    (F.round(F.expr(fw_z_expr()), 4) + F.lit(0.0))
                    .alias("z")))
    w = Window.partitionBy("lang").orderBy(F.col("z").desc(), "tok")
    return (cell.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= FW_TOP_K)
            .select("lang", F.col("tok").alias("term"),
                    F.col("y").cast("bigint").alias("n_in_lang"),
                    F.col("z").alias("z_score")))


#: Total sample size the registered Neyman-allocation query designs.
NEYMAN_TOTAL = 1_000


def neyman_allocation(docs: DataFrame,
                      total: int = NEYMAN_TOTAL) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934):
    given a total sample budget, allocate n_h ∝ N_h·S_h — more
    samples to big AND internally-variable strata — the design step
    BEFORE `exact_stratified_split` executes a split and
    `stratified_sample` draws one. Minimizes the variance of the
    stratified mean estimator of n_chars at fixed total n.

    Determinism: per-stratum N·ΣX²−(ΣX)² is computed EXACTLY in
    decimal(38); the weight N_h·S_h = √(N_h·(N_h ΣX²−(ΣX)²)/(N_h−1))
    takes ONE correctly-rounded IEEE sqrt of that exact ratio and is
    quantized to an integer (round 0dp) — from there the Hamilton
    largest-remainder apportionment (the exact_stratified_split
    method, here ACROSS strata) is pure integer arithmetic: base =
    (total·w_h) DIV W, bonus seats to the largest remainders with a
    source-name tiebreak, so Σ alloc_n = total exactly. Single-doc
    strata (undefined S_h) are excluded, documented.

    Shape: one corpus aggregate collapses to the |strata| frame;
    the two totals broadcast back; the bonus ranking is a triangular
    self-join ON THE BOUNDED STRATA FRAME (never a global window).
    Output: (source, n_h, weight_q, alloc_n)."""
    d38 = "decimal(38,0)"
    x = F.col("n_chars").cast(d38)
    per = (docs.groupBy("source")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_h"),
                F.sum(x).cast(d38).alias("sx"),
                F.sum(x * x).cast(d38).alias("ssq"))
           .where(F.col("n_h") >= 2)
           .select("source", "n_h", F.expr(
               "CAST(round(sqrt(CAST(n_h AS DOUBLE) "
               "* CAST(n_h * ssq - sx * sx AS DOUBLE) "
               "/ (n_h - 1)), 0) AS BIGINT)").alias("wq"))
           .localCheckpoint(eager=False))
    w_tot = per.agg(F.sum("wq").cast("bigint").alias("w"))
    p2 = (per.crossJoin(F.broadcast(w_tot))
          .select("source", "n_h", "wq",
                  F.expr(f"({total} * wq) DIV w").cast("bigint")
                  .alias("base"),
                  F.expr(f"({total} * wq) % w").cast("bigint")
                  .alias("rem"))
          .localCheckpoint(eager=False))
    sf = p2.agg((F.lit(total) - F.sum("base")).cast("bigint")
                .alias("n_bonus"))
    p3 = p2.crossJoin(F.broadcast(sf))
    rhs = p2.select(F.col("rem").alias("rem2"),
                    F.col("source").alias("src2"))
    cnt = (p3.join(F.broadcast(rhs),
                   (F.col("rem2") > F.col("rem"))
                   | ((F.col("rem2") == F.col("rem"))
                      & (F.col("src2") < F.col("source"))),
                   "left")
           .groupBy("source", "n_h", "wq", "base", "rem", "n_bonus")
           .agg(F.count("src2").alias("n_greater")))
    return cnt.select(
        "source", "n_h", F.col("wq").alias("weight_q"),
        (F.col("base")
         + F.when(F.col("n_greater") < F.col("n_bonus"), 1)
         .otherwise(0)).cast("bigint").alias("alloc_n"))


#: Content-safety blocklist for the registered query (fixed tuple —
#: production swaps in the real list as a broadcast table) and the
#: leetspeak de-obfuscation map (char-for-char translate, so both
#: engines share it verbatim).
BLOCKLIST = ("slow", "spam", "scam")
LEET_FROM = "013457$@"
LEET_TO = "oieastsa"


def blocklist_filter(docs: DataFrame,
                     terms: "tuple[str, ...]" = BLOCKLIST) -> DataFrame:
    """Blocklist content filter with leetspeak de-obfuscation — the
    content-safety step of a curation pipeline (the gap next to
    `pii_redact` and `gopher_quality`): documents are matched against
    a blocked-term list AFTER normalizing the classic digit/symbol
    substitutions (0→o, 1→i, 3→e, 4→a, 5→s, 7→t, $→s, @→a), so
    "sl0w" and "5low" hit the "slow" entry. Output: one row per
    (doc_id, matched term), distinct — the audit trail a removal
    job joins on.

    Exactness: normalization is a char-for-char translate both
    engines implement identically; matching is the reference
    tokenizer on the normalized text against a broadcast term
    frame. Scale: one tokenize-shaped pass, broadcast semi-join —
    no shuffle beyond the distinct's."""
    spark = docs.sparkSession
    norm = F.translate(F.lower(F.col("text")), LEET_FROM, LEET_TO)
    toks = (docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            norm, F.lit(T_WORD_RE), 0)).alias("term")))
    bl = spark.createDataFrame([(t,) for t in terms], "term string")
    return (toks.join(F.broadcast(bl), "term")
            .select("doc_id", "term").distinct())


def cross_source_contamination(docs: DataFrame,
                               n: int = 5) -> DataFrame:
    """Pairwise cross-SOURCE contamination audit: for every source
    pair, the number of distinct word n-grams they share and the
    Jaccard overlap of their distinct-gram sets — `decontaminate`
    answers "is my train set clean of THIS benchmark?"; this answers
    the curation-planning question upstream of it: which ingest
    sources are copying each other (mirrors, scrapes, syndication)
    badly enough that sampling them independently double-counts.

    Exact integers end to end: distinct (source, gram) pairs from one
    tokenize pass, per-source distinct counts, shared counts via one
    gram-keyed self-join with the source<source cut; Jaccard =
    shared/(|A|+|B|−shared) is the only division, 6dp.

    Scale: the gram join's fan-out is Σ_g k_g² with k_g ≤ the number
    of SOURCES carrying gram g — bounded by the source-catalog size
    (dozens), never by docs; at a million-source extreme you would cap
    k_g exactly like TFIDF_MAX_DF. Output: (src_a, src_b, n_shared,
    jaccard) for pairs sharing ≥ 1 gram."""
    toks = docs.select("source", tokens(F.col("text")).alias("toks"))
    sg = (toks.select(
        "source",
        F.explode(F.expr(
            f"CASE WHEN size(toks) < {n} THEN array() "
            f"ELSE transform(sequence(0, size(toks) - {n}), "
            f"i -> array_join(slice(toks, i + 1, {n}), ' ')) END"
        )).alias("gram"))
        .distinct()
        .localCheckpoint(eager=False))
    per = sg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    pairs = (sg.join(sg.select(F.col("source").alias("src_b"),
                               F.col("gram")), "gram")
             .where(F.col("source") < F.col("src_b"))
             .groupBy(F.col("source").alias("src_a"), "src_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared")))
    return (pairs
            .join(F.broadcast(per.select(
                F.col("source").alias("src_a"),
                F.col("n_grams").alias("na"))), "src_a")
            .join(F.broadcast(per.select(
                F.col("source").alias("src_b"),
                F.col("n_grams").alias("nb"))), "src_b")
            .select("src_a", "src_b", "n_shared",
                    (F.round(F.expr(
                        "CAST(n_shared AS DOUBLE) "
                        "/ (na + nb - n_shared)"), 6) + F.lit(0.0))
                    .alias("jaccard")))


def doc_novelty_ratio(docs: DataFrame, n: int = 5) -> DataFrame:
    """Per-document NOVELTY profile: the fraction of a doc's distinct
    word n-grams that are corpus-unique (document frequency = 1) —
    the memorization-risk / boilerplate readout between
    `repetition_ratio` (duplication INSIDE a doc) and the dedup
    family (duplication of WHOLE docs): a low-novelty doc is stitched
    from spans the rest of the corpus already has.

    Exact integers: distinct (doc, gram) pairs from one tokenize
    pass; gram df from that same frame (each doc counts once); unique
    count per doc via one join-back; the ratio is the only division,
    6dp. Docs shorter than n grams report 0 distinct grams and a
    NULL ratio. Output: per-doc rows bucketed into a deciles profile
    would hide outliers, so the full (doc_id, n_distinct_grams,
    n_unique_grams, novelty) frame is returned.

    Scale: two hash aggregates with map-side combine (the gram table
    is vocabulary-bounded) and one keyed join — the tfidf_top_terms
    plan shape."""
    dg = _word_ngrams(docs, n).distinct().localCheckpoint(eager=False)
    df_tab = dg.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    per_doc = (dg.join(df_tab, "gram")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("bigint")
                    .alias("n_distinct_grams"),
                    F.sum((F.col("df") == 1).cast("bigint"))
                    .cast("bigint").alias("n_unique_grams")))
    return (docs.select("doc_id")
            .join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_distinct_grams", F.lit(0))
                    .cast("bigint").alias("n_distinct_grams"),
                    F.coalesce("n_unique_grams", F.lit(0))
                    .cast("bigint").alias("n_unique_grams"),
                    (F.round(F.expr(
                        "CASE WHEN coalesce(n_distinct_grams, 0) = 0 "
                        "THEN CAST(NULL AS DOUBLE) "
                        "ELSE CAST(n_unique_grams AS DOUBLE) "
                        "/ n_distinct_grams END"), 6) + F.lit(0.0))
                    .alias("novelty")))


def leakage_safe_split(docs: DataFrame, edges: DataFrame,
                       train: float = 0.8,
                       val: float = 0.9) -> DataFrame:
    """Group-aware train/val/test split: near-duplicate CLUSTERS are
    assigned to splits WHOLE, so no eval document has a near-copy in
    training — the leakage `exact_stratified_split` (doc-level)
    cannot prevent: a doc-level split puts one member of a duplicate
    pair in train and its twin in test, and the eval number measures
    memorization. The standard fix in published pipelines
    (deduplicate-then-split, e.g. Lee et al. 2022): split on the
    connected component of the near-dup graph, not the doc.

    Deterministic: components by min-label propagation (the
    dedup_components machinery, caller supplies the pair graph);
    each component's split comes from the md5 hash-uniform of its
    label (the corpus-mixing convention — stable under retries,
    repartitioning, and engines). By construction zero components
    straddle splits, so the output is the audit summary: per split,
    doc count, component count, and singleton count.

    Scale: the components loop is the only iterative cost; the split
    assignment is a narrow map over the |docs|-row component frame +
    one 3-row aggregate."""
    from cloud_native_mapreduce_spark.dedup import components

    comp = components.connected_components(docs.select("doc_id"), edges)
    u = hash_uniform(F.col("comp"))
    split = (F.when(u < train, F.lit("train"))
             .when(u < val, F.lit("val"))
             .otherwise(F.lit("test")))
    sizes = comp.groupBy("comp").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"))
    return (comp.join(sizes, "comp")
            .withColumn("split", split)
            .groupBy("split")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count_distinct("comp").cast("bigint")
                 .alias("n_components"),
                 F.sum((F.col("sz") == 1).cast("bigint"))
                 .cast("bigint").alias("n_singleton_docs"))
            .orderBy("split"))


def mcnemar_quality_rules(docs: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """McNemar's paired test between two document-quality rules on the
    SAME corpus (McNemar 1947; the within-subjects complement of
    `drift_chisq`'s independent-samples test): rule A = word count in
    the Gopher band (>= 50), rule B = mean word length in [3, 10].
    Only the DISCORDANT cells carry signal — χ² = (b−c)²/(b+c) on
    (A-pass,B-fail) vs (A-fail,B-pass) — which is exactly the
    question when replacing one curation filter with another: do they
    disagree more than symmetrically?

    One pass, two JVM token expressions per document, one 4-cell
    conditional aggregate; χ² is null when b+c = 0 (perfect
    agreement). Output: one row (n_both_pass, n_a_only, n_b_only,
    n_neither, mcnemar_chi2 4dp)."""
    t = tokens(F.col(text_col))
    n_words = F.size(t)
    mean_len = (F.length(F.array_join(t, ""))
                / F.greatest(F.size(t), F.lit(1)))
    flags = docs.select(
        (n_words >= 50).alias("a"),
        mean_len.between(3.0, 10.0).alias("b"))
    return (flags.agg(
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint").alias("n_both_pass"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint").alias("n_a_only"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint").alias("n_b_only"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint").alias("n_neither"))
        .select("n_both_pass", "n_a_only", "n_b_only", "n_neither",
                (F.round(
                    F.when(F.col("n_a_only") + F.col("n_b_only") > 0,
                           (F.col("n_a_only") - F.col("n_b_only"))
                           * (F.col("n_a_only") - F.col("n_b_only"))
                           / (F.col("n_a_only") + F.col("n_b_only")))
                    , 4) + F.lit(0.0)).alias("mcnemar_chi2")))


def self_bleu_sources(docs: DataFrame,
                      text_col: str = "text") -> DataFrame:
    """Corpus-level self-BLEU-2 per source (Zhu et al. 2018's
    diversity metric, the corpus-against-corpus form): clipped bigram
    precision of each source's text against the REST of the corpus —
    p_s = Σ_b min(c_s(b), c_rest(b)) / Σ_b c_s(b). High self-BLEU =
    the source repeats what the rest of the corpus already says (low
    diversity / high redundancy); the count-weighted complement of
    `cross_source_contamination`'s distinct-gram audit and
    `doc_novelty_ratio`'s per-doc view.

    Exactness: bigram counts are exact integers from one tokenize;
    c_rest = c_total − c_s needs only the per-source count and the
    corpus total per bigram (one vocabulary-keyed join — never
    source×source); the precision is one integer division, 6dp.

    Scale: |docs| → per-(source, bigram) counts (vocabulary-bounded ×
    |sources|); the totals join shuffles on the bigram key only."""
    toks = docs.select("source",
                       tokens(F.col(text_col)).alias("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(" ",
                              F.get(F.col("toks"), i),
                              F.get(F.col("toks"), i + 1)))
    sb = (toks.where(F.size("toks") >= 2)
          .select("source", F.explode(bigrams).alias("bg"))
          .groupBy("source", "bg")
          .agg(F.count("*").cast("bigint").alias("c_s")))
    tot = sb.groupBy("bg").agg(F.sum("c_s").cast("bigint").alias("c_t"))
    return (sb.join(tot, "bg")
            .groupBy("source")
            .agg(F.sum("c_s").cast("bigint").alias("n_bigrams"),
                 F.sum(F.least(F.col("c_s"),
                               F.col("c_t") - F.col("c_s")))
                 .cast("bigint").alias("clipped_overlap"))
            .select("source", "n_bigrams", "clipped_overlap",
                    (F.round(F.col("clipped_overlap")
                             / F.col("n_bigrams").cast("double"), 6)
                     + F.lit(0.0)).alias("self_bleu2")))


def source_scorecard(docs: DataFrame,
                     text_col: str = "text") -> DataFrame:
    """Per-source corpus scorecard — the one-frame summary a data
    curation review starts from, joining the signals the dedicated
    operators drill into: volume (docs, mean chars/tokens), exact
    duplication rate (docs whose md5(text) also appears elsewhere in
    the CORPUS — cross-source copies count for both sides, which is
    what a dedup pass will actually face), and the majority language
    with its share (skew here predicts lang-ID filter impact).

    Exactness: counts are exact integers; md5 is the cross-engine
    hash (the dsir convention); means/rates are single divisions of
    exact sums, 2/4/6dp. The majority language ties break
    alphabetically via a (count desc, lang asc) row_number.

    Scale: one tokenize-free pass for lengths (token counts reuse
    the tokens() splitter), one md5 groupBy (the dedup shuffle), one
    (source, lang) aggregate with a source-partitioned window —
    output is |sources| rows."""
    base = docs.select("source", "lang", F.col(text_col).alias("t"),
                       F.md5(F.col(text_col)).alias("h"))
    dup_groups = (base.groupBy("h")
                  .agg(F.count("*").cast("bigint").alias("g")))
    per_doc = (base.join(dup_groups, "h")
               .select("source", "lang",
                       F.length("t").cast("bigint").alias("chars"),
                       F.size(tokens(F.col("t"))).cast("bigint")
                       .alias("n_tokens"),
                       (F.col("g") > 1).cast("bigint").alias("is_dup")))
    agg = (per_doc.groupBy("source")
           .agg(F.count("*").cast("bigint").alias("n_docs"),
                F.sum("chars").cast("bigint").alias("sum_chars"),
                F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
                F.sum("is_dup").cast("bigint").alias("n_dup")))
    lang_counts = (per_doc.groupBy("source", "lang")
                   .agg(F.count("*").cast("bigint").alias("c")))
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc())
    top_lang = (lang_counts.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("source", F.col("lang").alias("majority_lang"),
                        F.col("c").alias("lang_c")))
    return (agg.join(top_lang, "source")
            .select(
                "source", "n_docs",
                (F.round(F.col("n_dup")
                         / F.col("n_docs").cast("double"), 6)
                 + F.lit(0.0)).alias("dup_rate"),
                (F.round(F.col("sum_chars")
                         / F.col("n_docs").cast("double"), 2)
                 + F.lit(0.0)).alias("mean_chars"),
                (F.round(F.col("sum_tokens")
                         / F.col("n_docs").cast("double"), 2)
                 + F.lit(0.0)).alias("mean_tokens"),
                "majority_lang",
                (F.round(F.col("lang_c")
                         / F.col("n_docs").cast("double"), 4)
                 + F.lit(0.0)).alias("majority_lang_share")))
