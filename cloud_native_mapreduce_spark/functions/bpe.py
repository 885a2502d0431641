"""Distributed BPE merge training (Sennrich, Haddow & Birch, ACL'16).

North-star scope: the reference has no tokenizer surface (its one text
workload is whitespace word count, ``client/scripts/mapper.py:13``);
training a subword vocabulary over the corpus is the canonical
LLM-data-pipeline step this engine targets. ``text.bpe_token_count``
*applies* a fixed pretokenizer; this module *learns* the merge table —
the other half of the tokenization family.

Algorithm (classic corpus-level BPE):
  1. collapse the corpus to its word-frequency table (the vocab trick:
     all later rounds run over the |vocab|-row frame, never the corpus);
  2. spell each word as a space-delimited symbol sequence;
  3. for each of ``n_merges`` rounds: count adjacent symbol pairs
     weighted by word frequency, pick the globally most frequent pair
     (ties broken by lexicographically smallest pair — pinned in both
     engines), and rewrite every sequence with the pair fused.

Determinism: pair counts are exact integers and the arg-max tie-break
is total, so the merge table is unique — the operator carries a full
value-level DuckDB oracle (K unrolled rounds of the identical
count/arg-max/rewrite, ``registry.py``).

Rewrite semantics: TEXTBOOK greedy leftmost non-overlapping tokenwise
merge (what Sennrich's reference and every production trainer apply),
implemented as a Catalyst ``aggregate`` fold over the symbol array
(`greedy_fuse` — pure JVM expression, no UDF) and mirrored in the
oracle as a DuckDB ``list_reduce`` fold. A padded string
``replace(' a b ' -> ' ab ')`` is NOT equivalent: the match consumes
the shared boundary space, so on symbol runs ('a a a a') the scan
skips valid adjacencies — a hypothesis sweep against an independent
in-memory trainer caught exactly that (words=['aaaa']), and
``tests/test_bpe_train.py`` + ``tests/test_properties.py`` now pin
the greedy semantics on both engines.

Scale posture at 100 TB:
  * the corpus is touched ONCE (tokenize + word count, map-side
    combining groupBy); every merge round runs over the vocab-sized
    frame — the heavy-tail vocab of a web corpus is millions of rows,
    not billions;
  * the per-round arg-max is a 1-row frame joined in by broadcast
    (`crossJoin(F.broadcast(best))`) — no driver collect anywhere; the
    pair literal reaches `F.replace` as a Column;
  * each round's sequence frame is lineage-truncated
    (`localCheckpoint`) so round k+1 does not replay rounds 1..k;
  * rounds are inherently sequential (merge k+1 depends on k) — the
    bound is ``n_merges`` scheduler barriers, each a vocab-sized
    map + one pair-count shuffle, the same shape production BPE
    trainers (HuggingFace tokenizers, SentencePiece) distribute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut, loop_session
from .text import tokens


def pair_counts(seqs: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over a (cnt, seq) frame — one
    explode + one map-side-combining sum, all JVM builtins."""
    arr = F.split(F.trim(F.col("seq")), " ")
    return (seqs
            .where(F.size(arr) > 1)
            .select(F.col("cnt"), F.explode(
                F.zip_with(
                    F.slice(arr, 1, F.size(arr) - 1),
                    F.slice(arr, 2, F.size(arr) - 1),
                    lambda x, y: F.concat(x, F.lit(" "), y)))
                .alias("pair"))
            .groupBy("pair").agg(F.sum("cnt").alias("c")))


def best_pair(pairs: DataFrame, rank: int) -> DataFrame:
    """Global arg-max pair as a 1-row frame (TakeOrdered — count DESC,
    pair ASC tie-break), never a driver collect."""
    return (pairs.orderBy(F.col("c").desc(), F.col("pair").asc())
            .limit(1)
            .select(F.lit(rank).cast("int").alias("merge_rank"),
                    "pair",
                    F.replace(F.col("pair"), F.lit(" "), F.lit(""))
                    .alias("merged"),
                    F.col("c").cast("bigint").alias("pair_count")))


def greedy_fuse(seq, a, b):
    """Fuse every greedy-leftmost non-overlapping (a, b) adjacency in
    a padded symbol sequence — textbook BPE merge application, as a
    Catalyst `aggregate` fold (JVM expression tree, no UDF): the
    accumulator is the rebuilt sequence; symbol x fuses into the
    accumulator's tail iff the tail token equals `a` AND x equals
    `b`, else it appends. Equivalent to tokenwise greedy because a
    fused product a||b is strictly longer than `a` and symbols are
    space-free, so a product can never be re-consumed as the left
    element of another fuse in the same round."""
    arr = F.split(F.trim(seq), " ")
    folded = F.aggregate(
        arr, F.lit(""),
        lambda acc, x: F.when(acc == F.lit(""), x)
        .when(((acc == a)
               | acc.endswith(F.concat(F.lit(" "), a))) & (x == b),
              F.concat(F.substring(acc, F.lit(1),
                                   F.length(acc) - F.length(a)),
                       a, b))
        .otherwise(F.concat(acc, F.lit(" "), x)))
    return F.concat(F.lit(" "), folded, F.lit(" "))


def word_seqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus collapsed to its (cnt, padded symbol sequence) vocab
    frame — ' t h e ' — the one pass that touches the corpus."""
    wc = (docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
          .groupBy("word").agg(F.count("*").alias("cnt")))
    return wc.select(
        "cnt",
        F.concat(F.lit(" "),
                 F.regexp_replace(F.col("word"), "(.)", "$1 "))
        .alias("seq"))


def bpe_train_merges(docs: DataFrame, n_merges: int = 6,
                     text_col: str = "text") -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus.

    Returns one row per merge, in rank order: (merge_rank, pair,
    merged, pair_count) — e.g. (1, 'e r', 'er', 4568).
    """
    seqs = word_seqs(docs, text_col)
    loop = loop_session(seqs)
    merges: list[DataFrame] = []
    for rank in range(1, n_merges + 1):
        best = cut(best_pair(pair_counts(seqs), rank), loop)
        merges.append(best)
        pair_arr = F.split(F.col("pair"), " ")
        seqs = cut(seqs.crossJoin(F.broadcast(best.select("pair")))
                   .select(
                       "cnt",
                       greedy_fuse(F.col("seq"),
                                   F.element_at(pair_arr, 1),
                                   F.element_at(pair_arr, 2))
                       .alias("seq")), loop)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def segment_vocab(docs: DataFrame, merges: list[tuple[str, str]],
                  text_col: str = "text") -> DataFrame:
    """Apply a learned merge table to the corpus vocabulary: (word,
    cnt, seg) where ``seg`` is the space-delimited subword sequence
    after replaying ``merges`` (pair, merged) in rank order — the
    same greedy tokenwise fuse the trainer used (`greedy_fuse`), so
    train->apply round-trips bit-identically.

    The merge table is a driver-side list by design: it is K rows
    (the trained artifact a tokenizer ships — vocab-sized state stays
    distributed, the merge table is the small model), so the chained
    fuse folds stay whole-stage-codegen'd JVM work with literal
    symbols.
    """
    wc = (docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
          .groupBy("word").agg(F.count("*").alias("cnt")))
    seq = F.concat(F.lit(" "),
                   F.regexp_replace(F.col("word"), "(.)", "$1 "))
    for pair, _merged in merges:
        a, b = pair.split(" ")
        seq = greedy_fuse(seq, F.lit(a), F.lit(b))
    return wc.select("word", "cnt", F.trim(seq).alias("seg"))


def subword_counts(docs: DataFrame, merges: list[tuple[str, str]],
                   text_col: str = "text") -> DataFrame:
    """Per-document subword counts under a learned merge table:
    (doc_id, n_subwords) — the number a training pipeline budgets
    sequence packing with. Joins each doc's words against the
    segmented vocab (vocab-sized broadcast in practice) and sums
    symbols; words are the unit so the corpus is scanned once."""
    seg = segment_vocab(docs, merges, text_col).select(
        "word",
        (F.size(F.split(F.col("seg"), " "))).alias("n_sub"))
    words = docs.select("doc_id",
                        F.explode(tokens(F.col(text_col))).alias("word"))
    return (words.join(seg, "word")
            .groupBy("doc_id")
            .agg(F.sum("n_sub").cast("bigint").alias("n_subwords")))
