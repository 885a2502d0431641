"""Kaplan-Meier, Heaps'-law curve, Simpson diversity: brute-force
value checks and invariants."""

from collections import defaultdict


from cloud_native_mapreduce_spark.operators.curation import (
    heaps_law_curve, simpson_diversity)
from cloud_native_mapreduce_spark.operators.events import kaplan_meier
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_kaplan_meier_matches_brute_force(spark):
    events = load_table(spark, SF_DIR, "events")
    rows = events.select("user_id", "event_type", "ts").collect()
    us = lambda ts: int(ts.timestamp() * 1_000_000)  # noqa: E731
    signup, purchase, h = {}, {}, 0
    for r in rows:
        t = us(r.ts)
        h = max(h, t)
        if r.event_type == "signup":
            signup[r.user_id] = min(signup.get(r.user_id, t), t)
        elif r.event_type == "purchase":
            purchase[r.user_id] = min(purchase.get(r.user_id, t), t)
    durations = []
    day = 86_400_000_000
    for u, s_us in signup.items():
        p = purchase.get(u)
        if p is not None and p >= s_us:
            durations.append(((p - s_us) // day, 1))
        else:
            durations.append(((h - s_us) // day, 0))
    days = defaultdict(lambda: [0, 0])
    for t, e in durations:
        days[t][0] += e
        days[t][1] += 1
    s_val, want = 1.0, {}
    for t in sorted(days):
        d = days[t][0]
        n_risk = sum(c for tt, (_, c) in days.items() if tt >= t)
        if d > 0:
            s_val = s_val * (1.0 - d / n_risk)
            want[t] = (n_risk, d, round(s_val, 6))
    got = {r.t: (r.n_risk, r.n_events, r.s)
           for r in kaplan_meier(events).collect()}
    assert got == want


def test_kaplan_meier_is_monotone_survival(spark):
    events = load_table(spark, SF_DIR, "events")
    rows = sorted(kaplan_meier(events).collect(), key=lambda r: r.t)
    assert rows, "corpus has purchases after signups"
    last = 1.0
    for r in rows:
        assert 0.0 < r.s <= last
        last = r.s


def test_heaps_curve_cumulates_to_corpus_totals(spark):
    docs = load_table(spark, SF_DIR, "documents")
    rows = sorted(heaps_law_curve(docs).collect(), key=lambda r: r.k)
    assert rows[-1].k == 10
    assert rows[-1].n_docs == docs.count()
    from pyspark.sql import functions as F

    from cloud_native_mapreduce_spark.functions.text import tokens
    vocab = (docs.select(F.explode(tokens(F.col("text"))).alias("w"))
             .distinct().count())
    assert rows[-1].vocab_size == vocab
    assert sum(r.new_words for r in rows) == vocab
    for a, b in zip(rows, rows[1:]):
        assert a.n_docs < b.n_docs
        assert a.vocab_size <= b.vocab_size


def test_heaps_growth_is_sublinear_at_the_tail(spark):
    """Later stages add fewer new words per doc than the first stage
    — the Heaps'-law shape the operator exists to show."""
    docs = load_table(spark, SF_DIR, "documents")
    rows = sorted(heaps_law_curve(docs).collect(), key=lambda r: r.k)
    first_rate = rows[0].new_words / rows[0].n_docs
    last_docs = rows[-1].n_docs - rows[-2].n_docs
    last_rate = rows[-1].new_words / max(last_docs, 1)
    assert last_rate < first_rate


def test_simpson_matches_brute_force(spark):
    docs = load_table(spark, SF_DIR, "documents")
    cnt = defaultdict(lambda: defaultdict(int))
    for r in docs.select("source", "lang").collect():
        cnt[r.source][r.lang] += 1
    got = {r.source: r for r in simpson_diversity(docs).collect()}
    for src, langs in cnt.items():
        n = sum(langs.values())
        if n < 2:
            assert src not in got
            continue
        d = sum(c * (c - 1) for c in langs.values()) / (n * (n - 1))
        r = got[src]
        assert r.n_docs == n and r.n_langs == len(langs)
        assert abs(r.simpson - round(d, 6)) < 1e-9
        assert abs(r.gini_simpson - round(1 - d, 6)) < 1e-9


def test_simpson_monolingual_source_is_one(spark):
    docs = spark.createDataFrame(
        [(i, "t", "en", "mono", 1) for i in range(5)]
        + [(i + 10, "t", lang, "multi", 1)
           for i, lang in enumerate(["en", "de", "fr", "es", "zh"])],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    got = {r.source: r for r in simpson_diversity(docs).collect()}
    assert got["mono"].simpson == 1.0
    assert got["multi"].simpson == 0.0   # all distinct languages
