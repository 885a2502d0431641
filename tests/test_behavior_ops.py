"""Multi-touch attribution, behavioral entropy, readability:
brute-force value checks and plan pins."""

import math
import re
from collections import defaultdict

import pytest

from cloud_native_mapreduce_spark.operators.curation import (
    readability_profile)
from cloud_native_mapreduce_spark.operators.events import (
    entropy_profile, multitouch_attribution)
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events")


def test_attribution_matches_brute_force(spark, events):
    rows = events.select("event_id", "user_id", "ts",
                         "event_type").collect()
    purchases = [r for r in rows if r.event_type == "purchase"]
    by_user = defaultdict(list)
    for r in rows:
        if r.event_type in ("view", "click"):
            by_user[r.user_id].append(r)
    want = {t: [0, 0, 0, 0] for t in ("view", "click")}
    seven_days = 7 * 86400
    for p in purchases:
        cand = [t for t in by_user.get(p.user_id, [])
                if t.ts < p.ts
                and (p.ts - t.ts).total_seconds() <= seven_days]
        # the operator uses a half-open [p_ts - 7d, p_ts) window
        cand = [t for t in cand
                if (p.ts - t.ts).total_seconds() < seven_days
                or (p.ts - t.ts).total_seconds() == seven_days]
        if not cand:
            continue
        k = len(cand)
        first = min(cand, key=lambda t: (t.ts, t.event_id))
        last = max(cand, key=lambda t: (t.ts, t.event_id))
        for t in cand:
            w = want[t.event_type]
            w[0] += 1
            w[3] += round(1_000_000.0 / k)
        want[first.event_type][1] += 1
        want[last.event_type][2] += 1
    got = {r.touch_type: r
           for r in multitouch_attribution(events).collect()}
    for ttype, (n, fc, lc, lm) in want.items():
        r = got[ttype]
        assert (r.n_touches, r.first_credit, r.last_credit,
                r.linear_micro) == (n, fc, lc, lm), ttype


def test_attribution_credit_conservation(spark, events):
    """Each credited purchase hands out exactly one first and one
    last credit, and ~1e6 linear micro-credits (quantization drift
    bounded by k/2 per purchase)."""
    rows = multitouch_attribution(events).collect()
    total_first = sum(r.first_credit for r in rows)
    total_last = sum(r.last_credit for r in rows)
    assert total_first == total_last        # same purchase population
    micro = sum(r.linear_micro for r in rows)
    assert abs(micro - total_first * 1_000_000) < total_first * 50


def test_entropy_matches_brute_force(spark, events):
    rows = events.select("user_id", "event_type").collect()
    cnt = defaultdict(lambda: defaultdict(int))
    for r in rows:
        cnt[r.user_id][r.event_type] += 1
    bands = defaultdict(lambda: [0, 0, []])
    for _u, types in cnt.items():
        n = sum(types.values())
        h = math.log2(n) - sum(c * math.log2(c)
                               for c in types.values()) / n
        b = math.floor(h * 10)
        bands[b][0] += 1
        bands[b][1] += n
        bands[b][2].append(h)
    got = {r.entropy_band: r for r in entropy_profile(events).collect()}
    assert set(got) == set(bands)
    for b, (nu, ne, hs) in bands.items():
        r = got[b]
        assert (r.n_users, r.n_events) == (nu, ne)
        assert abs(r.min_h - round(min(hs), 4)) < 1e-9
        assert abs(r.max_h - round(max(hs), 4)) < 1e-9


def test_entropy_bounds(spark, events):
    """H is bounded by [0, log2(|event types|)]."""
    n_types = events.select("event_type").distinct().count()
    for r in entropy_profile(events).collect():
        assert 0 <= r.entropy_band <= math.log2(n_types) * 10
        assert r.min_h >= 0.0
        assert r.max_h <= math.log2(n_types) + 1e-9


def test_readability_profile_sane(spark):
    docs = load_table(spark, SF_DIR, "documents")
    rows = readability_profile(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.min_score <= r.max_score
        # band contains its own min/max scores
        assert math.floor(r.min_score / 10) >= r.band - 1
        assert math.floor(r.max_score / 10) <= r.band + 1


def test_readability_monosyllabic_short_sentences_score_high(spark):
    easy = spark.createDataFrame(
        [(1, "The cat sat. The dog ran. We go now.", "en", "t", 36)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    hard = spark.createDataFrame(
        [(1, "Incomprehensibility characterizes institutionalized "
             "overgeneralization notwithstanding internationalization",
          "en", "t", 104)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    e = readability_profile(easy).collect()[0]
    h = readability_profile(hard).collect()[0]
    assert e.min_score > 90          # easy prose scores high
    assert h.max_score < 0           # pathological prose goes negative


def test_plans(spark, events):
    a = PA.audit(multitouch_attribution(events))
    assert "CartesianProduct" not in a.text
    assert "BroadcastNestedLoopJoin" not in a.text   # user-keyed equi join
    assert a.unpartitioned_window_count == 0

    a = PA.audit(entropy_profile(events))
    assert "CartesianProduct" not in a.text
    assert "BroadcastNestedLoopJoin" not in a.text

    docs = load_table(spark, SF_DIR, "documents")
    df = readability_profile(docs)
    a = PA.audit(df)
    assert a.exchange_count == 1, a.text     # the lang×band aggregate
    PA.assert_pruned_scan(df, "documents", max_columns=2)
