"""Nonparametric distribution tests + inequality/digit audits:
brute-force value checks against the Spark operators, and plan pins
for the bounded-frame shapes."""

import math
import re

import pytest

from cloud_native_mapreduce_spark.operators import stats as S
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def lengths(docs):
    rows = (docs.where("lang IN ('en', 'de')")
            .select("lang", "n_chars").collect())
    a = sorted(r.n_chars for r in rows if r.lang == "en")
    b = sorted(r.n_chars for r in rows if r.lang == "de")
    return a, b


def test_mann_whitney_matches_pairwise_brute_force(spark, docs, lengths):
    a, b = lengths
    u = sum(1.0 if x > y else 0.5 if x == y else 0.0
            for x in a for y in b)
    na, nb, n = len(a), len(b), len(a) + len(b)
    from collections import Counter
    ties = Counter(a + b)
    s_ties = sum(t ** 3 - t for t in ties.values())
    var = na * nb / 12.0 * ((n + 1.0) - s_ties / (n * (n - 1.0)))
    z = (u - na * nb / 2.0) / math.sqrt(var)
    row = S.mann_whitney_u(docs).collect()[0]
    assert (row.n_a, row.n_b) == (na, nb)
    assert row.u_stat == u                      # 2U integer => exact
    assert abs(row.z - z) < 1e-6
    assert abs(row.effect_r - u / (na * nb)) < 1e-6


def test_ks_matches_ecdf_brute_force(spark, docs, lengths):
    a, b = lengths
    na, nb = len(a), len(b)
    values = sorted(set(a + b))
    best, at = -1, None
    for v in values:
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        gap = abs(ca * nb - cb * na)
        if gap > best:
            best, at = gap, v
    row = S.ks_two_sample(docs).collect()[0]
    assert (row.n_a, row.n_b) == (na, nb)
    assert row.d_at == at
    assert abs(row.d_stat - best / (na * nb)) < 1e-6
    assert abs(row.k_stat
               - row.d_stat * math.sqrt(na * nb / (na + nb))) < 1e-6


def test_gini_matches_sorted_rank_brute_force(spark):
    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer")
    got = {r.nationkey: r
           for r in S.gini_by_nation(orders, customer).collect()}

    spend = {}
    for r in orders.select("o_custkey", "o_totalprice").collect():
        spend[r.o_custkey] = (spend.get(r.o_custkey, 0)
                              + round(r.o_totalprice * 100))
    nation = {r.c_custkey: r.c_nationkey
              for r in customer.select("c_custkey",
                                       "c_nationkey").collect()}
    per = {}
    for ck, x in spend.items():
        per.setdefault(nation[ck], []).append((x, ck))
    for nk, xs in per.items():
        xs.sort()
        n = len(xs)
        sx = sum(x for x, _ in xs)
        six = sum((i + 1) * x for i, (x, _) in enumerate(xs))
        gini = (2 * six - (n + 1) * sx) / (n * sx)
        assert got[nk].n_buyers == n
        assert got[nk].total_cents == float(sx)
        assert abs(got[nk].gini - gini) < 1e-6, nk
    assert set(got) == set(per)


def test_gini_extremes(spark):
    """Equal spend => G = 0 exactly; one buyer holding everything
    approaches (n-1)/n."""
    eq = spark.createDataFrame(
        [(i, 100.0) for i in range(1, 9)],
        "o_custkey long, o_totalprice double")
    cust = spark.createDataFrame(
        [(i, 7) for i in range(1, 9)],
        "c_custkey long, c_nationkey int")
    row = S.gini_by_nation(eq, cust).collect()[0]
    assert row.gini == 0.0
    skew = spark.createDataFrame(
        [(i, 0.01) for i in range(1, 8)] + [(8, 1_000_000.0)],
        "o_custkey long, o_totalprice double")
    row = S.gini_by_nation(skew, cust).collect()[0]
    assert row.gini > 0.87


def test_benford_terms_and_total_are_consistent(spark):
    orders = load_table(spark, SF_DIR, "orders")
    rows = S.benford_digits(orders).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    n = sum(r.obs for r in rows)
    assert n == orders.count()
    total = rows[0].chi2_total
    assert all(r.chi2_total == total for r in rows)
    assert abs(sum(r.chi2_term for r in rows) - total) < 1e-3
    # expected counts follow Benford exactly
    for r in rows:
        assert abs(r.expected - n * math.log10(1 + 1 / r.digit)) < 1e-3


def test_rank_test_plans_stay_on_the_bounded_frame(spark, docs):
    """Both tests collapse the corpus with ONE wide aggregate; the
    only nested-loop joins are the triangular/1-row frames bounded by
    the n_chars domain — never a corpus-sized pair blowup."""
    a = PA.audit(S.mann_whitney_u(docs))
    assert "CartesianProduct" not in a.text
    nlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", a.text)
    assert len(nlj) <= 1, nlj

    a = PA.audit(S.ks_two_sample(docs))
    assert "CartesianProduct" not in a.text
    nlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", a.text)
    assert len(nlj) <= 2, nlj


def test_gini_benford_plans(spark):
    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer")
    a = PA.audit(S.gini_by_nation(orders, customer))
    assert "CartesianProduct" not in a.text
    assert a.unpartitioned_window_count == 0
    a = PA.audit(S.benford_digits(orders))
    assert "CartesianProduct" not in a.text
    nlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", a.text)
    assert len(nlj) <= 2, nlj
