"""Ridge path + A/B z-test invariants."""

from cloud_native_mapreduce_spark.operators.advanced import (
    ols_normal_equations, ridge_path)
from cloud_native_mapreduce_spark.operators.events import (
    ab_test_conversion)
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_ridge_lambda_zero_is_ols(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    ols = ols_normal_equations(li).collect()[0]
    r0 = {r["lambda"]: r for r in ridge_path(li).collect()}[0.0]
    assert r0.beta0 == ols.beta0
    assert r0.beta1 == ols.beta1
    assert r0.beta2 == ols.beta2


def test_ridge_shrinks_toward_zero(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    rows = sorted(ridge_path(li).collect(), key=lambda r: r["lambda"])
    # the dominating-lambda rung is near zero for every coefficient
    last = rows[-1]
    assert abs(last.beta0) < abs(rows[0].beta0)
    assert abs(last.beta1) < 100
    assert abs(last.beta2) < 10000


def test_aa_test_not_significant(spark):
    ev = load_table(spark, SF_DIR, "events")
    row = ab_test_conversion(ev).collect()[0]
    # the split is independent of behavior: the null holds
    assert row.significant is False
    assert abs(row.z) < 1.96
    assert row.n_a + row.n_b > 0
    assert 0 < row.rate_a < 1 and 0 < row.rate_b < 1


def test_plan_shapes(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    ev = load_table(spark, SF_DIR, "events")
    for df in (ridge_path(li), ab_test_conversion(ev)):
        a = PA.audit(df)
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0
        assert "CartesianProduct" not in a.text


def test_quantile_normalize_matches_python(spark):
    """Normalized values must equal the pooled order statistic at
    ceil(r·N/n_s) for every doc (Python replay), and normalization
    must be monotone within each source."""
    from cloud_native_mapreduce_spark.operators.stats import (
        quantile_normalize)

    lengths = {"s1": [10, 30, 30, 50],
               "s2": [20, 20, 40],
               "s3": [60]}
    rows, did = [], 0
    for src, ls in lengths.items():
        for n in ls:
            rows.append((did, "x" * n, "en", src, n))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    got = {r.doc_id: r.norm_chars
           for r in quantile_normalize(docs).collect()}

    pooled = sorted(n for ls in lengths.values() for n in ls)
    big_n = len(pooled)
    want, did = {}, 0
    for src, ls in lengths.items():
        order = sorted(range(len(ls)), key=lambda i: (ls[i], i))
        n_s = len(ls)
        for rank0, i in enumerate(order):
            tr = -(-(rank0 + 1) * big_n // n_s)  # ceil
            want[did + i] = pooled[tr - 1]
        did += len(ls)
    assert got == want


def test_emd_length_drift_known_masses(spark):
    """Hand case: source A all length 100, source B all length 300,
    equal sizes. F_A jumps to 1 at 100 while the pool sits at 0.5
    until 300, so EMD(A vs pool) = 0.5 * 200 = 100 chars — and by
    symmetry the same for B. A source matching the pool scores 0."""
    from cloud_native_mapreduce_spark.operators.stats import (
        emd_length_drift)

    rows = []
    did = 0
    for _ in range(10):
        rows.append((did, "t", "en", "A", 100)); did += 1
        rows.append((did, "t", "en", "B", 300)); did += 1
        rows.append((did, "t", "en", "C", 100)); did += 1
        rows.append((did, "t", "en", "C", 300)); did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    got = {r.source: r.emd_chars
           for r in emd_length_drift(docs).collect()}
    assert got["A"] == 100.0
    assert got["B"] == 100.0
    assert got["C"] == 0.0


def test_v_optimal_histogram_is_optimal(spark):
    """The DP's 4-bin partition must achieve the true minimum total
    quantized SSE over ALL possible partitions (brute-force check on
    a small bimodal value set), and the bins must tile the domain."""
    from itertools import combinations

    from cloud_native_mapreduce_spark.operators.stats import (
        v_optimal_histogram)

    lengths = [10, 11, 12, 50, 51, 52, 90, 91, 200, 500]
    counts = [5, 3, 2, 4, 6, 1, 2, 2, 7, 1]
    rows, did = [], 0
    for v, c in zip(lengths, counts):
        for _ in range(c):
            rows.append((did, "t", "en", "s", v))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    got = sorted((r.bin, r.lo, r.hi, r.n_docs, r.sse_q)
                 for r in v_optimal_histogram(docs).collect())

    def sse_q(idxs):
        m = sum(counts[i] for i in idxs)
        sv = sum(counts[i] * lengths[i] for i in idxs)
        svv = sum(counts[i] * lengths[i] ** 2 for i in idxs)
        return (svv * m - sv * sv) // m

    n = len(lengths)
    best = None
    for cut in combinations(range(1, n), 3):
        bounds = [0, *cut, n]
        tot = sum(sse_q(range(bounds[b], bounds[b + 1]))
                  for b in range(4))
        best = tot if best is None else min(best, tot)
    assert sum(r[4] for r in got) == best
    # bins tile the domain in order
    assert got[0][1] == 10 and got[-1][2] == 500
    for (_, _, hi), (_, lo, _) in zip(
            [(b, lo, hi) for b, lo, hi, _, _ in got][:-1],
            [(b, lo, hi) for b, lo, hi, _, _ in got][1:]):
        assert lo > hi
    assert sum(r[3] for r in got) == sum(counts)
