"""k-anonymity audit + generalization ladder invariants."""

import pytest

from cloud_native_mapreduce_spark.operators import governance as G
from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def customer(spark):
    return load_table(spark, SF_DIR, "customer")


def test_risk_monotone_in_k(customer):
    rows = sorted(G.k_anonymity_audit(customer).collect(),
                  key=lambda r: r.k)
    risks = [r.n_at_risk_records for r in rows]
    assert risks == sorted(risks)
    for r in rows:
        assert r.n_violating_groups <= r.n_groups
        assert 0.0 <= r.risk_pct <= 100.0


def test_generalization_monotone(customer):
    rows = sorted(G.generalization_ladder(customer).collect(),
                  key=lambda r: r.bucket_cents)
    groups = [r.n_groups for r in rows]
    risk = [r.n_at_risk_records for r in rows]
    assert groups == sorted(groups, reverse=True)
    assert risk == sorted(risk, reverse=True)


def test_negative_balance_bucketing_consistent(spark):
    """The shift-positive floor division must bucket negative balances
    the same way DuckDB's floor-division does."""
    import duckdb
    df = spark.createDataFrame(
        [(1, "X", 0, -999.85, "S"), (2, "Y", 0, -0.01, "S"),
         (3, "Z", 0, 0.0, "S"), (4, "W", 0, 499.99, "S")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string")
    got = {r.bal_bucket for r in
           df.select(*G._qi(50_000)).collect()}
    want = {duckdb.connect().execute(
        "SELECT (CAST(round(? * 100) AS BIGINT) + 10000000) // 50000"
    , [v]).fetchone()[0] for v in (-999.85, -0.01, 0.0, 499.99)}
    assert got == want


def test_plan_shape(customer):
    for df in (G.k_anonymity_audit(customer),
               G.generalization_ladder(customer)):
        a = PA.audit(df)
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0
        assert "CartesianProduct" not in a.text
