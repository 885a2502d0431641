"""Kalman daily filter and deterministic Poisson bootstrap:
brute-force replication and invariants."""

import datetime
import hashlib
import math
from collections import defaultdict


from cloud_native_mapreduce_spark.operators.events import (
    KALMAN_Q, KALMAN_R, kalman_daily)
from cloud_native_mapreduce_spark.operators.stats import (
    BOOTSTRAP_B, bootstrap_ci_mean)
from cloud_native_mapreduce_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


def _brute_kalman(zs):
    x, p = float(zs[0]), KALMAN_R
    xs, ks = [x], [0.0]
    for z in zs[1:]:
        p_pred = p + KALMAN_Q
        k = p_pred / (p_pred + KALMAN_R)
        x = x + k * (float(z) - x)
        p = (1.0 - k) * p_pred
        xs.append(x)
        ks.append(k)
    return xs, ks


def test_kalman_matches_brute_force(spark):
    events = load_table(spark, SF_DIR, "events")
    daily = defaultdict(dict)
    for r in (events.selectExpr("event_type", "CAST(ts AS DATE) AS d")
              .groupBy("event_type", "d").count().collect()):
        daily[r.event_type][r.d] = r["count"]
    got = defaultdict(dict)
    for r in kalman_daily(events).collect():
        got[r.event_type][r.day] = r
    for et, series in daily.items():
        days = sorted(series)
        xs, ks = _brute_kalman([series[d] for d in days])
        for d, x, k in zip(days, xs, ks):
            row = got[et][str(d)]
            assert row.z == series[d]
            assert abs(row.x_filt - round(x, 6)) < 1e-9, (et, d)
            assert abs(row.k_gain - round(k, 6)) < 1e-9, (et, d)


def test_kalman_gain_converges_to_steady_state(spark):
    """K* solves the steady-state Riccati equation for the random
    walk: K* = (-Q + sqrt(Q^2 + 4QR)) / (2R)."""
    events = load_table(spark, SF_DIR, "events")
    k_star = (-KALMAN_Q + math.sqrt(KALMAN_Q ** 2
                                    + 4 * KALMAN_Q * KALMAN_R)) \
        / (2 * KALMAN_R)
    rows = sorted(kalman_daily(events).collect(),
                  key=lambda r: (r.event_type, r.day))
    last_by_type = {r.event_type: r for r in rows}
    for r in last_by_type.values():
        assert abs(r.k_gain - k_star) < 1e-3, r


def test_kalman_constant_series_is_identity(spark):
    """A constant observation stream is reproduced exactly: the
    innovation is zero at every step."""
    rows = [(i, datetime.datetime(2024, 1, 1 + d, 12, 0, 0), 1, "view",
             0.0, "{}")
            for d in range(10) for i in range(d * 5, d * 5 + 5)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    for r in kalman_daily(ev).collect():
        assert r.x_filt == 5.0
        assert r.z == 5


def test_bootstrap_matches_hash_replay(spark):
    orders = load_table(spark, SF_DIR, "orders")
    rows = orders.select("o_orderkey", "o_totalprice").collect()
    cents = [(r.o_orderkey, round(r.o_totalprice * 100)) for r in rows]
    cuts = (368, 736, 920, 981)
    means = []
    for b in range(BOOTSTRAP_B):
        s = n = 0
        for okey, c in cents:
            h = int(hashlib.md5(
                f"{okey}_{b}".encode()).hexdigest()[:8], 16) % 1000
            m = (0 if h < cuts[0] else 1 if h < cuts[1]
                 else 2 if h < cuts[2] else 3 if h < cuts[3] else 4)
            s += m * c
            n += m
        means.append(s / n)
    means.sort()
    k_lo = max(1, int(0.05 * BOOTSTRAP_B))
    k_hi = min(BOOTSTRAP_B, int(round(0.975 * BOOTSTRAP_B)))
    row = bootstrap_ci_mean(orders).collect()[0]
    assert row.n_boot == BOOTSTRAP_B
    assert row.n_orders == len(cents)
    assert abs(row.ci_lo - round(means[k_lo - 1], 6)) < 1e-9
    assert abs(row.ci_hi - round(means[k_hi - 1], 6)) < 1e-9
    point = sum(c for _, c in cents) / len(cents)
    assert abs(row.point_mean - round(point, 6)) < 1e-9
    assert row.ci_lo <= row.point_mean <= row.ci_hi


def test_bootstrap_is_deterministic(spark):
    orders = load_table(spark, SF_DIR, "orders")
    a = bootstrap_ci_mean(orders).collect()[0]
    b = bootstrap_ci_mean(orders.repartition(5)).collect()[0]
    assert tuple(a) == tuple(b)
