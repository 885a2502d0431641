"""Dedicated value + plan tests for the round-12 extension-session
operators (registered WITH their tests in the same session — the
late-wave protocol-debt lesson from round 11): nb_roc_auc and the
rest of the session's wave.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from cloud_native_mapreduce_spark.plans import audit as PA
from cloud_native_mapreduce_spark.registry import QUERIES

TS = datetime.datetime


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")


class TestNbRocAuc:
    def test_hand_midranks(self, spark):
        """Four test docs (fold 0): two en positives and one de doc
        share an identical token multiset, so the class-en ranking
        has a pos/neg score tie — ascending midranks give R1 = 6,
        AUC = (6 - 2*3/2) / (2*2) = 0.75 for BOTH classes."""
        from cloud_native_mapreduce_spark.operators.ml import nb_roc_auc
        rows = [
            (0, "spark spark", "en", "s", 11),    # test, en
            (5, "spark spark", "en", "s", 11),    # test, en (tie)
            (10, "und und", "de", "s", 7),        # test, de
            (15, "spark spark", "de", "s", 11),   # test, de (ties en)
            (1, "spark spark spark", "en", "s", 17),  # train en
            (2, "und und und", "de", "s", 11),        # train de
        ]
        got = {r.lang: r for r in nb_roc_auc(_docs(spark, rows))
               .collect()}
        assert set(got) == {"en", "de"}
        assert (got["en"].n_pos, got["en"].n_neg) == (2, 2)
        assert got["en"].auc_micro == 750_000
        assert (got["de"].n_pos, got["de"].n_neg) == (2, 2)
        assert got["de"].auc_micro == 750_000

    def test_separable_is_perfect(self, spark):
        """Disjoint per-class vocabularies: every class's own docs
        outscore the rest under its model -> AUC exactly 1.0."""
        from cloud_native_mapreduce_spark.operators.ml import nb_roc_auc
        rows = [
            (0, "aa aa", "en", "s", 5), (5, "bb bb", "de", "s", 5),
            (10, "aa aa aa", "en", "s", 8),
            (1, "aa aa aa aa", "en", "s", 11),
            (2, "bb bb bb bb", "de", "s", 11),
        ]
        got = {r.lang: r.auc_micro
               for r in nb_roc_auc(_docs(spark, rows)).collect()}
        assert got == {"en": 1_000_000, "de": 1_000_000}

    def test_plan_grouped_rank_pass(self, spark, sf_dir):
        """The cumulative window must consume the per-(lang, score)
        GROUPED frame (HashAggregate below the Window), never raw
        scored documents, and no global sort / cartesian appears."""
        df = QUERIES["nb_roc_auc"].builder(spark, sf_dir)
        a = PA.audit(df)
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0
        txt = a.text
        w = txt.find("Window")
        assert w >= 0
        # a HashAggregate node is planned between the scoring join
        # and the window (the grouped rank pass)
        assert "HashAggregate" in txt


class TestMaxDrawdown:
    def test_hand_series(self, spark):
        """Daily levels 1.00, 3.00, 1.50, 2.50: running peak 3.00
        from day 2, max drawdown 1.50 at day 3 against day 2's
        peak; pct = 0.5 exactly."""
        from cloud_native_mapreduce_spark.operators.events import (
            max_drawdown_daily)
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", v)
                for i, v in enumerate([1.0, 3.0, 1.5, 2.5])]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = max_drawdown_daily(df).collect()
        assert len(got) == 1
        r = got[0]
        assert r.n_days == 4
        assert r.peak_day == "2024-01-02"
        assert r.trough_day == "2024-01-03"
        assert r.max_drawdown == 1.50
        assert r.drawdown_pct == 0.5

    def test_earliest_tie_and_monotone(self, spark):
        """A monotone series reports drawdown 0 on its first day;
        equal drawdowns pick the EARLIEST trough."""
        from cloud_native_mapreduce_spark.operators.events import (
            max_drawdown_daily)
        rows = ([(i, TS(2024, 1, 1 + i), 1, "view", float(1 + i))
                 for i in range(3)]            # monotone
                + [(10 + i, TS(2024, 1, 1 + i), 1, "error", v)
                   for i, v in enumerate([2.0, 1.0, 2.0, 1.0])])
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = {r.event_type: r for r in max_drawdown_daily(df)
               .collect()}
        assert got["view"].max_drawdown == 0.0
        assert got["view"].peak_day == got["view"].trough_day \
            == "2024-01-01"
        assert got["error"].max_drawdown == 1.0
        assert got["error"].trough_day == "2024-01-02"   # earliest
        assert got["error"].peak_day == "2024-01-01"


class TestHodgesLehmann:
    def test_hand_walsh_median(self, spark):
        """Daily values 1, 2, 10 dollars: doubled Walsh sums (cents)
        200,300,400,1100,1200,2000 -> 6 pairs, lower median k=3 is
        400 -> HL = 2.00 dollars (note the plain median is 2.0 too
        but the MEAN is 4.33 — HL shrugs off the outlier day)."""
        from cloud_native_mapreduce_spark.operators.events import (
            hodges_lehmann_daily)
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", v)
                for i, v in enumerate([1.0, 2.0, 10.0])]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = hodges_lehmann_daily(df).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.n_days, r.n_pairs) == (3, 6)
        assert r.hl_dollars == 2.0

    def test_plan_bounded_pair_frame(self, spark, sf_dir):
        from cloud_native_mapreduce_spark.registry import QUERIES
        df = QUERIES["hodges_lehmann_daily"].builder(spark, sf_dir)
        a = PA.audit(df)
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0


class TestDieboldMariano:
    def test_hand_differential(self, spark):
        """Nine days of 0.10 with one 0.20 spike on day 8: the two
        comparable days give d = (0, 100) cents^2 -> mean 50,
        var0 2500, DM = 50/sqrt(1250) = 1.414214 favoring the
        seasonal-naive."""
        from cloud_native_mapreduce_spark.operators.events import (
            diebold_mariano_daily)
        vals = [0.10] * 7 + [0.20, 0.10]
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", v)
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = diebold_mariano_daily(df).collect()
        assert len(got) == 1
        r = got[0]
        assert r.n == 2
        assert r.mean_d == 50.0
        assert r.dm_stat == 1.414214
        assert r.favors == "seasonal"

    def test_plan_daily_collapse(self, spark, sf_dir):
        from cloud_native_mapreduce_spark.registry import QUERIES
        df = QUERIES["diebold_mariano_daily"].builder(spark, sf_dir)
        a = PA.audit(df)
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0


class TestShapleyAttribution:
    def test_hand_lattice(self, spark):
        """Journeys: {view,click}->conv, {view}->conv, {click}->no,
        {}->conv. v(S) = 1 + [view<=S] + [view,click<=S]; hand
        Shapley: view = 36/24 = 1.5 conversions, click = 12/24 =
        0.5, error/signup dummy = 0; efficiency 36+12 = 24*(3-1)."""
        from cloud_native_mapreduce_spark.operators.events import (
            shapley_attribution)
        rows = [
            (1, TS(2024, 1, 1, 0), 1, "view", 0.0),
            (2, TS(2024, 1, 1, 1), 1, "click", 0.0),
            (3, TS(2024, 1, 1, 2), 1, "purchase", 5.0),
            (4, TS(2024, 1, 1, 0), 2, "view", 0.0),
            (5, TS(2024, 1, 1, 1), 2, "purchase", 5.0),
            (6, TS(2024, 1, 1, 0), 3, "click", 0.0),
            (7, TS(2024, 1, 1, 0), 4, "purchase", 5.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = {r.channel: r for r in shapley_attribution(df)
               .collect()}
        assert set(got) == {"view", "click", "error", "signup"}
        assert got["view"].phi_num == 36
        assert got["view"].shapley_micro == 1_500_000
        assert got["view"].attribution_share == 0.75
        assert got["click"].phi_num == 12
        assert got["click"].shapley_micro == 500_000
        assert got["error"].phi_num == 0
        assert got["signup"].phi_num == 0
        # efficiency: sum phi = n! * (v(N) - v(empty)) = 24 * 2
        assert sum(r.phi_num for r in got.values()) == 48

    def test_efficiency_and_plan(self, spark, sf_dir):
        """On real data: credits are non-negative (v is monotone),
        the scaled total is divisible by n!, shares sum to 1, and
        the plan keeps windows partitioned / no global sort."""
        from cloud_native_mapreduce_spark.registry import QUERIES
        df = QUERIES["shapley_attribution"].builder(spark, sf_dir)
        rows = df.collect()
        assert all(r.phi_num >= 0 for r in rows)
        assert sum(r.phi_num for r in rows) % 24 == 0
        assert abs(sum(r.attribution_share for r in rows) - 1.0) < 1e-4
        a = PA.audit(df)
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0


class TestTrigramIndexSearch:
    def test_pruning_then_verification(self, spark):
        """Doc 2 contains every trigram of 'fast merge' ('fast' +
        'sort merge' supply 'st ', 't m', ' me', ...) WITHOUT the
        substring — a candidate the verify step must kill; doc 1 is
        a true match; doc 3 shares no trigrams."""
        from cloud_native_mapreduce_spark.operators.retrieval import (
            trigram_index_search)
        rows = [
            (1, "a fast merge of runs", "en", "s", 20),
            (2, "fast scan then sort merge", "en", "s", 25),
            (3, "window join", "en", "s", 11),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
                  "source string, n_chars long")
        got = trigram_index_search(df, ("fast merge",)).collect()
        assert [(r.needle, r.doc_id) for r in got] \
            == [("fast merge", 1)]

    def test_candidate_superset_is_real(self, spark):
        """The same fixture WITHOUT verification: doc 2 IS a trigram
        candidate (validates the docstring's false-positive story
        and that the verify step does real work)."""
        from cloud_native_mapreduce_spark.operators.retrieval import (
            _needle_trigrams)
        grams = set(_needle_trigrams("fast merge"))
        text2 = "fast scan then sort merge"
        doc2_grams = {text2[i:i + 3] for i in range(len(text2) - 2)}
        assert grams <= doc2_grams
        assert "fast merge" not in text2

    def test_plan_broadcast_needles(self, spark, sf_dir):
        from cloud_native_mapreduce_spark.registry import QUERIES
        df = QUERIES["trigram_index_search"].builder(spark, sf_dir)
        a = PA.audit(df)
        assert a.has_broadcast_hash_join
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0


class TestNeymanAllocation:
    def test_hand_allocation(self, spark):
        """Two strata: A has N=4, values {0,0,10,10} (S^2=100/3);
        B has N=2, values {5,5} (S=0). Weights: w_A =
        round(sqrt(4*(4*200-400)/3)) = round(sqrt(533.33)) = 23,
        w_B = 0 -> A gets all 1000 (base 1000, no bonus)."""
        from cloud_native_mapreduce_spark.operators.curation import (
            neyman_allocation)
        rows = ([(i, "t", "en", "A", v)
                 for i, v in enumerate([0, 0, 10, 10])]
                + [(10 + i, "t", "en", "B", 5) for i in range(2)])
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
                  "source string, n_chars long")
        got = {r.source: r for r in neyman_allocation(df).collect()}
        assert got["A"].weight_q == 23
        assert got["B"].weight_q == 0
        assert got["A"].alloc_n == 1000
        assert got["B"].alloc_n == 0

    def test_hamilton_sums_exactly(self, spark, sf_dir):
        """On real data the apportionment must hit the budget
        EXACTLY (the Hamilton guarantee) with non-negative cells,
        and single-doc strata are excluded."""
        from cloud_native_mapreduce_spark.registry import QUERIES
        from cloud_native_mapreduce_spark.operators.curation import (
            NEYMAN_TOTAL)
        rows = QUERIES["neyman_allocation"].builder(
            spark, sf_dir).collect()
        assert sum(r.alloc_n for r in rows) == NEYMAN_TOTAL
        assert all(r.alloc_n >= 0 for r in rows)
        assert all(r.n_h >= 2 for r in rows)


def _customers(spark, pts):
    rows = [(256 * i + y, float(x) / 100.0)
            for i, (x, y) in enumerate(pts)]
    return spark.createDataFrame(
        rows, "c_custkey long, c_acctbal double")


class TestDbscanGrid:
    def test_hand_core_border_noise(self, spark):
        """eps=2, min_pts=3: a 3-point chain at x=10, y=1..3 is all
        core (cluster = min core key); y=5 sees only one core ->
        border of the same cluster; the far point is noise."""
        from cloud_native_mapreduce_spark.operators.spatial import (
            dbscan_grid)
        pts = [(10, 1), (10, 2), (10, 3), (10, 5), (200, 100)]
        df = _customers(spark, pts)
        keys = [256 * i + y for i, (x, y) in enumerate(pts)]
        got = {r.custkey: (r.role, r.cluster)
               for r in dbscan_grid(df, eps=2, min_pts=3).collect()}
        lbl = min(keys[:3])
        assert got[keys[0]] == ("core", lbl)
        assert got[keys[1]] == ("core", lbl)
        assert got[keys[2]] == ("core", lbl)
        assert got[keys[3]] == ("border", lbl)
        assert got[keys[4]] == ("noise", -1)

    def test_two_clusters_split_across_cells(self, spark):
        """Two dense blobs far apart get DIFFERENT labels even when
        each straddles a cell boundary (cell side = eps = 2)."""
        from cloud_native_mapreduce_spark.operators.spatial import (
            dbscan_grid)
        pts = [(1, 1), (2, 2), (3, 3),          # straddles cells
               (99, 99), (100, 100), (101, 101)]
        df = _customers(spark, pts)
        keys = [256 * i + y for i, (x, y) in enumerate(pts)]
        got = {r.custkey: (r.role, r.cluster)
               for r in dbscan_grid(df, eps=2, min_pts=3).collect()}
        c1 = {got[k][1] for k in keys[:3]}
        c2 = {got[k][1] for k in keys[3:]}
        assert c1 == {min(keys[:3])}
        assert c2 == {min(keys[3:])}
        assert all(got[k][0] == "core" for k in keys)

    def test_plan_blocked_not_cartesian(self, spark, sf_dir):
        import re
        df = QUERIES["dbscan_grid"].builder(spark, sf_dir)
        a = PA.audit(df)
        assert "CartesianProduct" not in a.text
        # only the broadcast 9-row offset fan-outs may nested-loop —
        # one per neighbor_pairs() consumer (counts, cross-cell
        # edges, border assignment), each streaming into an
        # aggregate rather than reusing a materialized pair frame
        nlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", a.text)
        assert len(nlj) <= 3, nlj
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0


class TestCroston:
    def test_hand_fold(self, spark):
        """User 1 buys on days 0 (1.00) and 2 (3.00): z = 200,
        p = 1.5, forecast 133.333333 cents/day. User 2's single
        buy on day 3: z = 500, p = 4 -> 125.0. A view event anchors
        day zero."""
        from cloud_native_mapreduce_spark.operators.events import (
            croston_by_user)
        rows = [
            (0, TS(2024, 1, 1), 9, "view", 0.0),       # day-0 anchor
            (1, TS(2024, 1, 1, 5), 1, "purchase", 1.0),
            (2, TS(2024, 1, 3, 5), 1, "purchase", 3.0),
            (3, TS(2024, 1, 4, 5), 2, "purchase", 5.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = {r.user_id: r for r in croston_by_user(df).collect()}
        assert set(got) == {1, 2}
        r1 = got[1]
        assert (r1.n_occasions, r1.z, r1.p) == (2, 200.0, 1.5)
        assert r1.croston_forecast == 133.333333
        r2 = got[2]
        assert (r2.n_occasions, r2.z, r2.p) == (1, 500.0, 4.0)
        assert r2.croston_forecast == 125.0

    def test_same_day_purchases_are_one_occasion(self, spark):
        """Two purchases on the same day aggregate into ONE demand
        occasion (daily spend), not two Croston updates."""
        from cloud_native_mapreduce_spark.operators.events import (
            croston_by_user)
        rows = [
            (1, TS(2024, 1, 1, 1), 1, "purchase", 1.0),
            (2, TS(2024, 1, 1, 2), 1, "purchase", 2.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = croston_by_user(df).collect()
        assert len(got) == 1
        assert (got[0].n_occasions, got[0].z, got[0].p) \
            == (1, 300.0, 1.0)


class TestXmlRoundtrip:
    def test_escaping_and_nulls_roundtrip(self, spark, tmp_path):
        """XML-hostile content (&, <, >, quotes) and a NULL survive
        the native Spark 4 XML sink/source losslessly."""
        from cloud_native_mapreduce_spark.sources.formats import (
            read_xml, write_xml)
        rows = [(1, "a & b < c > d \"quoted\" 'single'"),
                (2, None),
                (3, "plain")]
        df = spark.createDataFrame(rows, "id long, s string")
        path = str(tmp_path / "xml_escape")
        write_xml(df, path)
        back = read_xml(spark, path, df.schema).select(*df.columns)
        assert sorted((r.id, r.s) for r in back.collect()) \
            == sorted(rows)


class TestKruskalWallis:
    def test_hand_two_group_h(self, spark):
        """Three Mondays (1,2,3 dollars) vs three Tuesdays (4,5,6):
        no ties, R_mon = 6, R_tue = 15, H = 12/(6*7)*(12+75) - 21 =
        3.857143; C = 1 so h_adj = h."""
        from cloud_native_mapreduce_spark.operators.events import (
            kruskal_wallis_dow)
        days = [TS(2024, 1, d) for d in (1, 2, 8, 9, 15, 16)]
        vals = [1.0, 4.0, 2.0, 5.0, 3.0, 6.0]   # Mon,Tue alternating
        rows = [(i, d, 1, "click", v)
                for i, (d, v) in enumerate(zip(days, vals))]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = kruskal_wallis_dow(df).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.n, r.n_groups, r.tie_sum) == (6, 2, 0)
        assert r.h == 3.857143
        assert r.h_adj == 3.857143

    def test_all_tied_reports_null(self, spark):
        """Identical revenue every day: one tie group of size N makes
        the correction C = 0 — h_adj must be NULL, not a crash
        (ANSI) or a fake statistic."""
        from cloud_native_mapreduce_spark.operators.events import (
            kruskal_wallis_dow)
        rows = [(i, TS(2024, 1, 1 + i), 1, "view", 2.0)
                for i in range(6)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = kruskal_wallis_dow(df).collect()[0]
        assert got.tie_sum == 6 ** 3 - 6
        assert got.h_adj is None


class TestBhFdr:
    def test_normal_tail_expr_matches_math_erfc(self, spark):
        """The shared A&S 7.1.26 text agrees with math.erfc to its
        published 1.5e-7 bound across the z range."""
        import math
        from cloud_native_mapreduce_spark.operators.stats import (
            normal_two_sided_p_expr)
        expr = normal_two_sided_p_expr("z")
        df = spark.createDataFrame(
            [(z,) for z in (0.0, 0.5, 1.0, 1.645, 1.96, 2.58, -1.96,
                            4.0)], "z double")
        got = df.selectExpr("z", f"{expr} AS p").collect()
        for r in got:
            want = math.erfc(abs(r.z) / math.sqrt(2))
            assert abs(r.p - want) < 1.5e-7, (r.z, r.p, want)

    def test_bh_differential_and_invariants(self, spark, sf_dir):
        """Replicate the BH step-up in plain Python from the
        operator's own p_micro column and require identical
        adjusted values; plus the structural invariants (adjusted
        >= raw, discoveries are a prefix of the p-order)."""
        rows = QUERIES["bh_fdr_return_rates"].builder(
            spark, sf_dir).collect()
        m = len(rows)
        byp = sorted(rows, key=lambda r: (r.p_micro, r.nation))
        expect_q = {}
        suffix_min = None
        for i in range(m, 0, -1):
            r = byp[i - 1]
            term = min(r.p_micro * m * 1000 // i, 1_000_000 * 1000)
            suffix_min = term if suffix_min is None \
                else min(suffix_min, term)
            expect_q[r.nation] = suffix_min
        praw = {r.nation: r.p_micro for r in rows}
        for r in rows:
            assert r.p_adj_micro == expect_q[r.nation] // 1000, r
            assert r.discovery == (expect_q[r.nation]
                                   <= 100_000 * 1000), r
            assert r.p_adj_micro <= 1_000_000
            # adjusted never below raw (m/j >= 1 for every j <= m)
            assert expect_q[r.nation] >= praw[r.nation] * 1000 \
                or expect_q[r.nation] == 1_000_000 * 1000
        # discoveries form a prefix of the p-ordering
        flags = [r.discovery for r in byp]
        assert flags == sorted(flags, reverse=True)


class TestDidAndBennet:
    def test_did_hand_panel(self, spark):
        """Four users over 4 days (midpoint = day 2): control users
        (even ids) gain +1.00 pre->post, treated (odd) gain +3.00
        -> DiD = 2.00 exactly."""
        from cloud_native_mapreduce_spark.operators.stats import (
            did_estimate)
        rows = []
        eid = 0
        # (user, pre_spend, post_spend); ids 1,3 treated; 2,4 control
        for u, pre, post in [(1, 1.0, 4.0), (3, 2.0, 5.0),
                             (2, 1.0, 2.0), (4, 2.0, 3.0)]:
            rows.append((eid, TS(2024, 1, 1), u, "purchase", pre))
            eid += 1
            rows.append((eid, TS(2024, 1, 4), u, "purchase", post))
            eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        r = did_estimate(df).collect()[0]
        assert (r.n_treat, r.n_ctrl) == (2, 2)
        assert (r.pre_treat, r.post_treat) == (1.5, 4.5)
        assert (r.pre_ctrl, r.post_ctrl) == (1.5, 2.5)
        assert r.did == 2.0
        # per-arm deltas are constant -> zero variance -> NULL z
        assert r.z is None

    def test_bennet_identity(self, spark, sf_dir):
        """volume + rate == delta at 4dp for every type (the Bennet
        exactness property), and a hand case: pre 2 events avg 1.00,
        post 4 events avg 2.00 -> volume (4-2)*1.5 = 3, rate
        (2-1)*3 = 3, delta 6."""
        from cloud_native_mapreduce_spark.operators.stats import (
            bennet_decomposition)
        rows = ([(i, TS(2024, 1, 1), 1, "click", 1.0)
                 for i in range(2)]
                + [(10 + i, TS(2024, 1, 4), 1, "click", 2.0)
                   for i in range(4)])
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        r = bennet_decomposition(df).collect()[0]
        assert (r.n1, r.n2) == (2, 4)
        assert (r.volume_effect, r.rate_effect) == (3.0, 3.0)
        assert r.delta == 6.0
        rows = QUERIES["bennet_decomposition"].builder(
            spark, sf_dir).collect()
        for r in rows:
            if r.volume_effect is not None:
                assert abs(r.volume_effect + r.rate_effect
                           - r.delta) < 2e-4, r


class TestBlocklistFilter:
    def test_leet_deobfuscation(self, spark):
        """'sl0w', '5low' and 'SLOW' all hit 'slow'; '$pam' hits
        'spam'; clean docs don't appear."""
        from cloud_native_mapreduce_spark.operators.curation import (
            blocklist_filter)
        rows = [
            (1, "a sl0w query plan", "en", "s", 17),
            (2, "the 5LOW and $pam one", "en", "s", 21),
            (3, "perfectly fine text", "en", "s", 19),
        ]
        got = {(r.doc_id, r.term)
               for r in blocklist_filter(_docs(spark, rows)).collect()}
        assert got == {(1, "slow"), (2, "slow"), (2, "spam")}


class TestPmiPairs:
    def test_hand_pmi_ordering(self, spark):
        """'aa bb' co-occur in ALL their docs (PMI = ln(N/ (2*2/N...)
        — concretely: 10 docs, 5 contain exactly {aa,bb}, 5 contain
        {cc}+{aa or bb alternating}: the exclusive pair ranks above
        a chance-level pair."""
        from cloud_native_mapreduce_spark.operators.retrieval import (
            pmi_pairs)
        import math
        rows = ([(i, "aa bb", "en", "s", 5) for i in range(5)]
                + [(10 + i, "cc dd", "en", "s", 5) for i in range(5)])
        got = pmi_pairs(_docs(spark, rows), min_pair=5, k=10).collect()
        pmis = {(r.tok_a, r.tok_b): r for r in got}
        assert set(pmis) == {("aa", "bb"), ("cc", "dd")}
        r = pmis[("aa", "bb")]
        assert (r.n_pair, r.df_a, r.df_b) == (5, 5, 5)
        # PMI = ln(10*5/(5*5)) = ln(2) -> 693147 micronats
        assert r.pmi_mn == round(math.log(2) * 1e6)

    def test_plan_take_ordered(self, spark, sf_dir):
        df = QUERIES["pmi_pairs"].builder(spark, sf_dir)
        a = PA.audit(df)
        assert a.has_take_ordered
        assert a.global_sort_count == 0


class TestWilsonIntervals:
    def test_hand_interval_and_degenerate_edges(self, spark):
        """n=4 first-day users, 1 converted to purchase: Wilson 95%
        for p=0.25 is (0.0455, 0.6994) (textbook value); p=0 (error
        type) still gets a POSITIVE upper bound — the Wald interval
        would collapse to [0, 0]."""
        from cloud_native_mapreduce_spark.operators.events import (
            wilson_intervals)
        rows = [(i, TS(2024, 1, 1), i, "view", 0.0) for i in range(4)]
        rows.append((10, TS(2024, 1, 1), 0, "purchase", 5.0))
        rows.append((11, TS(2024, 1, 2), 1, "error", 0.0))  # day 2
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = {r.event_type: r for r in wilson_intervals(df)
               .collect()}
        pu = got["purchase"]
        assert (pu.n, pu.k, pu.rate) == (4, 1, 0.25)
        assert abs(pu.lo95 - 0.045587) < 1e-6
        assert abs(pu.hi95 - 0.699365) < 2e-4
        er = got["error"]        # day-2 event doesn't count
        assert (er.k, er.rate) == (0, 0.0)
        assert er.lo95 == 0.0
        assert er.hi95 > 0.0
        vw = got["view"]
        assert (vw.k, vw.rate) == (4, 1.0)
        assert vw.hi95 == 1.0 and vw.lo95 < 1.0


class TestPcaTopComponent:
    def test_axis_aligned_variance(self, spark):
        """Vectors varying ONLY along dim 2: the top component is
        the e2 axis — |v_q| maxes at dim 2 and is ~0 elsewhere;
        the explained-variance ratio is ~1."""
        from cloud_native_mapreduce_spark.operators.ml import (
            pca_top_component, PCA_DIM)
        rows = []
        for vid in range(8):
            vec = [0.0] * PCA_DIM
            vec[1] = float(vid)          # dim 2 (1-based)
            rows.append((vid, vec, "a"))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label string")
        got = {r.dim: r for r in pca_top_component(df).collect()}
        assert len(got) == PCA_DIM
        peak = max(got.values(), key=lambda r: abs(r.v_q))
        assert peak.dim == 2
        assert abs(peak.v_q) == 1_000_000
        assert all(abs(r.v_q) < 1000 for r in got.values()
                   if r.dim != 2)
        assert abs(got[1].lambda_over_trace - 1.0) < 1e-3

    def test_differential_vs_numpy(self, spark, sf_dir):
        """The iterated eigenvector matches numpy's top eigenvector
        of the SAME quantized scatter matrix (|cosine| > 0.9999)
        and the ratio matches lambda1/trace."""
        import numpy as np
        from cloud_native_mapreduce_spark.sources.tables import (
            load_table)
        emb = load_table(spark, sf_dir, "embeddings")
        X = np.array([[round(float(x) * 1000) for x in r.embedding]
                      for r in emb.collect()], dtype=np.float64)
        n = X.shape[0]
        C = (n * (X.T @ X) - np.outer(X.sum(0), X.sum(0)))
        Cq = np.trunc(C / n)    # entrywise scaled like the operator
        evals, evecs = np.linalg.eigh(Cq)
        v_np = evecs[:, -1]
        rows = QUERIES["pca_top_component"].builder(
            spark, sf_dir).collect()
        v = np.zeros(64)
        for r in rows:
            v[r.dim - 1] = r.v_q
        cos = abs(v @ v_np) / (np.linalg.norm(v)
                               * np.linalg.norm(v_np))
        assert cos > 0.9999, cos
        ratio = rows[0].lambda_over_trace
        want = evals[-1] / np.trace(Cq)
        assert abs(ratio - want) < 1e-3, (ratio, want)


class TestTransitionEntropy:
    def test_hand_entropy(self, spark):
        """User path view->click->view->click->purchase: from 'view'
        transitions are {click: 2} (H = 0, deterministic); from
        'click' they are {view: 1, purchase: 1} (H = ln 2). The rate
        weights by source counts: (2*0 + 2*ln2)/4 = ln2/2."""
        import math
        from cloud_native_mapreduce_spark.operators.events import (
            transition_entropy)
        seq = ["view", "click", "view", "click", "purchase"]
        rows = [(i, TS(2024, 1, 1, i), 1, t, 0.0)
                for i, t in enumerate(seq)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = {r.from_type: r for r in transition_entropy(df)
               .collect()}
        ln2 = round(math.log(2) * 1e6)
        assert got["view"].entropy_mn == 0
        assert got["view"].n_from == 2
        # H(click) = (1*(L(2)-L(1)) + 1*(L(2)-L(1))) DIV 2 = L(2)
        assert got["click"].entropy_mn == ln2
        assert got["__rate__"].n_from == 4
        assert got["__rate__"].entropy_mn == (2 * ln2) // 4


class TestSegmentedTrendBreak:
    def test_hand_perfect_break(self, spark):
        """Flat at 1.00 for days 1-4, then slope +1.00/day for days
        5-8: splitting at day 5 fits both segments EXACTLY (SSE 0),
        a single line cannot (explained = 1.0)."""
        from cloud_native_mapreduce_spark.operators.events import (
            segmented_trend_break)
        vals = [1.0] * 4 + [2.0, 3.0, 4.0, 5.0]
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", v)
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = segmented_trend_break(df).collect()
        assert len(got) == 1
        r = got[0]
        assert r.n_days == 8
        assert r.sse_split_q == 0
        assert r.sse_single_q > 0
        assert r.explained == 1.0
        # TWO splits reach SSE 0 — right segment starting day 5
        # (slope segment alone) and starting day 4 (the day-4 point
        # (4, 1.00) is collinear with 2,3,4,5 at slope 1) — and the
        # (sse, day) tiebreak pins the EARLIEST: day 4.
        assert r.break_day == "2024-01-04"

    def test_plan_one_cumulative_pass(self, spark, sf_dir):
        df = QUERIES["segmented_trend_break"].builder(spark, sf_dir)
        a = PA.audit(df)
        assert a.unpartitioned_window_count == 0
        assert a.global_sort_count == 0


class TestLogrankTest:
    def test_hand_risk_sets(self, spark):
        """Four users sign up on day 0; arm-1 user converts day 1,
        arm-0 user day 2, one censored per arm at the day-5
        horizon. Hand log-rank: O1 = 1, E1q = 500000 + 333333,
        Vq = 250000 + 222222, chi2 = 166667^2/(472222*1e6) =
        0.058824."""
        import math
        from cloud_native_mapreduce_spark.operators.events import (
            logrank_test)
        rows = [
            (1, TS(2024, 1, 1), 1, "signup", 0.0),   # arm 1
            (2, TS(2024, 1, 1), 2, "signup", 0.0),   # arm 0
            (3, TS(2024, 1, 1), 3, "signup", 0.0),   # arm 1
            (4, TS(2024, 1, 1), 4, "signup", 0.0),   # arm 0
            (5, TS(2024, 1, 2), 1, "purchase", 1.0),  # t=1
            (6, TS(2024, 1, 3), 2, "purchase", 1.0),  # t=2
            (7, TS(2024, 1, 6), 9, "view", 0.0),      # horizon
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        r = logrank_test(df).collect()[0]
        assert (r.n_treat, r.n_ctrl) == (2, 2)
        assert r.o1 == 1
        assert r.e1_q == 833333
        assert r.v_q == 472222
        assert r.chi2 == 0.058824
        want_p = math.erfc(math.sqrt(
            (1e6 - 833333) ** 2 / (472222 * 1e6)) / math.sqrt(2))
        assert abs(r.p_micro - round(want_p * 1e6)) <= 1


class TestRound13AdviceGuards:
    """Degenerate-input guards from the round-13 advice: each case
    previously crashed or diverged from its oracle; each now returns
    the oracle's answer (NULL statistic / empty frame / 'tie')."""

    def test_diebold_mariano_constant_series_is_tie(self, spark):
        """A constant daily series gives var0 = 0 and mean_d = 0:
        dm_stat must be NULL and favors 'tie' (NOT NaN, where Spark
        and DuckDB order-compare differently)."""
        from cloud_native_mapreduce_spark.operators.events import (
            diebold_mariano_daily)
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", 0.10)
                for i in range(10)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        got = diebold_mariano_daily(df).collect()
        assert len(got) == 1
        r = got[0]
        assert r.mean_d == 0.0
        assert r.dm_stat is None
        assert r.favors == "tie"

    def test_nb_roc_auc_single_class_fold_is_null(self, spark):
        """Every fold-0 doc is 'en', so each class has an empty
        positive or negative set: AUC is undefined -> NULL, not a
        DIVIDE_BY_ZERO crash under ANSI mode."""
        from cloud_native_mapreduce_spark.operators.ml import (
            nb_roc_auc)
        rows = [
            (0, "aa aa", "en", "s", 5),      # fold 0 (test), en only
            (5, "aa aa aa", "en", "s", 8),   # fold 0 (test), en only
            (1, "aa aa aa aa", "en", "s", 11),   # train
            (2, "bb bb bb bb", "de", "s", 11),   # train
        ]
        got = {r.lang: r for r in nb_roc_auc(_docs(spark, rows))
               .collect()}
        assert set(got) == {"en", "de"}
        assert got["en"].n_neg == 0 and got["en"].auc_micro is None
        assert got["de"].n_pos == 0 and got["de"].auc_micro is None
