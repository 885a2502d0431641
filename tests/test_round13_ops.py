"""Dedicated value + plan tests for the round-13 operators
(registered WITH their tests in the same session — the standing
protocol-debt lesson)."""

from __future__ import annotations

import re

from cloud_native_mapreduce_spark.plans import audit as PA


class TestAnnGraphIndexed:
    def _built(self, spark, sf_dir, tmp_path):
        from cloud_native_mapreduce_spark.similarity.graph_ann_index \
            import build_knn_graph_index
        from cloud_native_mapreduce_spark.sources.tables import (
            load_table)
        emb = load_table(spark, sf_dir, "embeddings")
        build_knn_graph_index(emb, "cnms_gann_p", str(tmp_path / "ix"),
                              graph_k=12)

    def _drop(self, spark):
        for t in ("graph", "vectors", "entries"):
            spark.sql(f"DROP TABLE IF EXISTS cnms_gann_p_{t}")

    def test_matches_unindexed_search(self, spark, sf_dir, tmp_path):
        """Same algorithm, parameters and tie-breaks: the persisted
        index must return EXACTLY ann_graph_search's rows."""
        from cloud_native_mapreduce_spark.similarity.graph_ann import (
            ann_graph_search)
        from cloud_native_mapreduce_spark.similarity.graph_ann_index \
            import ann_graph_indexed
        from cloud_native_mapreduce_spark.sources.tables import (
            load_table)
        self._built(spark, sf_dir, tmp_path)
        try:
            got = [tuple(r) for r in
                   ann_graph_indexed(spark, "cnms_gann_p").collect()]
            want = [tuple(r) for r in ann_graph_search(
                load_table(spark, sf_dir, "embeddings"),
                graph_k=12).collect()]
            assert got == want
        finally:
            self._drop(spark)

    def test_query_plan_zero_exchange_pruned(self, spark, sf_dir,
                                             tmp_path):
        """The returned frame AND a frontier-expansion frame must be
        single bucket-pruned scans: zero shuffle exchanges, literal
        IN-filters firing bucket pruning on the bucketed layout."""
        from pyspark.sql import functions as F

        from cloud_native_mapreduce_spark.similarity.graph_ann_index \
            import ann_graph_indexed
        self._built(spark, sf_dir, tmp_path)
        try:
            df = ann_graph_indexed(spark, "cnms_gann_p")
            a = PA.audit(df)
            assert a.exchange_count == 0, a.text
            assert a.has_take_ordered
            assert not a.has_cartesian
            pruned = re.findall(
                r"SelectedBucketsCount: (\d+) out of (\d+)", a.text)
            assert pruned, a.text
            for sel, tot in pruned:
                assert int(sel) < int(tot), "bucket pruning missed"
            nbr = (spark.table("cnms_gann_p_graph")
                   .where(F.col("src").isin([1, 2, 3]))
                   .select("dst"))
            an = PA.audit(nbr)
            assert an.exchange_count == 0, an.text
            assert re.search(
                r"SelectedBucketsCount: \d+ out of \d+", an.text)
        finally:
            self._drop(spark)


import datetime
import math

from pyspark.sql import functions as F

TS = datetime.datetime


def _events(spark, rows):
    """rows: (event_id, ts, user_id, event_type, value)"""
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")


class TestMannKendall:
    def test_strictly_increasing(self, spark):
        """Daily values 1,2,3: S = 3, var18 = 3*2*11 = 66, z =
        (3-1)/sqrt(66/18), below the 5% bound -> 'none'."""
        from cloud_native_mapreduce_spark.operators.events import (
            mann_kendall_trend)
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", float(i + 1))
                for i in range(3)]
        r = mann_kendall_trend(_events(spark, rows)).collect()[0]
        assert (r.n_days, r.s_stat, r.var18) == (3, 3, 66)
        assert r.z == round(2 / math.sqrt(66 / 18.0), 6)
        assert r.trend == "none"

    def test_constant_series_null_z(self, spark):
        """All days equal: one tie group of 3 cancels var18 to 0 ->
        NULL z, 'none'."""
        from cloud_native_mapreduce_spark.operators.events import (
            mann_kendall_trend)
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", 5.0)
                for i in range(3)]
        r = mann_kendall_trend(_events(spark, rows)).collect()[0]
        assert (r.s_stat, r.var18) == (0, 0)
        assert r.z is None and r.trend == "none"

    def test_long_increase_is_up(self, spark):
        """10 strictly increasing days: S = 45, var18 = 10*9*25 =
        2250, z = 44/sqrt(125) = 3.935 -> 'up'."""
        from cloud_native_mapreduce_spark.operators.events import (
            mann_kendall_trend)
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", float(i + 1))
                for i in range(10)]
        r = mann_kendall_trend(_events(spark, rows)).collect()[0]
        assert (r.s_stat, r.var18) == (45, 2250)
        assert r.trend == "up"


class TestKendallSpearman:
    def _two_series(self, spark, xs, ys):
        rows = []
        for i, (x, y) in enumerate(zip(xs, ys)):
            rows.append((2 * i, TS(2024, 1, 1 + i), 1, "click",
                         float(x)))
            rows.append((2 * i + 1, TS(2024, 1, 1 + i), 1,
                         "purchase", float(y)))
        return _events(spark, rows)

    def test_tau_perfect_concordance(self, spark):
        from cloud_native_mapreduce_spark.operators.events import (
            kendall_tau_daily)
        df = self._two_series(spark, [1, 2, 3], [1, 2, 3])
        r = kendall_tau_daily(df).collect()[0]
        assert (r.n_days, r.concordant, r.discordant) == (3, 3, 0)
        assert r.tau_b == 1.0

    def test_tau_with_x_tie(self, spark):
        """x=[1,1,2], y=[1,2,3]: C=2, tx=1 -> tau_b = 2/sqrt(6)."""
        from cloud_native_mapreduce_spark.operators.events import (
            kendall_tau_daily)
        df = self._two_series(spark, [1, 1, 2], [1, 2, 3])
        r = kendall_tau_daily(df).collect()[0]
        assert (r.concordant, r.discordant, r.ties_x_only,
                r.ties_y_only, r.ties_both) == (2, 0, 1, 0, 0)
        assert r.tau_b == round(2 / math.sqrt(6.0), 6)

    def test_spearman_hand_value(self, spark):
        """x=[1,2,3], y=[3,1,2]: rank-Pearson = -0.5."""
        from cloud_native_mapreduce_spark.operators.events import (
            spearman_daily)
        df = self._two_series(spark, [1, 2, 3], [3, 1, 2])
        r = spearman_daily(df).collect()[0]
        assert (r.n_days, r.rho) == (3, -0.5)


class TestFriedman:
    def test_perfect_concordance_equals_textbook(self, spark):
        """Two full weeks ranked identically: Q must equal the
        textbook n(k-1) = 2*6 = 12 (the Conover-form sanity pin)."""
        from cloud_native_mapreduce_spark.operators.events import (
            friedman_dow)
        rows = []
        eid = 0
        for wk in range(2):
            for d in range(7):
                rows.append((eid, TS(2024, 1, 1 + 7 * wk + d), 1,
                             "click", float(d + 1)))
                eid += 1
        r = friedman_dow(_events(spark, rows)).collect()[0]
        assert (r.n_blocks, r.k) == (2, 7)
        assert r.q_stat == 12.0

    def test_constant_weeks_null(self, spark):
        from cloud_native_mapreduce_spark.operators.events import (
            friedman_dow)
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", 1.0)
                for i in range(14)]
        r = friedman_dow(_events(spark, rows)).collect()[0]
        assert r.q_stat is None


class TestBurstiness:
    def test_metronome_is_minus_one(self, spark):
        from cloud_native_mapreduce_spark.operators.events import (
            burstiness_index)
        rows = [(i, TS(2024, 1, 1, 0, 0, 10 * i), 1, "click", 0.0)
                for i in range(4)]
        r = burstiness_index(_events(spark, rows)).collect()[0]
        assert (r.n_gaps, r.mean_gap_s, r.b_index) == (3, 10.0, -1.0)

    def test_single_gap_is_null(self, spark):
        from cloud_native_mapreduce_spark.operators.events import (
            burstiness_index)
        rows = [(0, TS(2024, 1, 1), 1, "click", 0.0),
                (1, TS(2024, 1, 2), 1, "click", 0.0)]
        r = burstiness_index(_events(spark, rows)).collect()[0]
        assert r.n_gaps == 1 and r.b_index is None


class TestCochranArmitage:
    def test_hand_z(self, spark):
        """w=1: 2 lines 0 returned; w=2: 2 lines 2 returned ->
        z = (4 - 6*2/4) / sqrt(0.25 * (10 - 9)) = 2.0, increasing."""
        from cloud_native_mapreduce_spark.operators.stats import (
            cochran_armitage_returns)
        li = spark.createDataFrame(
            [(1, "N"), (1, "N"), (2, "R"), (2, "R")],
            "l_orderkey long, l_returnflag string")
        od = spark.createDataFrame(
            [(1, "1-URGENT"), (2, "2-HIGH")],
            "o_orderkey long, o_orderpriority string")
        got = {r.w: r for r in
               cochran_armitage_returns(li, od).collect()}
        assert got[1].n_returned == 0 and got[2].n_returned == 2
        assert got[1].z_trend == 2.0
        assert got[1].direction == "increasing"

    def test_all_returned_null(self, spark):
        from cloud_native_mapreduce_spark.operators.stats import (
            cochran_armitage_returns)
        li = spark.createDataFrame(
            [(1, "R"), (2, "R")],
            "l_orderkey long, l_returnflag string")
        od = spark.createDataFrame(
            [(1, "1-URGENT"), (2, "2-HIGH")],
            "o_orderkey long, o_orderpriority string")
        r = cochran_armitage_returns(li, od).collect()[0]
        assert r.z_trend is None and r.direction == "none"


class TestTpchShapes:
    def test_sales_opportunity_hand_fixture(self, spark):
        """Nation 0: balances 100, 300 (avg 200) -> cust 2 is hot;
        cust 2's only order is old -> dormant. Nation 1: hot cust 4
        ordered recently -> excluded."""
        from cloud_native_mapreduce_spark.operators.relational import (
            sales_opportunity)
        cust = spark.createDataFrame(
            [(1, "a", 0, 1.00, "s"), (2, "b", 0, 3.00, "s"),
             (3, "c", 1, 1.00, "s"), (4, "d", 1, 3.00, "s")],
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string")
        orders = spark.createDataFrame(
            [(10, 2, TS(2023, 1, 1)), (11, 4, TS(2024, 6, 1)),
             (12, 1, TS(2024, 6, 30))],
            "o_orderkey long, o_custkey long, o_orderdate timestamp")
        nation = spark.createDataFrame(
            [(0, "ALPHA", 0), (1, "BETA", 0)],
            "n_nationkey int, n_name string, n_regionkey int")
        got = [(r.n_name, r.n_custs, r.total_acctbal) for r in
               sales_opportunity(cust, orders, nation).collect()]
        assert got == [("ALPHA", 1, 3.0)]

    def test_priority_mix_hand_fixture(self, spark):
        from cloud_native_mapreduce_spark.operators.relational import (
            priority_linestatus_mix)
        li = spark.createDataFrame(
            [(1, "O", TS(1995, 3, 1)), (2, "O", TS(1995, 4, 1)),
             (2, "F", TS(1995, 5, 1)), (3, "F", TS(1996, 2, 1))],
            "l_orderkey long, l_linestatus string, "
            "l_shipdate timestamp")
        od = spark.createDataFrame(
            [(1, "1-URGENT"), (2, "5-LOW"), (3, "2-HIGH")],
            "o_orderkey long, o_orderpriority string")
        got = {r.l_linestatus: (r.high_line_count, r.low_line_count)
               for r in priority_linestatus_mix(li, od).collect()}
        assert got == {"O": (1, 1), "F": (0, 1)}


class TestTextrank:
    def test_matches_python_pagerank_replica(self, spark):
        """textrank_keywords == a pure-Python integer PageRank over
        the adjacency derived the same way (lag-window word pairs,
        stopwords out, integer DIV damping)."""
        from cloud_native_mapreduce_spark.functions.text import (
            STOPWORDS, textrank_keywords)
        docs = [
            (1, "spark engine shuffles data and the engine spills"),
            (2, "data engine spark spark data"),
            (3, "the of and"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = [(r.word, r.rank)
               for r in textrank_keywords(df).collect()]

        import re
        stop = set(STOPWORDS)
        edges = set()
        for _, text in docs:
            ws = re.findall(r"[a-z](?:[a-z'‘’]*[a-z])?", text.lower())
            for a, b in zip(ws, ws[1:]):
                if a != b and a not in stop and b not in stop:
                    edges.add((min(a, b), max(a, b)))
        bi = {}
        for a, b in edges:
            bi.setdefault(a, []).append(b)
            bi.setdefault(b, []).append(a)
        rank = {v: 1_000_000 for v in bi}
        for _ in range(5):
            inflow = {v: 0 for v in bi}
            for v, nbrs in bi.items():
                give = rank[v] // len(nbrs)
                for w in nbrs:
                    inflow[w] += give
            rank = {v: 150_000 + (85 * inflow[v]) // 100 for v in bi}
        want = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        assert got == want

    def test_stopword_only_doc_contributes_nothing(self, spark):
        from cloud_native_mapreduce_spark.functions.text import (
            textrank_keywords)
        df = spark.createDataFrame(
            [(1, "alpha beta"), (2, "the and of the")],
            "doc_id long, text string")
        got = {r.word for r in textrank_keywords(df).collect()}
        assert got == {"alpha", "beta"}


class TestCrossSourceContamination:
    def test_hand_fixture(self, spark):
        """src A and B share exactly one 5-gram; C shares none."""
        from cloud_native_mapreduce_spark.operators.curation import (
            cross_source_contamination)
        shared = "one two three four five"
        df = spark.createDataFrame(
            [(1, shared + " alpha", "A"),
             (2, "zz " + shared, "B"),
             (3, "totally different text here now", "C")],
            "doc_id long, text string, source string")
        rows = cross_source_contamination(df).collect()
        assert len(rows) == 1
        r = rows[0]
        # A has 2 grams, B has 2 grams, 1 shared -> jaccard 1/3
        assert (r.src_a, r.src_b, r.n_shared) == ("A", "B", 1)
        assert r.jaccard == round(1 / 3, 6)


class TestKnnTextClassifier:
    def test_separable_vocabulary(self, spark):
        """Disjoint per-class vocabularies: every fold-0 doc's
        neighbors are its own class -> diagonal confusion matrix."""
        from cloud_native_mapreduce_spark.operators.ml import (
            knn_text_classifier)
        rows = []
        for i in range(10):
            lang = "en" if i % 2 == 0 else "de"
            word = "aa" if lang == "en" else "bb"
            rows.append((i, (word + " ") * 3, lang, "s", 9))
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
                  "source string, n_chars long")
        got = {(r.actual_lang, r.predicted_lang): r.n_docs
               for r in knn_text_classifier(df).collect()}
        # fold 0 = doc_ids 0 (en) and 5 (de), each voted by its own
        # vocabulary's training docs
        assert got == {("en", "en"): 1, ("de", "de"): 1}


class TestTgaCodec:
    def test_roundtrip_all_types_and_orientations(self, spark):
        from cloud_native_mapreduce_spark.multimodal.tga import (
            decode_tga, encode_tga)
        for itype in (2, 10, 3):
            per_px = 3 if itype in (2, 10) else 1
            for td in (True, False):
                w, h = 6, 4
                n = w * h * per_px
                if itype == 10:
                    samples = [(3 + 5 * (i // 9)) % 256
                               for i in range(n)]
                else:
                    samples = [(3 + 5 * i) % 256 for i in range(n)]
                out = decode_tga(encode_tga(itype, w, h, samples, td))
                assert out == (itype, w, h, per_px * 8, samples)

    def test_honest_gates(self):
        import pytest as _pytest

        from cloud_native_mapreduce_spark.multimodal.tga import (
            decode_tga)
        import struct
        cmapped = struct.pack("<BBBHHBHHHHBB",
                              0, 1, 1, 0, 0, 0, 0, 0, 2, 2, 24, 0)
        with _pytest.raises(NotImplementedError):
            decode_tga(cmapped)
        rle_gray = struct.pack("<BBBHHBHHHHBB",
                               0, 0, 11, 0, 0, 0, 0, 0, 2, 2, 8, 0)
        with _pytest.raises(NotImplementedError):
            decode_tga(rle_gray)

    def test_rle_stream_has_run_and_raw_packets(self):
        """The gate's RLE fixture law (3-pixel runs separated by one
        unique pixel) must emit BOTH packet kinds — otherwise one of
        the decoder's RLE paths is dead in the gate."""
        from cloud_native_mapreduce_spark.multimodal.tga import (
            encode_tga)
        w, h = 6, 4
        samples = [(3 + 9 * (i // 12)
                    + (13 if (i // 3) % 4 == 3 else 0)) % 256
                   for i in range(w * h * 3)]
        buf = encode_tga(10, w, h, samples, top_down=True)
        body = buf[18 + 4:]
        kinds = set()
        i = 0
        while i < len(body):
            ctl = body[i]
            count = (ctl & 0x7F) + 1
            if ctl & 0x80:
                kinds.add("run")
                i += 1 + 3
            else:
                kinds.add("raw")
                i += 1 + 3 * count
        assert kinds == {"run", "raw"}


class TestSilhouetteSeedPartition:
    def test_hand_geometry(self, spark):
        """Seeds at 0.0 and 1.0 on a 1-of-64-dim line; a seed scores
        a perfect 1e6 (a=0 < b); vec 2 at 0.3 clusters with seed 0
        at s = (0.7^2 - 0.3^2)/0.7^2; vec 3 at 0.4999 barely prefers
        seed 0 -> near-zero s."""
        from cloud_native_mapreduce_spark.similarity.kmeans import (
            silhouette_seed_partition)

        def vec(x):
            return [float(x)] + [0.0] * 63
        df = spark.createDataFrame(
            [(0, vec(0.0)), (1, vec(1.0)), (2, vec(0.3)),
             (3, vec(0.4999))],
            "vec_id long, embedding array<double>")
        got = {r.cluster: r for r in
               silhouette_seed_partition(df, k=2).collect()}
        s2 = round((7000 ** 2 - 3000 ** 2) * 1_000_000 / 7000 ** 2)
        s3 = round((5001 ** 2 - 4999 ** 2) * 1_000_000 / 5001 ** 2)
        assert got[0].n_members == 3
        assert got[0].mean_s_micro == (1_000_000 + s2 + s3) // 3
        assert got[0].min_s_micro == s3
        assert (got[1].n_members, got[1].mean_s_micro,
                got[1].min_s_micro) == (1, 1_000_000, 1_000_000)

    def test_identical_points_score_zero(self, spark):
        from cloud_native_mapreduce_spark.similarity.kmeans import (
            silhouette_seed_partition)
        df = spark.createDataFrame(
            [(i, [1.0] * 64) for i in range(4)],
            "vec_id long, embedding array<double>")
        got = silhouette_seed_partition(df, k=2).collect()
        # every point is identical: a = b = 0 -> s = 0, all in
        # cluster 0 (tie toward the lower seed)
        assert [(r.cluster, r.n_members, r.mean_s_micro)
                for r in got] == [(0, 4, 0)]


class TestDocNovelty:
    def test_hand_fixture(self, spark):
        """doc 1 and 2 share their only 5-gram (df=2 -> novelty 0);
        doc 3 has a unique one (novelty 1); doc 4 is too short
        (NULL)."""
        from cloud_native_mapreduce_spark.operators.curation import (
            doc_novelty_ratio)
        g = "one two three four five"
        df = spark.createDataFrame(
            [(1, g), (2, g), (3, "six seven eight nine ten"),
             (4, "too short")],
            "doc_id long, text string")
        got = {r.doc_id: (r.n_distinct_grams, r.n_unique_grams,
                          r.novelty)
               for r in doc_novelty_ratio(df).collect()}
        assert got[1] == (1, 0, 0.0)
        assert got[2] == (1, 0, 0.0)
        assert got[3] == (1, 1, 1.0)
        assert got[4] == (0, 0, None)


class TestMatrixProfile:
    def test_planted_motif_and_discord(self, spark):
        """21 days: week 1 and week 3 identical (motif, d2 = 0 at
        the non-overlapping partner), week 2 shifted by a constant
        spike — its windows' nearest neighbors are non-zero."""
        from cloud_native_mapreduce_spark.operators.events import (
            matrix_profile_daily)
        base = [1, 2, 3, 4, 5, 6, 7]
        vals = base + [v + 50 for v in base] + base
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", float(v))
                for i, v in enumerate(vals)]
        got = {r.pos: (r.nn_pos, r.d2)
               for r in matrix_profile_daily(_events(spark, rows))
               .collect()}
        # 15 full windows (0..14); window 0 == window 14 exactly
        assert len(got) == 15
        assert got[0] == (14, 0)
        assert got[14] == (0, 0)
        # the pure week-2 window (pos 7) is 5000 cents off per day
        # from both pure neighbors: d2 = 7 * 5000^2
        assert got[7] == (0, 7 * 5000 ** 2)

    def test_exclusion_zone_respected(self, spark):
        from cloud_native_mapreduce_spark.operators.events import (
            matrix_profile_daily)
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", float(i))
                for i in range(21)]
        got = matrix_profile_daily(_events(spark, rows)).collect()
        assert all(abs(r.pos - r.nn_pos) >= 7 for r in got)


class TestEventTypeMI:
    def test_independent_types_zero_mi(self, spark):
        """4 users, type A on users 1,2 and type B on users 1,3:
        presence independent (P(AB)=1/4 = P(A)P(B)) -> MI 0."""
        from cloud_native_mapreduce_spark.operators.events import (
            event_type_mi)
        rows = [(0, TS(2024, 1, 1), 1, "A", 0.0),
                (1, TS(2024, 1, 1), 2, "A", 0.0),
                (2, TS(2024, 1, 1), 1, "B", 0.0),
                (3, TS(2024, 1, 1), 3, "B", 0.0),
                (4, TS(2024, 1, 1), 4, "C", 0.0)]
        got = {(r.type_a, r.type_b): r for r in
               event_type_mi(_events(spark, rows)).collect()}
        r = got[("A", "B")]
        assert (r.n11, r.n10, r.n01, r.n00) == (1, 1, 1, 1)
        assert r.mi_nats == 0.0

    def test_perfect_dependence(self, spark):
        """Types X and Y always co-occur on 2 of 4 users: MI =
        H(0.5) = ln 2 * ... exactly -0.5ln0.5*2 = ln2 (the planted
        value, 4dp)."""
        from cloud_native_mapreduce_spark.operators.events import (
            event_type_mi)
        rows = []
        eid = 0
        for u in (1, 2):
            for t in ("X", "Y"):
                rows.append((eid, TS(2024, 1, 1), u, t, 0.0))
                eid += 1
        for u in (3, 4):
            rows.append((eid, TS(2024, 1, 1), u, "Z", 0.0))
            eid += 1
        got = {(r.type_a, r.type_b): r.mi_nats for r in
               event_type_mi(_events(spark, rows)).collect()}
        assert got[("X", "Y")] == round(math.log(2), 4)


class TestLabelNoiseSuspects:
    def test_planted_mislabel_is_flagged(self, spark):
        """Strongly separable vocabularies with ONE doc carrying the
        wrong label in fold 0: the suspect list must contain exactly
        that doc, predicted as its true vocabulary's class."""
        from cloud_native_mapreduce_spark.operators.ml import (
            label_noise_suspects)
        rows = []
        # training folds: long unambiguous docs
        for i in range(1, 40):
            if i % 5 == 0:
                continue
            lang = "en" if i % 2 == 0 else "de"
            word = "aa" if lang == "en" else "bb"
            rows.append((i, (word + " ") * 20, lang, "s", 60))
        # fold 0: doc 10 is really 'en' text labelled 'de'
        rows.append((10, ("aa " * 20), "de", "s", 60))
        rows.append((5, ("bb " * 20), "de", "s", 60))
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
                  "source string, n_chars long")
        got = label_noise_suspects(df).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.doc_id, r.actual_lang, r.predicted_lang) == (
            10, "de", "en")
        assert r.margin_mn >= 2_000_000


class TestBrandAssortativity:
    def test_perfect_homophily(self, spark):
        """Two same-brand components: every edge same-brand but two
        brands exist -> r = 1."""
        from cloud_native_mapreduce_spark.operators.graph import (
            brand_assortativity)
        orders = [(1, [1, 2]), (2, [3, 4])]
        li = spark.createDataFrame(
            [(o, p, 1.0) for o, ps in orders for p in ps],
            "l_orderkey long, l_partkey long, l_quantity double")
        part = spark.createDataFrame(
            [(1, "n", "B1", "t", 1, 1.0), (2, "n", "B1", "t", 1, 1.0),
             (3, "n", "B2", "t", 1, 1.0), (4, "n", "B2", "t", 1, 1.0)],
            "p_partkey long, p_name string, p_brand string, "
            "p_type string, p_size int, p_retailprice double")
        r = brand_assortativity(li, part).collect()[0]
        assert (r.n_edges, r.n_brands, r.same_brand_edges) == (2, 2, 2)
        assert r.assortativity == 1.0

    def test_one_brand_is_null(self, spark):
        from cloud_native_mapreduce_spark.operators.graph import (
            brand_assortativity)
        li = spark.createDataFrame(
            [(1, 1, 1.0), (1, 2, 1.0)],
            "l_orderkey long, l_partkey long, l_quantity double")
        part = spark.createDataFrame(
            [(1, "n", "B1", "t", 1, 1.0), (2, "n", "B1", "t", 1, 1.0)],
            "p_partkey long, p_name string, p_brand string, "
            "p_type string, p_size int, p_retailprice double")
        r = brand_assortativity(li, part).collect()[0]
        assert r.assortativity is None

    def test_anti_homophily_hand_value(self, spark):
        """One cross-brand edge only: s=0, c = (1,1), m2 = 2 ->
        r = (0*2 - 2)/(4 - 2) = -1."""
        from cloud_native_mapreduce_spark.operators.graph import (
            brand_assortativity)
        li = spark.createDataFrame(
            [(1, 1, 1.0), (1, 2, 1.0)],
            "l_orderkey long, l_partkey long, l_quantity double")
        part = spark.createDataFrame(
            [(1, "n", "B1", "t", 1, 1.0), (2, "n", "B2", "t", 1, 1.0)],
            "p_partkey long, p_name string, p_brand string, "
            "p_type string, p_size int, p_retailprice double")
        r = brand_assortativity(li, part).collect()[0]
        assert r.assortativity == -1.0


class TestRecordBreaks:
    def test_hand_series(self, spark):
        """Values 5,3,7,7,9: records on days 1 (convention), 3, 5."""
        from cloud_native_mapreduce_spark.operators.events import (
            record_breaks_daily)
        vals = [5, 3, 7, 7, 9]
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", float(v))
                for i, v in enumerate(vals)]
        r = record_breaks_daily(_events(spark, rows)).collect()[0]
        assert (r.n_days, r.n_records) == (5, 3)
        assert r.last_record_day == "2024-01-05"

    def test_monotone_decreasing_single_record(self, spark):
        from cloud_native_mapreduce_spark.operators.events import (
            record_breaks_daily)
        rows = [(i, TS(2024, 1, 1 + i), 1, "click", float(9 - i))
                for i in range(5)]
        r = record_breaks_daily(_events(spark, rows)).collect()[0]
        assert (r.n_records, r.last_record_day) == (1, "2024-01-01")


class TestLeakageSafeSplit:
    def test_clusters_stay_whole_and_counts_add_up(self, spark):
        """Hand graph: docs 1-2-3 one cluster, 4-5 another, 6
        singleton. Splits must keep clusters whole, and the summary
        must reconcile with a doc-level replica using the same
        md5 hash-uniform rule."""
        import hashlib

        from cloud_native_mapreduce_spark.operators.curation import (
            leakage_safe_split)
        docs = spark.createDataFrame(
            [(i,) for i in range(1, 7)], "doc_id long")
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long")
        got = {r.split: (r.n_docs, r.n_components, r.n_singleton_docs)
               for r in leakage_safe_split(docs, edges).collect()}

        def u(comp):
            return int(hashlib.md5(str(comp).encode())
                       .hexdigest()[:8], 16) / 4294967296.0

        comp_of = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
        sizes = {1: 3, 4: 2, 6: 1}
        want: dict = {}
        for c, sz in sizes.items():
            s = ("train" if u(c) < 0.8
                 else "val" if u(c) < 0.9 else "test")
            d, n, sg = want.get(s, (0, 0, 0))
            want[s] = (d + sz, n + 1, sg + (sz == 1))
        assert got == want
        assert sum(v[0] for v in got.values()) == len(comp_of)


class TestPcaTop2:
    def test_numpy_differential_and_orthogonality(self, spark, sf_dir):
        """Both components must align with numpy's top-2 scatter
        eigenvectors (|cosine| > 0.999) and be mutually orthogonal
        (|cos(v1, v2)| < 0.02); explained-variance ratios ordered."""
        import numpy as np

        from cloud_native_mapreduce_spark.operators.ml import (
            pca_top2_components)
        from cloud_native_mapreduce_spark.sources.tables import (
            load_table)
        emb = load_table(spark, sf_dir, "embeddings")
        rows = pca_top2_components(emb).collect()
        v = {c: np.zeros(64) for c in (1, 2)}
        lam = {}
        for r in rows:
            v[r.component][r.dim - 1] = r.v_q
            lam[r.component] = r.lambda_over_trace
        x = np.stack([np.asarray(r.embedding, dtype=np.float64)
                      for r in emb.select("embedding").collect()])
        xq = np.round(x * 1000.0)
        c = xq.T @ xq - np.outer(xq.sum(0), xq.sum(0)) / len(xq)
        evals, evecs = np.linalg.eigh(c)
        top2 = evecs[:, np.argsort(evals)[::-1][:2]]

        def cos(a, b):
            return abs(a @ b) / (np.linalg.norm(a)
                                 * np.linalg.norm(b))

        assert cos(v[1], top2[:, 0]) > 0.999
        assert cos(v[2], top2[:, 1]) > 0.999
        assert cos(v[1], v[2]) < 0.02
        assert lam[1] >= lam[2] > 0

    def test_component1_matches_top_component(self, spark, sf_dir):
        """The deflation entry's first component must be byte-equal
        to pca_top_component's output (same helpers, same budgets)."""
        from cloud_native_mapreduce_spark.operators.ml import (
            pca_top2_components, pca_top_component)
        from cloud_native_mapreduce_spark.sources.tables import (
            load_table)
        emb = load_table(spark, sf_dir, "embeddings")
        got1 = {r.dim: (r.v_q, r.lambda_over_trace)
                for r in pca_top2_components(emb)
                .where("component = 1").collect()}
        want = {r.dim: (r.v_q, r.lambda_over_trace)
                for r in pca_top_component(emb).collect()}
        assert got1 == want
