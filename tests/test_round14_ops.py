"""Dedicated value + plan tests for the round-14 operators
(registered WITH their tests in the same session — the standing
protocol-debt lesson)."""

from __future__ import annotations

import math


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")


class TestAnnPqIndexed:
    def test_matches_rebuild_per_query_adc(self, spark, sf_dir,
                                           tmp_path):
        """Same stride codebook, same encode, same LUT, same
        tie-breaks: the persisted index must return EXACTLY
        pq.top_k_adc's rows."""
        from cloud_native_mapreduce_spark.similarity import pq
        from cloud_native_mapreduce_spark.similarity.pq_index import (
            ann_pq_indexed, build_pq_index)
        from cloud_native_mapreduce_spark.sources.tables import (
            load_table)
        emb = load_table(spark, sf_dir, "embeddings")
        build_pq_index(emb, "cnms_pq_t", str(tmp_path / "ix"))
        try:
            got = [tuple(r) for r in
                   ann_pq_indexed(spark, "cnms_pq_t",
                                  query_vec_id=0, k=10).collect()]
            want = [tuple(r) for r in
                    pq.top_k_adc(emb, query_vec_id=0, k=10).collect()]
            assert got == want
        finally:
            spark.sql("DROP TABLE IF EXISTS cnms_pq_t_postings")
            spark.sql("DROP TABLE IF EXISTS cnms_pq_t_codebook")


class TestJaccardJoinSummary:
    def test_hand_buckets(self, spark):
        """Four docs: an identical pair (J=1.0, bucket 10), two
        J=0.9 pairs (bucket 9), and one unrelated doc (excluded by
        the 0.9 gate)."""
        from cloud_native_mapreduce_spark.registry import QUERIES
        import tempfile
        import os
        ten = " ".join("tok" + c for c in "abcdefghij")
        nine = " ".join("tok" + c for c in "abcdefghi")
        docs = _docs(spark, [
            (ten, "a"),
            (ten, "a"),
            (nine, "a"),     # vs ten: inter 9, union 10 -> J = 0.9
            ("zeta eta theta", "a"),
        ])
        with tempfile.TemporaryDirectory() as d:
            docs.write.mode("overwrite").parquet(
                os.path.join(d, "documents.parquet"))
            got = {r.bucket_x10: (r.n_pairs, r.total_shared)
                   for r in QUERIES["jaccard_join_summary"]
                   .builder(spark, d).collect()}
        # pair (0,1): J=1.0 shared 10 -> bucket 10
        # pairs (0,2),(1,2): J=0.9 shared 9 -> bucket 9
        assert got == {10: (1, 10), 9: (2, 18)}


class TestGoodTuring:
    def test_hand_frequencies(self, spark):
        """Three 1-trigram docs 'x y z', two 'p q r', one 'u v w':
        trigram counts {xyz:3, pqr:2, uvw:1} -> N_1=N_2=N_3=1;
        r*=(r+1)N_{r+1}/N_r, p0 = N1/N with N = 6 trigram tokens."""
        from cloud_native_mapreduce_spark.functions.text import (
            good_turing_estimate)
        docs = _docs(spark, [("x y z", "s")] * 3 + [("p q r", "s")] * 2
                     + [("u v w", "s")])
        rows = {r.r: r for r in
                good_turing_estimate(docs).collect()}
        assert rows[0].r_star == round(1 / 6, 4)
        assert rows[1].n_r == 1 and rows[1].r_star == 2.0  # 2*1/1
        assert rows[2].n_r == 1 and rows[2].r_star == 3.0
        assert rows[3].n_r == 1 and rows[3].r_star is None  # no N_4
        assert rows[1].p_per_million == round(1e6 * 2 / 6, 4)


class TestChao1:
    def test_hand_values(self, spark):
        """counts {a:1,b:1,c:2,d:3}: D=4, f1=2, f2=1 ->
        chao1 = 4 + 2*1/(2*2) = 4.5."""
        from cloud_native_mapreduce_spark.functions.text import (
            chao1_richness)
        docs = _docs(spark, [("a b c c d d d", "s")])
        r = chao1_richness(docs).collect()[0]
        assert (r.d_obs, r.f1, r.f2, r.chao1) == (4, 2, 1, 4.5)


class TestJensenShannon:
    def test_identical_and_disjoint(self, spark):
        from cloud_native_mapreduce_spark.functions.text import (
            jensen_shannon_sources)
        docs = _docs(spark, [
            ("x y z", "a"), ("x y z", "b"),       # identical -> 0
            ("p q r", "c"),                        # disjoint from d
            ("s t u", "d"),
        ])
        got = {(r.src_a, r.src_b): r.jsd_nats
               for r in jensen_shannon_sources(docs).collect()}
        assert got[("a", "b")] == 0.0
        # fully disjoint pairs carry NO intersection row -> absent
        # from the inner-join output by design (mass term closed-form
        # ln 2 applies only when at least one shared token exists)
        assert ("c", "d") not in got

    def test_half_overlap_value(self, spark):
        """P = {x:1/2, y:1/2}, Q = {x:1/2, z:1/2}: JSD = (1/2)ln2
        - ... hand value: shared x contributes 0 (p=q), exclusive
        mass 1/2 each side -> JSD = (1/2)*ln2."""
        from cloud_native_mapreduce_spark.functions.text import (
            jensen_shannon_sources)
        docs = _docs(spark, [("x y", "a"), ("x z", "b")])
        r = jensen_shannon_sources(docs).collect()[0]
        assert r.jsd_nats == round(0.5 * math.log(2.0), 4)


class TestTokenizerFertility:
    def test_hand_value(self, spark):
        """'hello world' -> 2 ws words, 2 BPE tokens; 'don't stop' ->
        2 ws words, 3 BPE tokens (don + 't + stop)."""
        from cloud_native_mapreduce_spark.functions.text import (
            tokenizer_fertility)
        docs = _docs(spark, [("hello world", "s"), ("don't stop", "s")])
        r = tokenizer_fertility(docs).collect()[0]
        assert (r.n_ws_words, r.n_bpe_tokens) == (4, 5)
        assert r.fertility == round(5 / 4, 4)


class TestCoverageCurve:
    def test_tiny_corpus_saturates(self, spark):
        from cloud_native_mapreduce_spark.functions.text import (
            ngram_coverage_curve)
        docs = _docs(spark, [("a a b", "s")])
        got = {r.k: (r.covered_tokens, r.total_tokens, r.coverage)
               for r in ngram_coverage_curve(docs).collect()}
        assert set(got) == {100, 500, 1000, 2000, 5000}
        assert all(v == (3, 3, 1.0) for v in got.values())


class TestPageHinkley:
    def test_constant_series_never_drifts(self, spark):
        import datetime
        rows = [(i, datetime.datetime(2024, 1, 1 + i), 1, "click",
                 10.0) for i in range(8)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        from cloud_native_mapreduce_spark.operators.events import (
            page_hinkley_drift)
        r = page_hinkley_drift(df).collect()[0]
        assert r.ph_max == 0.0
        assert r.first_drift_day is None and r.drifted is False

    def test_step_change_drifts(self, spark):
        """5 days at 0 then 5 days at 2000.00 (200k cents): the
        post-step deviations accumulate far past lambda=50k."""
        import datetime
        vals = [0.0] * 5 + [2000.0] * 5
        rows = [(i, datetime.datetime(2024, 1, 1 + i), 1, "click", v)
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        from cloud_native_mapreduce_spark.operators.events import (
            page_hinkley_drift)
        r = page_hinkley_drift(df).collect()[0]
        # replica: running mean, cumulative dev, ph = u - running min
        cents = [int(v * 100) for v in vals]
        u, umin, ph_seq = 0.0, 0.0, []
        s = 0
        for t, x in enumerate(cents, start=1):
            s += x
            u += x - s / t
            umin = min(umin, u)
            ph_seq.append(u - umin)
        assert r.ph_max == round(max(ph_seq), 4)
        assert r.drifted is True
        first = next(i for i, p in enumerate(ph_seq) if p > 50_000)
        assert r.first_drift_day == f"2024-01-{first + 1:02d}"


class TestSccEventGraph:
    def test_hand_digraph(self, spark):
        """u1: a->b->a->b (cycle {a,b}); u2: b->c (c is exit-only:
        own SCC)."""
        import datetime
        rows = [
            (0, 1, "a"), (1, 1, "b"), (2, 1, "a"), (3, 1, "b"),
            (4, 2, "b"), (5, 2, "c"),
        ]
        df = spark.createDataFrame(
            [(i, datetime.datetime(2024, 1, 1, 0, 0, i), u, et, 1.0)
             for i, u, et in rows],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double")
        from cloud_native_mapreduce_spark.operators.events import (
            scc_event_graph)
        got = {r.event_type: (r.scc_id, r.scc_size)
               for r in scc_event_graph(df).collect()}
        assert got == {"a": ("a", 2), "b": ("a", 2), "c": ("c", 1)}


class TestMcnemar:
    def test_four_cells(self, spark):
        """50-word doc of 4-char words (both pass), 50x'zz' (A pass,
        B fail: mean len 2), short 'zzzz zzzz' (A fail, B pass),
        short 'z z' (neither)."""
        from cloud_native_mapreduce_spark.operators.curation import (
            mcnemar_quality_rules)
        docs = _docs(spark, [
            (" ".join(["word"] * 50), "s"),
            (" ".join(["zz"] * 50), "s"),
            ("zzzz zzzz", "s"),
            ("z z", "s"),
        ])
        r = mcnemar_quality_rules(docs).collect()[0]
        assert (r.n_both_pass, r.n_a_only, r.n_b_only,
                r.n_neither) == (1, 1, 1, 1)
        assert r.mcnemar_chi2 == 0.0  # (1-1)^2/2

    def test_chi2_null_on_perfect_agreement(self, spark):
        from cloud_native_mapreduce_spark.operators.curation import (
            mcnemar_quality_rules)
        docs = _docs(spark, [(" ".join(["word"] * 50), "s")])
        r = mcnemar_quality_rules(docs).collect()[0]
        assert r.mcnemar_chi2 is None


class TestHardNegativeMining:
    def test_excludes_same_label_and_ranks(self, spark):
        from cloud_native_mapreduce_spark.similarity.bruteforce import (
            hard_negative_mining)
        rows = [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.0], 0),    # same label as q0: excluded
            (2, [1.0, 0.01], 1),   # near-parallel: hardest negative
            (3, [0.0, 1.0], 1),    # orthogonal: easy negative
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        got = sorted(
            (r.q_vec_id, r.vec_id, r.cosine) for r in
            hard_negative_mining(df, n_queries=1, k=2).collect())
        assert [(q, v) for q, v, _ in got] == [(0, 2), (0, 3)]
        assert got[0][2] > got[1][2]


class TestDedupClusterHistogram:
    def test_hand_groups(self, spark):
        from cloud_native_mapreduce_spark.dedup.exact import (
            cluster_size_histogram)
        docs = _docs(spark, [
            ("same text here", "s"), ("same text here", "s"),
            ("same text here", "s"),
            ("other text", "s"), ("other text", "s"),
            ("unique one", "s"),
        ])
        got = {r.group_size: (r.n_groups, r.n_docs)
               for r in cluster_size_histogram(docs).collect()}
        assert got == {3: (1, 3), 2: (1, 2), 1: (1, 1)}


class TestRboVocabAgreement:
    def test_identical_rankings_give_one(self, spark):
        """Identical top lists -> RBO_trunc = (1-p)·Σ p^{i-1}/1·(i/i)
        = 1 - p^d exactly (truncated form); with d=20, p=0.9 that is
        1 - 0.9^20."""
        from cloud_native_mapreduce_spark.operators.retrieval import (
            rbo_vocab_agreement)
        text = " ".join(w * 3 + " " + w * 2 + " " + w
                        for w in "abcdefghijklmnopqrst")
        # craft distinct frequencies so ranks are unambiguous:
        # 'aaa' appears ... simpler: repeated words with distinct counts
        words = ["w" + c for c in "abcdefghijklmnopqrst"]
        text = " ".join(" ".join([w] * (21 - i))
                        for i, w in enumerate(words, start=1))
        docs = _docs(spark, [(text, "a"), (text, "b")])
        r = rbo_vocab_agreement(docs).collect()[0]
        assert (r.src_a, r.src_b, r.n_shared) == ("a", "b", 20)
        assert r.rbo == round(1 - 0.9 ** 20, 6)

    def test_replica_on_partial_overlap(self, spark):
        """Hand corpus where the two sources share a prefix but
        diverge in the tail: RBO equals the brute-force prefix-
        overlap sum."""
        from cloud_native_mapreduce_spark.operators.retrieval import (
            RBO_DEPTH, rbo_vocab_agreement)
        wa = ["w" + c for c in "abcdefghijklmnopqrst"]
        wb = wa[:10] + ["x" + c for c in "abcdefghij"]
        ta = " ".join(" ".join([w] * (21 - i))
                      for i, w in enumerate(wa, start=1))
        tb = " ".join(" ".join([w] * (21 - i))
                      for i, w in enumerate(wb, start=1))
        docs = _docs(spark, [(ta, "a"), (tb, "b")])
        r = rbo_vocab_agreement(docs).collect()[0]
        # brute force: A_i = |prefix_i(a) ∩ prefix_i(b)|
        acc = 0.0
        for i in range(1, RBO_DEPTH + 1):
            a_i = len(set(wa[:i]) & set(wb[:i]))
            acc += a_i / i * 0.9 ** (i - 1)
        assert r.n_shared == 10
        assert r.rbo == round(0.1 * acc, 6)


class TestLeveneBrownForsythe:
    def test_equal_spreads_give_small_w(self, spark):
        """Two groups with IDENTICAL deviation multisets -> SSB on
        |dev| is 0 -> W = 0."""
        import datetime
        rows = []
        i = 0
        for et, base in (("click", 10.0), ("view", 50.0)):
            for d in (-2.0, -1.0, 0.0, 1.0, 2.0):
                rows.append((i, datetime.datetime(2024, 1, 1 + i % 20),
                             1, et, base + d))
                i += 1
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        from cloud_native_mapreduce_spark.operators.events import (
            levene_brown_forsythe)
        got = {r.event_type: r for r in
               levene_brown_forsythe(df).collect()}
        assert got["click"].median_value == 10.0
        assert got["view"].median_value == 50.0
        # both groups: |dev| multiset {2,1,0,1,2} -> same mean 1.2
        assert got["click"].mean_abs_dev == 1.2
        assert got["click"].w_stat == 0.0
        assert (got["click"].df_between,
                got["click"].df_within) == (1, 8)


class TestRunsTestDaily:
    def test_alternating_series_has_max_runs(self, spark):
        """Values strictly alternating around the median -> every day
        starts a new run: R = n, z > 0."""
        import datetime
        vals = [1.0, 9.0] * 5
        rows = [(i, datetime.datetime(2024, 1, 1 + i), 1, "click", v)
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        from cloud_native_mapreduce_spark.operators.events import (
            runs_test_daily)
        r = runs_test_daily(df).collect()[0]
        assert (r.r_runs, r.n1, r.n2) == (10, 5, 5)
        # mu = 2*25/10+1 = 6, var = 50*(50-10)/(100*9) = 20/9
        import math
        assert r.z_stat == round((10 - 6) / math.sqrt(2000 / 900), 4)

    def test_single_block_series(self, spark):
        """Low half then high half -> exactly 2 runs."""
        import datetime
        vals = [1.0] * 5 + [9.0] * 5
        rows = [(i, datetime.datetime(2024, 1, 1 + i), 1, "click", v)
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        from cloud_native_mapreduce_spark.operators.events import (
            runs_test_daily)
        r = runs_test_daily(df).collect()[0]
        assert (r.r_runs, r.n1, r.n2) == (2, 5, 5)


class TestDecileLift:
    def test_perfect_ranking(self, spark):
        """20 users: the 2 with the most clicks are the only
        purchasers -> decile 0 carries all positives, gain hits 1.0
        immediately, lift_0 = (2/2)/(2/20) = 10."""
        import datetime
        rows = []
        eid = 0
        for u in range(20):
            for _ in range(20 - u):          # clicks: distinct counts
                rows.append((eid, datetime.datetime(2024, 1, 1), u,
                             "click", 1.0))
                eid += 1
        for u in (0, 1):
            rows.append((eid, datetime.datetime(2024, 1, 2), u,
                         "purchase", 5.0))
            eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        from cloud_native_mapreduce_spark.operators.events import (
            decile_lift)
        got = {r.decile: r for r in decile_lift(df).collect()}
        assert got[0].n_pos == 2 and got[0].cum_gain == 1.0
        assert got[0].lift == 10.0
        assert got[9].n_pos == 0 and got[9].cum_gain == 1.0
        assert sum(r.n_users_decile for r in got.values()) == 20


class TestCramersVDow:
    def test_independent_table_is_zero(self, spark):
        """Counts proportional across rows/cols -> chi2 = 0, V = 0."""
        import datetime
        rows = []
        eid = 0
        # two types x two days (Mon, Tue), counts 10/20 and 20/40:
        # E = O everywhere
        for et, day, cnt in (("click", 5, 10), ("click", 6, 20),
                             ("view", 5, 20), ("view", 6, 40)):
            for _ in range(cnt):
                rows.append((eid, datetime.datetime(2024, 2, day),
                             1, et, 1.0))
                eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        from cloud_native_mapreduce_spark.operators.events import (
            cramers_v_dow)
        r = cramers_v_dow(df).collect()[0]
        assert (r.n, r.k, r.chi2, r.cramers_v) == (90, 2, 0.0, 0.0)

    def test_perfect_association_is_one(self, spark):
        """Each type on its own day -> V = 1."""
        import datetime
        rows = []
        eid = 0
        for et, day, cnt in (("click", 5, 30), ("view", 6, 30)):
            for _ in range(cnt):
                rows.append((eid, datetime.datetime(2024, 2, day),
                             1, et, 1.0))
                eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double")
        from cloud_native_mapreduce_spark.operators.events import (
            cramers_v_dow)
        r = cramers_v_dow(df).collect()[0]
        assert r.cramers_v == 1.0
