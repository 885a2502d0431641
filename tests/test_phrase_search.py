"""Positional phrase search: adjacency semantics + plan shape."""

from cloud_native_mapreduce_spark.operators.retrieval import phrase_search
from cloud_native_mapreduce_spark.plans import audit as PA


def test_adjacency_and_order_required(spark):
    docs = spark.createDataFrame(
        [(1, "big order scan now"),          # match at pos 1
         (2, "big order fast scan"),         # broken adjacency: no
         (3, "scan order big"),              # reversed: no
         (4, "x big order scan y big order scan"),  # two matches
         (5, "big big order scan")],         # match at pos 2
        "doc_id long, text string")
    got = {r.doc_id: (r.n_matches, r.first_pos)
           for r in phrase_search(docs).collect()}
    assert got == {1: (1, 1), 4: (2, 2), 5: (1, 2)}


def test_overlapping_tokens_count_each_start(spark):
    docs = spark.createDataFrame(
        [(1, "big order scan big order scan")], "doc_id long, text string")
    [r] = phrase_search(docs).collect()
    assert r.n_matches == 2 and r.first_pos == 1


def test_plan_filters_before_shuffle(spark):
    from cloud_native_mapreduce_spark.sources.tables import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = phrase_search(docs)
    a = PA.audit(df)
    assert a.unpartitioned_window_count == 0
    assert a.global_sort_count == 0
    assert "CartesianProduct" not in a.text


def test_proximity_banding_matches_bruteforce(spark):
    """Banding must find exactly the brute-force |pa-pb|<=k pairs —
    both orders, boundary distance k inclusive, band-crossing pairs,
    and no double counting from the replica fan-out."""
    from cloud_native_mapreduce_spark.operators.retrieval import (
        proximity_search)

    texts = {
        1: "data x x x x query",          # dist 5 -> inside
        2: "data x x x x x query",        # dist 6 -> outside
        3: "query data",                  # reverse order, dist 1
        4: "data x query x data",         # two pairs (2 and 2)
        5: "data data query",             # two pairs (1 and 2)
        6: "nothing here",
    }
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    got = {r.doc_id: (r.n_pairs, r.min_dist)
           for r in proximity_search(docs).collect()}

    want = {}
    for did, t in texts.items():
        toks = t.split()
        pa = [i for i, w in enumerate(toks) if w == "data"]
        pb = [i for i, w in enumerate(toks) if w == "query"]
        dists = [abs(a - b) for a in pa for b in pb if abs(a - b) <= 5]
        if dists:
            want[did] = (len(dists), min(dists))
    assert got == want
