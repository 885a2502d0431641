"""RAKE keyword extraction: phrase construction, scoring invariants,
plan shape."""

import pyspark.sql.functions as F

from cloud_native_mapreduce_spark.functions import text as T
from cloud_native_mapreduce_spark.plans import audit as PA

SF_DIR = "/root/testdata/sf0.001"


def test_known_tiny_corpus(spark):
    """Hand-checkable example: 'deep learning of deep nets' splits at
    'of' into phrases ['deep learning', 'deep nets'].
    freq: deep=2, learning=1, nets=1; degree: deep=4, learning=2,
    nets=2; wscore: deep=20000, learning=20000, nets=20000;
    both phrases score 40000."""
    docs = spark.createDataFrame(
        [(1, "deep learning of deep nets")], "doc_id long, text string")
    rows = {r.phrase: r for r in T.rake_keywords(docs).collect()}
    assert set(rows) == {"deep learning", "deep nets"}
    assert rows["deep learning"].score == 40000
    assert rows["deep nets"].score == 40000
    assert rows["deep learning"].n_words == 2


def test_stopwords_never_appear_in_phrases(spark):
    from cloud_native_mapreduce_spark.sources.tables import load_table
    docs = load_table(spark, SF_DIR, "documents")
    for r in T.rake_keywords(docs).collect():
        words = set(r.phrase.split(" "))
        assert not (words & set(T.STOPWORDS)), r.phrase
        assert r.n_words <= T.RAKE_MAX_PHRASE


def test_phrase_cap_and_ordering(spark):
    from cloud_native_mapreduce_spark.sources.tables import load_table
    docs = load_table(spark, SF_DIR, "documents")
    rows = T.rake_keywords(docs).collect()
    assert len(rows) == 20
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_plan_shape(spark):
    from cloud_native_mapreduce_spark.sources.tables import load_table
    docs = load_table(spark, SF_DIR, "documents")
    a = PA.audit(T.rake_keywords(docs))
    assert a.unpartitioned_window_count == 0
    assert a.global_sort_count == 0
    assert a.has_take_ordered
    assert "CartesianProduct" not in a.text
