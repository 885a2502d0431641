"""Streaming CUSUM: stream/batch parity and alarm semantics."""

import pyspark.sql.functions as F

from cloud_native_mapreduce_spark.operators import events as E
from cloud_native_mapreduce_spark.sources.tables import load_table
from cloud_native_mapreduce_spark.streaming import core as S

SF_DIR = "/root/testdata/sf0.001"


def test_stream_matches_batch_alarm_counts(spark):
    """The stream's per-type alarm count equals the batch operator's
    n_alarms_up — same recursion, same targets, same planted shift."""
    got = {r.event_type: r["count"] for r in
           S.stream_cusum_by_type(spark, SF_DIR)
           .groupBy("event_type").count().collect()}
    want = {r.event_type: r.n_alarms_up for r in
            E.cusum_changepoint(load_table(spark, SF_DIR, "events"))
            .collect() if r.n_alarms_up}
    assert got == want


def test_alarm_statistics_exceed_threshold(spark):
    df = S.stream_cusum_by_type(spark, SF_DIR)
    assert df.where(F.col("s_up") <= E.CUSUM_H).count() == 0
