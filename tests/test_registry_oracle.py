"""Every registered query with an oracle must match DuckDB at sf0.001 —
the same gate the driver applies at sf0.01 (order-insensitive multiset
compare after sorting columns by name)."""

from __future__ import annotations

import os
import sys

import pytest

from cloud_native_mapreduce_spark.registry import QUERIES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_oracle import _rows_multiset  # noqa: E402


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = QUERIES[name]
    spark_pd = spec.builder(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(spark_pd) >= 0  # rows-only check, mirroring the driver
        return
    duck_pd = duck.execute(spec.oracle).df()
    assert sorted(spark_pd.columns) == sorted(duck_pd.columns)
    assert len(spark_pd) == len(duck_pd)
    cols = sorted(spark_pd.columns)
    assert (_rows_multiset(spark_pd, cols)
            == _rows_multiset(duck_pd, cols))
