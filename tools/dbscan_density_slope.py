"""Constant-density DBSCAN slope probe (round-12 verdict item 5).

The registered `dbscan_grid` demo runs on a FIXED 256×256 plane, so
growing the corpus saturates the plane and the measured sf1→sf3 slope
(6.77×) reads the fixture's quadratic density growth, not the plan.
The implementation itself streams pairs and runs components on the
cell-reduced graph, so at CONSTANT spatial density — the regime every
real spatial corpus lives in — cost should be linear in N.

This probe holds density constant by scaling the plane's AREA with N
(grid ∝ √N): every point sees the same expected eps-ball population
at every N, exactly like a real map with more tiles. Points are a
deterministic integer-hash spread (no RNG, reproducible anywhere).

Usage: python tools/dbscan_density_slope.py [base_n] [factor]
Prints one line per scale: n, grid, wall seconds, and the final
slope = t(factor·N) / t(N); a linear plan lands near `factor`×cost
per `factor`× data only if per-point work grew — constant density
keeps it ≈ factor (time budget) over factor× rows, i.e. slope ≈
factor for linear, ≈ factor² for quadratic. The DESIGN.md round-13
table records the result.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cloud_native_mapreduce_spark.operators.spatial import (  # noqa: E402
    dbscan_grid)
from cloud_native_mapreduce_spark.session import get_spark  # noqa: E402

#: Expected eps-ball population ≈ n·(2·eps+1)²/grid² — sized so cores
#: exist (min_pts=8) without saturating: ~30 neighbors per ball.
BALL_TARGET = 30
EPS = 16


def synthetic_customers(spark, n: int, grid: int):
    """n deterministic points uniform over the grid×grid plane:
    y = custkey mod grid walks the axis, x is a Knuth-hash spread of
    the id — constant density at every n by construction."""
    return spark.range(1, n + 1).select(
        F.col("id").alias("c_custkey"),
        ((F.col("id") * F.lit(2654435761) % F.lit(grid * 100))
         / 100.0).alias("c_acctbal"))


def grid_for(n: int) -> int:
    side = math.sqrt(n * (2 * EPS + 1) ** 2 / BALL_TARGET)
    return max(64, int(side))


def run_once(spark, n: int) -> float:
    g = grid_for(n)
    # cut: eager, so the input is built before the timer starts
    df = synthetic_customers(spark, n, g).localCheckpoint(eager=True)
    t0 = time.time()
    (dbscan_grid(df, grid=g)
     .write.format("noop").mode("overwrite").save())
    sec = time.time() - t0
    print(f"n={n} grid={g} sec={sec:.2f}", flush=True)
    return sec


def main() -> None:
    base_n = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("dbscan_slope")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = min(run_once(spark, base_n) for _ in range(2))
    t2 = min(run_once(spark, base_n * factor) for _ in range(2))
    print(f"slope at {factor}x data (constant density): "
          f"{t2 / t1:.2f}x (linear law = ~{factor}x, "
          f"quadratic = ~{factor * factor}x)")


if __name__ == "__main__":
    main()
