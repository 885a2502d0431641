"""Skew-resistant aggregation: explicit two-phase salting.

At 100 TB a handful of hot keys (boilerplate event types, empty-string
defaults) can pin a single reducer. Spark's first line of defense is
AQE skew-join splitting (on in `session.py`), but *aggregation* skew on
a low-cardinality groupBy is best handled structurally: shard each key
across `n_salts` sub-keys, partially aggregate, then combine — the
partial pass parallelizes a hot key over n_salts tasks and the final
pass touches only |keys| × n_salts rows.

The salt is a deterministic hash of a high-cardinality column (never
rand(): retries/speculative tasks must agree on row placement), so the
whole query stays deterministic and oracle-checkable: salting is a
physical rewrite with bit-identical results to the direct aggregate for
integer counts and cents-exact sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cloud_native_mapreduce_spark.session import cut

N_SALTS = 16


def salted_event_totals(events: DataFrame,
                        n_salts: int = N_SALTS) -> DataFrame:
    """count + exact-cents sum(value) per event_type, via salt + two-phase
    aggregation. Results identical to the direct groupBy — integer cents
    make the double-sum associativity question moot."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    salted = events.select(
        "event_type",
        cents.alias("cents"),
        F.pmod(F.xxhash64("event_id"), F.lit(n_salts)).alias("_salt"))
    partial = (salted.groupBy("event_type", "_salt")
               .agg(F.count("*").alias("n_part"),
                    F.sum("cents").alias("cents_part")))
    return (partial.groupBy("event_type")
            .agg(F.sum("n_part").alias("n_events"),
                 (F.sum("cents_part") / 100.0).alias("sum_value"))
            .orderBy("event_type"))


def salted_replicate_join(facts: DataFrame, dim: DataFrame,
                          key: str, n_salts: int = N_SALTS,
                          salt_src: str | None = None) -> DataFrame:
    """Skew-resistant equi-join by salt-and-replicate: the JOIN-side
    counterpart of `salted_event_totals`, for when the dimension is
    too large to broadcast and the fact side has hot keys.

    Each fact row gets a deterministic salt (hash of `salt_src`, a
    high-cardinality fact column — never rand(): speculative retries
    must agree); the dimension is replicated once per salt via an
    explode of an n_salts-element sequence (a size-n_salts ×
    |dim| blowup, the explicit price), and the join runs on
    (key, salt) — a hot fact key now spreads over n_salts reducers
    instead of pinning one. Purely a physical rewrite: the result
    multiset is exactly the plain `facts JOIN dim USING (key)`, which
    is what the oracle checks. Spark's AQE skew splitting (on in
    `session.py`) handles the same problem adaptively at runtime;
    this operator is the structural form for engines/pipelines that
    need the plan pinned ahead of time (e.g. a deterministic bucketed
    layout downstream).
    """
    if salt_src is None:
        salt_src = key
    salted_facts = facts.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)))
    # sequence of LONGs so the exploded salt matches pmod(xxhash64)'s
    # type without wrapping the generator in a cast (unsupported)
    rep = dim.select(
        "*", F.explode(F.sequence(
            F.lit(0).cast("long"),
            F.lit(n_salts - 1).cast("long"))).alias("_salt"))
    return (salted_facts.join(rep, [key, "_salt"])
            .drop("_salt"))


def join_skew_profile(events: DataFrame,
                      key_col: str = "user_id",
                      shuffle_partitions: int = 32) -> DataFrame:
    """Pre-join skew diagnosis for a shuffle key — the measurement
    that decides WHETHER the `salted_replicate_join` treatment is
    needed and HOW MANY salt buckets to use, instead of guessing:
    per hottest key its row share, plus the profile-wide ratios a
    planner reads (max/avg = the straggler factor under hash
    partitioning).

    Output: top-10 hottest keys, each row also carrying the global
    profile — n_keys, avg rows/key (scaled integer), the key's
    share in basis points, the max/avg straggler factor (scaled
    x100), and the recommended salt-bucket count
    ceil(max_cnt · P / total) — the number of partitions the hottest
    key would need to spread evenly across P shuffle partitions.

    All integer arithmetic (scaled divisions are integer DIV): one
    map-side-combined key count, one 1-row profile aggregate
    broadcast back, a deterministic top-10 cut."""
    cnt = cut(events.groupBy(F.col(key_col).alias("k"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    prof = cnt.agg(F.count(F.lit(1)).alias("n_keys"),
                   F.sum("cnt").alias("total"),
                   F.max("cnt").alias("max_cnt"))
    return (cnt.crossJoin(F.broadcast(prof))
            .select(F.col("k").cast("bigint").alias("key"),
                    F.col("cnt").cast("bigint").alias("n_rows"),
                    F.expr("(cnt * 10000) DIV total").cast("bigint")
                    .alias("share_bp"),
                    F.col("n_keys").cast("bigint").alias("n_keys"),
                    F.expr("(max_cnt * 100 * n_keys) DIV total")
                    .cast("bigint").alias("straggler_x100"),
                    F.expr(f"CAST(ceil(max_cnt * {shuffle_partitions}"
                           f" / CAST(total AS DOUBLE)) AS BIGINT)")
                    .alias("salt_buckets"))
            .orderBy(F.col("n_rows").desc(), "key").limit(10))
