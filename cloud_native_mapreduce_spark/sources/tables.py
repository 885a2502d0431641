"""Typed loaders for the driver's parquet tables and generic text I/O.

Reference parity (SURVEY.md §2 S1-S4): the reference scans byte-range shards
of text blobs with split realignment (cmd/azure/azure_util.go:169-219) and
writes tab-separated key/value blobs (cmd/worker/mr_worker.go:246-249).
Spark's file source does split realignment natively; `read_text` /
`write_tsv_kv` reproduce the I/O surface. The richer table surface is plain
parquet with schema-on-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Every table the driver generates (TESTDATA.md).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table. Parquet → columnar scan with predicate
    pushdown and column pruning for free; at 100 TB the same call reads a
    partitioned dataset directory unchanged."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize `events.ts` to TIMESTAMP regardless of the file's physical
    type. Some generator versions write TIMESTAMP(NANOS), which Spark's
    parquet reader rejects outright — for those, read nanos as long (legacy
    conf) and convert with integer division: `div 1000` on the long, never
    float division, because the ns-since-epoch magnitude (~1.7e18) exceeds
    double's 53-bit mantissa and a float path would corrupt timestamps by
    ~hundreds of ns. Truncation matches DuckDB's ns→us cast of the same
    file. Newer generators write TIMESTAMP(MICROS), which Spark reads as
    TIMESTAMP_NTZ — cast to TIMESTAMP (session tz is pinned to UTC in
    session.py, so the cast is lossless) to keep the engine-visible type
    identical across generator versions, and because streaming watermarks
    reject NTZ event-time columns."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    # fail fast on a generator surprise: every downstream window/
    # watermark op assumes a true TIMESTAMP — silently passing through an
    # unexpected physical type would surface as wrong results, not errors
    if not isinstance(df.schema["ts"].dataType, T.TimestampType):
        raise TypeError(
            "events.ts normalized to "
            f"{df.schema['ts'].dataType.simpleString()!r}; expected "
            "timestamp — unsupported generator encoding at "
            f"{table_path(sf_dir, 'events')!r}")
    return df


def fan_out(df: DataFrame, *cols: str,
            parts: int | None = None) -> DataFrame:
    """Spread a narrow frame across the cluster BEFORE per-row-expensive
    work when its scan under-parallelizes (optimization guide §2.5's
    input-skew rule: "one huge unsplittable file … repartition
    immediately after the read").

    The driver's parquet tables are written as ONE row group per file,
    so no config (`maxPartitionBytes`, `openCostInBytes`,
    `minPartitionNum`) can raise scan parallelism: Spark may cut byte
    ranges, but only the range holding the row-group start yields rows —
    every pre-shuffle stage (codec decode, per-replicate hashing,
    tokenize+explode) otherwise runs on ONE core. One hash exchange of
    the narrow input fixes that.

    Scale posture: a no-op whenever the source already has >= `parts`
    partitions (default `sparkContext.defaultParallelism`), so at
    100 TB — thousands of row groups — this adds NOTHING; it fires
    exactly in the under-split regime where the shuffled bytes are, by
    construction, small. Partitioning hashes `cols` when given (cheap,
    deterministic, no round-robin pre-sort); round-robin otherwise.
    """
    from pyspark.sql import functions as F
    sc = df.sparkSession.sparkContext
    target = parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if cols:
        return df.repartition(target, *[F.col(c) for c in cols])
    return df.repartition(target)


# --- bucketed layout (co-located joins at scale) ----------------------------

def write_bucketed(df: DataFrame, table_name: str, path: str,
                   bucket_col: str, n_buckets: int = 8,
                   mode: str = "overwrite") -> None:
    """Persist a table bucketed (and sorted) on its join key. Two tables
    bucketed the same way join with ZERO shuffle — at 100 TB this turns
    every fact⋈fact join on the layout key from a full-network shuffle
    into a local merge per bucket. Bucket count should scale with data
    volume (≈ one bucket per 100-500 MB at target SF); both sides must
    agree on (column, count)."""
    (df.write.mode(mode)
       .option("path", path)
       .bucketBy(n_buckets, bucket_col)
       .sortBy(bucket_col)
       .saveAsTable(table_name))


# --- text I/O (the reference's native format) -------------------------------

def read_text(spark: SparkSession, path: str) -> DataFrame:
    """One row per '\\n'-terminated line, column ``value: string`` — the
    reference's record model (SURVEY.md §1.1). Spark's HadoopFileLinesReader
    already realigns byte splits to line boundaries, which is the entire job
    of the reference's shard scanner (azure_util.go:196-200)."""
    return spark.read.text(path)


def write_tsv_kv(df: DataFrame, path: str, key: str = "key",
                 value: str = "value", mode: str = "overwrite") -> None:
    """Write ``key\\tvalue`` lines, one output file per partition — the
    reference's output contract (one blob per reducer, no global order;
    mr_worker.go:246-249). Order across files is unspecified, matching the
    order-insensitive validation contract (SURVEY.md §1.3)."""
    from pyspark.sql import functions as F
    (df.select(F.concat_ws("\t", F.col(key).cast("string"),
                           F.col(value).cast("string")).alias("value"))
       .write.mode(mode).text(path))


def compact_small_files(spark: SparkSession, src_dir: str, dst_dir: str,
                        target_mb: int = 128) -> int:
    """Rewrite a directory of small parquet files into ~target_mb files.

    The small-files problem at 100 TB: streaming/foreachBatch sinks and
    over-parallel writes produce thousands of KB-scale files; every
    downstream scan then pays per-file open cost (footer read, task
    setup) that dwarfs the data read. Periodic compaction — read,
    coalesce to ceil(bytes/target), rewrite — restores scan efficiency.
    Returns the number of output files written.

    `coalesce` (not `repartition`): compaction must not shuffle — it
    only merges read splits, so the rewrite is map-only.
    """
    import glob
    import math
    total = sum(os.path.getsize(p) for p in
                glob.glob(os.path.join(src_dir, "**", "*.parquet"),
                          recursive=True))
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    (spark.read.parquet(src_dir)
     .coalesce(n_out)
     .write.mode("overwrite").parquet(dst_dir))
    return len(glob.glob(os.path.join(dst_dir, "*.parquet")))


def upsert_parquet(spark: SparkSession, table_dir: str, updates: DataFrame,
                   key_col: str) -> None:
    """MERGE-style upsert onto a parquet directory: existing rows whose
    key appears in `updates` are replaced; new keys are appended.

    Plain parquet has no transaction log, so upsert = anti-join the
    existing data against the update keys, union the updates, rewrite.
    The rewrite cost is the whole table — acceptable for dimension-sized
    data; for fact-scale mutation use a partitioned layout and dynamic
    partition overwrite (`test_dynamic_partition_overwrite`) so only
    touched partitions rewrite, or a table format with a log (Delta/
    Iceberg) outside this repo's dependency budget.

    Crash posture: the staging write goes to a SIBLING directory on the
    same filesystem (so the swap is two same-device renames, never a
    cross-device copy), and the old table is renamed aside before the
    stage renames in. A reader never sees a half-written table; a crash
    between the two renames leaves no directory at `table_dir` but a
    complete copy at `<table_dir>.old` — recovery is renaming that
    back. (Atomic-visibility upserts need a table format with a log —
    Delta/Iceberg — outside this repo's dependency budget.)

    Concurrency: SINGLE WRITER per table. The rename dance is not safe
    under two interleaved upserts (one writer's merge could silently
    vanish), so a `<table_dir>.lock` file taken with O_EXCL serializes
    writers — a second concurrent upsert raises instead of corrupting.
    A lock left by a crashed writer is stale exactly when `<table_dir>`
    or `<table_dir>.old` needs the documented crash recovery; remove it
    alongside that recovery."""
    import shutil
    base = table_dir.rstrip("/")
    lock = base + ".lock"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"another upsert holds {lock!r} (upsert_parquet is "
            "single-writer per table; if the holder crashed, recover "
            "per the docstring and remove the lock)") from None
    os.write(fd, str(os.getpid()).encode())
    os.close(fd)
    try:
        existing = spark.read.parquet(table_dir)
        keys = updates.select(key_col).distinct()
        merged = (existing.join(keys, key_col, "left_anti")
                  .unionByName(updates))
        stage = f"{base}.stage-{os.getpid()}"
        merged.write.mode("overwrite").parquet(stage)
        old = base + ".old"
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(base, old)       # table intact under .old
        os.rename(stage, base)     # complete staged copy becomes the table
        shutil.rmtree(old)
    finally:
        os.unlink(lock)
