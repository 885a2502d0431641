"""SparkSession factory with scale-aware defaults.

The reference framework hand-rolls its cluster runtime (etcd-elected master,
gRPC worker pool, blob-storage shuffle — SURVEY.md §0). On Spark all of that
is the platform; the only thing worth owning is configuration discipline:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), Arrow
on (vectorized Python boundary), sane shuffle partitioning, and a broadcast
threshold that lets dimension tables (region/nation/supplier at any SF)
broadcast instead of shuffling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied when *we* build the session. When the driver hands us an
#: existing SparkSession (the __spark_entry__ contract) we do NOT rebuild it;
#: queries must be correct under any reasonable config.
_DEFAULTS = {
    # Adaptive query execution: coalesce post-shuffle partitions to the data
    # actually present, split skewed join partitions, demote to broadcast at
    # runtime when a side turns out small. Essential at 100 TB where static
    # partition counts are always wrong for somebody.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / mapInPandas / applyInPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 64 MiB Arrow batches keep the Python workers streaming, not buffering.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Dimension tables are tiny relative to fact tables at every SF; 64 MiB
    # broadcast threshold covers nation/region/supplier/part well past sf100.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Local-mode-friendly shuffle width; AQE coalesces below it as needed.
    # On a real cluster this should be ~2-3x total executor cores.
    "spark.sql.shuffle.partitions": "32",
    # Heap for the single local-mode JVM. PySpark's default is -Xmx1g,
    # which squeezes the driver + all 32 executor threads + broadcast
    # builds into 1 GiB regardless of machine size — observed as GCLocker
    # allocation failures ("Retried waiting for GCLocker too often")
    # killing a bench run mid-broadcast, and as chronic GC noise in query
    # timings. A launch-time conf: it only takes effect when get_spark
    # CREATES the session (fresh process — bench, oracle gate, tests);
    # a driver-provided session keeps its own sizing. On a real cluster
    # this is spark.executor.memory territory via spark-submit instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # Read splits: 128 MiB is the classic HDFS-block-sized sweet spot
    # (reference computed ceil(total/numMapTasks) byte shards — SURVEY §2 S2;
    # Spark's file source does this natively).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app_name: str = "cloud-native-mapreduce-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for local runs; on a cluster, leave unset and submit via spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers regardless of
    the driver's cwd/sys.path, by zipping it and shipping via addPyFile.

    Needed only for code paths that run *named module functions* on workers
    (module-level UDFs). Closures defined inside functions
    are pickled by value and don't need this — the preferred style here.
    Idempotent per session.
    """
    import os
    import tempfile
    import zipfile

    if getattr(spark, "_cnms_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(),
                         f"cnms_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "cloud_native_mapreduce_spark",
                        os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark._cnms_shipped = True
