"""SparkSession factory with scale-aware defaults, and the loop session.

The reference framework hand-rolls its cluster runtime (etcd-elected master,
gRPC worker pool, blob-storage shuffle — SURVEY.md §0). On Spark all of that
is the platform; the only thing worth owning is configuration discipline:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), Arrow
on (vectorized Python boundary), sane shuffle partitioning, and a broadcast
threshold that lets dimension tables (region/nation/supplier at any SF)
broadcast instead of shuffling.

Loop state is the one exception. An iterated MapReduce round (a graph
relaxation, a label propagation) cuts its lineage with a localCheckpoint
per round, and under AQE every such checkpoint executes an adaptive plan
that runs each shuffle stage as its own job and drops the state's hash
partitioning. `loop_session` returns a child session of the caller
(`newSession()`: same SparkContext and cache, its own SQL conf) with AQE
off and one shuffle width derived from the size of the loop's edge
frame, the way AQE would coalesce it; `loop_checkpoint` checkpoints a
frame there and hands it back to the caller. The state then stays
hash-partitioned on its key, so each round shuffles only its messages.
The caller's conf is never written. The fixed-round graph loops hold
their state this way: `relax` and its callers, PageRank and
personalized PageRank, `kcore_membership`, `label_propagation`, WL
fingerprints, Luby MIS and Borůvka (`operators/graph.py`, edges from
its `_loop_edges` except Borůvka's weighted frame).

Python tasks (native MapReduce jobs, pandas/Arrow UDFs) run in workers
forked from a daemon. On local masters `get_spark` makes that daemon
`worker_daemon`, which stops each task from re-reading `pyspark.zip`'s
directory (≈0.2 CPU s per task on CPython 3.11), and puts this
package's directory on the workers' path so they import the engine
from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


#: The directory that holds this package: on local masters, workers import
#: the engine from here.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_driver_memory() -> str:
    """Default driver heap: min(16g, half of physical RAM).

    16g alone is the whole of a 16 GB host, where a Tier-1 run had its
    JVM killed by the kernel OOM killer (java RSS 9.7 GB at
    `test_registry_oracle[kalman_daily]`). Half the RAM leaves room for
    the Python side, the workers and the off-heap buffers."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{min(16 * 1024, ram // 2 // 2**20)}m"


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
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                          host_driver_memory()),
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

    On ``local*`` masters the Python workers run under the engine's
    daemon (``spark.python.daemon.module``, see `worker_daemon`) with
    the directory that holds this package on their ``PYTHONPATH``
    (``spark.executorEnv.PYTHONPATH``, which PySpark appends after its
    own zips), so workers import the engine whatever the working
    directory. ``extra_conf`` overrides either. Cluster masters and
    sessions passed in through ``__spark_entry__`` keep PySpark's
    daemon; there ``ship_package`` ships the engine.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    if master.startswith("local"):
        conf.setdefault("spark.python.daemon.module",
                        "cloud_native_mapreduce_spark.worker_daemon")
        conf.setdefault("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_AQE = "spark.sql.adaptive.enabled"
_WIDTH = "spark.sql.shuffle.partitions"


def loop_width(edges: DataFrame) -> int:
    """Shuffle width W for a loop over `edges`:

        W = clamp(ceil(edges_bytes / advisory),
                  min(cores, ceil(edges_bytes / min_partition)),
                  shuffle.partitions)

    with clamp(x, lo, hi) = min(max(x, lo), hi). `edges_bytes` is
    Catalyst's size estimate of the edge frame (reading it plans but
    fires no job); `advisory` and `min_partition` are the caller's
    `spark.sql.adaptive.advisoryPartitionSizeInBytes` and
    `spark.sql.adaptive.coalescePartitions.minPartitionSize`, `cores`
    the SparkContext's default parallelism and the upper clamp the
    caller's `spark.sql.shuffle.partitions`. This is the width AQE's
    own coalescing aims at (parallelism first: one partition per
    advisory size, but as many as the cores while each keeps at least
    the minimum size), read from existing confs only.

    The edge frame is the right input: a round plan's own estimate
    compounds the join fan-out and reads 142 MB for a 200-row frame
    (1.3 TB at sf0.1). The lower clamp is measured: with 1 in its
    place every relax query's edges on the test data (sf0.001 to
    sf0.1, all far below 64 MiB) gave W=1, each round ran as one task,
    and at sf0.1 that cut CPU but made sssp_weighted and bfs_hops
    32 % and 43 % slower in wall time. With this lower clamp both are
    within 4 % of the parent's wall time, and sssp_weighted keeps a
    15 % CPU cut (CHANGES.md)."""
    spark = edges.sparkSession
    size = edges._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes
    advisory = to_bytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    min_partition = to_bytes(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    cap = int(spark.conf.get(_WIDTH))
    low = min(spark.sparkContext.defaultParallelism, -(-size // min_partition))
    return min(max(-(-size // advisory), low, 1), cap)


def loop_session(edges: DataFrame) -> SparkSession:
    """The session a loop over `edges` checkpoints its state in.

    Below the upper clamp of `loop_width` this is a child of the caller
    (`newSession()`, so the SparkContext and the cache are shared) with
    the caller's SQL conf, `spark.sql.adaptive.enabled=false` and
    `spark.sql.shuffle.partitions=W`; one child per caller and width,
    replaced by a fresh child when the caller's conf has changed since
    it was copied. At the upper clamp the loop stays in the caller's
    session: there the edges are big enough for AQE's skew splitting
    and coalescing to earn their keep, or the lower clamp alone
    reaches `shuffle.partitions` (AQE off at that width is a negative
    result below). The caller's conf is only read.

    Why AQE off: under AQE a lazy `localCheckpoint` still executes the
    adaptive plan, one job per shuffle stage, and the checkpointed
    frame forgets its hash partitioning, so every round re-shuffles the
    state. Without AQE the round's shuffle stages run in the round's
    one job, and the state keeps its partitioning on the vertex key.

    Negative results measured on a 4-core host, kept so they are not
    retried:
      * a flat W=4 in place of the rule gave no CPU gain on
        `dag_layers`: 4.79 s tree CPU per pass against 4.43–4.67 s,
        and in 3 alternating pairs parent 5.87/4.91/5.25 s, change
        5.37/5.15/5.90 s;
      * the cores alone as the lower clamp (W=4 on every input here)
        gave no CPU gain: sssp_weighted at sf0.1 kept the parent's CPU
        (39.6 against 40.2 s, medians of 5 alternating pairs) where
        the rule's W=2 cut it 15 %, and on `dag_layers` it is the flat
        W=4 above;
      * AQE off at the session width of 32 is about 2× slower
        (`dag_layers` ran 546 tasks against 25);
      * dropping the lineage cut instead makes plans blow up: `relax`
        reads the state twice per round, so `dag_layers`' final plan
        grows to 0.56 MB (7–8 s against 0.15–0.4 s) and `bfs_hops`' to
        1.6 MB with 116 execution jobs; `persist()` in place of the
        checkpoint blows up the same way;
      * a round plan's size estimate is no input for the width rule
        (see `loop_width`).
    """
    spark = edges.sparkSession
    width = loop_width(edges)
    if width >= int(spark.conf.get(_WIDTH)):
        return spark
    conf = spark.conf.getAll
    children = spark.__dict__.setdefault("_cnms_loop_sessions", {})
    if children.get(width, (None,))[0] != conf:
        child = spark.newSession()
        for k, v in conf.items():
            if spark.conf.isModifiable(k):
                child.conf.set(k, v)
        child.conf.set(_AQE, "false")
        child.conf.set(_WIDTH, str(width))
        children[width] = (conf, child)
    return children[width][1]


def loop_checkpoint(df: DataFrame, loop: SparkSession,
                    eager: bool = False) -> DataFrame:
    """`df.localCheckpoint(eager)` planned and run in `loop` (see
    `loop_session`), handed back as a frame of `df`'s own session.

    The frame's analyzed plan is rebuilt in `loop`, checkpointed there
    through PySpark's own `localCheckpoint` (so tools that wrap it see
    every round), and the checkpointed plan, an RDD scan that keeps the
    physical partitioning, is rebuilt in the caller."""
    caller = df.sparkSession
    if loop is caller:
        return df.localCheckpoint(eager)
    rows = df._sc._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    frame = type(df)
    ck = frame(rows(loop._jsparkSession, df._jdf.logicalPlan()),
               loop).localCheckpoint(eager)
    return frame(rows(caller._jsparkSession, ck._jdf.logicalPlan()), caller)


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers regardless of
    the driver's cwd/sys.path, by zipping it and shipping via addPyFile.

    Needed only for code paths that run *named module functions* on workers
    (module-level UDFs): cloudpickle ships a closure by value, but the
    module-level functions it calls by reference. The media codecs
    (`multimodal`) register their package to be pickled by value and
    don't need this. Idempotent per session.
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
