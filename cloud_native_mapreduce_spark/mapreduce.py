"""MapReduce job-spec façade: the reference's entire user-facing API,
re-expressed on Spark.

Reference surface (SURVEY.md §2 J1/E1/E2, §2.1): a client submits a
``MapReduceSpec`` naming input files, task counts, and user-supplied
Python mapper/reducer *scripts*; the framework byte-shards the input,
pipes shard lines through ``python3 <mapper>`` stdin/stdout, hash-
partitions the ``key\tvalue`` output lines on the key prefix, sorts each
reduce partition lexicographically, pipes the sorted lines through
``python3 <reducer>``, and writes one output file per reducer
(cmd/master/mr_master.go:26-100, cmd/azure/azure_util.go:156-257,
cmd/worker/mr_worker.go:163-249).

Spark mapping — this is the ONLY RDD-level code in the engine, because
the Hadoop-Streaming pipe contract is inherently line/partition
imperative. The pipe path is assembled from JVM objects through py4j,
so no line of a script job ever enters a Python worker:

=========================  =========================================
reference mechanism        Spark primitive
=========================  =========================================
byte-shard planner (S2)    ``JavaSparkContext.textFile(paths, M)`` —
                           Spark's FileInputFormat does size-balanced
                           splits with line realignment natively
mapper pipe (M1)           ``JavaRDD.pipe`` (``PipedRDD``: a non-zero
                           exit fails the task)
FNV-hash shuffle (P1/P2)   ``repartition(R, substring_index(value,
                           sep, 1))`` — Spark's hash of the key prefix
                           (§2 P1: partition *assignment* parity is
                           explicitly a non-goal; per-key results are
                           identical)
partition sort (R1)        ``sortWithinPartitions(key, value)``
reducer pipe (R2)          ``JavaRDD.pipe`` over the sorted partitions
one blob per reducer       ``saveAsTextFile``: one ``part-NNNNN`` file
                           per reducer, empty ones included; reducer
                           lines are written as they are
infinite task retry (D1)   ``spark.task.maxFailures`` + lineage
checkpoint/resume (F2)     lineage recompute; no state to persist
=========================  =========================================

Scripts run as ``python3 <script>`` and inherit the executor's
environment, with ``PYTHONIOENCODING=utf-8`` and ``spec.extra_env`` on
top, as under Hadoop Streaming.

Scale posture: the pipe path streams partition → child-process stdin →
stdout without materializing a partition in memory; the shuffle is
Spark's spillable sort shuffle (the reference's whole-partition
in-memory ``sort.Strings`` was its 2 GiB ceiling — SURVEY.md §4.5).
Native-callable jobs (Python functions instead of scripts) skip the
child process entirely.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class MapReduceSpec:
    """Job spec mirroring the reference's MapReduceSpec
    (cmd/master/master_utils.go:21-30), minus cloud plumbing.

    ``mapper`` / ``reducer`` may each be:
      * a path to an executable Python script (Hadoop-Streaming
        contract: lines on stdin → lines on stdout), or
      * a Python callable (native fast path; see ``submit_job``).
    """
    input_paths: tuple[str, ...]
    mapper: str | Callable[[str], Iterable[tuple[str, str]]]
    reducer: str | Callable[[str, list[str]], Iterable[tuple[str, str]]]
    num_map_tasks: int = 8
    num_reduce_tasks: int = 4
    job_id: int = 0
    user_id: str = "local"
    key_sep: str = "\t"
    extra_env: dict[str, str] = field(default_factory=dict)
    # Cluster deployments MUST set an executor-reachable URI (hdfs://…,
    # s3a://…, a shared file:// mount). None = driver-local tmp, which is
    # only correct on local[*] — submit_job refuses it on a cluster.
    output_dir: str | None = None


def _pipe(jrdd, spark: SparkSession, script: str, spec: MapReduceSpec):
    """``JavaRDD.pipe`` through ``python3 <script>``: Spark's ``PipedRDD``
    streams each partition through one child process and fails the task
    on a non-zero exit. The reference executes ``python3 -c <source>``;
    invoking the script file is the same stdin/stdout contract. The child
    inherits the executor's environment with ``spec.extra_env`` on top.
    The charset is explicit because the JVM's default one need not be
    UTF-8 (it is ASCII under a C locale)."""
    jvm = spark._jvm
    cmd = jvm.java.util.ArrayList()
    cmd.add("python3")
    cmd.add(script)
    env = jvm.java.util.HashMap()
    for k, v in {"PYTHONIOENCODING": "utf-8", **spec.extra_env}.items():
        env.put(k, v)
    return jrdd.pipe(cmd, env, False, 8192, "UTF-8")


def _run_pipe_job(spark: SparkSession, spec: MapReduceSpec):
    """Returns the ``JavaRDD[String]`` of reducer output lines, built from
    JVM pieces only, so no line passes through a Python worker.

    The shuffle keys each mapper line by its prefix before the first
    separator (the reference's only structural convention,
    cmd/azure/azure_util.go:241), hash-partitions on that key and sorts
    each reduce partition by ``(key, line)``. Spark orders strings by
    their UTF-8 bytes, i.e. by code point. ``repartition`` with an
    explicit count is never coalesced by AQE, so every reducer gets a
    partition, even an empty one. Under AQE the map stage runs when this
    RDD is built, not at the first action."""
    from pyspark.sql import functions as F

    lines = spark._jsc.textFile(",".join(spec.input_paths),
                                spec.num_map_tasks)
    mapped = _lines_df(spark, _pipe(lines, spark, spec.mapper, spec))
    key = F.substring_index("value", spec.key_sep, 1)
    sorted_df = (mapped.repartition(spec.num_reduce_tasks, key)
                       .sortWithinPartitions(key, "value"))
    sorted_lines = getattr(sorted_df._jdf, "as")(_string_encoder(spark))
    return _pipe(sorted_lines.javaRDD(), spark, spec.reducer, spec)


def _string_encoder(spark: SparkSession):
    return spark._jvm.org.apache.spark.sql.Encoders.STRING()


def _lines_df(spark: SparkSession, jrdd) -> DataFrame:
    """A ``JavaRDD[String]`` as a one-column ``value`` DataFrame, without
    a Python worker."""
    ds = spark._jsparkSession.createDataset(jrdd.rdd(),
                                            _string_encoder(spark))
    return DataFrame(ds.toDF(), spark)


def _run_native_job(spark: SparkSession, spec: MapReduceSpec):
    """Native path: mapper/reducer are Python callables — no child
    process, no line (re-)parsing anywhere. mapper(line) → iterable of
    (k, v); reducer(key, [values]) → iterable of (k, v). Returns the
    (key, value) pair RDD: keys containing key_sep are perfectly legal
    here (the no-separator-in-key invariant binds only the pipe path,
    whose lines genuinely are text)."""
    mapper, reducer = spec.mapper, spec.reducer
    sc = spark.sparkContext
    lines = sc.textFile(",".join(spec.input_paths),
                        minPartitions=spec.num_map_tasks)
    mapped = lines.flatMap(
        lambda ln: ((str(k), str(v)) for k, v in mapper(ln)))
    # Moving this path to mapInArrow plus a DataFrame shuffle was tried
    # and measured slower: 3.09 vs 2.52 CPU s per word-count job on the
    # benchmark's 1 MB corpus (4 cores). The pickled RDD shuffle stays.
    # Both sides then paid ≈0.2 CPU s per Python task to re-read
    # pyspark.zip, which `worker_daemon` now avoids; not re-measured.
    parts = mapped.repartitionAndSortWithinPartitions(
        numPartitions=spec.num_reduce_tasks)

    def reduce_partition(it: Iterator[tuple[str, str]]):
        cur_key, vals = None, []
        for k, v in it:
            if k != cur_key:
                if cur_key is not None:
                    yield from reducer(cur_key, vals)
                cur_key, vals = k, []
            vals.append(v)
        if cur_key is not None:
            yield from reducer(cur_key, vals)

    return (parts.mapPartitions(reduce_partition)
                 .map(lambda kv: (str(kv[0]), str(kv[1]))))


def _default_local_dir(spark: SparkSession, kind: str, suffix: str = "") -> str:
    """Driver-local tmp dir — valid ONLY on local[*], where driver and
    executors share one filesystem. On a cluster a driver-local path is
    silently wrong (executors write to their own disks), so refuse."""
    master = spark.sparkContext.master
    if not master.startswith("local"):
        raise ValueError(
            f"no {kind} URI given and master is {master!r}: on a cluster "
            f"pass an executor-reachable URI (hdfs://…, s3a://…, or a "
            f"shared file:// mount); driver-local tmp is only correct on "
            f"local[*]")
    d = tempfile.mkdtemp(prefix=f"mr_{kind}_")
    return os.path.join(d, suffix) if suffix else d


def _hadoop_path(spark: SparkSession, uri: str):
    """``(FileSystem, Path)`` for any Hadoop-filesystem URI."""
    path = spark._jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _list_part_files(spark: SparkSession, output_dir: str) -> list[str]:
    """Path-scheme-aware listing of the job's part files via the Hadoop
    FileSystem API — works for file:, hdfs:, s3a:, … (os.listdir only
    ever worked for driver-local paths). Local files come back as plain
    paths (open()-able); remote ones as full URIs."""
    fs, path = _hadoop_path(spark, output_dir)
    out = []
    for st in fs.listStatus(path):
        p = st.getPath()
        if p.getName().startswith("part-"):
            uri = p.toUri()
            local = uri.getScheme() in (None, "file")
            out.append(uri.getPath() if local else p.toString())
    return sorted(out)


def submit_job(spark: SparkSession, spec: MapReduceSpec,
               output_dir: str | None = None) -> list[str]:
    """Run a MapReduce job end-to-end and return output file paths —
    the reference's ``MapReduce(mrSpec) ([]string, error)`` entry point
    (cmd/master/mr_master.go:26-100) + HTTP handler response shape
    (cmd/master/http_server.go:52-57).

    ``output_dir`` (argument, else ``spec.output_dir``) may be any
    Hadoop-filesystem URI; the delete of an earlier output, the text
    write and the part-file listing are all scheme-aware. With neither
    set, a driver-local tmp dir is used — allowed only on local[*]
    masters (see ``_default_local_dir``).

    Each reducer writes exactly one ``part-NNNNN`` file, empty or not.
    Pipe jobs write the reducer's lines as they are; native jobs write
    ``key + key_sep + value``."""
    if output_dir is None:
        output_dir = spec.output_dir
    if output_dir is None:
        output_dir = _default_local_dir(
            spark, "out", f"{spec.user_id}_j{spec.job_id}")
    if _is_native(spec):
        sep = spec.key_sep
        lines = _run_native_job(spark, spec).map(
            lambda kv: kv[0] + sep + kv[1])
    else:
        lines = _run_pipe_job(spark, spec)
    fs, path = _hadoop_path(spark, output_dir)
    fs.delete(path, True)  # a rerun replaces the previous output
    # PySpark RDD (native) or py4j JavaRDD (pipe): both save the same way
    lines.saveAsTextFile(output_dir)
    return _list_part_files(spark, output_dir)


def _is_native(spec: MapReduceSpec) -> bool:
    if callable(spec.mapper) != callable(spec.reducer):
        raise TypeError("mapper and reducer must both be scripts or "
                        "both be callables")
    return callable(spec.mapper)


def result_df(spark: SparkSession, spec: MapReduceSpec) -> DataFrame:
    """The job's output as a 2-column DataFrame
    ``(key string, value string)`` — the engine-native view of the same
    computation. Native jobs are lazy; for pipe jobs under AQE the map
    stage runs when this is called, the reduce stage at the first
    action. A pipe output line without ``key_sep`` becomes
    ``(line, "")``."""
    if _is_native(spec):
        # native path: (k, v) tuples end-to-end — never serialized to a
        # line, so a key containing key_sep cannot corrupt the boundary
        return spark.createDataFrame(_run_native_job(spark, spec),
                                     schema="key string, value string")
    from pyspark.sql import functions as F

    sep = spec.key_sep
    lines = _lines_df(spark, _run_pipe_job(spark, spec))
    pos = F.instr("value", sep)
    return lines.select(
        F.substring_index("value", sep, 1).alias("key"),
        F.when(pos > 0, F.col("value").substr(pos + len(sep),
                                              F.length("value")))
         .otherwise("").alias("value"))


# --- word count via the pipe path (the reference's validated workload) ----

_SCRIPTS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def wordcount_spec(input_paths: Iterable[str],
                   num_map_tasks: int = 8,
                   num_reduce_tasks: int = 4) -> MapReduceSpec:
    """The demo job (client/mr_spec.json): word count with the
    reference's tokenizer, as external pipe scripts."""
    return MapReduceSpec(
        input_paths=tuple(input_paths),
        mapper=os.path.join(_SCRIPTS_DIR, "wordcount_mapper.py"),
        reducer=os.path.join(_SCRIPTS_DIR, "wordcount_reducer.py"),
        num_map_tasks=num_map_tasks,
        num_reduce_tasks=num_reduce_tasks)


def pipe_word_count(spark: SparkSession, sf_dir: str,
                    staging_dir: str | None = None) -> DataFrame:
    """Word count over the documents corpus executed through the FULL
    Hadoop-Streaming pipe path (textFile → pipe mapper → hash-partition
    + sort → pipe reducer), returned as ``(word, cnt)``.

    The documents table is exported once per call to a text staging dir
    (one line per row; tokens never span lines, so line-splitting is
    count-preserving for this tokenizer). ``staging_dir`` may be any
    Hadoop-filesystem URI (both the export write and the textFile read
    are scheme-aware); on a cluster it is REQUIRED — the driver-local
    tmp default is refused off local[*].
    """
    from pyspark.sql import functions as F
    from cloud_native_mapreduce_spark.sources.tables import load_table

    stage = staging_dir or _default_local_dir(spark, "in")
    docs = load_table(spark, sf_dir, "documents")
    (docs.select(F.coalesce(F.col("text"), F.lit("")).alias("value"))
         .write.mode("overwrite").text(stage))
    out = result_df(spark, wordcount_spec([stage]))
    return out.select(F.col("key").alias("word"),
                      F.col("value").cast("bigint").alias("cnt"))
