"""MapReduce parity layer: the Hadoop-Streaming pipe contract end-to-end.

Mirrors the reference's golden-output harness (SURVEY.md §5): the pipe
job's output must equal an independently computed oracle, order-
insensitively, and per-reducer output files must exist.
"""

from __future__ import annotations

import collections
import json
import os
import re
import subprocess
import sys
import textwrap

import pytest
from py4j.protocol import Py4JJavaError

from cloud_native_mapreduce_spark import mapreduce as MR

TOKEN = re.compile(r"[a-z](?:[a-z'‘’]*[a-z])?")

CORPUS = [
    "The quick brown fox jumps over the lazy dog",
    "don’t stop believing — hold on to that feelin'",
    "It was the best of times, it was the worst of times",
    "empty 123 456 !!!",
    "",
    "the THE The tHe",
]


def _golden_counts(lines):
    c = collections.Counter()
    for ln in lines:
        c.update(TOKEN.findall(ln.lower()))
    return dict(c)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    # two files so the job spans file boundaries like the reference's
    # multi-file shards
    (d / "a.txt").write_text("\n".join(CORPUS[:3]), encoding="utf-8")
    (d / "b.txt").write_text("\n".join(CORPUS[3:]), encoding="utf-8")
    return str(d)


def test_pipe_wordcount_matches_golden(spark, corpus_dir):
    spec = MR.wordcount_spec([corpus_dir], num_map_tasks=3,
                             num_reduce_tasks=3)
    got = {r["key"]: int(r["value"])
           for r in MR.result_df(spark, spec).collect()}
    assert got == _golden_counts(CORPUS)


def test_submit_job_writes_per_reducer_files(spark, corpus_dir, tmp_path):
    spec = MR.wordcount_spec([corpus_dir], num_map_tasks=2,
                             num_reduce_tasks=3)
    out_dir = str(tmp_path / "out")
    files = MR.submit_job(spark, spec, output_dir=out_dir)
    # one part file per reduce partition (reference: one blob per reducer)
    assert len(files) == 3
    lines = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines += [ln.rstrip("\n") for ln in fh if ln.strip()]
    got = {}
    for ln in lines:
        k, _, v = ln.partition("\t")
        assert k not in got, "key must appear in exactly one reducer file"
        got[k] = int(v)
    assert got == _golden_counts(CORPUS)


def test_native_callable_job(spark, corpus_dir):
    def mapper(line):
        for tok in TOKEN.findall(line.lower()):
            yield tok, 1

    def reducer(key, values):
        yield key, sum(int(v) for v in values)

    spec = MR.MapReduceSpec(input_paths=(corpus_dir,), mapper=mapper,
                            reducer=reducer, num_map_tasks=2,
                            num_reduce_tasks=2)
    got = {r["key"]: int(r["value"])
           for r in MR.result_df(spark, spec).collect()}
    assert got == _golden_counts(CORPUS)


def test_submit_job_through_explicit_file_uri(spark, corpus_dir, tmp_path):
    """Cluster-portability contract: output_dir is a Hadoop-FS URI, the
    part listing goes through the scheme-aware FileSystem API (never
    os.listdir), and spec.output_dir works as the URI carrier."""
    out_dir = "file://" + str(tmp_path / "uri_out")
    spec = MR.MapReduceSpec(
        input_paths=(corpus_dir,),
        mapper=MR.wordcount_spec([corpus_dir]).mapper,
        reducer=MR.wordcount_spec([corpus_dir]).reducer,
        num_map_tasks=2, num_reduce_tasks=2, output_dir=out_dir)
    files = MR.submit_job(spark, spec)
    assert len(files) == 2
    got = {}
    for f in files:  # file: URIs come back as plain open()-able paths
        with open(f, encoding="utf-8") as fh:
            for ln in fh:
                if ln.strip():
                    k, _, v = ln.rstrip("\n").partition("\t")
                    got[k] = int(v)
    assert got == _golden_counts(CORPUS)


def test_native_job_keys_may_contain_separator(spark, corpus_dir):
    """Native path carries (k, v) tuples end-to-end — a key containing
    key_sep must survive unmangled (the no-separator-in-key invariant
    binds only the pipe path's text lines)."""
    def mapper(line):
        if line.strip():
            yield "a\tweird\tkey", line

    def reducer(key, values):
        yield key, len(values)

    spec = MR.MapReduceSpec(input_paths=(corpus_dir,), mapper=mapper,
                            reducer=reducer, num_reduce_tasks=2)
    rows = MR.result_df(spark, spec).collect()
    assert len(rows) == 1
    assert rows[0]["key"] == "a\tweird\tkey"
    assert int(rows[0]["value"]) == sum(1 for ln in CORPUS if ln.strip())


def test_mixed_spec_rejected(spark, corpus_dir):
    spec = MR.MapReduceSpec(input_paths=(corpus_dir,),
                            mapper=lambda ln: [], reducer="script.py")
    with pytest.raises(TypeError):
        MR.result_df(spark, spec)


def test_reducer_sees_sorted_contiguous_keys(spark, corpus_dir):
    """The R1 invariant: within a reduce partition, lines arrive sorted,
    so every key's occurrences are contiguous (what itertools.groupby-
    style reducers depend on)."""
    def mapper(line):
        for tok in TOKEN.findall(line.lower()):
            yield tok, 1

    seen_orders = []

    def reducer(key, values):
        # native path hands full groups — contiguity is structural.
        yield key, len(values)

    spec = MR.MapReduceSpec(input_paths=(corpus_dir,), mapper=mapper,
                            reducer=reducer, num_reduce_tasks=2)
    df = MR.result_df(spark, spec)
    rows = df.collect()
    golden = _golden_counts(CORPUS)
    assert {r["key"]: int(r["value"]) for r in rows} == golden
    assert seen_orders == []  # structural check only


def test_every_reducer_writes_a_part_file(spark, tmp_path):
    """Reference: one output blob per reducer, even when a reducer gets
    no keys."""
    d = tmp_path / "one_word"
    d.mkdir()
    (d / "in.txt").write_text("solo\n", encoding="utf-8")
    spec = MR.wordcount_spec([str(d)], num_map_tasks=1, num_reduce_tasks=4)
    files = MR.submit_job(spark, spec, output_dir=str(tmp_path / "out"))
    assert [os.path.basename(f) for f in files] == [
        f"part-{i:05d}" for i in range(4)]
    texts = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            texts.append(fh.read())
    assert sorted(texts) == ["", "", "", "solo\t1\n"]


def _script(tmp_path, name, body):
    path = tmp_path / name
    path.write_text(textwrap.dedent(body), encoding="utf-8")
    return str(path)


def test_pipe_reducer_sees_sorted_lines(spark, corpus_dir, tmp_path):
    """The R1 invariant on the pipe path: the reducer script exits 7 (and
    fails the job) if a stdin line sorts below the one before it."""
    reducer = _script(tmp_path, "check_sorted.py", """
        import sys
        prev = None
        for line in sys.stdin:
            if prev is not None and line < prev:
                sys.exit(7)
            prev = line
            sys.stdout.write(line)
        """)
    spec = MR.MapReduceSpec(
        input_paths=(corpus_dir,),
        mapper=MR.wordcount_spec([corpus_dir]).mapper, reducer=reducer,
        num_map_tasks=3, num_reduce_tasks=2)
    got = collections.Counter(
        r["key"] for r in MR.result_df(spark, spec).collect())
    assert dict(got) == _golden_counts(CORPUS)


def test_pipe_scripts_get_extra_env(spark, corpus_dir, tmp_path):
    reducer = _script(tmp_path, "echo_env.py", """
        import os, sys
        n = sum(1 for _ in sys.stdin)
        print(f"{os.environ['MR_TAG']}\t{n}")
        """)
    spec = MR.MapReduceSpec(
        input_paths=(corpus_dir,),
        mapper=MR.wordcount_spec([corpus_dir]).mapper, reducer=reducer,
        num_map_tasks=2, num_reduce_tasks=1,
        extra_env={"MR_TAG": "tagged"})
    rows = MR.result_df(spark, spec).collect()
    assert [(r["key"], int(r["value"])) for r in rows] == [
        ("tagged", sum(_golden_counts(CORPUS).values()))]


def test_failing_mapper_fails_the_job(spark, corpus_dir, tmp_path):
    """A non-zero script exit fails the task, and so the job: no output
    from a half-run mapper is ever reduced."""
    mapper = _script(tmp_path, "exit3.py", """
        import sys
        sys.stdin.read()
        sys.exit(3)
        """)
    spec = MR.MapReduceSpec(
        input_paths=(corpus_dir,), mapper=mapper,
        reducer=MR.wordcount_spec([corpus_dir]).reducer,
        num_map_tasks=2, num_reduce_tasks=2)
    with pytest.raises(Py4JJavaError, match="exited with status 3"):
        MR.submit_job(spark, spec, output_dir=str(tmp_path / "out"))


_FOREIGN_CWD_JOB = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, {repo!r})
    from cloud_native_mapreduce_spark import mapreduce as MR
    from cloud_native_mapreduce_spark.session import get_spark

    spark = get_spark("foreign-cwd", master="local[2]",
                      extra_conf={{"spark.ui.enabled": "false"}})
    spec = MR.wordcount_spec([{corpus!r}], num_map_tasks=2,
                             num_reduce_tasks=2)
    got = {{r["key"]: int(r["value"])
           for r in MR.result_df(spark, spec).collect()}}
    print("RESULT", json.dumps(got, sort_keys=True))
    spark.stop()
""")


def _run_from_foreign_cwd(script: str, cwd):
    """Run `script` in a fresh interpreter from `cwd` with PYTHONPATH
    unset; the JSON payload of its ``RESULT`` line."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", script], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(ln for ln in proc.stdout.splitlines()
                if ln.startswith("RESULT "))
    return json.loads(line[len("RESULT "):])


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pipe_job_runs_from_a_foreign_cwd(corpus_dir, tmp_path):
    """Launched outside the repository with no PYTHONPATH, the pipe job
    runs its scripts from the JVM and starts no Python worker."""
    got = _run_from_foreign_cwd(
        _FOREIGN_CWD_JOB.format(repo=_REPO, corpus=corpus_dir), tmp_path)
    assert got == _golden_counts(CORPUS)


_FOREIGN_CWD_WORKERS = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, {repo!r})
    from cloud_native_mapreduce_spark import mapreduce as MR
    from cloud_native_mapreduce_spark.session import get_spark

    def mapper(line):
        # imported on the worker, so the worker must find the engine
        from cloud_native_mapreduce_spark.functions.text import WORD_RE
        import re
        for tok in re.findall(WORD_RE, line.lower()):
            yield tok, 1

    def reducer(key, values):
        yield key, sum(int(v) for v in values)

    spark = get_spark("foreign-cwd-workers", master="local[2]",
                      extra_conf={{"spark.ui.enabled": "false",
                                  "spark.sql.shuffle.partitions": "4"}})
    spec = MR.MapReduceSpec(input_paths=({corpus!r},), mapper=mapper,
                            reducer=reducer, num_map_tasks=2,
                            num_reduce_tasks=2)
    counts = {{}}
    for f in MR.submit_job(spark, spec, output_dir={out!r}):
        with open(f, encoding="utf-8") as fh:
            for ln in fh:
                k, _, v = ln.rstrip("\\n").partition("\\t")
                counts[k] = int(v)
    print("RESULT", json.dumps({{"counts": counts}}))
    spark.stop()
""")


def test_python_workers_import_the_engine_from_a_foreign_cwd(
        corpus_dir, tmp_path):
    """Launched outside the repository with no PYTHONPATH, a job whose
    Python workers import this package still runs: a native word count
    whose mapper imports the engine's tokenizer. `get_spark` puts the
    package's directory on the workers' path on local masters."""
    got = _run_from_foreign_cwd(_FOREIGN_CWD_WORKERS.format(
        repo=_REPO, corpus=corpus_dir, out=str(tmp_path / "out")),
        tmp_path)
    assert got["counts"] == _golden_counts(CORPUS)


_BARE_SESSION_CODEC = textwrap.dedent("""
    import json, os, sys
    sys.path[:0] = [{repo!r}, os.path.join({repo!r}, "tools")]
    import duckdb
    from pyspark.sql import SparkSession
    from check_oracle import _rows_multiset
    from cloud_native_mapreduce_spark.registry import QUERIES
    from cloud_native_mapreduce_spark.sources.tables import TABLES

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {{t}} AS SELECT * FROM "
                    f"'{{os.path.join({sf!r}, t + '.parquet')}}'")
    q = QUERIES["bmp_decode_stats"]
    got = q.builder(spark, {sf!r}).toPandas()
    want = con.execute(q.oracle).df()
    cols = sorted(got.columns)
    match = (cols == sorted(want.columns)
             and _rows_multiset(got, cols) == _rows_multiset(want, cols))
    print("RESULT", json.dumps({{"rows": len(got), "match": match}}))
    spark.stop()
""")


def test_codec_query_runs_in_a_bare_session_from_a_foreign_cwd(
        sf_dir, tmp_path):
    """A session built with a bare `SparkSession.builder` (as a caller
    of `__spark_entry__` hands over) runs a media-codec query from
    outside the repository with no PYTHONPATH: its workers never import
    the engine, because the codec package is pickled by value."""
    got = _run_from_foreign_cwd(
        _BARE_SESSION_CODEC.format(repo=_REPO, sf=sf_dir), tmp_path)
    assert got["rows"] > 0 and got["match"]
