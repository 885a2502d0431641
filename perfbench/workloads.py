"""The benchmark's workloads: which operations a pass runs, how each calls
the engine, and how its output is checked.

An operation is one query (``QuerySpec.builder`` → the returned
DataFrame's ``queryExecution().executedPlan()`` → its ``noop`` write) or
one MapReduce job (``mapreduce.submit_job``). Why each workload was chosen
is recorded in README.md next to this file.
"""

from __future__ import annotations

import functools
import os
import re
from collections import Counter

#: Nearly all work happens in the builder, as per-round eager jobs.
ITERATIVE_GRAPH = ("dag_layers",)

#: One-plan queries: the builder fires only a schema or broadcast job, then
#: Catalyst plans and executes one final plan. ``single_pass_mix`` also runs
#: the paper's word count through ``submit_job``, once with pipe scripts and
#: once with Python callables: one RDD job each, no builder loop either.
SINGLE_PASS_MIX = (
    "pricing_summary",   # TPC-H style aggregate
)

#: Operations whose executor time is spent mostly in Python workers.
PYWORKER_OPS = frozenset({"wordcount_pipe", "wordcount_native"})

#: Per-workload inputs: table scale (``lineitem`` = 6e6 x sf rows) and
#: corpus shape (files x bytes per file). The tables come from one fixed
#: seed — iteration counts of the graph queries depend on the graph, so a
#: per-run graph would make the work itself vary — and ``--seed`` shuffles
#: the operation order of each pass and draws the corpus.
TABLE_SF = {"iterative_graph": 0.001, "single_pass_mix": 0.01}
TABLE_SEED = 42
CORPUS_FILES, CORPUS_FILE_BYTES = 4, 250_000

WORKLOADS = ("iterative_graph", "single_pass_mix")


@functools.cache
def _token_re():
    """The engine's word tokenizer, the one ``scripts/wordcount_mapper.py``
    applies (imported lazily: set-up times the engine's import)."""
    from cloud_native_mapreduce_spark.functions.text import WORD_RE

    return re.compile(WORD_RE)


def native_mapper(line: str):
    for tok in _token_re().findall(line.lower()):
        yield tok, "1"


def native_reducer(key: str, values: list[str]):
    yield key, str(sum(int(v) for v in values))


class QueryOp:
    def __init__(self, name: str, spec, data_dir: str):
        self.name, self._spec, self._data_dir = name, spec, data_dir

    def run(self, spark, tracer):
        with tracer.span("op", op=self.name):
            with tracer.span("registry.builder"):
                df = self._spec.builder(spark, self._data_dir)
            with tracer.span("catalyst.plan") as rec:
                qe = df._jdf.queryExecution()
                plan = qe.executedPlan()
            if rec is not None:
                # read before the write: the write's own QueryExecution
                # shares this tracker, and a repeated phase is merged into
                # one interval from its first start to its last end
                rec["phases_ms"] = _phases_ms(qe)
                # numbers in a plan are mostly expression and plan ids,
                # which depend on everything planned before; count them
                # as one char
                rec["plan_chars"] = len(re.sub(r"\d+", "0",
                                               plan.toString()))
            with tracer.span("exec.noop"):
                df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, df, oracle_db) -> str | None:
        """None when the result matches the DuckDB oracle, else why not."""
        from check_oracle import _rows_multiset

        got = df.toPandas()
        if self._spec.oracle is None:
            return None
        want = oracle_db.execute(self._spec.oracle).df()
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            return f"columns {cols} != {sorted(want.columns)}"
        if _rows_multiset(got, cols) != _rows_multiset(want, cols):
            return f"rows differ ({len(got)} vs {len(want)} rows)"
        return None


class MapReduceOp:
    def __init__(self, name: str, spec, out_dir: str, expected: Counter):
        self.name, self._spec = name, spec
        self._out_dir, self._expected = out_dir, expected

    def run(self, spark, tracer):
        from cloud_native_mapreduce_spark import mapreduce as MR

        with tracer.span("op", op=self.name):
            with tracer.span("mapreduce.submit_job") as rec:
                files = MR.submit_job(spark, self._spec, self._out_dir)
        if rec is not None:
            rec["output_bytes"] = sum(os.path.getsize(f) for f in files)
        return files

    def check(self, part_files, oracle_db) -> str | None:
        got = Counter()
        for path in part_files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    word, _, cnt = line.rstrip("\n").partition("\t")
                    got[word] += int(cnt)
        if got != self._expected:
            diff = (got - self._expected) + (self._expected - got)
            return f"{len(diff)} words differ"
        return None


def _phases_ms(qe) -> dict[str, int]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


def make_ops(workload: str, data_dir: str, out_dir: str, seed: int):
    """Generate the workload's inputs under ``data_dir`` and return
    ``(ops, input_bytes)``: the bytes of the corpus where the workload has
    one (the MapReduce throughput divides by it), else of the tables. Fails
    loudly on a query name the registry does not have."""
    import datagen
    from cloud_native_mapreduce_spark.registry import QUERIES

    names = (ITERATIVE_GRAPH if workload == "iterative_graph"
             else SINGLE_PASS_MIX)
    missing = [n for n in names if n not in QUERIES]
    if missing:
        raise SystemExit(f"queries missing from the registry: {missing}")
    datagen.write_tables(data_dir, TABLE_SF[workload], TABLE_SEED)
    ops = [QueryOp(n, QUERIES[n], data_dir) for n in names]
    if workload == "iterative_graph":
        return ops, _dir_bytes(data_dir)

    from cloud_native_mapreduce_spark import mapreduce as MR

    corpus_dir = os.path.join(data_dir, "corpus")
    paths = datagen.write_corpus(corpus_dir, seed, CORPUS_FILES,
                                 CORPUS_FILE_BYTES)
    token = _token_re()
    expected = Counter()
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            expected.update(token.findall(fh.read().lower()))
    pipe = MR.wordcount_spec(paths, num_map_tasks=4, num_reduce_tasks=2)
    native = MR.MapReduceSpec(input_paths=tuple(paths),
                              mapper=native_mapper, reducer=native_reducer,
                              num_map_tasks=4, num_reduce_tasks=2)
    ops += [MapReduceOp("wordcount_pipe", pipe,
                        os.path.join(out_dir, "pipe"), expected),
            MapReduceOp("wordcount_native", native,
                        os.path.join(out_dir, "native"), expected)]
    return ops, _dir_bytes(corpus_dir)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path))
