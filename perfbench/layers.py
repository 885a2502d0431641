"""Per-layer metrics from the spans of one traced pass.

Layers, named after the engine's modules:

* ``session`` — ``get_spark`` and what precedes the first query;
* ``registry`` — the ``QuerySpec.builder`` call (operators, dedup and
  similarity code, with any eager jobs they fire);
* ``catalyst`` — ``queryExecution().executedPlan()`` on the final plan;
* ``exec`` — the final execution: the ``noop`` write of a query, or
  ``mapreduce.submit_job`` with its text write;
* ``shuffle`` — shuffle and spill bytes, split into builder and exec parts;
* ``mapreduce`` — ``submit_job`` timings and stage run time;
* ``pyworker`` — executor run time minus JVM CPU time on the stages of
  operations whose work runs in Python workers (``PYWORKER_OPS``).

Every metric is reported on every workload; a layer a workload does not
reach reports 0.
"""

from __future__ import annotations

import statistics

from spans import COUNTERS, self_times
from workloads import ITERATIVE_GRAPH, PYWORKER_OPS

_EXEC_SPANS = ("exec.noop", "mapreduce.submit_job")

UNITS = {
    "session.import_s": "s", "session.jvm_start_s": "s",
    "registry.builder_s": "s", "registry.builder_jobs": "count",
    "registry.builder_stages": "count", "registry.builder_tasks": "count",
    "registry.builder_s_per_job": "s/job",
    **{f"registry.{q}.{m}": u for q in ITERATIVE_GRAPH
       for m, u in (("builder_jobs", "count"), ("builder_s", "s"))},
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.plan_chars": "chars",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    **{f"shuffle.{k}.{part}": "bytes"
       for k in ("read_bytes", "write_bytes", "spill_bytes")
       for part in ("builder", "exec")},
    "mapreduce.pipe_job_s": "s", "mapreduce.native_job_s": "s",
    "mapreduce.pipe_mb_per_s": "MB/s", "mapreduce.native_mb_per_s": "MB/s",
    "mapreduce.map_stage_run_s": "s", "mapreduce.reduce_stage_run_s": "s",
    "mapreduce.output_bytes": "bytes",
    "pyworker.wait_s": "s",
    "trace.overhead_frac": "fraction",
}


def of_pass(spans: list[dict], input_bytes: int) -> dict[str, float]:
    """Per-layer values of one traced pass (every span of the pass)."""
    m = dict.fromkeys(UNITS, 0.0)
    selft = self_times(spans)
    no_counts = dict.fromkeys(COUNTERS, 0)
    for s in spans:
        # a span cut short by a failing call lacks what follows the call
        name, op = s["name"], s["op"]
        c, t = s.get("counts", no_counts), selft[s["id"]]
        if name == "registry.builder":
            m["registry.builder_s"] += t
            m["registry.builder_jobs"] += c["jobs"]
            m["registry.builder_stages"] += c["stages"]
            m["registry.builder_tasks"] += c["tasks"]
            if op in ITERATIVE_GRAPH:
                m[f"registry.{op}.builder_jobs"] += c["jobs"]
                m[f"registry.{op}.builder_s"] += t
            _add_shuffle(m, c, "builder")
        elif name == "catalyst.plan":
            for phase in ("analysis", "optimization", "planning"):
                m[f"catalyst.{phase}_ms"] += s.get("phases_ms", {}).get(
                    phase, 0)
            m["catalyst.plan_chars"] += s.get("plan_chars", 0)
        elif name in _EXEC_SPANS:
            m["exec.s"] += t
            m["exec.jobs"] += c["jobs"]
            m["exec.stages"] += c["stages"]
            m["exec.tasks"] += c["tasks"]
            m["exec.executor_run_s"] += c["run_ms"] / 1e3
            m["exec.executor_cpu_s"] += c["cpu_ns"] / 1e9
            m["exec.gc_s"] += c["gc_ms"] / 1e3
            _add_shuffle(m, c, "exec")
        if name == "mapreduce.submit_job":
            kind = "pipe" if op == "wordcount_pipe" else "native"
            m[f"mapreduce.{kind}_job_s"] += t
            m[f"mapreduce.{kind}_mb_per_s"] += input_bytes / 1e6 / t
            m["mapreduce.map_stage_run_s"] += c["map_run_ms"] / 1e3
            m["mapreduce.reduce_stage_run_s"] += c["result_run_ms"] / 1e3
            m["mapreduce.output_bytes"] += s.get("output_bytes", 0)
        if op in PYWORKER_OPS:
            m["pyworker.wait_s"] += (c["run_ms"] - c["cpu_ns"] / 1e6) / 1e3
    if m["registry.builder_jobs"]:
        m["registry.builder_s_per_job"] = (m["registry.builder_s"]
                                           / m["registry.builder_jobs"])
    return m


def _add_shuffle(m: dict, counts: dict, part: str) -> None:
    m[f"shuffle.read_bytes.{part}"] += counts["shuffle_read_bytes"]
    m[f"shuffle.write_bytes.{part}"] += counts["shuffle_write_bytes"]
    m[f"shuffle.spill_bytes.{part}"] += counts["spill_bytes"]


def per_layer(samples: list[dict[str, float]], session: dict[str, float],
              overhead_frac: float) -> dict[str, tuple[float, str]]:
    """Median of each metric over the traced passes, with the set-up split
    and the tracing overhead; ``{name: (value, unit)}``."""
    out = {name: (statistics.median(s[name] for s in samples), unit)
           for name, unit in UNITS.items()}
    for part, value in session.items():
        out[f"session.{part}"] = (value, "s")
    out["trace.overhead_frac"] = (overhead_frac, "fraction")
    return out
