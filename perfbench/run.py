"""Benchmark of the engine: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload iterative_graph --seed 1 \\
        --seconds 6 --trace 0

Run from the repository root. A run starts a Spark session from a fresh
process three times (twice in child processes that stop right after, then
in its own process), makes the workload's inputs, runs one cold pass over
the workload's operations and one unmeasured warm pass, then
measured warm passes for about ``--seconds`` seconds; every pass runs the
operations in an order drawn from ``--seed``. The cold pass also checks
every output: queries against their DuckDB oracle, MapReduce jobs against
a word ``Counter`` over the generated corpus; the check sits outside the
timers.
Each operation is timed in wall-clock and in CPU seconds. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` traced warm passes are interleaved with the untraced ones,
and it carries the per-layer metrics of the traced ones. README.md
describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: JVM heap: well below physical RAM, enough for every workload.
DRIVER_MEM = "1g"
#: Set-ups per run, each from a fresh process; ``setup_s`` is their median.
SETUPS = 3
#: Unmeasured warm passes after the cold pass: the first warm pass still
#: spends about a third more CPU than the next ones, most of it in the
#: JVM's JIT compiler threads.
WARMUP_PASSES = 1
#: Measured warm passes per run, at least, whatever ``--seconds`` says, so
#: that each operation's time is a median of three or more.
MIN_WARM_PASSES = 3
#: Nominal warm-pass length of each workload on a 4-core host. The number
#: of measured passes is ``--seconds`` divided by it, rounded and fixed
#: before the run, so that every run measures the same passes.
PASS_SECONDS = {"iterative_graph": 2.0, "single_pass_mix": 2.5}
SESSION_CONF = {"spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false"}


def pin_environment(work: str) -> dict[str, str]:
    """Launch settings the engine reads from the environment, pinned so a
    run does not depend on the caller's shell; every write lands in
    ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # executor Python workers import the engine and workloads.py
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        # keep JVM scratch (hsperfdata, java.io.tmpdir) inside work/
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    os.chdir(work)  # spark-warehouse/ and metastore_db/ land here
    return pinned


def setup():
    """Import the engine and start the JVM. Returns the session, the
    ``(start, end)`` of each of the two steps and their CPU seconds."""
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    from cloud_native_mapreduce_spark import mapreduce  # noqa: F401
    from cloud_native_mapreduce_spark.registry import QUERIES  # noqa: F401
    from cloud_native_mapreduce_spark.session import get_spark
    t1 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=SESSION_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    return (spark, {"import": (t0, t1), "jvm_start": (t1, t2)},
            tree_cpu_s() - cpu0)


def child_setup() -> dict[str, float]:
    """Run ``setup`` and ``stop`` in a child process; the duration of each
    set-up step."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-only"],
        capture_output=True, text=True, timeout=150)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"set-up in a child process exited with "
                           f"{proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its live descendants
    (the JVM, Python workers, pipe scripts), with what reaped descendants
    left in their parents' counters. The kernel does not charge a task for
    time the hypervisor gives its CPU to another guest, so this varies far
    less with the host's load than wall time does."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # fields after "pid (comm)": state ppid ... utime stime
                # cutime cstime at 11..14
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since listdir
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(f) for f in fields[11:15])
    total, todo = 0, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Pass:
    """Outcome of one pass: wall and CPU time per operation, and
    failures."""

    def __init__(self):
        self.op_seconds: dict[str, float] = {}
        self.op_cpu_s: dict[str, float] = {}
        self.failed = 0
        self.errors: list[str] = []

    @property
    def seconds(self) -> float:
        return sum(self.op_seconds.values())

    @property
    def cpu_s(self) -> float:
        return sum(self.op_cpu_s.values())


def median_pass_s(passes: list[Pass], field: str = "op_seconds") -> float:
    """Sum over operations of each one's median time across ``passes``."""
    return sum(statistics.median(getattr(p, field)[name] for p in passes)
               for name in passes[0].op_seconds)


def run_pass(spark, ops, tracer, oracle_db=None) -> Pass:
    out = Pass()
    for op in ops:
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            result, error = op.run(spark, tracer), None
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            result, error = None, f"{type(exc).__name__}: {exc}"
            traceback.print_exc()
        out.op_seconds[op.name] = time.perf_counter() - t0
        out.op_cpu_s[op.name] = tree_cpu_s() - cpu0
        tracer.collect()
        if error is None and oracle_db is not None:
            try:
                why = op.check(result, oracle_db)
            except Exception as exc:  # noqa: BLE001
                why = f"check raised {type(exc).__name__}: {exc}"
                traceback.print_exc()
            error = why and f"wrong result: {why}"
        if error:
            out.failed += 1
            out.errors.append(f"{op.name}: {error}"[:300])
        spark.catalog.clearCache()
    return out


def oracle_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for fn in sorted(os.listdir(data_dir)):
        if fn.endswith(".parquet"):
            con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, fn)}'")
    return con


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    if args.setup_only:
        spark, steps, cpu_s = setup()
        stop(spark)
        print(json.dumps({"cpu": cpu_s, **{
            name: end - start for name, (start, end) in steps.items()}}))
        return 0
    import layers
    import workloads
    from spans import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {workloads.WORKLOADS}")
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)

    setups = [child_setup() for _ in range(SETUPS - 1)]
    spark, steps, cpu_s = setup()
    try:
        setups.append({"cpu": cpu_s, **{
            name: end - start for name, (start, end) in steps.items()}})
        ops, input_bytes = workloads.make_ops(
            args.workload, os.path.join(work, "data"),
            os.path.join(work, "out"), args.seed)
        oracle_db = oracle_connection(os.path.join(work, "data"))
        rng = random.Random(args.seed)
        untraced = NullTracer()
        tracer = Tracer(spark) if args.trace else None
        if args.trace:
            for name, (start, end) in steps.items():
                tracer.record(f"session.{name}", start, end)

        first = run_pass(spark, rng.sample(ops, len(ops)), untraced,
                         oracle_db)
        unmeasured = [run_pass(spark, rng.sample(ops, len(ops)), untraced)
                      for _ in range(WARMUP_PASSES)]
        warm, traced, layer_samples = [], [], []
        n_passes = max(MIN_WARM_PASSES,
                       round(args.seconds / PASS_SECONDS[args.workload]))
        # a traced run makes two untraced and two traced passes, ordered
        # untraced, traced, traced, untraced: JIT warm-up drift that is
        # linear in time cancels out of the overhead
        schedule = ([False, True, True, False] if args.trace
                    else [False] * n_passes)
        for is_traced in schedule:
            order = rng.sample(ops, len(ops))
            if not is_traced:
                warm.append(run_pass(spark, order, untraced))
                continue
            n_spans = len(tracer.spans)
            traced.append(run_pass(spark, order, tracer))
            layer_samples.append(
                layers.of_pass(tracer.spans[n_spans:], input_bytes))
        rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop(spark)

    passes = [first] + unmeasured + warm + traced
    attempted = sum(len(p.op_seconds) for p in passes)
    failed = sum(p.failed for p in passes)
    errors = [e for p in passes for e in p.errors]
    pass_s = median_pass_s(warm)
    # Wall times follow the host's load (time the hypervisor gives these
    # CPUs to other guests) far more than CPU times do, the cold pass is
    # one sample per run, and error_rate is 0 on correct code: none of
    # them can carry a bound. They are printed, and in a traced run most
    # are per-layer metrics.
    info = {
        "error_rate": (failed / attempted, "fraction"),
        "wall.setup_s": (statistics.median(
            s["import"] + s["jvm_start"] for s in setups), "s"),
        "wall.pass_s": (pass_s, "s"),
        "wall.ops_per_min": (60.0 * len(ops) / pass_s, "ops/min"),
        "cold.first_pass_s": (first.seconds, "s"),
        "cold.first_pass_cpu_s": (first.cpu_s, "s"),
        "driver_peak_rss_mb": (rss_mb, "MB"),
    }
    if args.trace:
        session = {f"{name}_s": statistics.median(s[name] for s in setups)
                   for name in steps}
        metrics = layers.per_layer(
            layer_samples, session, median_pass_s(traced) / pass_s - 1.0)
        for name in list(info)[1:]:
            metrics[name] = info.pop(name)
        tracer.write(os.path.join(
            WORK, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (statistics.median(s["cpu"] for s in setups), "s"),
            "pass_cpu_s": (median_pass_s(warm, "op_cpu_s"), "s"),
        }

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"unmeasured_passes={len(unmeasured)} warm_passes={len(warm)} "
          f"traced_passes={len(traced)} input_bytes={input_bytes}")
    print("setup_seconds " + json.dumps(
        [{k: round(v, 3) for k, v in s.items()} for s in setups]))
    for field in ("seconds", "cpu_s"):
        print(f"pass_{field} first=%.3f unmeasured=%s warm=%s traced=%s" % (
            getattr(first, field),
            *([round(getattr(p, field), 3) for p in group]
              for group in (unmeasured, warm, traced))))
    for name in first.op_seconds:
        print(f"op {name:22s} median wall %.3f s, cpu %.3f s" % tuple(
            statistics.median(getattr(p, field)[name] for p in warm)
            for field in ("op_seconds", "op_cpu_s")))
    print("env " + json.dumps(env, sort_keys=True))
    for err in errors:
        print("error " + err)
    for name, (value, unit) in {**info, **metrics}.items():
        print(f"{name:28s} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
