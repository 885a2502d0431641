"""Dump the loop-BODY plans and the final formatted plan of queries.

The per-round localCheckpoint turns every round's frame into a
`Scan ExistingRDD` stub in the final explain, so pinned-width / SHJ /
layout claims about loop internals are not plan-verifiable from the
final plan alone. This tool writes both: every checkpointed frame's
plan, then the query's final `explain("formatted")`.

Mechanism: ``DataFrame.localCheckpoint`` is wrapped so that every
frame is EXPLAINED at the moment it is checkpointed — i.e. with its
own round's operators still in the plan and all PRIOR rounds already
truncated to stubs. That is exactly "one loop-body plan per round",
from the real operator code, with no reconstruction. The real
checkpoint then proceeds unchanged, so eager loops and convergence
probes behave normally. Each frame's header names the session it is
checkpointed in: its AQE flag and its shuffle width W, which tells a
loop-session checkpoint (`session.loop_checkpoint`: AQE off, the
loop's W) from one in the query's own session.

Usage: python tools/dump_loop_body.py <tag> <suffix> <query> [query ...]
Writes plans/<tag>/<query>_loop_body_<suffix>.txt: the tree sections of
every checkpointed frame, in call order, followed by the final
formatted plan (sf dir from $SPARK_GRAFT_SF_DIR, default sf0.001 to
keep probe replay cheap). To compare two versions of the code, dump
each with its own suffix and diff the files.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Spark 4: pyspark.sql.DataFrame is the ABC facade; the concrete
# method lives on the classic subclass — patch that one
try:
    from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
except ImportError:  # Spark 3.x
    from pyspark.sql import DataFrame  # type: ignore # noqa: E402

from cloud_native_mapreduce_spark.registry import QUERIES  # noqa: E402
from cloud_native_mapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    tag, suffix, *names = sys.argv[1:]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("loopdump", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    captured: list[str] = []
    real = DataFrame.localCheckpoint

    def capturing(self, eager=True, *args, **kwargs):
        txt = self._sc._jvm.PythonSQLUtils.explainString(
            self._jdf.queryExecution(), "formatted")
        conf = self.sparkSession.conf
        session = (f"aqe={conf.get('spark.sql.adaptive.enabled')} "
                   f"W={conf.get('spark.sql.shuffle.partitions')}")
        captured.append((session, txt.split("\n\n")[0]))  # tree only
        return real(self, eager, *args, **kwargs)

    DataFrame.localCheckpoint = capturing  # type: ignore
    try:
        for name in names:
            captured.clear()
            df = QUERIES[name].builder(spark, sf_dir)
            final = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            # force the lazy tail so late-round checkpoints register
            df.write.format("noop").mode("overwrite").save()
            path = os.path.join(out_dir,
                                f"{name}_loop_body_{suffix}.txt")
            with open(path, "w") as f:
                f.write("-- loop-body evidence: each section is the "
                        "plan of a frame AT ITS localCheckpoint call "
                        "(own round un-truncated, prior rounds "
                        "stubs); tree sections only, then the final "
                        "formatted plan --\n")
                for i, (session, tree) in enumerate(captured):
                    f.write(f"\n== checkpoint call {i} ({session}) "
                            f"==\n{tree}\n")
                f.write(f"\n== final plan (formatted) ==\n{final}\n")
            print(f"wrote {path} ({len(captured)} checkpointed "
                  f"frames)")
            spark.catalog.clearCache()
    finally:
        DataFrame.localCheckpoint = real  # type: ignore
    spark.stop()


if __name__ == "__main__":
    main()
