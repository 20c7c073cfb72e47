"""Time registered queries phase by phase, optionally saving their plans.

Usage: python tools/trace_some.py [OUTDIR [SUFFIX] --] q1 q2 ...
       [env: SPARK_GRAFT_SF_DIR (required), SPARK_GRAFT_CPUS,
        PROFILE_RUNS (default 2)]

bench.py methodology: noop sink, the first run compiles and is reported
apart, then the best of PROFILE_RUNS timed runs is split into
  build   — Python DataFrame construction (analysis included lazily)
  plan    — queryExecution().executedPlan() materialization
            (analysis + optimization + physical planning, pre-AQE)
  exec    — noop write of the pre-built frame (includes AQE re-planning)
  total   — build + plan + exec of a fresh frame: the bench's number.
With OUTDIR, each query's .explain('formatted') plan is also written to
OUTDIR/<query><SUFFIX>.txt; queries registered executes_on_build run when
their frame is built, so their plan is not written.
"""

from __future__ import annotations

import os
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)
os.environ["PYTHONPATH"] = _HERE + os.pathsep + os.environ.get("PYTHONPATH", "")

from duckdb_hybrid_doc_search_spark.plans import registry  # noqa: E402
from duckdb_hybrid_doc_search_spark.session import get_spark  # noqa: E402


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write_plan(spark, df, path: str) -> None:
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    with open(path, "w") as f:
        f.write(plan)
    print(f"  plan: {path} ({plan.count('Exchange')} Exchange refs)")


def main() -> None:
    args = sys.argv[1:]
    outdir, suffix = None, ""
    if "--" in args:
        sep = args.index("--")
        outdir, suffix = args[0], (args[1] if sep == 2 else "")
        args = args[sep + 1:]
        os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or sys.exit(
        "set SPARK_GRAFT_SF_DIR to the data directory bench.py reads")
    runs = int(os.environ.get("PROFILE_RUNS", "2"))
    registry._load_all()
    unknown = [n for n in args if n not in registry.REGISTRY]
    if unknown:
        print("unknown queries:", unknown, file=sys.stderr)
        sys.exit(2)
    spark = get_spark("trace-some")
    from pyspark.sql import functions as F
    _noop(spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
          .groupBy("lang").agg(F.count(F.lit(1))))
    print(f"{'query':<36} {'compile':>7} {'build':>7} {'plan':>7} "
          f"{'exec':>7} {'total':>7}")
    for name in args:
        qd = registry.REGISTRY[name]
        spark.sparkContext.setJobDescription(f"trace-some:{name}")
        t0 = time.perf_counter()
        df = qd.spark_fn(spark, sf_dir)
        _noop(df)
        compile_s = time.perf_counter() - t0
        best = (float("inf"),) * 4
        for _ in range(runs):
            t0 = time.perf_counter()
            df = qd.spark_fn(spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            _noop(df)
            t3 = time.perf_counter()
            if t3 - t0 < best[3]:
                best = (t1 - t0, t2 - t1, t3 - t2, t3 - t0)
        spark.catalog.clearCache()
        print(f"{name:<36} {compile_s:7.3f} {best[0]:7.3f} {best[1]:7.3f}"
              f" {best[2]:7.3f} {best[3]:7.3f}", flush=True)
        if outdir is not None and not qd.executes_on_build:
            _write_plan(spark, df,
                        os.path.join(outdir, f"{name}{suffix}.txt"))
    spark.stop()


if __name__ == "__main__":
    main()
