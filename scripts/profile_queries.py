#!/usr/bin/env python
"""Per-query cost breakdown for optimization work (guide §1: measure first).

For each named query, measures:

* ``build_s``   — time for ``fn(spark, sf_dir)`` to return the lazy frame
  (plan construction; includes any control-plane collects the operator
  does while deciding its plan, plus ensure_parallelism's ``df.rdd``).
* ``exec_cold_s`` — first noop materialization (pays Janino codegen).
* ``exec_warm_s`` — a SECOND build+materialize of the same query (codegen
  cache hot, fresh plan). warm ≈ plan+schedule+compute steady state;
  cold−warm ≈ per-process compile cost the bench pays once per query.
* ``jobs_cold`` / ``jobs_warm`` — Spark job count per phase (each job is
  a driver barrier: collects, eager checkpoints, AQE stages don't count
  as jobs but materializations do).

Usage: python scripts/profile_queries.py q1,q2,...   (or ALL, or TOP=n)
Writes /tmp/profile_queries.json and prints a sorted table to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_coded_wordcount_spark.registry import QUERIES
from hadoop_coded_wordcount_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    names_arg = sys.argv[1] if len(sys.argv) > 1 else "ALL"
    spark = get_spark(app_name="hcw-profile")
    sc = spark.sparkContext

    # --- same warmups as bench.py so cold numbers mean codegen-of-this-
    # query, not session spin-up -------------------------------------
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    warm = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    warm.count()

    @pandas_udf("long")
    def _noop_udf(s):
        return s

    warm.select(_noop_udf(F.col("r_regionkey"))).count()
    rng = spark.range(0, 256, 1, 2 * sc.defaultParallelism)
    rng.mapInPandas(lambda it: it, schema="id long").count()
    rng.groupBy((F.col("id") % 8).alias("g")).applyInPandas(
        lambda pdf: pdf[["id"]], schema="id long"
    ).count()
    from pyspark.sql.window import Window

    nat = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    (
        nat.join(F.broadcast(warm), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("r_name", F.row_number().over(Window.orderBy("c")).alias("rn"))
        .count()
    )
    from hadoop_coded_wordcount_spark.operators.similarity import dot_unrolled

    two = spark.range(0, 2, 1, 1).select(
        F.array(*[(F.col("id") + F.lit(float(i))) for i in range(64)]).alias("a"),
        F.array(*[(F.col("id") * F.lit(float(i))) for i in range(64)]).alias("b"),
    )
    two.join(F.broadcast(two.selectExpr("a as qa"))).select(
        dot_unrolled(F.col("qa"), F.col("b"), 64).alias("d")
    ).groupBy().min("d").collect()

    if names_arg == "ALL":
        names = list(QUERIES)
    elif names_arg.startswith("TOP="):
        n = int(names_arg[4:])
        base = json.load(open(os.path.join(os.path.dirname(__file__), "..", "bench_detail.json")))
        names = [k for k, _ in sorted(base["queries"].items(), key=lambda kv: -kv[1])[:n]]
    else:
        names = [s.strip() for s in names_arg.split(",") if s.strip()]

    # job-id high-water mark: statusTracker().getJobIdsForGroup() lists at
    # most spark.ui.retainedJobs ids, so its length stops counting on
    # long runs
    dag = sc._jsc.sc().dagScheduler()
    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        rec: dict = {}
        try:
            j0 = dag.nextJobId()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            rec["build_s"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec["exec_cold_s"] = round(time.perf_counter() - t0, 3)
            j1 = dag.nextJobId()
            rec["jobs_cold"] = j1 - j0
            spark.catalog.clearCache()
            # warm leg: rebuild the plan from scratch with hot codegen cache
            t0 = time.perf_counter()
            df2 = fn(spark, SF_DIR)
            rec["build_warm_s"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            df2.write.format("noop").mode("overwrite").save()
            rec["exec_warm_s"] = round(time.perf_counter() - t0, 3)
            j2 = dag.nextJobId()
            rec["jobs_warm"] = j2 - j1
            rec["cold_total"] = round(rec["build_s"] + rec["exec_cold_s"], 3)
            rec["warm_total"] = round(rec["build_warm_s"] + rec["exec_warm_s"], 3)
        except Exception as exc:  # keep profiling the rest
            rec["error"] = f"{type(exc).__name__}: {exc}"[:200]
        finally:
            spark.catalog.clearCache()
        out[name] = rec
        print(f"{name}: {rec}", file=sys.stderr)

    with open("/tmp/profile_queries.json", "w") as fh:
        json.dump(out, fh, indent=1)
    rows = [
        (r.get("cold_total", 0.0), r.get("warm_total", 0.0), n, r)
        for n, r in out.items()
        if "error" not in r
    ]
    rows.sort(reverse=True)
    print(
        f"{'query':40s} {'cold':>7s} {'warm':>7s} {'build':>7s} "
        f"{'jobsC':>6s} {'jobsW':>6s}",
        file=sys.stderr,
    )
    for cold, warmt, n, r in rows:
        print(
            f"{n:40s} {cold:7.2f} {warmt:7.2f} {r['build_s']:7.2f} "
            f"{r['jobs_cold']:6d} {r['jobs_warm']:6d}",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
