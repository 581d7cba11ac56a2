"""SparkSession factory tuned for the engine's scale posture.

The reference (sredman/hadoop-coded-wordcount) hand-wires one Hadoop ``Job``
per run (reference WordCountDriver.java:44-63).  Here the session *is* the
driver: every query is a declarative DataFrame plan handed to Catalyst.

Scale posture (applies unchanged from local[32] to a 1000-executor cluster):

* **AQE on** — runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join conversion replace any hand-tuned partition
  count at 100 TB.
* **Arrow on** — every Python-side exchange (pandas UDFs, ``toPandas``) is
  Arrow-batched, never row-at-a-time pickling.
* **shuffle.partitions** defaults to the local core count for tests; on a
  real cluster this is overridden by AQE's coalescing (initialPartitionNum
  is set high so AQE can only shrink, never starve).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding this package: Python workers must import it to
# unpickle the engine's UDFs, whatever directory the driver runs from
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# HotSpot never JIT-compiles a method over 8,000 bytecode bytes while
# DontCompileHugeMethods is on (its default), and whole-stage codegen emits
# bigger ones for the unrolled pair kernels (a 64-dim dot_unrolled stage:
# 11,308 bytes), which then run interpreted: 4 M such pairs on 4 cores
# took 49-52 s a pass instead of 4-5 s.
_JVM_OPTIONS = "-XX:-DontCompileHugeMethods"


def get_spark(
    app_name: str = "hadoop-coded-wordcount-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    All settings are chosen so the same plan scales from local[32] to a
    large cluster: AQE owns partition counts at runtime, Arrow owns the
    Python boundary, and broadcast thresholds stay at Spark defaults so
    dimension tables (region/nation/...) auto-broadcast.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its DEFAULT (true). Tested with
        # interleaved min-of-2 A/B over a 16-query set (the 7 heaviest +
        # the 9 the first trial flagged): advisory-size coalescing
        # (parallelismFirst=false) read 72.4-78.2 s vs 55.6-56.6 s at the
        # default — the graph/recommender families (triangle_count,
        # hit_rate_at_k, adamic_adar, sssp_weighted, ...) shuffle few
        # BYTES but are compute-dense downstream, so coalescing their
        # 1-3 MB exchanges to one 64 MB-target task serializes real work
        # (1.8x). The default's 1 MB-floor fan-out is the right call for
        # this engine's mix; per-stage parallelism for the known
        # compute-dense quadratics is pinned with explicit
        # repartition(n, keys) at the operator level instead.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Start with many small shuffle partitions so AQE can only coalesce
        # downward, never starve a stage; on a real cluster this number
        # scales with executor count, not data size.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions * 8),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs otherwise evaluate through pickled row batches
        # (BatchEvalPythonUDTF); the Arrow path batches them like every
        # other Python surface here (caught by the registry-wide plan
        # hygiene sweep in tests/test_plan_shapes.py).
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TIMESTAMP_NTZ so
        # Spark and the DuckDB oracle agree on wall-clock values.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # The events table stores TIMESTAMP(NANOS) which the parquet reader
        # rejects; read the raw int64 nanos and convert in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Spark prepends this to the workers' PYTHONPATH (ahead of any
        # PYTHONPATH the driver's environment carries), so pandas UDFs
        # do not depend on the driver's working directory
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # the default options are prepended to a caller's extraJavaOptions
        .config("spark.driver.defaultJavaOptions", _JVM_OPTIONS)
        .config("spark.executor.defaultJavaOptions", _JVM_OPTIONS)
    )
    # Env-parameterized conf overrides: scale-dependent
    # settings stay tunable per deployment without code edits —
    # SPARK_GRAFT_CONF="spark.a=b;spark.c=d". Applied before extra_conf so
    # an explicit caller still wins.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for item in env_conf.split(";"):
        if "=" in item:
            k, v = item.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
