"""The session factory: settings a query relies on wherever it runs."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF0001

import hadoop_coded_wordcount_spark

_ROOT = os.path.dirname(os.path.dirname(hadoop_coded_wordcount_spark.__file__))

# a pandas-UDF registry query, counted in a fresh driver: its Python
# workers must import the package to unpickle the UDF
_SCRIPT = f"""
import json, sys
sys.path.insert(0, {_ROOT!r})
from hadoop_coded_wordcount_spark.registry import QUERIES
from hadoop_coded_wordcount_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2)
n = QUERIES["image_ahash_neardup"](spark, {SF0001!r}).count()
print(json.dumps({{"rows": n}}))
"""


def test_pandas_udf_query_runs_from_a_foreign_cwd(tmp_path):
    """A driver started outside the checkout, with no PYTHONPATH, still
    runs a pandas-UDF query: ``get_spark`` puts the package on the
    workers' path itself."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_CONF")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the DuckDB oracle of image_ahash_neardup returns 50 rows at sf0.001
    assert json.loads(proc.stdout.strip().splitlines()[-1])["rows"] == 50


def test_huge_generated_methods_are_jit_compiled(spark):
    """Whole-stage codegen emits methods over HotSpot's 8,000-byte compile
    limit for the unrolled pair kernels; ``get_spark`` lifts that limit,
    so they are JIT-compiled instead of interpreted."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("DontCompileHugeMethods").getValue() == "false"
