"""The benchmark's one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  It generates the workload's inputs from
the seed, starts one Spark session at ``local[nproc]`` and runs the
workload's queries one after another (one client, closed loop) for S
seconds, after an untimed pass that checks each distinct query against its
DuckDB oracle.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run alternates untraced and traced passes, so
that ``trace.overhead_ratio`` compares neighbouring passes of the same
process, and writes its spans and counters to ``.perfbench/traces/``.

All files the run writes stay under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "hadoop_coded_wordcount_spark"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_process(work: str) -> None:
    """Point every temp, spill and worker-import path at the checkout.

    Python workers are forked by the JVM and inherit this environment, so
    ``PYTHONPATH`` lets them import the package whatever the working
    directory is; the run itself works from ``work`` to prove it."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the launch starts: no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    if sys.path[0] == os.path.dirname(os.path.abspath(__file__)):
        sys.path[0] = ROOT
    else:
        sys.path.insert(0, ROOT)
    os.chdir(work)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"{PACKAGE} not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare_process(work)
    try:
        from perfbench import runner, workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}; known: "
                  f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        result, info = runner.run(
            workloads.WORKLOADS[args.workload],
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            work=work,
            trace_dir=os.path.join(ROOT, ".perfbench", "traces"),
        )
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    info["trace"] = args.trace
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print("info " + json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
