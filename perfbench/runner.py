"""One benchmark run: set up, check, time, and (optionally) trace."""

from __future__ import annotations

import contextlib
import json
import os
import platform
import statistics
import subprocess
import time

from perfbench import gen
from perfbench.check import OracleChecker, rows_to_frame
from perfbench.rss import RssSampler
from perfbench.spans import (
    JvmProbe,
    Py4jCounter,
    StreamStats,
    Tracer,
    clock,
    union_seconds,
)

UNTRACED = Tracer(False)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- session set-up --------------------------------------------------------


def start_session(work: str):
    from hadoop_coded_wordcount_spark.session import get_spark

    n = nproc()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            # a fixed, pre-touched heap: peak RSS then moves with non-heap and
            # Python memory instead of with when G1 decides to grow the heap
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, data_dir: str) -> None:
    """The warm-ups ``bench.py`` runs before timing: a first job, one
    daemon per Python eval mode, an exchange/broadcast/window plan and one
    64-wide unrolled dot-kernel compile."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, pandas_udf, udtf
    from pyspark.sql.window import Window

    from hadoop_coded_wordcount_spark.operators.similarity import dot_unrolled

    warm = spark.read.parquet(os.path.join(data_dir, "region.parquet"))
    warm.count()

    @pandas_udf("long")
    def _noop_udf(s):
        return s

    warm.select(_noop_udf(F.col("r_regionkey"))).count()
    rng = spark.range(0, 256, 1, 2 * spark.sparkContext.defaultParallelism)
    rng.mapInPandas(lambda it: it, schema="id long").count()
    rng.groupBy((F.col("id") % 8).alias("g")).applyInPandas(
        lambda pdf: pdf[["id"]], schema="id long"
    ).count()

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _warm_agg(s):
        return float(s.sum())

    rng.groupBy((F.col("id") % 8)).agg(_warm_agg(F.col("id"))).count()

    @udtf(returnType="v bigint")
    class _WarmUdtf:
        def eval(self, v):
            yield (v,)

    spark.udtf.register("perfbench_warm_udtf", _WarmUdtf)
    rng.createOrReplaceTempView("perfbench_warm_src")
    spark.sql(
        "SELECT u.v FROM perfbench_warm_src, LATERAL perfbench_warm_udtf(id) u"
    ).count()
    nat = spark.read.parquet(os.path.join(data_dir, "nation.parquet"))
    (
        nat.join(F.broadcast(warm), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("r_name", F.row_number().over(Window.orderBy("c")).alias("rn"))
        .count()
    )
    two = spark.range(0, 2, 1, 1).select(
        F.array(*[(F.col("id") + F.lit(float(i))) for i in range(64)]).alias("a"),
        F.array(*[(F.col("id") * F.lit(float(i))) for i in range(64)]).alias("b"),
    )
    two.join(F.broadcast(two.selectExpr("a as qa"))).select(
        dot_unrolled(F.col("qa"), F.col("b"), 64).alias("d")
    ).groupBy().min("d").collect()


def stop_session(spark) -> None:
    """Stop the SparkContext, end the JVM it runs in and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- one query -------------------------------------------------------------


class Session:
    """The state one run shares between its passes."""

    def __init__(self, spark, data_dir: str, out_dir: str):
        from hadoop_coded_wordcount_spark import registry
        from hadoop_coded_wordcount_spark.sources import io

        self.spark = spark
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.registry = registry
        self.io = io
        self.tracer = UNTRACED
        self.probe: JvmProbe | None = None
        self.py4j: Py4jCounter | None = None
        self.counters: dict[str, float] = {}
        self.next_qid = 0

    def materialize(self, step, df):
        """Collect the rows (through ``df``'s own QueryExecution) or write
        them through the program's sink; returns the rows or None."""
        if step.sink == "collect":
            return df.collect()
        path = os.path.join(self.out_dir, step.name)
        with self.tracer.span("sink.write"):
            if step.sink == "parquet":
                self.io.write_parquet(df, path)
            else:
                self.io.write_csv(df, path)
        return None

    def run_query(self, step):
        """Build and materialize one query; returns (seconds, rows, df)."""
        self.next_qid += 1
        tr, probe, py4j = self.tracer, self.probe, self.py4j
        if probe:
            marks0, cg0 = probe.marks(), probe.codegen()
            calls0, py4j_s0 = py4j.calls, py4j.seconds
        t0 = clock()
        with tr.span("query", self.next_qid) as qspan:
            with tr.span("build") as bspan:
                if probe:
                    py4j.active = True
                try:
                    df = self.registry.QUERIES[step.name](self.spark, self.data_dir)
                finally:
                    if probe:
                        py4j.active = False
                        marks1 = probe.marks()
            with tr.span("exec") as espan:
                rows = self.materialize(step, df)
        seconds = clock() - t0
        if probe:
            bspan["counters"].update(
                py4j_calls=py4j.calls - calls0, py4j_s=py4j.seconds - py4j_s0
            )
            self.account(step, df, qspan, bspan, espan, marks0, marks1, cg0)
        self.spark.catalog.clearCache()
        return seconds, rows, df

    def account(self, step, df, qspan, bspan, espan, marks0, marks1, cg0):
        """Per-query counters, read after the query and before the status
        store can evict its stages."""
        probe, tr, c = self.probe, self.tracer, self.counters
        probe.drain()
        marks2 = probe.marks()
        build_jobs = probe.job_intervals(marks0[0], marks1[0])
        exec_jobs = probe.job_intervals(marks1[0], marks2[0])
        for a, b in build_jobs:
            tr.add("job", bspan, a, b)
        for a, b in exec_jobs:
            tr.add("job", espan, a, b)
        stages = probe.stage_counters(marks0[1], marks2[1])
        cg1 = probe.codegen()
        q = {
            "build.s": bspan["end"] - bspan["start"],
            "build.jobs": marks1[0] - marks0[0],
            "build.job_s": union_seconds(build_jobs),
            "exec.s": espan["end"] - espan["start"],
            "exec.jobs": marks2[0] - marks1[0],
            "codegen.compiles": cg1[0] - cg0[0],
            "codegen.compile_ms": cg1[1] - cg0[1],
            **stages,
        }
        if step.sink == "collect":
            q.update(probe.catalyst_ms(df))
        else:
            q.update(self.sink_files(step))
        qspan["counters"].update(q)
        for k, v in q.items():
            c[k] = c.get(k, 0.0) + v

    def sink_files(self, step) -> dict[str, float]:
        files = sizes = 0
        for base, _, names in os.walk(os.path.join(self.out_dir, step.name)):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    sizes += os.path.getsize(os.path.join(base, n))
        return {"sink.files": files, "sink.bytes_written": sizes}


# -- check pass and timed window -------------------------------------------


def read_back(chk: OracleChecker, step, path: str):
    if step.sink == "parquet":
        return chk.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    frame = chk.sql(
        f"SELECT * FROM read_csv('{path}/*.csv', delim='\t', header=true,"
        " all_varchar=true)"
    )
    return frame.astype({"cnt": "int64"}) if "cnt" in frame.columns else frame


def check_pass(sess: Session, checker: OracleChecker, steps) -> dict[str, dict]:
    """Run each distinct query once, untimed; compare with its oracle."""
    status: dict[str, dict] = {}
    for step in {s.name: s for s in steps}.values():
        try:
            _, rows, df = sess.run_query(step)
            if rows is None:
                got = read_back(checker, step, os.path.join(sess.out_dir, step.name))
            else:
                got = rows_to_frame(rows, df.columns)
            err = checker.check(step.name, got)
            status[step.name] = {"rows": len(got), "error": err}
        except Exception as exc:  # a failing query is a result, not a crash
            status[step.name] = {"rows": None, "error": f"{type(exc).__name__}: {exc}"[:300]}
    return status


def run_pass(sess: Session, steps, status: dict, times: dict, win: dict) -> None:
    """Each step once; per-query seconds go to ``times``."""
    with sess.tracer.span("pass"):
        for step in steps:
            win["attempted"] += 1
            try:
                took, rows, _ = sess.run_query(step)
            except Exception as exc:
                win["failed"].append(f"{step.name}: {type(exc).__name__}")
                continue
            times.setdefault(step.name, []).append(took)
            want = status[step.name]
            if want["error"] is not None:
                win["failed"].append(step.name)
            elif rows is not None and len(rows) != want["rows"]:
                win["failed"].append(f"{step.name}: unstable row count")


def timed_window(sess: Session, steps, seconds: float, status: dict, tracing=None) -> dict:
    """Closed loop over ``steps`` until ``seconds`` have passed; whole passes.

    With ``tracing``, passes come in pairs, one untraced and one traced, and
    the order swaps from pair to pair, so that warm-up drift within the
    window falls on both kinds alike."""
    win = {"passes": [], "times": {}, "traced_passes": [], "attempted": 0, "failed": []}
    t_end = clock() + seconds
    pair = 0
    while True:
        order = (False,) if tracing is None else ((False, True), (True, False))[pair % 2]
        for traced in order:
            t0 = clock()
            with tracing.on(sess) if traced else contextlib.nullcontext():
                run_pass(sess, steps, status, {} if traced else win["times"], win)
            win["traced_passes" if traced else "passes"].append(clock() - t0)
        pair += 1
        if clock() >= t_end:
            return win


# -- the run ---------------------------------------------------------------

#: End-to-end metrics (``--trace 0``), name -> unit.
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "peak_rss_mb": "MB"}

#: Per-layer metrics (``--trace 1``), name -> unit.  Counts, bytes and
#: times are per pass of the traced window; ``session.*`` is the run's one
#: set-up and ``stream.state_*`` are peak state-store levels.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "build.s": "s",
    "build.py4j_calls": "count",
    "build.py4j_s": "s",
    "build.jobs": "count",
    "build.job_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "scan.input_bytes": "bytes",
    "scan.input_records": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.spill_bytes": "bytes",
    "exec.core_busy_ratio": "ratio",
    "exec.straggler_ms": "ms",
    "shuffle.records_written": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.bytes_per_input_byte": "ratio",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "sink.write_s": "s",
    "sink.bytes_written": "bytes",
    "sink.files": "count",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.batch_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes",
    "stream.live_over_batch": "ratio",
    "trace.overhead_ratio": "ratio",
    "failed_ratio": "ratio",
}


def with_units(values: dict[str, float], units: dict[str, str]) -> dict:
    if values.keys() != units.keys():
        raise ValueError(f"metric names differ: {sorted(values.keys() ^ units.keys())}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def run(workload, seed: int, seconds: float, traced: bool, work: str, trace_dir: str):
    from pyspark import __version__ as spark_version

    data_dir = os.path.join(work, "data")
    t0 = time.perf_counter()
    rows = gen.generate(data_dir, seed, workload.docs)
    gen_s = time.perf_counter() - t0
    steps = list(workload.steps)

    a = clock()
    spark = start_session(work)
    try:
        start_s = clock() - a
        warm_up(spark, data_dir)
        warm_s = clock() - a - start_s

        sess = Session(spark, data_dir, os.path.join(work, "out"))
        checker = OracleChecker(data_dir, sess.registry.ORACLES)
        t_check = clock()
        try:
            status = check_pass(sess, checker, steps)
        finally:
            checker.close()
        check_s = clock() - t_check
        tracing = Tracing(sess) if traced else None
        rss = RssSampler()
        try:
            win = timed_window(sess, steps, seconds, status, tracing)
        finally:
            rss.close()
    finally:
        stop_session(spark)

    failed, attempted = win["failed"], win["attempted"]
    # each distinct query's median time; query_p50_s is their median
    per_query = {k: median(v) for k, v in win["times"].items()}
    info = {
        "workload": workload.name,
        "seed": seed,
        "nproc": nproc(),
        "spark": spark_version,
        "python": platform.python_version(),
        "rows": rows,
        "gen_s": round(gen_s, 3),
        "check_s": round(check_s, 3),
        "passes_s": [round(p, 3) for p in win["passes"]],
        "traced_passes_s": [round(p, 3) for p in win["traced_passes"]],
        "queries": {k: round(v, 3) for k, v in per_query.items()},
        "samples": sum(len(v) for v in win["times"].values()),
        "failed_queries": sorted(set(failed)),
        "failed_ratio": len(failed) / max(1, attempted),
        "check": {k: v["error"] for k, v in status.items() if v["error"]},
    }
    if traced:
        metrics = with_units(
            layer_values(tracing, win, start_s, warm_s, info["failed_ratio"]),
            LAYER_UNITS,
        )
        info["trace_file"] = write_trace(trace_dir, workload, seed, tracing.tracer, info, metrics)
    else:
        metrics = with_units(
            {
                "setup_s": start_s + warm_s,
                "wall_s": median(win["passes"]),
                "query_p50_s": median(per_query.values()),
                "peak_rss_mb": rss.peak / 2**20,
            },
            E2E_UNITS,
        )
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }
    return result, info


class Tracing:
    """What a traced pass turns on.  It is installed for one pass at a
    time, so untraced passes run exactly as in an untraced run; its counts
    add up over the traced passes."""

    def __init__(self, sess: Session):
        self.tracer = Tracer(True)
        self.probe = JvmProbe(sess.spark)
        self.py4j = Py4jCounter()
        self.catalog = CatalogTimer(sess.registry, self.tracer)
        self.stream = StreamStats()
        self.counters = sess.counters

    @contextlib.contextmanager
    def on(self, sess: Session):
        streams = sess.spark.streams
        sess.tracer, sess.probe, sess.py4j = self.tracer, self.probe, self.py4j
        self.py4j.install()
        self.catalog.install()
        streams.addListener(self.stream)
        try:
            yield
        finally:
            self.probe.drain()
            streams.removeListener(self.stream)
            self.catalog.close()
            self.py4j.close()
            sess.tracer, sess.probe, sess.py4j = UNTRACED, None, None


class CatalogTimer:
    """Times ``registry.load_table``, the catalog layer's public loader, and
    sums the on-disk size of the tables it opens: Spark's own task
    ``inputBytes`` reads near zero for local parquet scans."""

    def __init__(self, registry, tracer: Tracer):
        self.registry = registry
        self.orig = registry.load_table
        self.calls = 0
        self.seconds = 0.0
        self.bytes = 0
        orig = self.orig

        def load_table(spark, sf_dir, name):
            t0 = clock()
            with tracer.span("catalog.load"):
                try:
                    return orig(spark, sf_dir, name)
                finally:
                    self.calls += 1
                    self.seconds += clock() - t0
                    self.bytes += os.path.getsize(
                        os.path.join(sf_dir, f"{name}.parquet")
                    )

        self._wrapper = load_table

    def install(self) -> None:
        self.registry.load_table = self._wrapper

    def close(self) -> None:
        self.registry.load_table = self.orig


def layer_values(tracing: Tracing, win, start_s, warm_s, failed_ratio) -> dict[str, float]:
    traced, plain = win["traced_passes"], win["passes"]
    n = len(traced)
    c = tracing.counters
    values = {k: v / n for k, v in c.items()}
    # the untraced passes' query times: the stream ratio without tracing cost
    t = {name: sum(v) for name, v in win["times"].items()}
    live, batch = t.get("ingest_neardup_live"), t.get("ingest_neardup_screen")
    busy_wall = values.get("exec.s", 0.0) + values.get("build.job_s", 0.0)
    catalog, stream = tracing.catalog, tracing.stream
    values.update(
        {
            "session.start_s": start_s,
            "session.warmup_s": warm_s,
            "build.py4j_calls": sum_spans(tracing.tracer, "build", "py4j_calls") / n,
            "build.py4j_s": sum_spans(tracing.tracer, "build", "py4j_s") / n,
            "catalog.load_calls": catalog.calls / n,
            "catalog.load_s": catalog.seconds / n,
            "scan.input_bytes": catalog.bytes / n,
            "exec.core_busy_ratio": (
                values.get("exec.executor_run_ms", 0.0) / (busy_wall * 1000 * nproc())
                if busy_wall else 0.0
            ),
            "shuffle.bytes_per_input_byte": (
                c.get("shuffle.write_bytes", 0.0) / catalog.bytes
                if catalog.bytes else 0.0
            ),
            "sink.write_s": sum_spans(tracing.tracer, "sink.write") / n,
            "stream.batches": stream.batches / n,
            "stream.input_rows": stream.input_rows / n,
            "stream.batch_ms": stream.batch_ms / n,
            "stream.state_rows": stream.state_rows,
            "stream.state_memory_bytes": stream.state_memory_bytes,
            "stream.live_over_batch": live / batch if live and batch else 0.0,
            # pairs ran in alternating order; each pair gives one ratio
            "trace.overhead_ratio": median([a / b for a, b in zip(traced, plain)]),
            "failed_ratio": failed_ratio,
        }
    )
    for key in LAYER_UNITS:  # layers this workload never reached read 0
        values.setdefault(key, 0.0)
    return values


def sum_spans(tracer: Tracer, name: str, counter: str | None = None) -> float:
    total = 0.0
    for s in tracer.spans:
        if s["name"] == name:
            total += s["counters"].get(counter, 0.0) if counter else s["end"] - s["start"]
    return total


def write_trace(trace_dir, workload, seed, tracer: Tracer, info, metrics) -> str:
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{workload.name}-seed{seed}.json")
    doc = {
        "info": info,
        "metrics": metrics,
        "self_s": tracer.self_times(),
        "spans": tracer.spans,
    }
    with open(path, "w") as fh:
        json.dump(doc, fh)
    return path
