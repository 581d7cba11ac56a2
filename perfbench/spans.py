"""Per-layer trace, measured from outside the program.

Every number here comes from timing the calls the benchmark makes into the
program's public functions, or from Spark's own status store, listener bus
and codegen counters.  Nothing inside the package is edited.

* :class:`Tracer` keeps spans in memory (id, parent id, query-occurrence
  id, name, start, end, counters) and computes each layer's self time:
  the span's duration minus the part its child spans cover.
* :class:`JvmProbe` reads job and stage data for one query through job-id
  and stage-id high-water marks, so the numbers are exact no matter how
  many jobs ``spark.ui.retainedJobs`` keeps.
* :class:`Py4jCounter` wraps ``ClientServerConnection.send_command`` to
  count Python-to-JVM round trips.
* :class:`StreamStats` is a ``StreamingQueryListener`` summing progress.
"""

from __future__ import annotations

import contextlib
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

clock = time.perf_counter


class Tracer:
    """In-memory spans.  ``enabled=False`` makes :meth:`span` a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, qid: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + 1,
            "parent": parent["id"] if parent else None,
            "qid": qid if qid is not None else (parent or {}).get("qid"),
            "name": name,
            "start": clock(),
            "end": None,
            "counters": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = clock()
            self._stack.pop()

    def add(self, name: str, parent: dict, start: float, end: float, **counters):
        """Record a span measured elsewhere (a Spark job), clamped into its
        parent: job times come from the JVM clock at millisecond grain."""
        start = min(max(start, parent["start"]), parent["end"])
        end = min(max(end, start), parent["end"])
        rec = {
            "id": len(self.spans) + 1,
            "parent": parent["id"],
            "qid": parent["qid"],
            "name": name,
            "start": start,
            "end": end,
            "counters": counters,
        }
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus what its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_seconds(
                (c["start"], c["end"]) for c in children.get(s["id"], [])
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out


def union_seconds(intervals) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Py4jCounter:
    """Counts py4j round trips made from the main thread while installed
    and ``active``."""

    def __init__(self):
        from py4j.clientserver import ClientServerConnection

        self._cls = ClientServerConnection
        self._orig = ClientServerConnection.send_command
        self._main = threading.get_ident()
        self.active = False
        self.calls = 0
        self.seconds = 0.0
        counter, orig = self, self._orig

        def send_command(conn, command, *args, **kwargs):
            if not counter.active or threading.get_ident() != counter._main:
                return orig(conn, command, *args, **kwargs)
            t0 = clock()
            try:
                return orig(conn, command, *args, **kwargs)
            finally:
                counter.calls += 1
                counter.seconds += clock() - t0

        self._wrapper = send_command

    def install(self) -> None:
        self._cls.send_command = self._wrapper

    def close(self) -> None:
        self._cls.send_command = self._orig


STAGE_FIELDS = {
    "exec.tasks": "numCompleteTasks",
    "exec.failed_tasks": "numFailedTasks",
    "exec.executor_run_ms": "executorRunTime",
    "exec.gc_ms": "jvmGcTime",
    "exec.spill_bytes": "diskBytesSpilled",
    "scan.input_records": "inputRecords",
    "shuffle.records_written": "shuffleWriteRecords",
    "shuffle.write_bytes": "shuffleWriteBytes",
}


class JvmProbe:
    """Job, stage, Catalyst and codegen readings through py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._jvm = sc._jvm
        q = sc._gateway.new_array(sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q
        self._codegen = (
            sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        # JVM job times are epoch milliseconds; spans use the perf clock
        self._epoch_to_clock = clock() - time.time()

    def marks(self) -> tuple[int, int]:
        """(next job id, next stage id): high-water marks, never capped."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def drain(self) -> None:
        """Wait until the status store has seen every posted event."""
        self._sc.listenerBus().waitUntilEmpty()

    def job_intervals(self, first: int, end: int) -> list[tuple[float, float]]:
        out = []
        for jid in range(first, end):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # an id the scheduler never posted
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append(
                    (
                        sub.get().getTime() / 1000.0 + self._epoch_to_clock,
                        done.get().getTime() / 1000.0 + self._epoch_to_clock,
                    )
                )
        return out

    def stage_counters(self, first: int, end: int) -> dict[str, float]:
        tot = {k: 0.0 for k in STAGE_FIELDS}
        tot.update(
            {
                "exec.stages": 0,
                "exec.executor_cpu_ms": 0.0,
                "shuffle.read_bytes": 0.0,
                "exec.straggler_ms": 0.0,
            }
        )
        for sid in range(first, end):
            for i, stage in enumerate(self._stage_attempts(sid)):
                if stage.status().toString() == "SKIPPED":
                    continue
                tot["exec.stages"] += 1 if i == 0 else 0
                for key, getter in STAGE_FIELDS.items():
                    tot[key] += getattr(stage, getter)()
                tot["exec.executor_cpu_ms"] += stage.executorCpuTime() / 1e6
                tot["shuffle.read_bytes"] += (
                    stage.shuffleLocalBytesRead() + stage.shuffleRemoteBytesRead()
                )
                dist = stage.taskMetricsDistributions()
                if dist.isDefined():
                    dur = dist.get().duration()
                    tot["exec.straggler_ms"] += dur.apply(1) - dur.apply(0)
        return tot

    def _stage_attempts(self, sid: int) -> list:
        try:
            seq = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), True, self._quantiles
            )
        except Py4JJavaError:  # an id the scheduler never posted
            return []
        return [seq.apply(i) for i in range(seq.size())]

    def catalyst_ms(self, df) -> dict[str, float]:
        """Phase times of the QueryExecution that ran ``df``'s action."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"catalyst.{phase}_ms"] = (
                float(opt.get().durationMs()) if opt.isDefined() else 0.0
            )
        return out

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, approximate compile milliseconds so far)."""
        n = self._codegen.getCount()
        return n, n * self._codegen.getSnapshot().getMean()


class StreamStats(StreamingQueryListener):
    """Sums micro-batch progress; keeps the peak state-store level."""

    def __init__(self):
        self.batches = 0
        self.input_rows = 0
        self.batch_ms = 0.0
        self.state_rows = 0
        self.state_memory_bytes = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches += 1
        self.input_rows += p.numInputRows
        self.batch_ms += p.batchDuration
        ops = p.stateOperators or []
        self.state_rows = max(self.state_rows, sum(o.numRowsTotal for o in ops))
        self.state_memory_bytes = max(
            self.state_memory_bytes, sum(o.memoryUsedBytes for o in ops)
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
