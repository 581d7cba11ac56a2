"""Self-tests of the benchmark.  Run from the repo root:

    python3 -m pytest perfbench/selftest -q

The last test starts Spark through the benchmark's own command (about a
minute per workload).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.rss import RssSampler  # noqa: E402
from perfbench.runner import E2E_UNITS, LAYER_UNITS, UNTRACED, timed_window  # noqa: E402
from perfbench.spans import Tracer, union_seconds  # noqa: E402
from perfbench.workloads import WORKLOADS, Step  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_match_benchmark_json():
    spec = _spec()
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: w.why for name, w in WORKLOADS.items()
    }
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS


def _tables(out, seed):
    shape = gen.DocShape(n_docs=50, vocab=200, source_zipf=1.0, dup_rate=0.2)
    gen.generate(str(out), seed, shape)
    return {
        t: pq.read_table(os.path.join(out, f"{t}.parquet"))
        for t in ("documents", "region", "events")
    }


def test_seed_determines_inputs(tmp_path):
    a = _tables(tmp_path / "a", 1)
    b = _tables(tmp_path / "b", 1)
    c = _tables(tmp_path / "c", 2)
    for name in a:
        assert a[name].equals(b[name]), name
    # only documents is drawn from the seed; no workload reads the rest
    assert not a["documents"].equals(c["documents"])
    assert a["events"].equals(c["events"])


def test_near_duplicates_are_injected():
    shape = gen.DocShape(n_docs=400, dup_rate=0.25)
    docs = gen.documents(np.random.default_rng(0), shape).column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in docs) == 100


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 1, "parent": None, "qid": 1, "name": "query", "start": 0.0, "end": 10.0, "counters": {}},
        {"id": 2, "parent": 1, "qid": 1, "name": "build", "start": 0.0, "end": 4.0, "counters": {}},
        {"id": 3, "parent": 1, "qid": 1, "name": "exec", "start": 4.0, "end": 10.0, "counters": {}},
        {"id": 4, "parent": 3, "qid": 1, "name": "job", "start": 5.0, "end": 7.0, "counters": {}},
        {"id": 5, "parent": 3, "qid": 1, "name": "job", "start": 6.0, "end": 8.0, "counters": {}},
    ]
    self_s = tr.self_times()
    assert self_s["query"] == 0.0
    assert self_s["build"] == 4.0
    assert self_s["exec"] == 3.0
    assert self_s["job"] == 4.0
    assert union_seconds([(5.0, 7.0), (6.0, 8.0), (9.0, 9.5)]) == 3.5


def test_traced_window_alternates_pair_order():
    seen = []

    class FakeSession:
        tracer = UNTRACED
        mode = "untraced"

        def run_query(self, step):
            seen.append(self.mode)
            return 0.0, None, None

    class FakeTracing:
        @contextlib.contextmanager
        def on(self, sess):
            sess.mode = "traced"
            yield
            sess.mode = "untraced"

    status = {"q": {"error": None, "rows": None}}
    win = timed_window(FakeSession(), [Step("q")], 0.005, status, FakeTracing())
    assert len(win["passes"]) == len(win["traced_passes"]) == len(seen) // 2
    pairs = [tuple(seen[i:i + 2]) for i in range(0, len(seen), 2)]
    assert pairs[0] == ("untraced", "traced")
    for k, pair in enumerate(pairs):
        assert pair == pairs[0] if k % 2 == 0 else pair == pairs[0][::-1]


def test_rss_sampler_reads_this_process():
    rss = RssSampler()
    rss.close()
    with open("/proc/self/statm") as fh:
        mine = int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    assert rss.peak >= mine // 2


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wordcount_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_spans_nest_and_cover_queries(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    info = json.loads(lines[-2].removeprefix("info "))
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(LAYER_UNITS)
    assert {"nproc", "spark", "python", "seed"} <= set(info)

    with open(info["trace_file"]) as fh:
        spans = json.load(fh)["spans"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert set(s) >= {"id", "parent", "qid", "name", "start", "end"}
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
            assert s["qid"] == p["qid"] or p["name"] == "pass"
    queries = [s for s in spans if s["name"] == "query"]
    assert queries
    for q in queries:
        kids = {s["name"]: s for s in spans if s["parent"] == q["id"]}
        assert set(kids) == {"build", "exec"}
        covered = union_seconds((k["start"], k["end"]) for k in kids.values())
        assert covered >= (q["end"] - q["start"]) - 1e-3
