"""Self-tests of the benchmark: accounting units, the BENCHMARK.json
contract, a tiny run of each workload, and refusal without the program.

    python3 -m pytest perfbench/test_perfbench.py -p no:cacheprovider -m ""
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import RssSampler, invalid_reasons  # noqa: E402
from stats import backlog_series, due_latencies, passes_to_report, pctl  # noqa: E402
from trace import Tracer, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


# -- self-time rollup ---------------------------------------------------------


def _span(sid, parent, layer, start, end):
    return {"id": sid, "parent": parent, "layer": layer, "name": layer,
            "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, "core", 0.0, 10.0),
        # two overlapping children cover [1, 6]: 5 s, not 3 + 4
        _span(2, 1, "plans", 1.0, 4.0),
        _span(3, 1, "plans", 2.0, 6.0),
        # a child reaching past its parent is clipped to it
        _span(4, 1, "session", 9.0, 12.0),
        _span(5, 3, "riemann_wire", 2.5, 3.0),
    ]
    got = self_times(spans)
    assert got["core"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got["plans"] == pytest.approx(3.0 + (4.0 - 0.5))
    assert got["session"] == pytest.approx(3.0)
    assert got["riemann_wire"] == pytest.approx(0.5)


def test_wrapped_calls_nest_on_their_thread():
    t = Tracer()
    inner = t.wrap("inner", lambda: None)
    outer = t.wrap("outer", lambda: inner(), count="outer.calls")
    outer()
    by_layer = {s["layer"]: s for s in t.spans}
    assert by_layer["inner"]["parent"] == by_layer["outer"]["id"]
    assert by_layer["outer"]["parent"] is None
    assert t.counts["outer.calls"] == 1


def test_progress_becomes_batch_span_with_phases():
    t = Tracer()
    t.add_progress({
        "name": "q", "batchId": 3, "timestamp": "2024-01-01T00:00:00.000Z",
        "durationMs": {"triggerExecution": 1000, "latestOffset": 100, "addBatch": 600,
                       "walCommit": 50, "commitOffsets": 50},
    })
    assert self_times(t.spans)["core"] == pytest.approx(1.0)
    phases = [s for s in t.spans if s["parent"] is not None]
    assert [s["name"] for s in phases] == ["latestOffset", "walCommit", "addBatch",
                                          "commitOffsets"]
    assert phases[-1]["end"] - phases[0]["start"] == pytest.approx(0.8)


# -- due-time latency accounting ----------------------------------------------


def test_latency_counts_from_due_time_not_send_time():
    # events due at 0.0 and 0.1 were held by a generator stall and sent
    # together at 0.5; both committed at 1.0
    dues = {"f1": [0.0, 0.1], "f2": [0.9]}
    lat = due_latencies(dues, {"f1": 0, "f2": 1}, {0: 1.0, 1: 2.0})
    assert sorted(lat) == pytest.approx([0.9, 1.0, 1.1])


def test_latency_skips_events_no_batch_committed():
    lat = due_latencies({"f1": [0.0], "f2": [0.0]}, {"f1": 0, "f2": 1}, {0: 1.0})
    assert lat == [1.0]


def test_backlog_is_acked_minus_committed_before_each_commit():
    acks = [0.1, 0.2, 0.3, 1.1, 1.2]
    commits = [(1.0, 3), (2.0, 2)]
    assert backlog_series(acks, commits) == [3, 2]


def test_nearest_rank_percentile():
    assert pctl(range(1, 101), 0.99) == 99
    assert pctl([5.0], 0.99) == 5.0
    assert pctl([], 0.5) == 0.0


def test_run_is_invalid_on_steal_lateness_or_growing_backlog():
    assert invalid_reasons(2.0, {"gen.late_frac": 0.0}, False) == []
    assert invalid_reasons(2.0, {}, False) == []
    assert len(invalid_reasons(12.0, {}, False)) == 1
    assert len(invalid_reasons(2.0, {"gen.late_frac": 0.05}, False)) == 1
    assert len(invalid_reasons(12.0, {"gen.late_frac": 0.05}, True)) == 3


def test_batch_passes_rerun_while_stolen_and_report_the_least_stolen():
    # enough passes with little steal: done, in pass order
    assert passes_to_report([1.0, 2.0, 0.5], 3, 3.0, False) == [0, 1, 2]
    assert passes_to_report([1.0, 2.0], 3, 3.0, True) is None
    # a stolen pass is made up by another while there is time
    assert passes_to_report([5.0, 1.0, 2.0], 3, 3.0, False) is None
    assert passes_to_report([5.0, 1.0, 2.0, 0.5], 3, 3.0, False) == [1, 2, 3]
    # out of time, the least stolen are reported even if none was clean
    assert passes_to_report([9.0, 6.0, 8.0, 7.0], 3, 3.0, True) == [1, 2, 3]


def test_memory_peak_ignores_a_one_sample_spike():
    class Fake(RssSampler):
        samples = iter([100, 900, 100, 200, 210, 150])

        def sample(self):
            v = next(self.samples, None)
            if v is None:
                self.stop_flag.set()
                return 0
            return v

    s = Fake(sid=0, period=0.0)
    s.start()
    s.join()
    assert s.peak_kb == 200


# -- BENCHMARK.json contract ----------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert BENCH["paths"] == ["perfbench"]
    assert 1 <= BENCH["run_seconds"] <= 60
    names = [w["name"] for w in BENCH["workloads"]]
    names += [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])


def test_every_layer_metric_is_mapped():
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    assert list(layers) == [m["name"] for m in BENCH["per_layer"]]
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    workloads = {w["name"] for w in BENCH["workloads"]}
    for entry in layers.values():
        assert set(entry["moves"]) <= e2e and set(entry["on"]) <= workloads


# -- tiny runs ------------------------------------------------------------------


def run_bench(workload: str, trace: int, cwd: str = ROOT, seconds: int = 2):
    env = {**os.environ, "PERFBENCH_SMOKE": "1"}
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload,trace", [
    ("live_tcp", 1), ("batch_suite", 0),
])
def test_smoke(workload, trace):
    proc = run_bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    context = json.loads(proc.stdout.splitlines()[-2])["context"]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert context["error_rate"]["value"] == 0.0
    # every stream tap compared rows: the windowed tap too sealed windows
    taps = {"live_tcp": {"ewma"}}
    if workload in taps:
        assert set(context["rows_checked"]) == taps[workload]
        assert all(n > 0 for n in context["rows_checked"].values())
    specs = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in specs]
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        m = result["metrics"]
        assert m["riemann_wire.decode_calls"]["value"] == m["tcp.frames_sent"]["value"] + 1
        assert m["lifecycle.push_calls"]["value"] == m["riemann_wire.decode_calls"]["value"]
        assert m["self_s.core"]["value"] > 0 and m["trace.spans"]["value"] > 0


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("live_tcp", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
