"""Self-tests of the benchmark: python3 -m pytest perfbench -q

The smoke tests start one Spark JVM per run (about half a minute each)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.layers import Tracer, self_times
from perfbench.stats import MIN_BEYOND, percentile, samples_needed

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 41)]  # 1..40, shuffled order must not matter
    assert percentile(list(reversed(xs)), 0.5).value == 20.0
    assert percentile(xs, 0.75).value == 30.0
    assert percentile([7.0], 0.75).value == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile(xs, 1.0)


def test_percentile_ten_beyond_rule():
    assert samples_needed(0.5) == 20 and samples_needed(0.75) == 40
    for q in (0.5, 0.75):
        n = samples_needed(q)
        ok = percentile(list(range(n)), q)
        short = percentile(list(range(n - 1)), q)
        assert (ok.n, ok.beyond, ok.supported) == (n, MIN_BEYOND, True)
        assert short.beyond == MIN_BEYOND - 1 and not short.supported


def test_percentile_prints_sample_count():
    line = percentile([float(i) for i in range(40)], 0.75).describe("s")
    assert "n=40" in line and "beyond=10" in line and "fewer" not in line
    assert "fewer than 10 beyond" in percentile([1.0, 2.0], 0.75).describe("s")


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "qid": None, "parent": parent, "start": start, "end": end}


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),   # overlaps span 1 on [3, 4]
        _span(3, 2.0, 3.5, parent=0),   # inside spans 1 and 2
        _span(4, 8.0, 12.0, parent=0),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 8.0))
    assert st[1] == pytest.approx(3.0)
    assert st[4] == pytest.approx(4.0)


def test_tracer_nesting_and_disabled():
    tr = Tracer(True)
    with tr.span("run"):
        with tr.span("query", "q1"):
            with tr.span("build", "q1"):
                pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("run", None), ("query", 0), ("build", 1)]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = Tracer(False)
    with off.span("run"):
        pass
    assert off.spans == []


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _workloads() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", _workloads())
def test_smoke_one_pass_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = _declared("per_layer" if trace else "end_to_end")
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    assert got == want
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
