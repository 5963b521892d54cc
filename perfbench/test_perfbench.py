"""Tests of the benchmark itself. Run with:

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run each workload at a tiny size (the sf0.001 test
tables, a 50-job DAG, 150 of the sf0.001 embeddings) through the real
command.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from common import Span, percentile, self_times, tail, tail_percentile, union_length  # noqa: E402
from gen import layered_dag  # noqa: E402


def test_dag_is_acyclic_and_layered():
    from overseer_spark.core import Job, JobGraph

    ids, edges = layered_dag(7, 600)
    assert len(ids) == len(set(ids)) == 600
    pos = {j: i for i, j in enumerate(ids)}
    assert all(pos[d] < pos[j] for j, d in edges)  # deps point backwards
    JobGraph(jobs=[Job(id=j, type="noop") for j in ids], edges=edges).validate()
    # the first wide layer puts 100+ jobs in the ready set at once
    assert len(set(ids) - {j for j, _ in edges}) >= 100


def test_dag_is_stable_for_a_seed():
    assert layered_dag(3, 300) == layered_dag(3, 300)
    assert layered_dag(3, 300) != layered_dag(4, 300)


def test_tail_percentile_rule():
    # the highest ladder percentile with at least ten samples beyond it
    assert tail_percentile(10_000) == 99.9
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(999) == 95.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(27) == 60.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(19) == 50.0  # too few for a tail: the median
    values = list(range(1, 101))
    assert tail(values) == (percentile(values, 90.0), 90.0)
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert tail([1.0, 2.0, 9.0]) == (2.0, 50.0)


def test_self_time_subtracts_covered_child_time():
    assert union_length([(1, 3), (2, 5), (8, 10)]) == 6
    spans = [
        Span(1, "call", 0.0, 10.0, None, "t"),
        Span(2, "a", 1.0, 3.0, 1, "t"),
        Span(3, "b", 2.0, 5.0, 1, "t"),  # overlaps a: counted once
        Span(4, "c", 8.0, 12.0, 1, "t"),  # clipped to the parent's end
        Span(5, "leaf", 2.5, 3.0, 3, "t"),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(4.0)
    assert selfs[3] == pytest.approx(2.5)
    assert selfs[5] == pytest.approx(0.5)


def test_missing_per_layer_metric_is_an_error():
    from run import format_result

    result = {"layers": {}, "not_touched": ("dag.", "store."), "problems": [], "attempted": 1, "failed": 0}
    with pytest.raises(KeyError):
        format_result(result, True)  # entry_s.* is not declared untouched


def test_stop_descendants_ends_children_and_grandchildren():
    from common import descendants, stop_descendants

    # a child that ignores SIGTERM and has a child of its own
    child = subprocess.Popen(
        ["bash", "-c", "trap '' TERM; sleep 60 & wait"], start_new_session=True
    )
    try:
        for _ in range(100):  # until the grandchild is up
            if len(descendants(os.getpid())) >= 2:
                break
            time.sleep(0.05)
        found = stop_descendants(grace_s=1.0)
        assert child.pid in found and len(found) >= 2
        assert descendants(os.getpid()) == []
    finally:
        if child.poll() is None:
            child.kill()


def _leftovers(before: set[int]) -> list[str]:
    """Command lines of benchmark-started processes not in ``before``."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in before:
            try:
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            except OSError:
                continue
            if any(k in cmd for k in ("multiprocessing", "perfbench", "pyspark", "java")):
                out.append(cmd)
    return out


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["dag_drain", "analytics", "ann_index_mix"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    before = {int(d) for d in os.listdir("/proc") if d.isdigit()}
    p = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
              "--trace", str(trace), "--smoke"])
    assert p.returncode == 0, p.stderr[-4000:]
    # the run stopped, and waited for, every process it started
    assert _leftovers(before) == []
    assert "still running after the run" not in p.stderr
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(out["metrics"]) == sorted(names)
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        spans = os.path.join(ROOT, ".perfbench", "spans", f"{workload}.jsonl")
        with open(spans) as f:
            first = json.loads(f.readline())
        assert {"name", "start", "end", "parent", "trace", "self"} <= set(first)


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "analytics", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
