"""Benchmark command for overseer_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Draws the workload's inputs from the seed (the repository's test tables
in perfbench/data, or a generated job graph; nothing of it is billed to
set-up), runs the workload
through the package's public API in a closed loop for ``--seconds``,
checks the outputs, and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With ``--trace 0``
the metrics are the end-to-end metrics named in BENCHMARK.json; with
``--trace 1`` they are the per-layer metrics, read from spans recorded
around every call the benchmark makes into a layer (written to
.perfbench/spans/<workload>.jsonl, one span per line). Exits non-zero on
a wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dag_drain", "analytics", "ann_index_mix")
# a run must end inside the 180 s a single run may take, including the
# clean-up after a timeout: up to 30 s for the JVM (10 s for the drain
# workers) to exit, then up to 2 x 5 s to stop whatever is left
RUN_LIMIT_S = 130


class Context:
    """What a workload needs: seed, run length, directories and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> None:
        from common import Tracer

        self.workload, self.seed, self.seconds, self.smoke = workload, seed, seconds, smoke
        self.root = ROOT
        base = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(base, "cache")
        self.work = os.path.join(base, f"run-{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.spans_path = os.path.join(base, "spans", f"{workload}.jsonl")
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.worker_hwm_mb: dict[int, float] = {}
        self.rss_parts: dict[str, float] = {}

    def peak_rss(self) -> float:
        """Sum of VmHWM over this process and its live descendants (the
        JVM and its Python workers), plus the peaks that exited drain
        workers reported."""
        from common import tree_hwm_parts

        self.rss_parts = tree_hwm_parts()
        if self.worker_hwm_mb:
            self.rss_parts["drain workers"] = sum(self.worker_hwm_mb.values())
        return sum(self.rss_parts.values())


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool = False) -> dict:
    """Run one workload; returns the result record before formatting."""
    ctx = Context(workload, seed, seconds, trace, smoke)
    for d in (ctx.cache, ctx.tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = ctx.tmp
    cwd = os.getcwd()
    os.chdir(ctx.work)  # Spark's warehouse and metastore files land here
    try:
        if workload == "dag_drain":
            import dag_drain as mod
        elif workload == "analytics":
            import analytics as mod
        else:
            import ann_mix as mod
        result = mod.run(ctx)
        result["not_touched"] = mod.NOT_TOUCHED
        result["detail"]["peak_rss_parts_mb"] = ctx.rss_parts
        if ctx.tracer.enabled:
            ctx.tracer.write(ctx.spans_path)
            result["spans_file"] = ctx.spans_path
    finally:
        os.chdir(cwd)
        shutil.rmtree(ctx.work, ignore_errors=True)
    return result


def format_result(result: dict, trace: bool) -> dict:
    """The result line. A per-layer metric the workload did not produce
    is 0 only when it belongs to a layer the workload declares it does
    not touch; any other missing metric is an error."""
    specs = metric_specs()
    metrics = {}
    if trace:
        for m in specs["per_layer"]:
            name = m["name"]
            if name in result["layers"]:
                value = result["layers"][name]
            elif name.startswith(result["not_touched"]):
                value = 0.0
            else:
                raise KeyError(f"per-layer metric {name} missing")
            metrics[name] = {"value": float(value), "unit": m["unit"]}
    else:
        for m in specs["end_to_end"]:
            metrics[m["name"]] = {"value": float(result["end_to_end"][m["name"]]), "unit": m["unit"]}
    return {
        "correct": not result["problems"],
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the tests")
    ns = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import overseer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        print(f"perfbench: no BENCHMARK.json in {ROOT}", file=sys.stderr)
        return 2

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)
    try:
        result = run(ns.workload, ns.seed, ns.seconds, bool(ns.trace), ns.smoke)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        # the workloads stop and wait for what they start; this catches
        # whatever an error path left behind
        from common import stop_descendants

        left = stop_descendants(grace_s=5.0)
        if left:
            print(f"perfbench: stopped processes still running after the run: {left}", file=sys.stderr)
    for p in result["problems"]:
        print(f"perfbench: wrong output: {p}", file=sys.stderr)
    print(json.dumps({k: v for k, v in result.items() if k not in ("end_to_end", "layers", "problems")}),
          file=sys.stderr)
    try:
        out = format_result(result, bool(ns.trace))
    except KeyError:
        traceback.print_exc()
        return 1
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
