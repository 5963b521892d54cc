"""Handler lifecycle, FSM dispatch, golden failure structs, abort/fault
control flow — reference overseer/test/overseer/executor_test.clj and
api_test.clj.
"""

from __future__ import annotations

import pytest

from overseer_spark import api
from overseer_spark.core import (
    STATUS_ABORTED,
    STATUS_FAILED,
    STATUS_FINISHED,
    STATUS_UNSTARTED,
    Job,
)
from overseer_spark.errors import Abort, Fault, failure_info
from overseer_spark.executor import Executor, invoke_handler, run_job
from overseer_spark.harness import harness
from overseer_spark.store.memory import MemoryStore
from tests.test_store_protocol import graph_of


def test_invoke_handler_plain_callable():
    assert invoke_handler(lambda job: job.id + "!", Job(id="x", type="t")) == "x!"


def test_invoke_handler_stage_pipeline():
    """pre → process → post, post receives (job, result)
    (executor.clj:12-39, api_test.clj:19-86)."""
    calls = []
    handler = {
        "pre_process": lambda job: calls.append(("pre", job.id)),
        "process": lambda job: 21,
        "post_process": lambda job, res: calls.append(("post", res)) or res * 2,
    }
    out = invoke_handler(handler, Job(id="x", type="t"))
    assert out == 42
    assert calls == [("pre", "x"), ("post", 21)]


def test_invoke_handler_rejects_unknown_stage():
    with pytest.raises(ValueError):
        invoke_handler({"proces": lambda j: j}, Job(id="x", type="t"))


def test_golden_failure_struct():
    """Exact failure-map shape (executor_test.clj:34-39, errors.clj:75-78)."""
    try:
        raise ValueError("boom")
    except ValueError as e:
        info = failure_info(e)
    assert info["status"] == STATUS_FAILED
    f = info["failure"]
    assert f["reason"] == "unhandled-exception"
    assert f["exception"] == "ValueError"
    assert f["message"] == "boom"
    assert "traceback" in f["data"]


def _run_one(handler):
    store = MemoryStore()
    store.transact_graph(graph_of(("j", [])))
    job = store.reserve_job("j")
    status = run_job(store, {"t-j": handler}, job)
    return store, status


def test_run_job_finish():
    store, status = _run_one(lambda job: "ok")
    assert status == STATUS_FINISHED
    assert store.job_info("j").status == STATUS_FINISHED


def test_run_job_failure():
    def boom(job):
        raise RuntimeError("nope")

    store, status = _run_one(boom)
    assert status == STATUS_FAILED
    job = store.job_info("j")
    assert job.status == STATUS_FAILED
    assert job.failure["exception"] == "RuntimeError"


def test_run_job_abort_cascades():
    """abort → job + transitive dependents aborted (api.clj:99-106,
    store cascade R11)."""
    store = MemoryStore()
    store.transact_graph(graph_of(("j", []), ("child", ["j"]), ("grand", ["child"])))
    job = store.reserve_job("j")

    def aborter(job):
        api.abort("bad input", {"custkey": 42})

    status = run_job(store, {"t-j": aborter}, job)
    assert status == STATUS_ABORTED
    for jid in ("j", "child", "grand"):
        assert store.job_info(jid).status == STATUS_ABORTED


def test_run_job_fault_resets_for_retry():
    """fault → back to unstarted, ready again (api_test.clj:88-102)."""
    store = MemoryStore()
    store.transact_graph(graph_of(("j", [])))
    job = store.reserve_job("j")

    attempts = []

    def flaky(job):
        attempts.append(1)
        raise Fault("transient")

    assert run_job(store, {"t-j": flaky}, job) == STATUS_UNSTARTED
    assert store.job_info("j").status == STATUS_UNSTARTED
    assert store.jobs_ready() == ["j"]


def test_executor_drains_diamond_in_dependency_order():
    """End-to-end drain of a diamond graph; every parent runs before its
    dependents (the phase-0 e2e slice, SURVEY.md §7)."""
    store = MemoryStore()
    order = []

    def h(name):
        return lambda job: order.append(name)

    handlers = {"extract": h("extract"), "t1": h("t1"), "t2": h("t2"), "load": h("load")}
    graph = api.job_graph(
        {"extract": [], "t1": ["extract"], "t2": ["extract"], "load": ["t1", "t2"]}
    )
    api.validate_graph_handlers(handlers, graph)
    api.transact_graph(store, graph)
    api.run_pipeline(store, handlers, api.Config(rand_seed=7))
    assert order[0] == "extract" and order[-1] == "load"
    assert set(order) == {"extract", "t1", "t2", "load"}
    statuses = {j.type: j.status for j in (store.job_info(i) for i in store._jobs)}
    assert set(statuses.values()) == {STATUS_FINISHED}


def test_executor_retries_fault_until_success():
    store = MemoryStore()
    tries = {"n": 0}

    def flaky(job):
        tries["n"] += 1
        if tries["n"] < 3:
            api.fault("not yet")

    api.transact_graph(store, api.simple_graph("flaky"))
    api.run_pipeline(store, {"flaky": flaky})
    assert tries["n"] == 3


def test_harness_middleware():
    """Harness wraps a stage; missing stage ⇒ identity of correct arity
    (api.clj:120-183, api_test.clj:19-86)."""
    seen = []

    def with_logging(stage_fn):
        def wrapped(job):
            seen.append("before")
            out = stage_fn(job)
            seen.append("after")
            return out

        return wrapped

    wrapped = harness(lambda job: "result", "process", with_logging)
    assert invoke_handler(wrapped, Job(id="x", type="t")) == "result"
    assert seen == ["before", "after"]

    # wrapping a MISSING stage gets identity-of-correct-arity
    post_wrapped = harness(lambda job: 5, "post_process", lambda f: (lambda j, r: f(j, r) + 1))
    assert invoke_handler(post_wrapped, Job(id="x", type="t")) == 6


def test_missing_handlers_validation():
    graph = api.job_graph({"a": [], "b": ["a"]})
    assert api.missing_handlers({"a": lambda j: j}, graph) == {"b"}
    with pytest.raises(ValueError):
        api.validate_graph_handlers({"a": lambda j: j}, graph)


def test_worker_loops_end_to_end():
    """Live worker: detector + executor threads drain a small graph
    (executor_test.clj:56-76 style liveness test)."""
    import time

    from overseer_spark.config import Config
    from overseer_spark.worker import Worker

    store = MemoryStore()
    done = []
    handlers = {"a": lambda j: done.append("a"), "b": lambda j: done.append("b")}
    api.transact_graph(store, api.job_graph({"a": [], "b": ["a"]}))
    cfg = Config(detector_sleep_time=0.05, sleep_time=0.05)
    cfg.heartbeat.sleep_time = 0.2
    worker = Worker(store, handlers, cfg).start()
    try:
        deadline = time.time() + 10
        while time.time() < deadline and len(done) < 2:
            time.sleep(0.05)
    finally:
        worker.stop()
    assert done == ["a", "b"]
    assert store.job_info(next(iter(store._jobs))).status == STATUS_FINISHED


# -- tick cost + pick order: one ready scan per tick, no per-id hydration ---


class CountingStore:
    """Delegates to a store and counts calls per protocol method."""

    def __init__(self, store):
        self._store = store
        self.calls: dict[str, int] = {}

    def __getattr__(self, name):
        attr = getattr(self._store, name)
        if not callable(attr):
            return attr

        def counted(*args, **kwargs):
            self.calls[name] = self.calls.get(name, 0) + 1
            return attr(*args, **kwargs)

        return counted


def test_tick_is_one_ready_scan_and_no_hydration():
    """One tick over 100 ready jobs: a single type-filtered ``jobs_ready``,
    zero ``job_info`` point reads, one reservation, one finish."""
    store = CountingStore(MemoryStore())
    store.transact_graph(graph_of(*((f"j{i:03d}", []) for i in range(100))))
    store.calls.clear()
    handlers = {f"t-j{i:03d}": (lambda job: None) for i in range(100)}
    assert Executor(store, handlers, rand_seed=3).tick() == STATUS_FINISHED
    assert store.calls == {"jobs_ready": 1, "reserve_job": 1, "finish_job": 1}


def test_drain_never_reserves_unhandled_type():
    """A job no handler takes is never reserved and stays unstarted."""
    store = CountingStore(MemoryStore())
    store.transact_graph(graph_of(("a", []), ("b", ["a"]), ("orphan", [])))
    Executor(store, {"t-a": lambda j: None, "t-b": lambda j: None}).run_until_complete()
    assert store.calls["reserve_job"] == store.calls["finish_job"] == 2
    assert "job_info" not in store.calls
    assert store.job_info("b").status == STATUS_FINISHED
    assert store.job_info("orphan").status == STATUS_UNSTARTED


def _layered_graph():
    """Four layers of six handled jobs, plus unhandled ``skip`` jobs whose
    ids sort among them."""
    pairs = []
    for layer in range(4):
        for i in range(6):
            deps = [f"L{layer - 1}-{(i + k) % 6}" for k in (0, 1)] if layer else []
            pairs.append((f"L{layer}-{i}", deps))
        pairs.append((f"L{layer}-skip", []))
    g = graph_of(*pairs)
    for n, job in enumerate(g.jobs):
        job.type = "skip" if job.id.endswith("skip") else ("extract", "load")[n % 2]
    return g


@pytest.mark.parametrize("seed", [0, 7, 12345])
def test_seeded_pick_order_matches_hydrating_loop(seed):
    """``rand_seed`` determinism: the executor runs jobs in the order the
    former hydrate-then-filter loop picked them — ``rng.choice`` over the
    sorted ids' hydrated jobs whose type has a handler."""
    import random

    order: list[str] = []
    handlers = {"extract": lambda j: order.append(j.id), "load": lambda j: order.append(j.id)}
    store = MemoryStore()
    store.transact_graph(_layered_graph())
    Executor(store, handlers, rand_seed=seed).run_until_complete()

    ref = MemoryStore()
    ref.transact_graph(_layered_graph())
    rng = random.Random(seed)
    expected: list[str] = []
    while True:
        jobs = (ref.job_info(i) for i in ref.jobs_ready())
        ready = [j for j in jobs if j is not None and j.type in handlers]
        if not ready:
            break
        job = rng.choice(ready)
        ref.reserve_job(job.id)
        ref.finish_job(job.id)
        expected.append(job.id)
    assert order == expected
    assert len(order) == 24
