"""Pluggable error-reporting sink — the reference's Sentry hook
(overseer/errors.clj:84-104) generalized to a Config callback: called with
the JSON-safe failure struct on every non-suppressed failure, skipped for
abort_silent/fault, never able to change the job outcome, and wired to the
monitor's fatal path (errors.clj:83-91)."""

from __future__ import annotations

import time

import pytest

from overseer_spark import api

# monitor-initiated shutdown calls Worker.stop() from the monitor's own
# thread; a self-join there escapes as an unhandled thread exception —
# escalate so the regression fails loudly instead of warning
pytestmark = pytest.mark.filterwarnings(
    "error::pytest.PytestUnhandledThreadExceptionWarning"
)
from overseer_spark.config import Config, HeartbeatConfig
from overseer_spark.core import (
    STATUS_ABORTED,
    STATUS_FAILED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.executor import run_job
from overseer_spark.store.memory import MemoryStore


def _store_with(job_id="j1", jtype="t"):
    store = MemoryStore()
    store.install()
    store.transact_graph(JobGraph(jobs=[Job(id=job_id, type=jtype)], edges=[]))
    store.reserve_job(job_id)
    return store


def test_sink_called_on_failure_with_golden_shape():
    store = _store_with()
    seen = []

    def boom(job):
        raise ValueError("kaput")

    status = run_job(store, {"t": boom}, store.job_info("j1"), error_sink=seen.append)
    assert status == STATUS_FAILED
    assert len(seen) == 1
    payload = seen[0]
    assert payload["job_id"] == "j1" and payload["job_type"] == "t"
    f = payload["failure"]
    assert f["reason"] == "unhandled-exception"
    assert f["exception"] == "ValueError" and f["message"] == "kaput"
    assert "traceback" in f["data"]


def test_sink_called_on_abort_but_not_abort_silent():
    # plain abort: reported (reference abort carries no suppress flag)
    store = _store_with()
    seen = []
    run_job(
        store,
        {"t": lambda job: api.abort("bad input", {"k": 1})},
        store.job_info("j1"),
        error_sink=seen.append,
    )
    assert store.job_info("j1").status == STATUS_ABORTED
    assert len(seen) == 1 and seen[0]["failure"]["exception"] == "Abort"
    assert seen[0]["failure"]["data"] == {"k": 1}

    # abort_silent: suppress? -> sink skipped (errors.clj:96-98)
    store2 = _store_with()
    seen2 = []
    run_job(
        store2,
        {"t": lambda job: api.abort_silent()},
        store2.job_info("j1"),
        error_sink=seen2.append,
    )
    assert store2.job_info("j1").status == STATUS_ABORTED
    assert seen2 == []


def test_sink_skipped_on_fault_retry():
    store = _store_with()
    seen = []
    run_job(
        store,
        {"t": lambda job: api.fault("transient")},
        store.job_info("j1"),
        error_sink=seen.append,
    )
    assert store.job_info("j1").status == STATUS_UNSTARTED  # back for retry
    assert seen == []


def test_sink_exception_never_changes_job_outcome():
    store = _store_with()

    def bad_sink(payload):
        raise RuntimeError("sink is down")

    def boom(job):
        raise ValueError("kaput")

    status = run_job(store, {"t": boom}, store.job_info("j1"), error_sink=bad_sink)
    assert status == STATUS_FAILED
    assert store.job_info("j1").status == STATUS_FAILED
    assert store.job_info("j1").failure["message"] == "kaput"


def test_run_pipeline_threads_config_sink():
    store = MemoryStore()
    store.install()
    store.transact_graph(
        JobGraph(jobs=[Job(id="ok", type="good"), Job(id="no", type="bad")], edges=[])
    )
    seen = []
    cfg = Config(rand_seed=42, error_sink=seen.append)
    handlers = {
        "good": lambda job: None,
        "bad": lambda job: (_ for _ in ()).throw(ValueError("nope")),
    }
    api.run_pipeline(store, handlers, cfg)
    assert store.job_info("ok").status == STATUS_FINISHED
    assert store.job_info("no").status == STATUS_FAILED
    assert [p["job_id"] for p in seen] == ["no"]


def test_started_worker_threads_config_sink():
    """A long-running ``api.start`` worker delivers job failures to
    ``Config.error_sink`` too, not only ``run_pipeline``."""
    store = MemoryStore()
    store.install()
    store.transact_graph(
        JobGraph(
            jobs=[Job(id="ok", type="good"), Job(id="no", type="bad")],
            edges=[],
        )
    )
    seen = []
    cfg = Config(
        detector_sleep_time=0.05,
        sleep_time=0.05,
        heartbeat=HeartbeatConfig(enabled=False),
        error_sink=seen.append,
    )
    handlers = {
        "good": lambda job: None,
        "bad": lambda job: (_ for _ in ()).throw(ValueError("nope")),
    }
    worker = api.start(store, handlers, cfg)
    try:
        deadline = time.time() + 10
        while time.time() < deadline and (
            store.jobs_with_status(STATUS_UNSTARTED)
            or store.jobs_with_status(STATUS_STARTED)
        ):
            time.sleep(0.02)
    finally:
        worker.stop()
    assert store.job_info("ok").status == STATUS_FINISHED
    assert store.job_info("no").status == STATUS_FAILED
    assert [p["job_id"] for p in seen] == ["no"]
    assert seen[0]["failure"]["message"] == "nope"


def test_monitor_fatal_path_reports_then_shuts_down():
    class ExplodingStore(MemoryStore):
        def jobs_dead(self, threshold, limit=None):
            raise RuntimeError("store unreachable")

    store = ExplodingStore()
    store.install()
    seen = []
    cfg = Config(
        heartbeat=HeartbeatConfig(sleep_time=0.01),
        monitor_shutdown=True,
        error_sink=seen.append,
    )
    worker = api.start(store, {}, cfg)
    deadline = time.time() + 5
    while time.time() < deadline and not seen:
        time.sleep(0.01)
    worker.stop()
    assert seen and seen[0]["reason"] == "monitor-error"
    assert seen[0]["message"] == "store unreachable"
