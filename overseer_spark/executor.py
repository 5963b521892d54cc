"""Handler invocation + the scheduler tick.

Reference: ``invoke-handler`` pre→process→post pipeline
(overseer/executor.clj:12-39), ``run-job`` FSM dispatch
(overseer/executor.clj:41-60), ``tick`` (overseer/executor.clj:62-78).
"""

from __future__ import annotations

import logging
import random
import time
from typing import Any, Mapping

from overseer_spark.core import (
    STATUS_ABORTED,
    STATUS_FAILED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
)
from overseer_spark.errors import failure_info, report_failure, try_thunk
from overseer_spark.harness import Handler, as_stage_map
from overseer_spark.store.base import Store

log = logging.getLogger("overseer_spark.executor")


def invoke_handler(handler: Handler, job: Job) -> Any:
    """pre_process(job) → process(job) → post_process(job, result).

    A plain callable is ``{"process": fn}``; missing stages are skipped
    (executor.clj:12-39).
    """
    stages = as_stage_map(handler)
    unknown = set(stages) - {"pre_process", "process", "post_process"}
    if unknown:
        raise ValueError(f"unknown handler stages: {sorted(unknown)}")
    if "pre_process" in stages:
        stages["pre_process"](job)
    result = stages["process"](job) if "process" in stages else None
    if "post_process" in stages:
        result = stages["post_process"](job, result)
    return result


def run_job(
    store: Store,
    handlers: Mapping[str, Handler],
    job: Job,
    error_sink=None,
) -> int:
    """Run the handler for ``job`` (already reserved) and write back the FSM
    transition; returns the final status code (executor.clj:41-60).
    ``error_sink`` mirrors the reference's per-job Sentry handler
    (errors.clj:84-104): non-suppressed failures are delivered to it with
    job context; abort_silent/fault skip it."""
    handler = handlers.get(job.type)

    def on_error(exc: BaseException) -> dict:
        info = failure_info(exc)
        if not info["suppress"]:
            log.exception("job %s (%s) failed", job.id, job.type)
            report_failure(
                error_sink,
                {
                    "job_id": job.id,
                    "job_type": job.type,
                    "failure": info["failure"],
                },
            )
        return info

    outcome = try_thunk(on_error, lambda: (invoke_handler(handler, job), None)[1])
    if outcome is None:
        store.finish_job(job.id)
        return STATUS_FINISHED
    status = outcome["status"]
    if status == STATUS_FAILED:
        store.fail_job(job.id, outcome["failure"])
    elif status == STATUS_ABORTED:
        store.abort_job(job.id)
    elif status == STATUS_UNSTARTED:  # fault → retry later
        store.reset_job(job.id)
    else:
        raise AssertionError(f"unexpected outcome status {status}")
    return status


class Executor:
    """The scheduler tick loop (executor.clj:62-78): pop a *random* job from
    the ready snapshot (contention spreading, executor.clj:69-72),
    CAS-reserve it (skip on a lost race), run it.

    The snapshot is the sorted, type-filtered id list of the last ready
    scan; the tick rescans only when it is empty, so a drain costs one
    scan per snapshot, not one per job. An id that went stale in the
    meantime (another worker reserved it) loses its reservation, a cheap
    point read; the store's CAS keeps every job exactly-once."""

    def __init__(
        self,
        store: Store,
        handlers: Mapping[str, Handler],
        sleep_time: float = 10.0,
        rand_seed: int | None = None,
        error_sink=None,
    ) -> None:
        self.store = store
        self.handlers = handlers
        self.sleep_time = sleep_time
        self.rng = random.Random(rand_seed)
        self.error_sink = error_sink
        self.current_job: Job | None = None
        self._ready: list[str] = []

    def ready_ids(self) -> list[str]:
        """Sorted ids of ready jobs whose type has a handler (worker.clj:14-22).
        The type filter runs inside the store's ready scan (R12)."""
        return self.store.jobs_ready(types=frozenset(self.handlers))

    def refresh(self) -> list[str]:
        """Replace the ready snapshot with a fresh scan (the detector pass,
        worker.clj:30-36) and return it."""
        self._ready = ready = self.ready_ids()
        return ready

    def has_ready(self) -> bool:
        """Whether the snapshot holds an id; an empty one is rescanned first."""
        return bool(self._ready or self.refresh())

    def tick(self) -> int | None:
        """One scheduling step: pop a random id from the ready snapshot
        (rescanning if it is empty), reserve it and run it. Returns the
        job's final status, or None if nothing ran (empty queue or lost
        reservation race)."""
        # bind once: Worker's detector thread may swap in a new snapshot
        ready = self._ready or self.refresh()
        if not ready:
            time.sleep(min(self.sleep_time, 0.01))
            return None
        job_id = self.rng.choice(ready)
        ready.remove(job_id)
        reserved = self.store.reserve_job(job_id)
        if reserved is None:
            return None  # lost the race to another worker
        self.current_job = reserved
        try:
            return run_job(self.store, self.handlers, reserved, self.error_sink)
        finally:
            self.current_job = None

    def run_until_complete(self, max_ticks: int = 100_000) -> None:
        """Drain the queue: tick until a rescan finds no ready job.
        Single-process convenience used by tests and ``api.run_pipeline``."""
        for _ in range(max_ticks):
            if not self.has_ready():
                return
            self.tick()
        raise RuntimeError("run_until_complete: exceeded max_ticks")
