"""Worker: the four cooperating loops (detector / executor / heartbeat /
monitor) sharing state, coordinating with other workers only through the
store — masterless, like the reference (overseer/worker.clj:24-50,
doc/guide/Concepts.md:13-16).

Spark translation (SURVEY.md §3.1): the loops are driver threads issuing
DataFrame queries; scale-out comes from executors doing the data work
inside handlers, and optionally N workers against a shared store.
"""

from __future__ import annotations

import logging
import random
import threading
import time

from overseer_spark.config import Config
from overseer_spark.executor import Executor
from overseer_spark.harness import Handler
from overseer_spark.store.base import Store

log = logging.getLogger("overseer_spark.worker")


class Worker:
    def __init__(
        self, store: Store, handlers: dict[str, Handler], config: Config | None = None
    ) -> None:
        self.store = store
        self.handlers = handlers
        self.config = config or Config()
        self.executor = Executor(
            store,
            handlers,
            self.config.sleep_time,
            self.config.rand_seed,
            self.config.error_sink,
        )
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []

    # -- the four loops ----------------------------------------------------

    def _detector_loop(self) -> None:
        """Every detector_sleep_time: refresh the executor's ready snapshot
        (worker.clj:30-36)."""
        while not self._stop.is_set():
            try:
                self.executor.refresh()
            except Exception:
                log.exception("detector loop error")
            self._stop.wait(self.config.detector_sleep_time)

    def _executor_loop(self) -> None:
        """Tick while the ready snapshot holds ids; idle-backoff when a
        rescan finds none (executor.clj:62-87)."""
        while not self._stop.is_set():
            try:
                if not self.executor.has_ready():
                    self._stop.wait(self.config.sleep_time)
                    continue
                self.executor.tick()
            except Exception:
                log.exception("executor loop error")
                self._stop.wait(self.config.sleep_time)

    def _heartbeat_loop(self) -> None:
        """Every heartbeat.sleep_time: beat for the in-flight job
        (overseer/heartbeat.clj:19-31)."""
        while not self._stop.is_set():
            job = self.executor.current_job
            if job is not None:
                try:
                    self.store.heartbeat_job(job.id)
                except Exception:
                    log.exception("heartbeat loop error")
            self._stop.wait(self.config.heartbeat.sleep_time)

    def _monitor_loop(self) -> None:
        """Find dead jobs (stale heartbeat) and reset them for retry, with a
        random stagger so concurrent monitors don't clash
        (overseer/heartbeat.clj:45-68)."""
        rng = random.Random(self.config.rand_seed)
        while not self._stop.is_set():
            try:
                threshold = self.config.liveness_threshold(time.time())
                for job_id in self.store.jobs_dead(threshold):
                    self.store.reset_job(job_id)  # None on race is fine
            except Exception as exc:
                log.exception("monitor loop error")
                # fatal-path reporting (reference ->fatal-ex-handler,
                # errors.clj:83-91: log, capture to sink, shut down)
                from overseer_spark.errors import report_failure

                report_failure(
                    self.config.error_sink,
                    {
                        "reason": "monitor-error",
                        "exception": type(exc).__name__,
                        "message": str(exc),
                    },
                )
                if self.config.monitor_shutdown:
                    self.stop()
                    return
            self._stop.wait(self.config.heartbeat.sleep_time + rng.uniform(1, 10))

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> "Worker":
        loops = [self._detector_loop, self._executor_loop]
        if self.config.heartbeat.enabled:
            loops += [self._heartbeat_loop, self._monitor_loop]
        for fn in loops:
            t = threading.Thread(target=fn, name=fn.__name__, daemon=True)
            t.start()
            self._threads.append(t)
        return self

    def stop(self, timeout: float = 5.0) -> None:
        self._stop.set()
        for t in self._threads:
            # the monitor's fatal path calls stop() from inside its own
            # loop thread (reference heartbeat.clj:51-68 System/exit
            # analogue) — joining the current thread raises RuntimeError
            if t is threading.current_thread():
                continue
            t.join(timeout)
