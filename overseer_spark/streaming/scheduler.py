"""The scheduler as a Structured Streaming query.

SURVEY.md §3.1: the reference's detector loop is a 2-second poll
(overseer/worker.clj:30-36); its natural Spark expression is a streaming
query whose micro-batch trigger IS the poll cadence — the rate source
provides the heartbeat, ``foreachBatch`` runs one scheduler pass (ready →
reserve → run), and Spark owns trigger scheduling, retry, and (with a real
checkpoint) restart-on-failure. The thread-based ``worker.Worker`` remains
the faithful minimum; this is the Spark-native deployment shape.

Semantics preserved from the reference:
- random ready-job pick to spread reservation contention
  (overseer/executor.clj:69);
- CAS reserve, skip on lost race (overseer/executor.clj:73-78) — so N
  streaming schedulers against one store coexist;
- at-least-once: handlers must stay idempotent
  (doc/guide/BasicGraphsHandlers.md:31-32).
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

from overseer_spark.config import Config
from overseer_spark.executor import Executor
from overseer_spark.harness import Handler
from overseer_spark.store.base import Store

log = logging.getLogger("overseer_spark.streaming.scheduler")


class StreamingWorker:
    """Scheduler ticks driven by a rate-source streaming query."""

    def __init__(
        self,
        spark: SparkSession,
        store: Store,
        handlers: dict[str, Handler],
        config: Config | None = None,
        jobs_per_tick: int | None = None,
        checkpoint_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.store = store
        self.handlers = handlers
        self.config = config or Config()
        self.jobs_per_tick = jobs_per_tick
        self.checkpoint_dir = checkpoint_dir
        self.executor = Executor(
            store,
            handlers,
            self.config.sleep_time,
            self.config.rand_seed,
            self.config.error_sink,
        )
        self.query = None

    def _tick(self, _batch_df, batch_id: int) -> None:
        """One micro-batch = one monitor pass, then executor ticks until a
        rescan of the ready snapshot finds nothing (or ``jobs_per_tick``)."""
        if self.config.heartbeat.enabled:
            self._monitor_pass()
        ran = 0
        while self.executor.has_ready():
            if self.executor.tick() is not None:
                ran += 1
            if self.jobs_per_tick and ran >= self.jobs_per_tick:
                break
        if ran:
            log.info("streaming tick %d ran %d job(s)", batch_id, ran)

    def _monitor_pass(self) -> None:
        """Reset dead jobs (stale heartbeat) for retry — the reference's
        monitor loop (overseer/heartbeat.clj:45-68) run once per
        micro-batch, so a pool of streaming workers self-heals after a
        member is killed mid-job."""
        import time as _t

        try:
            threshold = self.config.liveness_threshold(_t.time())
            for job_id in self.store.jobs_dead(threshold):
                self.store.reset_job(job_id)  # None on lost race is fine
        except Exception:
            log.exception("monitor pass error")

    def _heartbeat_loop(self) -> None:
        """Side thread: beat for the in-flight job while the micro-batch
        runs it (overseer/heartbeat.clj:19-31). A thread, not a stream —
        the job executes synchronously inside foreachBatch, so only an
        independent thread can keep it alive past the tolerance."""
        import time as _t

        while not self._hb_stop.is_set():
            job = self.executor.current_job
            if job is not None:
                try:
                    self.store.heartbeat_job(job.id)
                except Exception:
                    log.exception("heartbeat loop error")
            self._hb_stop.wait(self.config.heartbeat.sleep_time)

    def start(self) -> "StreamingWorker":
        if self.config.heartbeat.enabled:
            import threading

            self._hb_stop = threading.Event()
            t = threading.Thread(
                target=self._heartbeat_loop, name="stream-heartbeat", daemon=True
            )
            t.start()
            self._hb_thread = t
        stream = (
            self.spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        )
        writer = stream.writeStream.trigger(
            processingTime=f"{int(self.config.detector_sleep_time * 1000)} milliseconds"
        ).foreachBatch(self._tick)
        if self.checkpoint_dir:
            writer = writer.option("checkpointLocation", self.checkpoint_dir)
        self.query = writer.start()
        return self

    def await_drained(self, timeout: float = 60.0, poll: float = 0.2) -> bool:
        """Block until no job is unstarted/started (or timeout); for tests
        and batch-style draining. Returns True if drained."""
        import time as _t

        from overseer_spark.core import STATUS_STARTED, STATUS_UNSTARTED

        deadline = _t.monotonic() + timeout
        while _t.monotonic() < deadline:
            pending = self.store.jobs_with_status(
                STATUS_UNSTARTED
            ) or self.store.jobs_with_status(STATUS_STARTED)
            if not pending:
                return True
            _t.sleep(poll)
        return False

    def stop(self) -> None:
        if getattr(self, "_hb_thread", None) is not None:
            self._hb_stop.set()
            self._hb_thread.join(timeout=5)
            self._hb_thread = None
        if self.query is not None:
            self.query.stop()
            self.query = None
