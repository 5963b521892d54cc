"""Spark-native store: state-as-tables with an append-only transition log.

Instead of porting the reference's row-level CAS (overseer/store/jdbc.clj:
62-87 lock_version machinery), state changes are *appended* as parquet rows
and the current state of a job is "last transition wins":

    jobs_df = log.withColumn(rn, row_number() over (partition by id order by seq desc))
                 .filter(rn == 1)

Why this is the right shape for Spark at scale:

- **Writes are appends** — no rewrite of existing files, no transactional
  table format required. Each transition is one tiny parquet file; a
  compaction pass (``compact()``) folds the log back to one file per id.
- **Reads are declarative** — ready/dead/closure run on the derived
  current-state DataFrame via operators/scheduling.py, so Catalyst plans
  them (broadcast anti-joins etc.) exactly as at 100 TB.
- **Heartbeats** are log appends too; "current heartbeat" is just the max
  seq row — the reference's R10 note in SURVEY.md §2.A.
- **CAS** remains driver-serialized (single-writer per SURVEY.md §7);
  ``reserve_job`` checks current status then appends, under a lock. The
  return-None-on-lost-race *interface* is preserved so a multi-writer
  backend (Delta MERGE with a status predicate) can swap in.

At sf-test scale the per-append overhead dominates, so the driver keeps a
write-through cache of current state; the DataFrame path is exercised by
``jobs_df()``/``deps_df()`` and the protocol tests assert both views agree.

The cache is a *bounded* LRU (``cache_capacity``, default 100k jobs): a
miss falls back to a predicate-pushed point lookup on the log (id filter
reaches the parquet scan, then last-seq-wins), so the driver's memory
ceiling is the cap — not the job count. A 10⁸-job log never materializes
on the driver; ``load()`` after restart just recovers the seq counter.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import replace
from typing import AbstractSet, Any, Mapping

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from overseer_spark.core import (
    DEPENDENCIES_SCHEMA,
    JOBS_SCHEMA,
    STATUS_ABORTED,
    STATUS_FAILED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.operators.scheduling import (
    dead_jobs,
    ready_jobs,
    transitive_dependents,
)
from overseer_spark.store.base import IllegalTransition, Store

LOG_SCHEMA = T.StructType(
    list(JOBS_SCHEMA.fields) + [T.StructField("seq", T.LongType(), nullable=False)]
)


class SparkLogStore(Store):
    def __init__(
        self, spark: SparkSession, path: str, cache_capacity: int = 100_000
    ) -> None:
        self.spark = spark
        self.path = path
        self._jobs_log = os.path.join(path, "jobs_log")
        self._deps_dir = os.path.join(path, "dependencies")
        self._lock = threading.RLock()
        self._seq = 0
        # bounded write-through LRU of current job state; consistent under
        # the single-writer contract because every write appends to the log
        # before returning — a miss re-reads the log (point lookup).
        self._capacity = cache_capacity
        from collections import OrderedDict

        self._lru: "OrderedDict[str, Job]" = OrderedDict()

    def _lru_put(self, job: Job) -> None:
        self._lru[job.id] = job
        self._lru.move_to_end(job.id)
        while len(self._lru) > self._capacity:
            self._lru.popitem(last=False)

    def _current(self, job_id: str) -> Job | None:
        """Current state of one job: LRU hit, else predicate-pushed log
        lookup (id filter reaches the parquet scan; last seq wins)."""
        job = self._lru.get(job_id)
        if job is not None:
            self._lru.move_to_end(job_id)
            return job
        import json as _json

        rows = (
            self._log_df()
            .filter(F.col("id") == job_id)
            .orderBy(F.desc("seq"))
            .limit(1)
            .collect()
        )
        if not rows:
            return None
        r = rows[0]
        job = Job(
            id=r["id"],
            type=r["type"],
            args=_json.loads(r["args"]) if r["args"] else None,
            status=r["status"],
            failure=_json.loads(r["failure"]) if r["failure"] else None,
            heartbeat=r["heartbeat"],
            lock_version=r["lock_version"],
        )
        self._lru_put(job)
        return job

    # -- plumbing ----------------------------------------------------------

    def install(self) -> None:
        os.makedirs(self._jobs_log, exist_ok=True)
        os.makedirs(self._deps_dir, exist_ok=True)

    def _append_jobs(self, jobs: list[Job]) -> None:
        # transition timestamps stamped at append (reference sets
        # created_at on insert / updated_at on every write —
        # store/jdbc.clj:171-175,76); runtime analytics
        # (operators/scheduling.py job_runtime_stats) derive from these
        import datetime as _dt

        # timezone-aware so the stored instant is unambiguous regardless of
        # driver timezone (naive utcnow() would be read as driver-local)
        now = _dt.datetime.now(_dt.timezone.utc)
        rows = []
        for j in jobs:
            self._seq += 1
            r = j.to_row()
            r["seq"] = self._seq
            r["updated_at"] = now
            if j.status == 0 and j.lock_version == 0:  # insert row
                r["created_at"] = now
            rows.append(r)
        (
            self.spark.createDataFrame(rows, schema=LOG_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(self._jobs_log)
        )

    def _append_deps(self, edges: list[tuple[str, str]]) -> None:
        rows = [{"job_id": a, "dep_id": b} for a, b in edges]
        (
            self.spark.createDataFrame(rows, schema=DEPENDENCIES_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(self._deps_dir)
        )

    def _log_df(self) -> DataFrame:
        try:
            return self.spark.read.schema(LOG_SCHEMA).parquet(self._jobs_log)
        except Exception:
            return self.spark.createDataFrame([], schema=LOG_SCHEMA)

    def jobs_df(self, as_of_seq: int | None = None) -> DataFrame:
        """Current job state: last log row per id.

        ``as_of_seq`` is time travel for free — the append-only log IS the
        version history, so "state when transition N landed" is the same
        last-wins window over the ``seq <= N`` prefix (the audit/debug
        query: what did the DAG look like when the incident started?).
        Note ``compact()`` folds history away; retention policy decides
        how far back travel reaches, exactly as in Delta/Iceberg."""
        log = self._log_df()
        if as_of_seq is not None:
            log = log.filter(F.col("seq") <= as_of_seq)
        w = Window.partitionBy("id").orderBy(F.desc("seq"))
        # created_at lives only on the insert row; carry it onto the
        # current-state row (min over the id partition skips the NULLs on
        # update rows) so state matches the reference JDBC row, which keeps
        # created_at through every update (store/jdbc.clj:171-175).
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .withColumn("created_at", F.min("created_at").over(Window.partitionBy("id")))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "seq")
        )

    def current_seq(self) -> int:
        """Latest transition number (the version counter for as-of reads)."""
        return self._seq

    def deps_df(self) -> DataFrame:
        try:
            return self.spark.read.schema(DEPENDENCIES_SCHEMA).parquet(self._deps_dir)
        except Exception:
            return self.spark.createDataFrame([], schema=DEPENDENCIES_SCHEMA)

    def compact(self) -> None:
        """Fold the log down, keeping the rows analytics need (run
        periodically at scale).

        Retained per id: the insert row (created_at provenance), the first
        ``started`` row, and the last row (current state) — so
        ``job_runtime_stats`` keeps real start→terminal runtimes after
        compaction. Intermediate retries/resets DO fold away: a job that
        failed, reset, and finished loses the failed row, so historical
        outcome counts reflect post-compaction state only. The rewrite is
        fully distributed — no driver materialization; at 10⁸ jobs this is
        a normal Spark job over job *metadata*.
        """
        with self._lock:
            log = self._log_df()
            w_desc = Window.partitionBy("id").orderBy(F.desc("seq"))
            w_asc = Window.partitionBy("id").orderBy("seq")
            keep = (
                log.withColumn("_rl", F.row_number().over(w_desc))
                .withColumn("_rf", F.row_number().over(w_asc))
                .withColumn(
                    "_ns",
                    F.sum(
                        F.when(F.col("status") == STATUS_STARTED, 1).otherwise(0)
                    ).over(w_asc),
                )
                .filter(
                    (F.col("_rl") == 1)
                    | (F.col("_rf") == 1)
                    | ((F.col("status") == STATUS_STARTED) & (F.col("_ns") == 1))
                )
                .drop("_rl", "_rf", "_ns")
            )
            tmp = self._jobs_log + ".compact"
            keep.coalesce(1).write.mode("overwrite").parquet(tmp)
            import shutil

            shutil.rmtree(self._jobs_log)
            os.rename(tmp, self._jobs_log)

    def load(self) -> None:
        """Recover driver state from the log (restart path): only the seq
        counter comes to the driver — one scalar, not the jobs table. The
        LRU warms lazily via point lookups."""
        with self._lock:
            self._lru.clear()
            mx = self._log_df().agg(F.max("seq")).collect()[0][0]
            self._seq = mx or 0

    # -- writes (driver-serialized; appends to the log) --------------------

    def transact_graph(self, graph: JobGraph) -> JobGraph:
        graph.validate()
        with self._lock:
            ids = [j.id for j in graph.jobs]
            misses = [i for i in ids if i not in self._lru]
            if len(misses) < len(ids):
                return graph  # cached id exists → all-or-nothing no-op
            if misses:
                # one distributed membership probe for the whole graph, not
                # a per-id loop (id filter pushes to the parquet scan)
                n = (
                    self._log_df()
                    .filter(F.col("id").isin(misses))
                    .select("id")
                    .limit(1)
                    .count()
                )
                if n > 0:
                    return graph
            self._append_jobs(graph.jobs)
            for j in graph.jobs:
                self._lru_put(replace(j))
            if graph.edges:
                self._append_deps(graph.edges)
            return graph

    def _transition(
        self, job_id: str, from_status: int | None, **changes: Any
    ) -> Job | None:
        """Single-writer CAS: check current state, append the new row,
        write through the LRU. None when the precondition fails."""
        job = self._current(job_id)
        if job is None or (from_status is not None and job.status != from_status):
            return None
        updated = replace(job, lock_version=job.lock_version + 1, **changes)
        self._append_jobs([updated])
        self._lru_put(updated)
        return updated

    def reserve_job(self, job_id: str) -> Job | None:
        with self._lock:
            return self._transition(
                job_id,
                STATUS_UNSTARTED,
                status=STATUS_STARTED,
                heartbeat=int(time.time()),
            )

    def finish_job(self, job_id: str) -> None:
        with self._lock:
            if self._transition(job_id, STATUS_STARTED, status=STATUS_FINISHED) is None:
                raise IllegalTransition(f"finish_job: {job_id} not in started state")

    def fail_job(self, job_id: str, failure: Mapping[str, Any] | None = None) -> None:
        with self._lock:
            if (
                self._transition(
                    job_id, STATUS_STARTED, status=STATUS_FAILED, failure=failure
                )
                is None
            ):
                raise IllegalTransition(f"fail_job: {job_id} not in started state")

    def reset_job(self, job_id: str) -> Job | None:
        with self._lock:
            return self._transition(
                job_id,
                STATUS_STARTED,
                status=STATUS_UNSTARTED,
                heartbeat=int(time.time()),
            )

    def heartbeat_job(self, job_id: str) -> None:
        with self._lock:
            self._transition(job_id, None, heartbeat=int(time.time()))

    def abort_job(self, job_id: str) -> None:
        with self._lock:
            targets = sorted({job_id} | self.dependents(job_id))
            updated = []
            for jid in targets:
                job = self._current(jid)
                if job is not None:
                    job = replace(
                        job, status=STATUS_ABORTED, lock_version=job.lock_version + 1
                    )
                    updated.append(job)
                    self._lru_put(job)
            if updated:
                self._append_jobs(updated)

    # -- queries (DataFrame plans over the derived state) ------------------

    def job_info(self, job_id: str) -> Job | None:
        with self._lock:
            job = self._current(job_id)
            return replace(job) if job is not None else None

    def jobs_ready(
        self, limit: int | None = None, types: AbstractSet[str] | None = None
    ) -> list[str]:
        df = ready_jobs(self.jobs_df(), self.deps_df(), limit, types)
        return sorted(r["id"] for r in df.collect())

    def jobs_dead(self, threshold: int, limit: int | None = None) -> list[str]:
        df = dead_jobs(self.jobs_df(), threshold, limit)
        return sorted(r["id"] for r in df.collect())

    def jobs_with_status(self, status: int) -> list[str]:
        df = self.jobs_df().filter(F.col("status") == status).select("id")
        return sorted(r["id"] for r in df.collect())

    def dependents(self, job_id: str) -> set[str]:
        df = transitive_dependents(self.deps_df(), [job_id])
        return {r["id"] for r in df.collect()}
