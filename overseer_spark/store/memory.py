"""In-memory store: driver dict + lock.

The v0 single-process backend (SURVEY.md §7 phase 0): CAS semantics come
from a mutex, matching the reference's H2-in-memory test store
(overseer/test/overseer/test_utils.clj:14-41). The protocol test suite in
tests/test_store_protocol.py runs against this AND the Spark-backed store.
"""

from __future__ import annotations

import threading
import time
from dataclasses import replace
from typing import AbstractSet, Any, Mapping

from overseer_spark.core import (
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.store.base import IllegalTransition, Store


class MemoryStore(Store):
    def __init__(self) -> None:
        self._jobs: dict[str, Job] = {}
        self._deps: list[tuple[str, str]] = []  # (job_id, dep_id)
        self._lock = threading.RLock()

    def install(self) -> None:
        pass

    # -- writes ------------------------------------------------------------

    def transact_graph(self, graph: JobGraph) -> JobGraph:
        graph.validate()
        with self._lock:
            if any(j.id in self._jobs for j in graph.jobs):
                return graph  # idempotent no-op: never upsert args
            for j in graph.jobs:
                self._jobs[j.id] = replace(j)
            self._deps.extend(graph.edges)
        return graph

    def reserve_job(self, job_id: str) -> Job | None:
        with self._lock:
            job = self._jobs.get(job_id)
            if job is None or job.status != STATUS_UNSTARTED:
                return None
            updated = replace(
                job,
                status=STATUS_STARTED,
                heartbeat=int(time.time()),
                lock_version=job.lock_version + 1,
            )
            self._jobs[job_id] = updated
            return updated

    def _transition(self, job_id: str, from_status: int, **changes: Any) -> Job | None:
        with self._lock:
            job = self._jobs.get(job_id)
            if job is None or job.status != from_status:
                return None
            updated = replace(job, lock_version=job.lock_version + 1, **changes)
            self._jobs[job_id] = updated
            return updated

    def finish_job(self, job_id: str) -> None:
        if self._transition(job_id, STATUS_STARTED, status=STATUS_FINISHED) is None:
            raise IllegalTransition(f"finish_job: {job_id} not in started state")

    def fail_job(self, job_id: str, failure: Mapping[str, Any] | None = None) -> None:
        from overseer_spark.core import STATUS_FAILED

        if (
            self._transition(job_id, STATUS_STARTED, status=STATUS_FAILED, failure=failure)
            is None
        ):
            raise IllegalTransition(f"fail_job: {job_id} not in started state")

    def reset_job(self, job_id: str) -> Job | None:
        return self._transition(
            job_id, STATUS_STARTED, status=STATUS_UNSTARTED, heartbeat=int(time.time())
        )

    def heartbeat_job(self, job_id: str) -> None:
        with self._lock:
            job = self._jobs.get(job_id)
            if job is not None:
                self._jobs[job_id] = replace(job, heartbeat=int(time.time()))

    def abort_job(self, job_id: str) -> None:
        from overseer_spark.core import STATUS_ABORTED

        with self._lock:
            targets = {job_id} | self.dependents(job_id)
            for jid in targets:
                job = self._jobs.get(jid)
                if job is not None:
                    self._jobs[jid] = replace(
                        job, status=STATUS_ABORTED, lock_version=job.lock_version + 1
                    )

    # -- queries -----------------------------------------------------------

    def job_info(self, job_id: str) -> Job | None:
        with self._lock:
            job = self._jobs.get(job_id)
            return replace(job) if job is not None else None

    def jobs_ready(
        self, limit: int | None = None, types: AbstractSet[str] | None = None
    ) -> list[str]:
        with self._lock:
            unfinished = {
                jid for jid, j in self._jobs.items() if j.status != STATUS_FINISHED
            }
            blocked = {job_id for job_id, dep_id in self._deps if dep_id in unfinished}
            ready = sorted(
                jid
                for jid, j in self._jobs.items()
                if j.status == STATUS_UNSTARTED
                and jid not in blocked
                and (types is None or j.type in types)
            )
            return ready[:limit] if limit else ready

    def jobs_dead(self, threshold: int, limit: int | None = None) -> list[str]:
        with self._lock:
            dead = sorted(
                jid
                for jid, j in self._jobs.items()
                if j.status == STATUS_STARTED
                and j.heartbeat is not None
                and j.heartbeat < threshold
            )
            return dead[:limit] if limit else dead

    def jobs_with_status(self, status: int) -> list[str]:
        with self._lock:
            return sorted(jid for jid, j in self._jobs.items() if j.status == status)

    def dependents(self, job_id: str) -> set[str]:
        with self._lock:
            out: set[str] = set()
            frontier = {job_id}
            while frontier:
                nxt = {
                    jid
                    for jid, dep_id in self._deps
                    if dep_id in frontier and jid not in out
                }
                out |= nxt
                frontier = nxt
            return out
