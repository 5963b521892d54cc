"""In-memory store: driver dict + lock.

The v0 single-process backend (SURVEY.md §7 phase 0): CAS semantics come
from a mutex, matching the reference's H2-in-memory test store
(overseer/test/overseer/test_utils.clj:14-41). The protocol test suite in
tests/test_store_protocol.py runs against this AND the Spark-backed store.
"""

from __future__ import annotations

import threading
from dataclasses import replace
from typing import Any

from overseer_spark.core import Job, JobGraph
from overseer_spark.store.base import Store


class MemoryStore(Store):
    def __init__(self) -> None:
        self._jobs: dict[str, Job] = {}
        self._deps: list[tuple[str, str]] = []  # (job_id, dep_id)
        self._lock = threading.RLock()

    def install(self) -> None:
        pass

    def transact_graph(self, graph: JobGraph) -> JobGraph:
        graph.validate()
        with self._lock:
            if any(j.id in self._jobs for j in graph.jobs):
                return graph  # idempotent no-op: never upsert args
            for j in graph.jobs:
                self._jobs[j.id] = replace(j)
            self._deps.extend(graph.edges)
        return graph

    def _transition(self, job_id: str, from_status: int | None, **changes: Any) -> Job | None:
        with self._lock:
            job = self._jobs.get(job_id)
            if job is None or (from_status is not None and job.status != from_status):
                return None
            updated = replace(job, lock_version=job.lock_version + 1, **changes)
            self._jobs[job_id] = updated
            return replace(updated)

    def job_info(self, job_id: str) -> Job | None:
        with self._lock:
            job = self._jobs.get(job_id)
            return replace(job) if job is not None else None

    def _snapshot(self):
        with self._lock:
            rows = [(j.id, j.type, j.status, j.heartbeat) for j in self._jobs.values()]
            return rows, list(self._deps)
