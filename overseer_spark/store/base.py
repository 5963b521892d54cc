"""The Store protocol — the engine's entire persistence + query surface.

Mirrors the reference's 11-operation protocol (overseer/core.clj:107-152),
with the same semantics contract:

- ``transact_graph`` is idempotent all-or-nothing: if ANY job id already
  exists, nothing is inserted (Datomic guard overseer/store/datomic.clj:67-78).
- ``reserve_job`` is a CAS unstarted→started; returns None on a lost race
  (overseer/store/jdbc.clj:190-195).
- ``finish_job`` raises on an illegal transition; ``reset_job`` returns
  None silently (overseer/core.clj:124-143).
- ``abort_job`` cascades to all transitive dependents (R5 closure,
  overseer/store/jdbc.clj:214-221).
- ``jobs_ready`` / ``jobs_dead`` may bound their result size
  (overseer/core.clj:145-152).
- ``jobs_ready(types=...)`` keeps only jobs of a type in ``types`` (the
  R12 handleable filter, overseer/worker.clj:14-22), applied inside the
  ready scan and before ``limit``.

This class is the one statement of the status diagram
(overseer/core.clj:86-106): the six transition methods below are written
once over a single backend primitive, ``_transition``, a compare-and-set
on one job that bumps ``lock_version`` by exactly one per applied write.

The set queries run where each backend's state lives. The base class
computes them in the driver from ``_snapshot()`` — the memory, FileCAS
and manifest stores hold (or replay) their whole job table in-process,
so the ready anti-join, the dead filter and the closure BFS are plain
set operations over those rows. ``SqliteStore`` answers them in SQL and
``SparkLogStore``, whose state is a parquet log, with Spark plans
(operators/scheduling.py); both override the four queries.
"""

from __future__ import annotations

import abc
import time
from typing import AbstractSet, Any, Mapping

from overseer_spark.core import (
    STATUS_ABORTED,
    STATUS_FAILED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)


class IllegalTransition(RuntimeError):
    pass


class Store(abc.ABC):
    @abc.abstractmethod
    def install(self) -> None:
        """Create the jobs/dependencies tables (R25)."""

    @abc.abstractmethod
    def transact_graph(self, graph: JobGraph) -> JobGraph:
        """Idempotent all-or-nothing graph insert (R7)."""

    @abc.abstractmethod
    def job_info(self, job_id: str) -> Job | None:
        """Point lookup (R1)."""

    @abc.abstractmethod
    def _transition(
        self, job_id: str, from_status: int | None, **changes: Any
    ) -> Job | None:
        """Apply ``changes`` to the job and bump its ``lock_version`` by
        one, iff the job exists and ``from_status`` is None or equals its
        status. A concurrent write is retried; once the precondition fails
        the result is None. Returns the job as written."""

    def _snapshot(
        self,
    ) -> tuple[list[tuple[str, str, int, int | None]], list[tuple[str, str]]]:
        """One read of every job's (id, type, status, heartbeat) and every
        (job_id, dep_id) edge, for the in-driver set queries. Backends
        that override all four queries need not implement it."""
        raise NotImplementedError

    # -- the status diagram (R8-R11) ---------------------------------------

    def reserve_job(self, job_id: str) -> Job | None:
        """CAS unstarted→started + heartbeat; None on lost race (R8)."""
        return self._transition(
            job_id, STATUS_UNSTARTED, status=STATUS_STARTED, heartbeat=int(time.time())
        )

    def finish_job(self, job_id: str) -> None:
        """started→finished; raises IllegalTransition otherwise (R9)."""
        if self._transition(job_id, STATUS_STARTED, status=STATUS_FINISHED) is None:
            raise IllegalTransition(f"finish_job: {job_id} not in started state")

    def fail_job(self, job_id: str, failure: Mapping[str, Any] | None = None) -> None:
        """started→failed + failure struct; raises otherwise (R9)."""
        if (
            self._transition(job_id, STATUS_STARTED, status=STATUS_FAILED, failure=failure)
            is None
        ):
            raise IllegalTransition(f"fail_job: {job_id} not in started state")

    def reset_job(self, job_id: str) -> Job | None:
        """started→unstarted + heartbeat bump; None on race, never raises (R9)."""
        return self._transition(
            job_id, STATUS_STARTED, status=STATUS_UNSTARTED, heartbeat=int(time.time())
        )

    def heartbeat_job(self, job_id: str) -> None:
        """Set heartbeat to now, in any status (R10); like the reference's
        update-job it bumps lock_version (jdbc.clj:76)."""
        self._transition(job_id, None, heartbeat=int(time.time()))

    def abort_job(self, job_id: str) -> None:
        """Abort job + all transitive dependents (R11 over the R5 closure)."""
        for jid in sorted({job_id} | self.dependents(job_id)):
            self._transition(jid, None, status=STATUS_ABORTED)

    # -- set queries over the snapshot (R3-R5, R24) ------------------------

    def jobs_ready(
        self, limit: int | None = None, types: AbstractSet[str] | None = None
    ) -> list[str]:
        """Sorted ids of unstarted jobs whose deps are all finished (R3);
        with ``types``, only jobs of those types (R12)."""
        rows, edges = self._snapshot()
        unfinished = {i for i, _, status, _ in rows if status != STATUS_FINISHED}
        blocked = {job_id for job_id, dep_id in edges if dep_id in unfinished}
        ready = sorted(
            i
            for i, type_, status, _ in rows
            if status == STATUS_UNSTARTED
            and i not in blocked
            and (types is None or type_ in types)
        )
        return ready[:limit] if limit else ready

    def jobs_dead(self, threshold: int, limit: int | None = None) -> list[str]:
        """Started jobs with heartbeat < threshold (R4)."""
        dead = sorted(
            i
            for i, _, status, heartbeat in self._snapshot()[0]
            if status == STATUS_STARTED and heartbeat is not None and heartbeat < threshold
        )
        return dead[:limit] if limit else dead

    def jobs_with_status(self, status: int) -> list[str]:
        """Generic status filter (R24, the reference's 0.8-era
        jobs-with-status / jobs-unstarted monitoring API)."""
        return sorted(i for i, _, s, _ in self._snapshot()[0] if s == status)

    def dependents(self, job_id: str) -> set[str]:
        """Direct + transitive dependents (R5)."""
        children: dict[str, list[str]] = {}
        for dependent, dep_id in self._snapshot()[1]:
            children.setdefault(dep_id, []).append(dependent)
        out: set[str] = set()
        frontier = {job_id}
        while frontier:
            frontier = {c for d in frontier for c in children.get(d, ())} - out
            out |= frontier
        return out
