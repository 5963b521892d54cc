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
- ``jobs_ready(types=...)`` keeps only jobs whose type is in ``types``
  (the R12 handleable filter, overseer/worker.clj:14-22), applied inside
  the backend's ready scan and before ``limit``.
"""

from __future__ import annotations

import abc
from typing import AbstractSet, Any, Mapping

from overseer_spark.core import Job, JobGraph


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
    def reserve_job(self, job_id: str) -> Job | None:
        """CAS unstarted→started + heartbeat; None on lost race (R8)."""

    @abc.abstractmethod
    def finish_job(self, job_id: str) -> None:
        """started→finished; raises IllegalTransition otherwise (R9)."""

    @abc.abstractmethod
    def fail_job(self, job_id: str, failure: Mapping[str, Any] | None = None) -> None:
        """started→failed + failure struct; raises otherwise (R9)."""

    @abc.abstractmethod
    def reset_job(self, job_id: str) -> Job | None:
        """started→unstarted + heartbeat bump; None on race, never raises (R9)."""

    @abc.abstractmethod
    def heartbeat_job(self, job_id: str) -> None:
        """Set heartbeat to now (R10)."""

    @abc.abstractmethod
    def abort_job(self, job_id: str) -> None:
        """Abort job + all transitive dependents (R11 over the R5 closure)."""

    @abc.abstractmethod
    def jobs_ready(
        self, limit: int | None = None, types: AbstractSet[str] | None = None
    ) -> list[str]:
        """Sorted ids of unstarted jobs whose deps are all finished (R3);
        with ``types``, only jobs of those types (R12)."""

    @abc.abstractmethod
    def jobs_dead(self, threshold: int, limit: int | None = None) -> list[str]:
        """Started jobs with heartbeat < threshold (R4)."""

    @abc.abstractmethod
    def jobs_with_status(self, status: int) -> list[str]:
        """Generic status filter (R24, the reference's 0.8-era
        jobs-with-status / jobs-unstarted monitoring API)."""

    @abc.abstractmethod
    def dependents(self, job_id: str) -> set[str]:
        """Direct + transitive dependents (R5)."""
