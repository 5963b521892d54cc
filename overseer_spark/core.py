"""Core job/graph model.

Re-expresses the reference's data model (see SURVEY.md §1; reference:
overseer/core.clj:22-106) in plain Python + Spark rows:

- a **Job** is a row: ``(id, type, args, status, failure, heartbeat,
  lock_version, created_at, updated_at)`` (reference JDBC DDL
  overseer/store/jdbc.clj:131-153),
- a **job graph** is two row-sets: ``jobs`` (nodes) and ``dependencies``
  (edges ``job_id -> dep_id`` meaning *job_id runs only after dep_id
  finished*; reference overseer/store/jdbc.clj:146-150),
- the **status FSM** is ``unstarted(0) -> started(1) -> {finished(2),
  failed(3)}`` plus forced ``started->unstarted`` (fault/reset) and
  ``{unstarted,started}->aborted(4)`` (reference state diagram
  overseer/core.clj:86-106, codes overseer/store/jdbc.clj:16-21).
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable, Mapping

from pyspark.sql import types as T

# Status codes — identical to the reference's JDBC int codes
# (overseer/store/jdbc.clj:16-21).
STATUS_UNSTARTED = 0
STATUS_STARTED = 1
STATUS_FINISHED = 2
STATUS_FAILED = 3
STATUS_ABORTED = 4

STATUS_NAMES = {
    STATUS_UNSTARTED: "unstarted",
    STATUS_STARTED: "started",
    STATUS_FINISHED: "finished",
    STATUS_FAILED: "failed",
    STATUS_ABORTED: "aborted",
}
STATUS_CODES = {v: k for k, v in STATUS_NAMES.items()}

JOBS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("type", T.StringType(), nullable=False),
        T.StructField("args", T.StringType(), nullable=True),  # JSON payload
        T.StructField("status", T.IntegerType(), nullable=False),
        T.StructField("failure", T.StringType(), nullable=True),  # JSON struct
        T.StructField("heartbeat", T.LongType(), nullable=True),  # unix secs
        T.StructField("lock_version", T.IntegerType(), nullable=False),
        T.StructField("created_at", T.TimestampType(), nullable=True),
        T.StructField("updated_at", T.TimestampType(), nullable=True),
    ]
)

DEPENDENCIES_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), nullable=False),
        T.StructField("dep_id", T.StringType(), nullable=False),
    ]
)


def squuid() -> str:
    """Sequential UUID: unix seconds in the high 32 bits, random low bits.

    Same layout as the reference (overseer/core.clj:8-20): time-ordered ids
    give index/partition locality, and at lakehouse scale enable time-range
    pruning on the id prefix.
    """
    base = uuid.uuid4()
    secs = int(time.time())
    high = (secs << 32) | (base.int >> 96) & 0xFFFFFFFF
    return str(uuid.UUID(int=(high << 64) | (base.int & 0xFFFFFFFFFFFFFFFF)))


@dataclass
class Job:
    """One pipeline job (reference job map: overseer/api.clj:4-14)."""

    id: str
    type: str
    args: Mapping[str, Any] | None = None
    status: int = STATUS_UNSTARTED
    failure: Mapping[str, Any] | None = None
    heartbeat: int | None = None
    lock_version: int = 0

    def to_row(self) -> dict[str, Any]:
        return {
            "id": self.id,
            "type": self.type,
            "args": json.dumps(self.args, sort_keys=True) if self.args is not None else None,
            "status": self.status,
            "failure": encode_failure(self.failure),
            "heartbeat": self.heartbeat,
            "lock_version": self.lock_version,
            "created_at": None,
            "updated_at": None,
        }

    @classmethod
    def from_row(cls, row: Mapping[str, Any]) -> "Job":
        """Inverse of :meth:`to_row`: decode a stored row (a dict, a
        ``pyspark.sql.Row`` or a ``sqlite3.Row``) with JSON-text payloads."""
        return cls(
            id=row["id"],
            type=row["type"],
            args=json.loads(row["args"]) if row["args"] else None,
            status=row["status"],
            failure=json.loads(row["failure"]) if row["failure"] else None,
            heartbeat=row["heartbeat"],
            lock_version=row["lock_version"],
        )


def encode_failure(failure: Mapping[str, Any] | None) -> str | None:
    """The stored JSON text of a failure struct (None stays None)."""
    return json.dumps(failure, sort_keys=True, default=str) if failure is not None else None


def valid_job(job: Job) -> bool:
    """Structural validation (reference Herbert schema overseer/core.clj:22-32)."""
    return (
        isinstance(job.id, str)
        and len(job.id) > 0
        and isinstance(job.type, str)
        and len(job.type) > 0
        and job.status in STATUS_NAMES
        and (job.args is None or isinstance(job.args, Mapping))
    )


@dataclass
class JobGraph:
    """Nodes + edges; at rest this is just two tables (SURVEY.md §1.1)."""

    jobs: list[Job]
    edges: list[tuple[str, str]] = field(default_factory=list)  # (job_id, dep_id)

    def job_ids(self) -> set[str]:
        return {j.id for j in self.jobs}

    def validate(self) -> None:
        """valid-graph? (reference overseer/core.clj:34-39): all nodes valid
        jobs, all edges between member nodes, no self-dependency, acyclic."""
        ids = self.job_ids()
        if len(ids) != len(self.jobs):
            raise ValueError("duplicate job ids in graph")
        for j in self.jobs:
            if not valid_job(j):
                raise ValueError(f"invalid job: {j!r}")
        adj: dict[str, list[str]] = {i: [] for i in ids}
        for job_id, dep_id in self.edges:
            if job_id not in ids or dep_id not in ids:
                raise ValueError(f"edge references unknown job: {(job_id, dep_id)}")
            if job_id == dep_id:
                raise ValueError(f"self-dependency: {job_id}")
            adj[job_id].append(dep_id)
        # cycle check (DFS, iterative)
        WHITE, GRAY, BLACK = 0, 1, 2
        color = dict.fromkeys(ids, WHITE)
        for root in ids:
            if color[root] != WHITE:
                continue
            stack: list[tuple[str, int]] = [(root, 0)]
            color[root] = GRAY
            while stack:
                node, i = stack.pop()
                if i < len(adj[node]):
                    stack.append((node, i + 1))
                    nxt = adj[node][i]
                    if color[nxt] == GRAY:
                        raise ValueError("cycle detected in job graph")
                    if color[nxt] == WHITE:
                        color[nxt] = GRAY
                        stack.append((nxt, 0))
                else:
                    color[node] = BLACK

    def rows(self) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
        """Flatten to (jobs_rows, dependency_rows) — the reference's
        graph->rows step (overseer/store/jdbc.clj:115-124)."""
        return (
            [j.to_row() for j in self.jobs],
            [{"job_id": a, "dep_id": b} for a, b in self.edges],
        )


def job_graph(
    type_graph: Mapping[str, Iterable[str]],
    args: Mapping[str, Any] | None = None,
) -> JobGraph:
    """Instantiate an abstract job-type adjacency map into a concrete graph.

    ``{"t1": [], "t2": ["t1"]}`` means *t2 depends on t1*. One squuid job per
    type, shared args — reference ``job-graph`` (overseer/core.clj:41-71).
    """
    types = set(type_graph)
    for deps in type_graph.values():
        types.update(deps)
    by_type = {t: Job(id=squuid(), type=t, args=args) for t in sorted(types)}
    edges = [
        (by_type[t].id, by_type[dep].id)
        for t, deps in type_graph.items()
        for dep in deps
    ]
    g = JobGraph(jobs=list(by_type.values()), edges=edges)
    g.validate()
    return g


def simple_graph(*job_types: str, args: Mapping[str, Any] | None = None) -> JobGraph:
    """Nodes, no edges (reference api.clj:74-77)."""
    return job_graph({t: [] for t in job_types}, args)


def missing_handlers(
    handlers: Mapping[str, Any], graph: JobGraph
) -> set[str]:
    """Node types with no registered handler — set difference
    (reference ``missing-handlers`` overseer/core.clj:73-79)."""
    return {j.type for j in graph.jobs} - set(handlers)


def validate_graph_handlers(handlers: Mapping[str, Any], graph: JobGraph) -> None:
    """Reference ``validate-graph-handlers`` (overseer/api.clj:79-85)."""
    missing = missing_handlers(handlers, graph)
    if missing:
        raise ValueError(f"missing handlers for job types: {sorted(missing)}")
