"""Cross-process CAS store: optimistic concurrency via atomic file publish.

The reference's deployment model is a *masterless pool of OS processes*
coordinating through a shared store with row-level optimistic locking
(``UPDATE ... WHERE id = ? AND lock_version = ?`` — overseer/store/
jdbc.clj:62-87; race test test/overseer/store/jdbc_test.clj:42-60;
doc/guide/Concepts.md:13-16). ``SparkLogStore`` serializes writers behind
an in-process lock, so two driver processes cannot share it. This backend
re-expresses the same CAS on a shared filesystem:

- Every job is a directory ``jobs/<id>/`` of **immutable version files**
  ``v{N}.json`` where N == lock_version of that state.
- A transition from version N is "publish ``v{N+1}.json``": write the full
  payload to a temp file, then ``os.link(tmp, vfile)``. Hard-link creation
  is atomic and fails with EEXIST if the target exists — so when two
  processes race the same transition, exactly one wins and the loser
  observes the conflict, *precisely* the semantics of the reference's
  conditional UPDATE returning 0 rows. No locks, no server, crash-safe
  (a crashed writer leaves only an unpublished temp file).
- Readers always see complete states: a version file becomes visible only
  via the link, after its bytes are fully written (and optionally fsynced).

Scale stance: the job table is *metadata* (one tiny JSON per transition —
the same rows a 100 TB deployment would keep in Postgres). The backend
targets any shared POSIX filesystem where link(2) is atomic (local disks,
NFSv3+, EFS, Lustre). Set queries go through the same DataFrame operators
as ``SparkLogStore`` (operators/scheduling.py) so ready/dead/closure plan
identically; point ops are O(1) directory listings. ``compact()`` mirrors
SparkLogStore retention (insert + first-started + latest version per job).

Writes need no SparkSession — worker OS processes construct
``FileCASStore(None, path)`` and coordinate purely through the filesystem;
only the DataFrame read surface requires ``spark``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import AbstractSet, Any, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from overseer_spark.core import (
    DEPENDENCIES_SCHEMA,
    STATUS_ABORTED,
    STATUS_FAILED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.session import local_frame
from overseer_spark.store.base import IllegalTransition, Store

# On-file payload: args/failure stay JSON-encoded strings (the JOBS_SCHEMA
# representation), timestamps are epoch microseconds so the Spark JSON read
# needs no format-sensitive parsing.
FILE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("type", T.StringType(), nullable=False),
        T.StructField("args", T.StringType(), nullable=True),
        T.StructField("status", T.IntegerType(), nullable=False),
        T.StructField("failure", T.StringType(), nullable=True),
        T.StructField("heartbeat", T.LongType(), nullable=True),
        T.StructField("lock_version", T.IntegerType(), nullable=False),
        T.StructField("created_at", T.LongType(), nullable=True),
        T.StructField("updated_at", T.LongType(), nullable=True),
    ]
)

_MAX_RETRIES = 256


def _now_micros() -> int:
    return time.time_ns() // 1_000


class FileCASStore(Store):
    """Store with real cross-process CAS (see module docstring).

    ``spark`` may be None for write-only use (worker processes); the
    DataFrame accessors and Spark-planned set queries then raise.
    ``fsync`` forces payload durability before publish (off by default —
    the reference delegates durability to its DB; turn on for stores that
    must survive power loss mid-transition).
    """

    def __init__(
        self, spark: SparkSession | None, path: str, fsync: bool = False
    ) -> None:
        self.spark = spark
        self.path = path
        self.fsync = fsync
        self._jobs_dir = os.path.join(path, "jobs")
        self._deps_dir = os.path.join(path, "dependencies")
        # job id -> (newest version file name seen, its parsed payload).
        # Version files are immutable and compact() deletes only superseded
        # ones, so a payload is stale exactly when a newer name appears.
        self._seen: dict[str, tuple[str, dict]] = {}
        # dependency file name -> its parsed edges. The files are
        # content-addressed (g-<sha>.json) and never rewritten.
        self._edge_files: dict[str, list[tuple[str, str]]] = {}

    # -- file protocol ----------------------------------------------------

    def install(self) -> None:
        os.makedirs(self._jobs_dir, exist_ok=True)
        os.makedirs(self._deps_dir, exist_ok=True)

    def _vfile(self, job_id: str, version: int) -> str:
        return os.path.join(self._jobs_dir, job_id, f"v{version:010d}.json")

    def _publish(self, job_id: str, version: int, payload: dict) -> bool:
        """Atomically publish version file; False iff it already exists."""
        jdir = os.path.join(self._jobs_dir, job_id)
        os.makedirs(jdir, exist_ok=True)
        tmp = os.path.join(jdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(payload, f, sort_keys=True)
            if self.fsync:
                f.flush()
                os.fsync(f.fileno())
        try:
            os.link(tmp, self._vfile(job_id, version))  # atomic CAS publish
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _latest(self, job_id: str) -> dict | None:
        """The job's newest payload. Lists the job directory and parses the
        newest version file only if this handle has not parsed it before;
        callers get the cached dict and must not mutate it."""
        jdir = os.path.join(self._jobs_dir, job_id)
        try:
            newest = max(
                (n for n in os.listdir(jdir) if n.startswith("v") and n.endswith(".json")),
                default=None,
            )
        except FileNotFoundError:
            return None
        if newest is None:
            return None
        seen = self._seen.get(job_id)
        if seen is not None and seen[0] == newest:
            return seen[1]
        with open(os.path.join(jdir, newest)) as f:
            cur = json.load(f)
        self._seen[job_id] = (newest, cur)
        return cur

    @staticmethod
    def _to_job(p: Mapping[str, Any]) -> Job:
        return Job(
            id=p["id"],
            type=p["type"],
            args=json.loads(p["args"]) if p["args"] else None,
            status=p["status"],
            failure=json.loads(p["failure"]) if p["failure"] else None,
            heartbeat=p["heartbeat"],
            lock_version=p["lock_version"],
        )

    def _cas_retry(
        self,
        job_id: str,
        from_status: Iterable[int] | None,
        **changes: Any,
    ) -> dict | None:
        """Retry-loop CAS: re-read on version conflict, give up when the
        precondition no longer holds. Returns the published payload, or
        None when ``from_status`` stopped matching (the caller decides
        whether that is an IllegalTransition or a silent race loss)."""
        for _ in range(_MAX_RETRIES):
            cur = self._latest(job_id)
            if cur is None:
                return None
            if from_status is not None and cur["status"] not in from_status:
                return None
            nxt = dict(cur)
            nxt.update(changes)
            nxt["lock_version"] = cur["lock_version"] + 1
            nxt["updated_at"] = _now_micros()
            if self._publish(job_id, nxt["lock_version"], nxt):
                return nxt
        raise RuntimeError(f"CAS livelock on job {job_id} after {_MAX_RETRIES} tries")

    # -- writes ------------------------------------------------------------

    def transact_graph(self, graph: JobGraph) -> JobGraph:
        graph.validate()
        # all-or-nothing idempotent insert: if ANY id exists, insert nothing
        # (Datomic guard semantics, store/base.py). The check→publish window
        # is safe for the idempotent case (same graph from two processes
        # publishes identical v0 files; EEXIST losers are no-ops).
        if any(self._latest(j.id) is not None for j in graph.jobs):
            return graph
        now = _now_micros()
        for j in graph.jobs:
            r = j.to_row()
            r["created_at"] = now
            r["updated_at"] = now
            self._publish(j.id, j.lock_version, r)
        if graph.edges:
            lines = "\n".join(
                json.dumps({"job_id": a, "dep_id": b}, sort_keys=True)
                for a, b in sorted(graph.edges)
            )
            import hashlib

            digest = hashlib.sha256(lines.encode()).hexdigest()[:32]
            dest = os.path.join(self._deps_dir, f"g-{digest}.json")
            tmp = os.path.join(self._deps_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(lines)
            try:
                os.link(tmp, dest)
            except FileExistsError:
                pass  # identical graph already transacted
            finally:
                os.unlink(tmp)
        return graph

    def reserve_job(self, job_id: str) -> Job | None:
        """Single-shot CAS unstarted→started (jdbc.clj:190-195): the loser
        of a race — or any non-unstarted state — returns None."""
        cur = self._latest(job_id)
        if cur is None or cur["status"] != STATUS_UNSTARTED:
            return None
        nxt = dict(cur)
        nxt.update(
            status=STATUS_STARTED,
            heartbeat=int(time.time()),
            lock_version=cur["lock_version"] + 1,
            updated_at=_now_micros(),
        )
        if self._publish(job_id, nxt["lock_version"], nxt):
            return self._to_job(nxt)
        return None  # lost the race

    def finish_job(self, job_id: str) -> None:
        if self._cas_retry(job_id, (STATUS_STARTED,), status=STATUS_FINISHED) is None:
            raise IllegalTransition(f"finish_job: {job_id} not in started state")

    def fail_job(self, job_id: str, failure: Mapping[str, Any] | None = None) -> None:
        encoded = (
            json.dumps(failure, sort_keys=True, default=str)
            if failure is not None
            else None
        )
        if (
            self._cas_retry(
                job_id, (STATUS_STARTED,), status=STATUS_FAILED, failure=encoded
            )
            is None
        ):
            raise IllegalTransition(f"fail_job: {job_id} not in started state")

    def reset_job(self, job_id: str) -> Job | None:
        out = self._cas_retry(
            job_id,
            (STATUS_STARTED,),
            status=STATUS_UNSTARTED,
            heartbeat=int(time.time()),
        )
        return self._to_job(out) if out is not None else None

    def heartbeat_job(self, job_id: str) -> None:
        # any-status heartbeat, like the reference's update-job (which bumps
        # lock_version on every write, jdbc.clj:76)
        self._cas_retry(job_id, None, heartbeat=int(time.time()))

    def abort_job(self, job_id: str) -> None:
        for jid in sorted({job_id} | self.dependents(job_id)):
            self._cas_retry(jid, None, status=STATUS_ABORTED)

    # -- point/scan reads (no Spark required) ------------------------------

    def job_info(self, job_id: str) -> Job | None:
        cur = self._latest(job_id)
        return self._to_job(cur) if cur is not None else None

    def _all_latest(self) -> list[dict]:
        try:
            ids = os.listdir(self._jobs_dir)
        except FileNotFoundError:
            return []
        out = []
        for jid in ids:
            cur = self._latest(jid)
            if cur is not None:
                out.append(cur)
        return out

    def _all_edges(self) -> list[tuple[str, str]]:
        try:
            files = os.listdir(self._deps_dir)
        except FileNotFoundError:
            return []
        edges = []
        for name in files:
            if name.startswith("."):
                continue
            parsed = self._edge_files.get(name)
            if parsed is None:
                with open(os.path.join(self._deps_dir, name)) as f:
                    rows = [json.loads(line) for line in f if line.strip()]
                parsed = [(e["job_id"], e["dep_id"]) for e in rows]
                self._edge_files[name] = parsed
            edges.extend(parsed)
        return edges

    def jobs_with_status(self, status: int) -> list[str]:
        return sorted(p["id"] for p in self._all_latest() if p["status"] == status)

    # -- set queries (Spark-planned when a session is attached) ------------

    def jobs_df(self) -> DataFrame:
        """Current state as a DataFrame (JOBS_SCHEMA) — the same derived
        view SparkLogStore exposes, read straight off the version files."""
        assert self.spark is not None, "jobs_df requires a SparkSession"
        try:
            raw = self.spark.read.schema(FILE_SCHEMA).json(
                os.path.join(self._jobs_dir, "*", "v*.json")
            )
            w = Window.partitionBy("id").orderBy(F.desc("lock_version"))
            return (
                raw.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(
                    "id",
                    "type",
                    "args",
                    "status",
                    "failure",
                    "heartbeat",
                    "lock_version",
                    F.timestamp_micros("created_at").alias("created_at"),
                    F.timestamp_micros("updated_at").alias("updated_at"),
                )
            )
        except Exception:
            from overseer_spark.core import JOBS_SCHEMA

            return local_frame(self.spark, [], schema=JOBS_SCHEMA)

    def deps_df(self) -> DataFrame:
        assert self.spark is not None, "deps_df requires a SparkSession"
        try:
            df = self.spark.read.schema(DEPENDENCIES_SCHEMA).json(self._deps_dir)
            df.head(1)
            return df
        except Exception:
            return local_frame(self.spark, [], schema=DEPENDENCIES_SCHEMA)

    def jobs_ready(
        self, limit: int | None = None, types: AbstractSet[str] | None = None
    ) -> list[str]:
        if self.spark is not None:
            from overseer_spark.operators.scheduling import ready_jobs

            df = ready_jobs(self.jobs_df(), self.deps_df(), limit, types)
            return sorted(r["id"] for r in df.collect())
        # Spark-less worker path: same truth table computed in-driver
        latest = self._all_latest()
        unfinished = {p["id"] for p in latest if p["status"] != STATUS_FINISHED}
        blocked = {a for a, b in self._all_edges() if b in unfinished}
        ready = sorted(
            p["id"]
            for p in latest
            if p["status"] == STATUS_UNSTARTED
            and p["id"] not in blocked
            and (types is None or p["type"] in types)
        )
        return ready[:limit] if limit else ready

    def jobs_dead(self, threshold: int, limit: int | None = None) -> list[str]:
        if self.spark is not None:
            from overseer_spark.operators.scheduling import dead_jobs

            df = dead_jobs(self.jobs_df(), threshold, limit)
            return sorted(r["id"] for r in df.collect())
        dead = sorted(
            p["id"]
            for p in self._all_latest()
            if p["status"] == STATUS_STARTED
            and p["heartbeat"] is not None
            and p["heartbeat"] < threshold
        )
        return dead[:limit] if limit else dead

    def dependents(self, job_id: str) -> set[str]:
        if self.spark is not None:
            from overseer_spark.operators.scheduling import transitive_dependents

            df = transitive_dependents(self.deps_df(), [job_id])
            return {r["id"] for r in df.collect()}
        edges = self._all_edges()
        out: set[str] = set()
        frontier = {job_id}
        while frontier:
            nxt = {a for a, b in edges if b in frontier and a not in out}
            out |= nxt
            frontier = nxt
        return out

    # -- maintenance -------------------------------------------------------

    def compact(self) -> None:
        """Delete superseded version files, keeping per job: v0 (insert,
        created_at provenance), the first ``started`` version, and the
        latest version — the same retention as SparkLogStore.compact().
        Safe concurrently with writers: version files are immutable and
        only non-latest files are removed."""
        try:
            ids = os.listdir(self._jobs_dir)
        except FileNotFoundError:
            return
        for jid in ids:
            jdir = os.path.join(self._jobs_dir, jid)
            versions = sorted(
                n for n in os.listdir(jdir) if n.startswith("v") and n.endswith(".json")
            )
            if len(versions) <= 2:
                continue
            keep = {versions[0], versions[-1]}
            for name in versions:
                if name in keep:
                    continue
                with open(os.path.join(jdir, name)) as f:
                    if json.load(f)["status"] == STATUS_STARTED:
                        keep.add(name)  # first started row
                        break
            for name in versions[:-1]:
                if name not in keep:
                    os.unlink(os.path.join(jdir, name))
