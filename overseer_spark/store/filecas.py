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
NFSv3+, EFS, Lustre). The state is read on the driver, so the set
queries (ready/dead/closure) are the in-driver ones of ``store/base.py``
over one scan of the newest version files, with or without a session;
point ops are O(1) directory listings. ``compact()`` mirrors SparkLogStore
retention (insert + first-started + latest version per job).

Neither writes nor set queries need a SparkSession — worker OS processes
construct ``FileCASStore(None, path)`` and coordinate purely through the
filesystem; only the ``jobs_df()``/``deps_df()`` analytics views require
``spark``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from overseer_spark.core import (
    DEPENDENCIES_SCHEMA,
    JOBS_SCHEMA,
    STATUS_STARTED,
    Job,
    JobGraph,
    encode_failure,
)
from overseer_spark.session import local_frame
from overseer_spark.store.base import Store

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

    ``spark`` may be None (worker processes); only the DataFrame
    accessors then raise.
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

    def _transition(
        self, job_id: str, from_status: int | None, **changes: Any
    ) -> Job | None:
        """Publish the next version file; on a lost publish re-read and
        retry while the precondition holds."""
        if "failure" in changes:
            changes["failure"] = encode_failure(changes["failure"])
        for _ in range(_MAX_RETRIES):
            cur = self._latest(job_id)
            if cur is None or (from_status is not None and cur["status"] != from_status):
                return None
            nxt = {**cur, **changes}
            nxt["lock_version"] = cur["lock_version"] + 1
            nxt["updated_at"] = _now_micros()
            if self._publish(job_id, nxt["lock_version"], nxt):
                return Job.from_row(nxt)
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

    # -- reads (no Spark required) -----------------------------------------

    def job_info(self, job_id: str) -> Job | None:
        cur = self._latest(job_id)
        return Job.from_row(cur) if cur is not None else None

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

    def _snapshot(self):
        try:
            ids = os.listdir(self._jobs_dir)
        except FileNotFoundError:
            ids = []
        rows = []
        for jid in ids:
            p = self._latest(jid)
            if p is not None:
                rows.append((p["id"], p["type"], p["status"], p["heartbeat"]))
        return rows, self._all_edges()

    # -- analytics views (require Spark) -----------------------------------

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
            return local_frame(self.spark, [], schema=JOBS_SCHEMA)

    def deps_df(self) -> DataFrame:
        assert self.spark is not None, "deps_df requires a SparkSession"
        try:
            df = self.spark.read.schema(DEPENDENCIES_SCHEMA).json(self._deps_dir)
            df.head(1)
            return df
        except Exception:
            return local_frame(self.spark, [], schema=DEPENDENCIES_SCHEMA)

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
