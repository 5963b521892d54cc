"""SQL-database store adapter: stdlib ``sqlite3``.

The reference's deployable production backends are real SQL databases
behind one JDBC adapter (adapter registry ``overseer/config.clj:49``
``#{:mysql :h2 :sqlite}``; store ``overseer/store/jdbc.clj``).  This
module closes that deployment leg with the one SQL engine Python ships
in its standard library, reproducing the JDBC store's semantics
operation for operation:

- **Schema** — ``overseer_jobs`` / ``overseer_dependencies`` with the
  same columns and the same three secondary indexes
  (``jdbc.clj:131-154`` ``install'``): jobs-by-status, deps-by-job_id,
  deps-by-dep_id.
- **CAS** — every transition is one guarded statement, ``UPDATE ...
  SET ..., lock_version = lock_version + 1 WHERE id=? [AND status=?]
  RETURNING ...``: a returned row ⇒ won, none ⇒ the precondition
  failed (the reference's ``update-job`` returning 0 rows,
  ``jdbc.clj:62-87``).  sqlite serializes writers, so the status guard
  is evaluated against the row as of the write and needs no
  read-then-retry; a concurrent heartbeat never fails a ``finish_job``.
  ``reserve_job`` returns None on a lost race; ``finish_job``/
  ``fail_job`` raise; ``reset_job`` is silently None
  (``jdbc.clj:190-231``, the state machine in ``store/base.py``).
- **Idempotent all-or-nothing transact** — job + dependency rows insert
  in one transaction; a duplicate primary key rolls the whole
  transaction back and returns the graph unchanged
  (``jdbc.clj:171-186`` catches the adapter's dup-PK exception class;
  here that's ``sqlite3.IntegrityError``).
- **Ready set** — the same NOT IN anti-join over unfinished
  dependencies (``jdbc.clj:233-246``), with deterministic ``ORDER BY
  id`` and an optional LIMIT pushed into the SQL.

Concurrency model: one connection per thread (sqlite3 connections are
not thread-safe to share), WAL journal + busy timeout so a masterless
pool of worker processes can point at one database file — the exact
deployment the reference targets with sqlite/MySQL.  Writes serialize
in the engine; correctness comes from the guarded UPDATE, not from
any in-process lock, so the same code is safe across OS processes
(tests/test_sqlite_race.py mirrors ``jdbc_test.clj:42-60``).
"""

from __future__ import annotations

import sqlite3
import threading
import time
from typing import AbstractSet, Any

from overseer_spark.core import (
    STATUS_ABORTED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
    encode_failure,
)
from overseer_spark.store.base import Store

BUSY_TIMEOUT_MS = 30_000  # how long a writer waits for the database lock

_DDL = [
    """CREATE TABLE IF NOT EXISTS overseer_jobs (
         id           TEXT PRIMARY KEY,
         type         TEXT,
         args         TEXT,
         status       INTEGER,
         failure      TEXT,
         heartbeat    INTEGER,
         lock_version INTEGER NOT NULL DEFAULT 0,
         created_at   INTEGER,
         updated_at   INTEGER
       )""",
    """CREATE TABLE IF NOT EXISTS overseer_dependencies (
         job_id TEXT,
         dep_id TEXT
       )""",
    # the reference's three secondary indexes (jdbc.clj:150-153)
    "CREATE INDEX IF NOT EXISTS index_overseer_jobs_on_status"
    " ON overseer_jobs (status)",
    "CREATE INDEX IF NOT EXISTS index_overseer_dependencies_on_job_id"
    " ON overseer_dependencies (job_id)",
    "CREATE INDEX IF NOT EXISTS index_overseer_dependencies_on_dep_id"
    " ON overseer_dependencies (dep_id)",
]

_JOB_COLS = "id, type, args, status, failure, heartbeat, lock_version"


class SqliteStore(Store):
    """``Store`` over a sqlite database file (or ``:memory:`` for tests
    that stay in one thread)."""

    def __init__(self, path: str) -> None:
        self._path = path
        self._local = threading.local()

    # -- connection management --------------------------------------------

    def _conn(self) -> sqlite3.Connection:
        conn = getattr(self._local, "conn", None)
        if conn is None:
            conn = sqlite3.connect(self._path, timeout=BUSY_TIMEOUT_MS / 1000)
            conn.execute(f"PRAGMA busy_timeout={BUSY_TIMEOUT_MS}")
            # WAL lets readers proceed under a writer — the multi-process
            # worker-pool deployment; no-op (and harmless) for :memory:
            conn.execute("PRAGMA journal_mode=WAL")
            conn.isolation_level = None  # manual transaction control
            conn.row_factory = sqlite3.Row  # rows decode with Job.from_row
            self._local.conn = conn
        return conn

    def close(self) -> None:
        conn = getattr(self._local, "conn", None)
        if conn is not None:
            conn.close()
            self._local.conn = None

    # -- DDL (R25) ---------------------------------------------------------

    def install(self) -> None:
        conn = self._conn()
        for stmt in _DDL:
            conn.execute(stmt)

    # -- writes ------------------------------------------------------------

    def transact_graph(self, graph: JobGraph) -> JobGraph:
        graph.validate()
        conn = self._conn()
        now = int(time.time())
        try:
            conn.execute("BEGIN IMMEDIATE")
            conn.executemany(
                "INSERT INTO overseer_jobs"
                " (id, type, args, status, failure, heartbeat, lock_version,"
                "  created_at, updated_at)"
                " VALUES (:id, :type, :args, :status, :failure, :heartbeat, 0,"
                "  :now, :now)",
                [{**j.to_row(), "now": now} for j in graph.jobs],
            )
            conn.executemany(
                "INSERT INTO overseer_dependencies (job_id, dep_id) VALUES (?, ?)",
                graph.edges,
            )
            conn.execute("COMMIT")
        except sqlite3.IntegrityError:
            # duplicate primary key ⇒ whole transaction is a no-op
            # (jdbc.clj:182-186 dup-primary-key-ex? → return graph)
            conn.execute("ROLLBACK")
        except BaseException:
            conn.execute("ROLLBACK")
            raise
        return graph

    def _transition(
        self, job_id: str, from_status: int | None, **changes: Any
    ) -> Job | None:
        if "failure" in changes:
            changes["failure"] = encode_failure(changes["failure"])
        sets = "".join(f"{col}=?, " for col in changes)
        sql = (
            f"UPDATE overseer_jobs SET {sets}updated_at=?,"
            " lock_version=lock_version+1 WHERE id=?"
        )
        params = (*changes.values(), int(time.time()), job_id)
        if from_status is not None:
            sql += " AND status=?"
            params += (from_status,)
        # fetchall() steps the statement to completion, ending its autocommit
        rows = self._conn().execute(f"{sql} RETURNING {_JOB_COLS}", params).fetchall()
        return Job.from_row(rows[0]) if rows else None

    def abort_job(self, job_id: str) -> None:
        targets = sorted({job_id} | self.dependents(job_id))
        conn = self._conn()
        placeholders = ",".join("?" for _ in targets)
        conn.execute(
            f"UPDATE overseer_jobs SET status=?, updated_at=?,"
            f" lock_version=lock_version+1 WHERE id IN ({placeholders})",
            (STATUS_ABORTED, int(time.time()), *targets),
        )

    # -- queries -----------------------------------------------------------

    def job_info(self, job_id: str) -> Job | None:
        row = self._conn().execute(
            f"SELECT {_JOB_COLS} FROM overseer_jobs WHERE id=?", (job_id,)
        ).fetchone()
        return Job.from_row(row) if row is not None else None

    def jobs_ready(
        self, limit: int | None = None, types: AbstractSet[str] | None = None
    ) -> list[str]:
        # NOT IN anti-join over unfinished dependencies (jdbc.clj:233-246)
        sql = """SELECT id FROM overseer_jobs
                 WHERE status = ?
                   AND id NOT IN (
                     SELECT d.job_id FROM overseer_dependencies d
                     JOIN overseer_jobs j ON j.id = d.dep_id
                     WHERE j.status != ?)"""
        params: tuple = (STATUS_UNSTARTED, STATUS_FINISHED)
        if types is not None:
            if not types:
                return []
            sql += f" AND type IN ({','.join('?' for _ in types)})"
            params = params + tuple(sorted(types))
        sql += " ORDER BY id"
        if limit is not None:
            sql += " LIMIT ?"
            params = params + (limit,)
        return [r[0] for r in self._conn().execute(sql, params)]

    def jobs_dead(self, threshold: int, limit: int | None = None) -> list[str]:
        sql = (
            "SELECT id FROM overseer_jobs WHERE status=? AND heartbeat<?"
            " ORDER BY id"
        )
        params: tuple = (STATUS_STARTED, threshold)
        if limit is not None:
            sql += " LIMIT ?"
            params = params + (limit,)
        return [r[0] for r in self._conn().execute(sql, params)]

    def jobs_with_status(self, status: int) -> list[str]:
        return [
            r[0]
            for r in self._conn().execute(
                "SELECT id FROM overseer_jobs WHERE status=? ORDER BY id", (status,)
            )
        ]

    def dependents(self, job_id: str) -> set[str]:
        # frontier loop over the dependency table (jdbc.clj:97-118)
        conn = self._conn()
        out: set[str] = set()
        frontier = {job_id}
        while frontier:
            placeholders = ",".join("?" for _ in frontier)
            nxt = {
                r[0]
                for r in conn.execute(
                    f"SELECT DISTINCT job_id FROM overseer_dependencies"
                    f" WHERE dep_id IN ({placeholders})",
                    tuple(frontier),
                )
            } - out - {job_id}
            out |= nxt
            frontier = nxt
        return out
