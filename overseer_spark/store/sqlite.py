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
- **Optimistic CAS** — every transition reads the row's
  ``lock_version`` then issues ``UPDATE ... WHERE id=? AND
  lock_version=? AND <state guard>`` and inspects the updated-row
  count (``jdbc.clj:62-87`` ``update-job``): 1 row ⇒ won, 0 rows ⇒
  stale, lost the race.  ``reserve_job`` returns None on a lost race;
  ``finish_job``/``fail_job`` raise; ``reset_job`` is silently None
  (``jdbc.clj:190-231``).
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
in the engine; correctness comes from the lock_version CAS, not from
any in-process lock, so the same code is safe across OS processes
(tests/test_sqlite_race.py mirrors ``jdbc_test.clj:42-60``).
"""

from __future__ import annotations

import json
import sqlite3
import threading
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
from overseer_spark.store.base import IllegalTransition, Store

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


def _row_to_job(row: tuple) -> Job:
    id_, type_, args, status, failure, heartbeat, lock_version = row
    return Job(
        id=id_,
        type=type_,
        args=json.loads(args) if args is not None else None,
        status=status,
        failure=json.loads(failure) if failure is not None else None,
        heartbeat=heartbeat,
        lock_version=lock_version,
    )


class SqliteStore(Store):
    """``Store`` over a sqlite database file (or ``:memory:`` for tests
    that stay in one thread)."""

    def __init__(self, path: str, busy_timeout_ms: int = 30_000) -> None:
        self._path = path
        self._busy_timeout_ms = busy_timeout_ms
        self._local = threading.local()

    # -- connection management --------------------------------------------

    def _conn(self) -> sqlite3.Connection:
        conn = getattr(self._local, "conn", None)
        if conn is None:
            conn = sqlite3.connect(self._path, timeout=self._busy_timeout_ms / 1000)
            conn.execute(f"PRAGMA busy_timeout={self._busy_timeout_ms}")
            # WAL lets readers proceed under a writer — the multi-process
            # worker-pool deployment; no-op (and harmless) for :memory:
            conn.execute("PRAGMA journal_mode=WAL")
            conn.isolation_level = None  # manual transaction control
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
                " VALUES (?, ?, ?, ?, ?, ?, 0, ?, ?)",
                [
                    (
                        j.id,
                        j.type,
                        json.dumps(j.args, sort_keys=True)
                        if j.args is not None
                        else None,
                        j.status,
                        json.dumps(j.failure, sort_keys=True, default=str)
                        if j.failure is not None
                        else None,
                        j.heartbeat,
                        now,
                        now,
                    )
                    for j in graph.jobs
                ],
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

    def _cas_update(
        self,
        job_id: str,
        where_status: int | None,
        set_clauses: str,
        set_params: tuple,
    ) -> bool:
        """jdbc.clj:62-87 ``update-job``: read lock_version, then update
        guarded on (id, lock_version [, status]); True iff 1 row updated."""
        conn = self._conn()
        row = conn.execute(
            "SELECT lock_version FROM overseer_jobs WHERE id=?", (job_id,)
        ).fetchone()
        if row is None:
            return False
        (lock_version,) = row
        where = "id=? AND lock_version=?"
        params: tuple = set_params + (int(time.time()), lock_version + 1, job_id, lock_version)
        if where_status is not None:
            where += " AND status=?"
            params = params + (where_status,)
        cur = conn.execute(
            f"UPDATE overseer_jobs SET {set_clauses}, updated_at=?, lock_version=?"
            f" WHERE {where}",
            params,
        )
        return cur.rowcount == 1

    def reserve_job(self, job_id: str) -> Job | None:
        won = self._cas_update(
            job_id,
            STATUS_UNSTARTED,
            "status=?, heartbeat=?",
            (STATUS_STARTED, int(time.time())),
        )
        return self.job_info(job_id) if won else None

    def finish_job(self, job_id: str) -> None:
        if not self._cas_update(
            job_id, STATUS_STARTED, "status=?", (STATUS_FINISHED,)
        ):
            raise IllegalTransition(f"finish_job: {job_id} not in started state")

    def fail_job(self, job_id: str, failure: Mapping[str, Any] | None = None) -> None:
        if not self._cas_update(
            job_id,
            STATUS_STARTED,
            "status=?, failure=?",
            (
                STATUS_FAILED,
                json.dumps(failure, sort_keys=True, default=str)
                if failure is not None
                else None,
            ),
        ):
            raise IllegalTransition(f"fail_job: {job_id} not in started state")

    def reset_job(self, job_id: str) -> Job | None:
        won = self._cas_update(
            job_id,
            STATUS_STARTED,
            "status=?, heartbeat=?",
            (STATUS_UNSTARTED, int(time.time())),
        )
        return self.job_info(job_id) if won else None

    def heartbeat_job(self, job_id: str) -> None:
        self._conn().execute(
            "UPDATE overseer_jobs SET heartbeat=?, updated_at=? WHERE id=?",
            (int(time.time()), int(time.time()), job_id),
        )

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
        return _row_to_job(row) if row is not None else None

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
