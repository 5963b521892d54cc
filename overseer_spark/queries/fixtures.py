"""Engine-state fixture rows for the scheduling queries (Q31-Q33).

FIXTURES.md §B: the ready-set truth table mirrors the reference's 7-case
matrix (overseer/test/overseer/store/datomic_test.clj:14-64); the dead-set
and closure fixtures mirror overseer/test/overseer/store_test.clj:152-164 and
overseer/test/overseer/store/datomic_test.clj:66-88.

Both the Spark side (inline SQL ``VALUES`` relations) and the DuckDB
oracle (inline VALUES CTEs) are generated from the same row literals so
they can never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# (id, type, args, status, failure, heartbeat, lock_version)
JOB_ROWS: list[tuple[str, str, str | None, int, str | None, int | None, int]] = [
    ("j-unstarted-nodeps", "t", None, 0, None, None, 0),
    ("j-started", "t", None, 1, None, 1699999990, 0),  # dead vs 1700000000
    ("j-dep-unfinished", "t", None, 0, None, None, 0),
    ("j-finished", "t", None, 2, None, None, 0),
    ("j-dep-finished", "t", None, 0, None, None, 0),
    ("j-dep-mixed", "t", None, 0, None, None, 0),
    ("j-aborted", "t", None, 4, None, None, 0),
    ("j-started-live", "t", None, 1, None, 1700000100, 0),
    # closure fixture: chain + diamond rooted at j-root, plus disconnected
    ("j-root", "t", None, 0, None, None, 0),
    ("j-a", "t", None, 0, None, None, 0),
    ("j-b", "t", None, 0, None, None, 0),
    ("j-c", "t", None, 0, None, None, 0),
    ("j-solo", "t", None, 0, None, None, 0),
]

# (job_id, dep_id): job_id runs only after dep_id finishes
DEP_ROWS: list[tuple[str, str]] = [
    ("j-dep-unfinished", "j-unstarted-nodeps"),
    ("j-dep-finished", "j-finished"),
    ("j-dep-mixed", "j-unstarted-nodeps"),
    ("j-dep-mixed", "j-finished"),
    ("j-a", "j-root"),
    ("j-b", "j-root"),
    ("j-c", "j-a"),
]

DEAD_THRESHOLD = 1700000000
CLOSURE_SEED = "j-root"


def _sql_str(v: str | None) -> str:
    return "NULL" if v is None else "'" + v.replace("'", "''") + "'"


def jobs_df(spark: SparkSession) -> DataFrame:
    """Fixture jobs as a JVM-side ``VALUES`` local relation.

    Like ``session.local_frame`` (the package's way to turn driver rows
    into a frame), and unlike a pickled-row ``createDataFrame``, this
    needs no Python worker on any action (~0.9 s per action for 13
    rows). It stays a VALUES relation, not a ``local_frame``: that is no
    slower, and its columns keep the nullability of the literals, which
    the pins were taken with."""
    rows = ", ".join(
        f"({_sql_str(r[0])}, {_sql_str(r[1])}, {_sql_str(r[2])}, {r[3]}, "
        f"{_sql_str(r[4])}, "
        f"{'CAST(NULL AS BIGINT)' if r[5] is None else f'CAST({r[5]} AS BIGINT)'}, "
        f"{r[6]})"
        for r in JOB_ROWS
    )
    return spark.sql(
        f"""SELECT id, type, args, CAST(status AS INT) AS status, failure,
                   heartbeat, CAST(lock_version AS INT) AS lock_version,
                   CAST(NULL AS TIMESTAMP) AS created_at,
                   CAST(NULL AS TIMESTAMP) AS updated_at
            FROM (VALUES {rows})
            AS t(id, type, args, status, failure, heartbeat, lock_version)"""
    )


def deps_df(spark: SparkSession) -> DataFrame:
    rows = ", ".join(f"({_sql_str(a)}, {_sql_str(b)})" for a, b in DEP_ROWS)
    return spark.sql(
        f"SELECT * FROM (VALUES {rows}) AS t(job_id, dep_id)"
    )


def jobs_values_cte() -> str:
    """``overseer_jobs(id, status, heartbeat)`` as an inline VALUES CTE body
    for the DuckDB oracle."""
    rows = ", ".join(
        f"({_sql_str(r[0])}, {r[3]}, {r[5] if r[5] is not None else 'CAST(NULL AS BIGINT)'})"
        for r in JOB_ROWS
    )
    return f"overseer_jobs(id, status, heartbeat) AS (VALUES {rows})"

def deps_values_cte() -> str:
    rows = ", ".join(f"({_sql_str(a)}, {_sql_str(b)})" for a, b in DEP_ROWS)
    return f"overseer_dependencies(job_id, dep_id) AS (VALUES {rows})"
