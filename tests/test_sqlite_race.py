"""Cross-OS-process CAS races for SqliteStore — the SQL-database
deployment leg.

Port of the reference's optimistic-concurrency race test
(test/overseer/store/jdbc_test.clj:42-60) against stdlib sqlite3:
exactly one winner per reserve CAS, idempotent concurrent graph
transacts, and exactly-once drains across a pool of worker processes
sharing one database file — the masterless worker-pool deployment the
reference ships for its :sqlite/:mysql adapters (config.clj:49).
No SparkSession anywhere: coordination is purely the lock_version CAS.
"""

from __future__ import annotations

import multiprocessing as mp
import os

from overseer_spark.core import (
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.store.sqlite import SqliteStore
from tests.conftest import child_results

_CTX = mp.get_context("spawn")


def _graph(ids, edges=()):
    return JobGraph(jobs=[Job(id=i, type=f"t-{i}") for i in ids], edges=list(edges))


def _try_reserve(path: str, job_id: str, barrier, out):
    store = SqliteStore(path)
    barrier.wait()
    job = store.reserve_job(job_id)
    out.put(None if job is None else (job.id, job.status, job.lock_version))


def _drain(path: str, barrier, out):
    store = SqliteStore(path)
    won = []
    barrier.wait()
    while True:
        ready = store.jobs_ready()
        if not ready:
            break
        for jid in ready:
            job = store.reserve_job(jid)
            if job is not None:
                store.finish_job(jid)
                won.append(jid)
    out.put((os.getpid(), won))


def _transact_same(path: str, barrier, out):
    store = SqliteStore(path)
    barrier.wait()
    store.transact_graph(_graph(["a", "b"], [("b", "a")]))
    out.put("ok")


def test_two_process_reserve_exactly_one_wins(tmp_path):
    """jdbc_test.clj:42-60: two processes race one CAS; one Job, one None."""
    path = str(tmp_path / "race.db")
    store = SqliteStore(path)
    store.install()
    store.transact_graph(_graph(["contested"]))

    barrier = _CTX.Barrier(2)
    out = _CTX.Queue()
    procs = [
        _CTX.Process(target=_try_reserve, args=(path, "contested", barrier, out))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    results = child_results(out, procs, timeout=60)
    for p in procs:
        p.join(timeout=60)

    winners = [r for r in results if r is not None]
    assert len(winners) == 1, f"expected exactly one winner, got {results}"
    assert winners[0][1] == STATUS_STARTED
    assert store.job_info("contested").status == STATUS_STARTED
    assert store.job_info("contested").lock_version == 1


def test_eight_process_reserve_storm(tmp_path):
    """Escalated contention: 8 processes, one job, still exactly one win."""
    path = str(tmp_path / "storm.db")
    store = SqliteStore(path)
    store.install()
    store.transact_graph(_graph(["hot"]))

    barrier = _CTX.Barrier(8)
    out = _CTX.Queue()
    procs = [
        _CTX.Process(target=_try_reserve, args=(path, "hot", barrier, out))
        for _ in range(8)
    ]
    for p in procs:
        p.start()
    results = child_results(out, procs, timeout=120)
    for p in procs:
        p.join(timeout=120)
    assert sum(r is not None for r in results) == 1


def test_concurrent_transact_same_graph_idempotent(tmp_path):
    """Two processes submit the SAME graph: net effect of exactly one
    insert, neither raises (jdbc.clj:182-186 dup-PK no-op)."""
    path = str(tmp_path / "tx.db")
    store = SqliteStore(path)
    store.install()

    barrier = _CTX.Barrier(2)
    out = _CTX.Queue()
    procs = [
        _CTX.Process(target=_transact_same, args=(path, barrier, out))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    results = child_results(out, procs, timeout=60)
    for p in procs:
        p.join(timeout=60)

    assert results == ["ok", "ok"]
    assert store.job_info("a").status == STATUS_UNSTARTED
    assert store.dependents("a") == {"b"}
    # exactly one dependency row, not two
    conn = store._conn()
    (n,) = conn.execute("SELECT COUNT(*) FROM overseer_dependencies").fetchone()
    assert n == 1


def test_multi_process_drain_exactly_once(tmp_path):
    """4 worker processes drain a 12-job diamond-chain queue: every job
    finishes exactly once, with winners spread by the CAS (not assigned)."""
    path = str(tmp_path / "drain.db")
    store = SqliteStore(path)
    store.install()
    roots = [f"r{i}" for i in range(4)]
    mids = [f"m{i}" for i in range(4)]
    leaves = [f"l{i}" for i in range(4)]
    edges = [(m, r) for m, r in zip(mids, roots)] + [
        (leaf, m) for leaf, m in zip(leaves, mids)
    ]
    store.transact_graph(_graph(roots + mids + leaves, edges))

    barrier = _CTX.Barrier(4)
    out = _CTX.Queue()
    procs = [
        _CTX.Process(target=_drain, args=(path, barrier, out)) for _ in range(4)
    ]
    for p in procs:
        p.start()
    results = child_results(out, procs, timeout=180)
    for p in procs:
        p.join(timeout=180)

    all_won = [jid for _, won in results for jid in won]
    assert sorted(all_won) == sorted(roots + mids + leaves)  # exactly once each
    assert len(all_won) == len(set(all_won))
    for jid in roots + mids + leaves:
        assert store.job_info(jid).status == STATUS_FINISHED
