"""Cross-OS-process CAS races for FileCASStore.

Ports the reference's optimistic-concurrency race test
(test/overseer/store/jdbc_test.clj:42-60 — two concurrent updates on one
row, expect exactly one winner and an incremented lock_version) — but
across real OS processes, which is the deployment property SparkLogStore
cannot offer (its CAS is an in-process lock). Child processes construct
the store WITHOUT a SparkSession: coordination is purely the filesystem.
"""

from __future__ import annotations

import multiprocessing as mp
import os

from overseer_spark.core import (
    STATUS_ABORTED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.store.filecas import FileCASStore

# spawn, not fork: the parent may hold a JVM-backed SparkSession
_CTX = mp.get_context("spawn")


def _graph(ids, edges=()):
    return JobGraph(jobs=[Job(id=i, type=f"t-{i}") for i in ids], edges=list(edges))


def _try_reserve(path: str, job_id: str, barrier, out):
    store = FileCASStore(None, path)
    barrier.wait()  # line every process up on the same CAS instant
    job = store.reserve_job(job_id)
    out.put(None if job is None else (job.id, job.status, job.lock_version))


def _drain(path: str, barrier, out):
    """Claim-and-finish loop: reserve whatever is ready, finish it."""
    store = FileCASStore(None, path)
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


def test_two_process_reserve_exactly_one_wins(tmp_path):
    """The jdbc_test.clj:42-60 contract across OS processes: one winner,
    loser sees None, lock_version bumped exactly once."""
    path = str(tmp_path / "cas")
    parent = FileCASStore(None, path)
    parent.install()
    parent.transact_graph(_graph(["j1"]))

    barrier = _CTX.Barrier(2)
    out = _CTX.Queue()
    procs = [
        _CTX.Process(target=_try_reserve, args=(path, "j1", barrier, out))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    results = [out.get(timeout=60) for _ in procs]
    for p in procs:
        p.join(timeout=60)

    winners = [r for r in results if r is not None]
    assert len(winners) == 1  # exactly one CAS winner
    assert winners[0] == ("j1", STATUS_STARTED, 1)  # lock bumped 0 -> 1
    final = parent.job_info("j1")
    assert final.status == STATUS_STARTED and final.lock_version == 1


def test_eight_process_reserve_storm(tmp_path):
    path = str(tmp_path / "cas")
    parent = FileCASStore(None, path)
    parent.install()
    parent.transact_graph(_graph(["hot"]))

    n = 8
    barrier = _CTX.Barrier(n)
    out = _CTX.Queue()
    procs = [
        _CTX.Process(target=_try_reserve, args=(path, "hot", barrier, out))
        for _ in range(n)
    ]
    for p in procs:
        p.start()
    results = [out.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=60)

    assert sum(r is not None for r in results) == 1
    assert parent.job_info("hot").lock_version == 1


def test_multi_process_drain_runs_each_job_exactly_once(tmp_path):
    """Four worker processes drain a 60-job two-level DAG concurrently;
    every job finishes exactly once (the at-least-once + CAS contract
    turning into exactly-one-winner per job)."""
    path = str(tmp_path / "cas")
    parent = FileCASStore(None, path)
    parent.install()
    roots = [f"r{i}" for i in range(20)]
    leaves = [f"l{i}" for i in range(40)]
    edges = [(leaves[i], roots[i % 20]) for i in range(40)]  # leaf depends on root
    parent.transact_graph(_graph(roots + leaves, edges))

    n = 4
    barrier = _CTX.Barrier(n)
    out = _CTX.Queue()
    procs = [
        _CTX.Process(target=_drain, args=(path, barrier, out)) for _ in range(n)
    ]
    for p in procs:
        p.start()
    results = [out.get(timeout=300) for _ in procs]
    for p in procs:
        p.join(timeout=120)

    all_won = [jid for _, won in results for jid in won]
    assert sorted(all_won) == sorted(roots + leaves)  # exactly once, no dupes
    assert len(set(all_won)) == 60
    assert parent.jobs_with_status(STATUS_FINISHED) == sorted(roots + leaves)
    assert parent.jobs_with_status(STATUS_UNSTARTED) == []


def test_concurrent_identical_transact_is_idempotent(tmp_path):
    path = str(tmp_path / "cas")
    parent = FileCASStore(None, path)
    parent.install()

    barrier = _CTX.Barrier(2)
    out = _CTX.Queue()

    procs = [
        _CTX.Process(target=_transact_same, args=(path, barrier, out))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    for _ in procs:
        out.get(timeout=60)
    for p in procs:
        p.join(timeout=60)

    # both processes transacted the same graph; it exists exactly once
    assert parent.jobs_with_status(STATUS_UNSTARTED) == ["a", "b"]
    assert parent.job_info("a").lock_version == 0


def _transact_same(path: str, barrier, out):
    store = FileCASStore(None, path)
    barrier.wait()
    store.transact_graph(_graph(["a", "b"], [("b", "a")]))
    out.put(True)


def _hammer_transitions(path: str, job_id: str):
    """Publish transitions as fast as possible until killed."""
    store = FileCASStore(None, path)
    while True:
        store.heartbeat_job(job_id)


def test_kill9_mid_publish_leaves_store_consistent(tmp_path):
    """SIGKILL during a version publish must never corrupt the store:
    the hard-link CAS means a version file is either fully present or
    absent, so after killing a hammering writer the latest version still
    parses, the version chain is gap-free, and normal CAS operations
    proceed. (Orphan .tmp files are allowed — they are invisible to the
    protocol.)"""
    import json
    import signal
    import time

    path = str(tmp_path / "store")
    store = FileCASStore(None, path)
    store.install()
    store.transact_graph(_graph(["j1"]))
    assert store.reserve_job("j1") is not None

    p = _CTX.Process(target=_hammer_transitions, args=(path, "j1"))
    p.start()
    time.sleep(0.5)
    os.kill(p.pid, signal.SIGKILL)
    p.join()

    jdir = os.path.join(path, "jobs", "j1")
    versions = sorted(
        n for n in os.listdir(jdir) if n.startswith("v") and n.endswith(".json")
    )
    assert len(versions) >= 2, "hammer should have published at least once"
    # every published version parses (no torn writes visible via the link)
    for v in versions:
        with open(os.path.join(jdir, v)) as f:
            payload = json.load(f)
            assert payload["id"] == "j1"
    # chain is contiguous: v0..vN with no gaps
    nums = [int(v[1:11]) for v in versions]
    assert nums == list(range(len(nums)))
    # the store remains fully operational after the crash
    before = store.job_info("j1").lock_version
    store.finish_job("j1")
    after = store.job_info("j1")
    assert after.status == STATUS_FINISHED
    assert after.lock_version == before + 1


def test_cached_reads_follow_another_handles_writes(tmp_path):
    """A handle's parsed-version cache never serves stale state: handle A
    warms its cache, handle B then drives every transition (with a compact
    in between), and after each step A reads exactly what a fresh handle
    reads. Mutating a Job A returned does not leak into A's next read."""
    path = str(tmp_path / "cas")
    a = FileCASStore(None, path)
    a.install()
    a.transact_graph(
        JobGraph(
            jobs=[
                Job(id="p", type="t", args={"k": [1]}),
                Job(id="q", type="t"),
                Job(id="r", type="t"),
                Job(id="s", type="t"),
                Job(id="child", type="t"),
            ],
            edges=[("child", "s")],
        )
    )
    b = FileCASStore(None, path)
    ids = ["child", "p", "q", "r", "s"]

    def check():
        fresh = FileCASStore(None, path)
        assert [a.job_info(i) for i in ids] == [fresh.job_info(i) for i in ids]
        assert a.jobs_ready() == fresh.jobs_ready()
        for status in range(5):
            assert a.jobs_with_status(status) == fresh.jobs_with_status(status)

    assert a.jobs_ready() == ["p", "q", "r", "s"]  # warm A's cache
    steps = [
        lambda: b.reserve_job("p"),
        lambda: b.heartbeat_job("p"),
        lambda: b.finish_job("p"),
        b.compact,
        lambda: b.reserve_job("q"),
        lambda: b.fail_job("q", {"reason": "boom"}),
        lambda: b.reserve_job("r"),
        lambda: b.reset_job("r"),
        b.compact,
        lambda: b.abort_job("s"),
    ]
    for step in steps:
        step()
        check()
    assert a.job_info("p").status == STATUS_FINISHED
    assert a.job_info("q").failure == {"reason": "boom"}
    assert a.job_info("r").status == STATUS_UNSTARTED
    assert a.job_info("r").lock_version == 2
    assert a.job_info("child").status == STATUS_ABORTED

    job = a.job_info("p")
    job.args["k"].append(2)
    job.status = STATUS_STARTED
    a.job_info("q").failure["reason"] = "mutated"
    assert a.job_info("p").args == {"k": [1]}
    assert a.job_info("p").status == STATUS_FINISHED
    assert a.job_info("q").failure == {"reason": "boom"}
    check()


def test_warm_handle_sees_later_graphs(tmp_path):
    """The parsed dependency-file cache never hides a graph: a handle that
    already parsed one graph's edges sees a second graph another handle
    transacts later, in both ``jobs_ready`` and ``dependents``."""
    path = str(tmp_path / "cas")
    a = FileCASStore(None, path)
    a.install()
    a.transact_graph(
        JobGraph(jobs=[Job(id="x", type="t"), Job(id="y", type="t")], edges=[("y", "x")])
    )
    assert a.jobs_ready() == ["x"]
    assert a.dependents("x") == {"y"}  # edges of the first graph now cached

    b = FileCASStore(None, path)
    b.transact_graph(
        JobGraph(
            jobs=[Job(id="m", type="t"), Job(id="n", type="t"), Job(id="o", type="t")],
            edges=[("n", "m"), ("o", "n")],
        )
    )
    fresh = FileCASStore(None, path)
    assert a.jobs_ready() == fresh.jobs_ready() == ["m", "x"]
    assert a.dependents("x") == fresh.dependents("x") == {"y"}
    assert a.dependents("m") == fresh.dependents("m") == {"n", "o"}
