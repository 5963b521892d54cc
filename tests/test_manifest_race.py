"""Cross-OS-process CAS races for ManifestCASStore — the object-store-safe
commit-log backend.

Same contract as tests/test_filecas_race.py (itself a port of the
reference's optimistic-concurrency race test,
test/overseer/store/jdbc_test.clj:42-60), but exercised against the
conditional-write commit log: exactly one winner per CAS, idempotent
concurrent graph transacts, exactly-once drains, and SIGKILL mid-commit
leaving the log replayable. Child processes construct the store WITHOUT
a SparkSession: coordination is purely conditional writes.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time

import pytest

from overseer_spark.core import (
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.store import manifest
from overseer_spark.store.manifest import ManifestCASStore, _decode_entry
from tests.conftest import child_results, children_started

_CTX = mp.get_context("spawn")


def _graph(ids, edges=()):
    return JobGraph(jobs=[Job(id=i, type=f"t-{i}") for i in ids], edges=list(edges))


def _try_reserve(path: str, job_id: str, barrier, out):
    store = ManifestCASStore(None, path)
    barrier.wait()
    job = store.reserve_job(job_id)
    out.put(None if job is None else (job.id, job.status, job.lock_version))


def _drain(path: str, barrier, out):
    store = ManifestCASStore(None, path)
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
    store = ManifestCASStore(None, path)
    barrier.wait()
    store.transact_graph(_graph(["a", "b"], [("b", "a")]))
    out.put(True)


def _hammer_transitions(path: str, job_id: str):
    store = ManifestCASStore(None, path)
    while True:
        store.heartbeat_job(job_id)


def _exit_without_result(code: int):
    os._exit(code)


def test_child_results_fails_fast_on_dead_child():
    """A child that dies before sending its result fails the wait at
    once, naming its exit code, instead of after the whole timeout."""
    out = _CTX.Queue()
    p = _CTX.Process(target=_exit_without_result, args=(3,))
    p.start()
    t0 = time.monotonic()
    with pytest.raises(pytest.fail.Exception, match="exited with code 3"):
        child_results(out, [p], timeout=300)
    assert time.monotonic() - t0 < 60
    p.join(timeout=10)
    assert p.exitcode == 3


def test_children_started_fails_fast_on_dead_child():
    """A child that dies before setting its start event fails the wait
    at once, naming its exit code, instead of after the whole timeout."""
    started = _CTX.Event()
    p = _CTX.Process(target=_exit_without_result, args=(3,))
    p.start()
    t0 = time.monotonic()
    with pytest.raises(pytest.fail.Exception, match="exited with code 3"):
        children_started([started], [p], timeout=300)
    assert time.monotonic() - t0 < 60
    p.join(timeout=10)
    assert p.exitcode == 3


def test_two_process_reserve_exactly_one_wins(tmp_path):
    path = str(tmp_path / "cas")
    parent = ManifestCASStore(None, path)
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
    results = child_results(out, procs, timeout=60)
    for p in procs:
        p.join(timeout=60)

    winners = [r for r in results if r is not None]
    assert len(winners) == 1
    assert winners[0] == ("j1", STATUS_STARTED, 1)
    final = parent.job_info("j1")
    assert final.status == STATUS_STARTED and final.lock_version == 1


def test_eight_process_reserve_storm(tmp_path):
    path = str(tmp_path / "cas")
    parent = ManifestCASStore(None, path)
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
    results = child_results(out, procs, timeout=120)
    for p in procs:
        p.join(timeout=60)

    assert sum(r is not None for r in results) == 1
    assert parent.job_info("hot").lock_version == 1


def test_multi_process_drain_runs_each_job_exactly_once(tmp_path, monkeypatch):
    """Four worker processes drain a 60-job two-level DAG through the
    commit log; every job finishes exactly once. CHECKPOINT_EVERY is set
    low so the drain also crosses several checkpoint writes."""
    monkeypatch.setattr(manifest, "CHECKPOINT_EVERY", 16)
    path = str(tmp_path / "cas")
    parent = ManifestCASStore(None, path)
    parent.install()
    roots = [f"r{i}" for i in range(20)]
    leaves = [f"l{i}" for i in range(40)]
    edges = [(leaves[i], roots[i % 20]) for i in range(40)]
    parent.transact_graph(_graph(roots + leaves, edges))

    n = 4
    barrier = _CTX.Barrier(n)
    out = _CTX.Queue()
    procs = [
        _CTX.Process(target=_drain, args=(path, barrier, out)) for _ in range(n)
    ]
    for p in procs:
        p.start()
    results = child_results(out, procs, timeout=300)
    for p in procs:
        p.join(timeout=120)

    all_won = [jid for _, won in results for jid in won]
    assert sorted(all_won) == sorted(roots + leaves)
    assert len(set(all_won)) == 60
    assert parent.jobs_with_status(STATUS_FINISHED) == sorted(roots + leaves)
    assert parent.jobs_with_status(STATUS_UNSTARTED) == []


def test_concurrent_identical_transact_is_idempotent(tmp_path):
    path = str(tmp_path / "cas")
    parent = ManifestCASStore(None, path)
    parent.install()

    barrier = _CTX.Barrier(2)
    out = _CTX.Queue()
    procs = [
        _CTX.Process(target=_transact_same, args=(path, barrier, out))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    child_results(out, procs, timeout=60)
    for p in procs:
        p.join(timeout=60)

    assert parent.jobs_with_status(STATUS_UNSTARTED) == ["a", "b"]
    assert parent.job_info("a").lock_version == 0


def test_kill9_mid_commit_leaves_log_replayable(tmp_path):
    """SIGKILL while a writer hammers the commit log must never corrupt
    it: every surviving entry parses with a valid checksum (or gets
    quarantined), replay succeeds, and normal CAS operations proceed."""
    import signal
    import time

    path = str(tmp_path / "store")
    store = ManifestCASStore(None, path)
    store.install()
    store.transact_graph(_graph(["j1"]))
    assert store.reserve_job("j1") is not None

    p = _CTX.Process(target=_hammer_transitions, args=(path, "j1"))
    p.start()
    time.sleep(0.5)
    os.kill(p.pid, signal.SIGKILL)
    p.join()

    # replay still works and the state machine still moves
    info = store.job_info("j1")
    assert info is not None and info.status == STATUS_STARTED
    store.finish_job("j1")
    assert store.job_info("j1").status == STATUS_FINISHED

    # every surviving log entry decodes (complete-or-absent contract)
    log_dir = os.path.join(path, "_log")
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".ckpt.json"):
            continue
        with open(os.path.join(log_dir, name), "rb") as f:
            assert _decode_entry(f.read()) is not None, name


def test_compact_checkpoints_and_preserves_state(tmp_path, monkeypatch):
    monkeypatch.setattr(manifest, "CHECKPOINT_EVERY", 8)
    path = str(tmp_path / "store")
    store = ManifestCASStore(None, path)
    store.install()
    ids = [f"j{i}" for i in range(10)]
    store.transact_graph(_graph(ids))
    for i in ids[:6]:
        assert store.reserve_job(i) is not None
        store.finish_job(i)
    before_ready = store.jobs_ready()
    store.compact()
    # a fresh store handle replays from the checkpoint alone
    fresh = ManifestCASStore(None, path)
    assert fresh.jobs_ready() == before_ready
    assert fresh.jobs_with_status(STATUS_FINISHED) == sorted(ids[:6])
    # log was truncated to (at most) entries after the checkpoint
    log_dir = os.path.join(path, "_log")
    entries = [n for n in os.listdir(log_dir)
               if n.endswith(".json") and not n.endswith(".ckpt.json")]
    assert entries == []
    # and the store keeps working after compaction
    assert fresh.reserve_job(ids[6]) is not None
    fresh.finish_job(ids[6])
    assert fresh.job_info(ids[6]).status == STATUS_FINISHED


def test_compact_concurrent_with_drain(tmp_path, monkeypatch):
    """compact() racing active writers must not lose transitions: run a
    drain in one process while the parent compacts repeatedly."""
    monkeypatch.setattr(manifest, "CHECKPOINT_EVERY", 4)
    path = str(tmp_path / "store")
    parent = ManifestCASStore(None, path)
    parent.install()
    ids = [f"j{i}" for i in range(30)]
    parent.transact_graph(_graph(ids))

    barrier = _CTX.Barrier(2)
    out = _CTX.Queue()
    p = _CTX.Process(target=_drain, args=(path, barrier, out))
    p.start()
    barrier.wait()
    for _ in range(20):
        parent.compact()
        time.sleep(0.02)
    ((_, won),) = child_results(out, [p], timeout=300)
    p.join(timeout=120)

    assert sorted(won) == sorted(ids)
    assert parent.jobs_with_status(STATUS_FINISHED) == sorted(ids)


def test_time_travel_replays_historical_versions(tmp_path, monkeypatch):
    """jobs_with_status via _replay(upto): states at recorded versions
    match what the store looked like then; compaction truncates history
    below its checkpoint but keeps head reads exact."""
    monkeypatch.setattr(manifest, "CHECKPOINT_EVERY", 1000)
    path = str(tmp_path / "store")
    store = ManifestCASStore(None, path)
    store.install()
    store.transact_graph(_graph(["a", "b", "c"]))
    v0 = store.current_version()
    assert v0 == 0
    assert store.reserve_job("a") is not None
    store.finish_job("a")
    v2 = store.current_version()
    assert v2 == 2
    # as-of v0: everything unstarted
    s0 = store._replay(upto=v0)
    assert all(p["status"] == STATUS_UNSTARTED for p in s0.jobs.values())
    # as-of v1: 'a' started
    s1 = store._replay(upto=1)
    assert s1.jobs["a"]["status"] == STATUS_STARTED
    # head: 'a' finished
    assert store.job_info("a").status == STATUS_FINISHED
    # after compact, head reads still exact; pre-checkpoint history is
    # replayed from the checkpoint alone (same head state)
    store.compact()
    fresh = ManifestCASStore(None, path)
    assert fresh.job_info("a").status == STATUS_FINISHED
    assert fresh.current_version() == v2


def test_store_manifest_time_travel_entry_histograms(spark):
    """Catalog entry store_manifest_time_travel: the 3-stage drive's
    as-of-version histograms are fully determined by the FSM — pin them
    exactly (the entry's Python oracle)."""
    from overseer_spark.queries.catalog import CATALOG

    rows = [
        (r["phase"], r["n_unstarted"], r["n_finished"])
        for r in CATALOG["store_manifest_time_travel"].fn(spark, "unused").collect()
    ]
    # rows arrive ORDER BY phase (matching the entry's DuckDB oracle)
    assert rows == [
        ("after_extract", 2, 1),
        ("after_load", 0, 3),
        ("after_transform", 1, 2),
        ("live", 0, 3),
        ("submitted", 3, 0),
    ]


def test_time_travel_pre_compaction_version_raises(tmp_path, monkeypatch):
    """A version older than the retained history must raise an explicit
    error, not silently replay to an empty state (which would be
    indistinguishable from an actually-empty store)."""
    monkeypatch.setattr(manifest, "CHECKPOINT_EVERY", 4)
    import pytest

    from overseer_spark.store.manifest import TimeTravelUnavailable

    store = ManifestCASStore(None, str(tmp_path / "tt"))
    store.install()
    store.transact_graph(_graph(["a", "b", "c"]))
    v_early = store.current_version()
    for jid in ("a", "b", "c"):
        store.reserve_job(jid)
        store.finish_job(jid)
    v_head = store.current_version()
    # before compaction the early version is still reachable
    assert store._replay(upto=v_early).jobs["a"]["status"] == STATUS_UNSTARTED

    store.compact()  # truncates history below its checkpoint
    with pytest.raises(TimeTravelUnavailable):
        store._replay(upto=v_early)
    # the head version stays reachable via the surviving checkpoint
    st = store._replay(upto=v_head)
    assert all(j["status"] == STATUS_FINISHED for j in st.jobs.values())


def test_cached_head_quarantine_rewrite_drops_cache(tmp_path):
    """TOCTOU (cache poisoning) regression: reader A reads + caches a
    valid-looking entry N; another reader quarantines slot N (torn-write
    recovery) and a new proposer rewrites it with a DIFFERENT entry.
    A's next incremental replay must re-verify the cached head's crc,
    drop the poisoned cache, and converge on the rewritten history."""
    from overseer_spark.store.manifest import _encode_entry

    path = str(tmp_path / "toctou")
    a = ManifestCASStore(None, path)
    a.install()
    a.transact_graph(_graph(["a"]))  # version 0
    a.reserve_job("a")  # version 1: cas unstarted→started
    cached = a.job_info("a")  # populates the incremental-replay cache
    assert cached.status == STATUS_STARTED

    # simulate the recovery path winning against the cached entry: the
    # slot is renamed away (quarantine) and reclaimed by a new proposer
    assert a.client.rename_away(a._entry_key(1), "_log/.quarantine-1-test")
    rewritten = {
        "v": 1,
        "writer": "someone-else",
        "ts": 999_000,
        "actions": [
            {
                "op": "cas",
                "id": "a",
                "expect": 0,
                "set": {
                    "status": STATUS_STARTED,
                    "heartbeat": 424242,
                    "updated_at": 999_000,
                },
            }
        ],
    }
    assert a.client.put_if_absent(a._entry_key(1), _encode_entry(rewritten))

    # head replay re-verifies the cached head crc, detects the rewrite,
    # rebuilds from scratch, and reflects the REWRITTEN entry
    job = a.job_info("a")
    assert job.heartbeat == 424242
    assert a._cache_head_crc is not None  # cache repinned on the new head

    # and a subsequent incremental reuse of the (now-correct) cache is
    # stable: same state, no spurious drops
    assert a.job_info("a").heartbeat == 424242


def _same_state(a: ManifestCASStore, path: str) -> None:
    warm, fresh = a._replay(), ManifestCASStore(None, path)._replay()
    assert (warm.version, warm.jobs, warm.edges) == (
        fresh.version,
        fresh.jobs,
        fresh.edges,
    )


def test_warm_handle_replay_follows_other_handles(tmp_path, monkeypatch):
    """O(delta) head replays never drift: after each of handle B's
    reserve, heartbeat, finish, compact() (also one that truncates the log
    past A's cached head) and a quarantine-and-rewrite of B's newest slot,
    warm handle A replays exactly the state a fresh handle replays from a
    full listing."""
    monkeypatch.setattr(manifest, "CHECKPOINT_EVERY", 4)
    from overseer_spark.store.manifest import _encode_entry

    path = str(tmp_path / "store")
    a = ManifestCASStore(None, path)
    a.install()
    a.transact_graph(_graph(["p", "q", "r"], [("r", "q")]))
    b = ManifestCASStore(None, path)
    _same_state(a, path)  # warm A's cache

    def rewrite_head():
        v = b.current_version()
        assert b.client.rename_away(b._entry_key(v), "_log/.quarantine-test")
        lv = b._replay(upto=v - 1).jobs["p"]["lock_version"]
        entry = {
            "v": v,
            "writer": "someone-else",
            "ts": 1,
            "actions": [
                {"op": "cas", "id": "p", "expect": lv, "set": {"heartbeat": 7}}
            ],
        }
        assert b.client.put_if_absent(b._entry_key(v), _encode_entry(entry))

    steps = [
        lambda: b.reserve_job("p"),
        lambda: b.heartbeat_job("p"),
        lambda: b.finish_job("p"),
        b.compact,
        lambda: b.reserve_job("q"),
        lambda: b.finish_job("q"),
        rewrite_head,
        lambda: (b.reserve_job("r"), b.heartbeat_job("r"), b.compact()),
    ]
    for step in steps:
        step()
        _same_state(a, path)
    assert a.job_info("p").status == STATUS_FINISHED
    assert a.jobs_ready() == []


def test_local_writer_list_start_after(tmp_path):
    """``list(prefix, start_after=)`` returns the sorted keys strictly
    after ``start_after`` — S3 ``StartAfter`` semantics."""
    from overseer_spark.store.manifest import LocalConditionalWriter

    w = LocalConditionalWriter(str(tmp_path))
    w.ensure_root("_log")
    names = ["00000000000000000003.json", "00000000000000000003.ckpt.json",
             "00000000000000000002.json", "00000000000000000004.json",
             ".quarantine-1-x"]
    for n in names:
        assert w.put_if_absent(f"_log/{n}", b"{}")
    assert w.list("_log") == sorted(f"_log/{n}" for n in names)
    assert w.list("_log", start_after="_log/00000000000000000003") == [
        "_log/00000000000000000003.ckpt.json",
        "_log/00000000000000000003.json",
        "_log/00000000000000000004.json",
    ]
    assert w.list("_log", start_after="_log/00000000000000000004.json") == []
    assert w.list("missing", start_after="x") == []
