"""Backend-agnostic store protocol suite — the reference's key test
pattern (overseer/test/overseer/store_test.clj:1-174), parameterized over
both backends exactly as the reference runs it against Datomic and JDBC.
"""

from __future__ import annotations

import tempfile

import pytest

from overseer_spark.core import (
    STATUS_ABORTED,
    STATUS_FAILED,
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
    job_graph,
)
from overseer_spark.store.base import IllegalTransition
from overseer_spark.store.memory import MemoryStore


def _make_store(kind, spark, tmp_path):
    """A fresh installed store; a ``-nospark`` suffix builds the Spark-less
    worker handle of that backend."""
    attached = None if kind.endswith("-nospark") else spark
    if kind == "memory":
        s = MemoryStore()
    elif kind == "sqlite":
        from overseer_spark.store.sqlite import SqliteStore

        s = SqliteStore(str(tmp_path / "store.db"))
    elif kind.startswith("filecas"):
        from overseer_spark.store.filecas import FileCASStore

        s = FileCASStore(attached, str(tmp_path / "store"))
    elif kind.startswith("manifest"):
        from overseer_spark.store.manifest import ManifestCASStore

        s = ManifestCASStore(attached, str(tmp_path / "store"))
    else:
        from overseer_spark.store.sparklog import SparkLogStore

        s = SparkLogStore(spark, str(tmp_path / "store"))
    s.install()
    return s


@pytest.fixture(params=["memory", "sparklog", "filecas", "manifest", "sqlite"])
def store(request, spark, tmp_path):
    return _make_store(request.param, spark, tmp_path)


@pytest.fixture(
    params=[
        "memory",
        "sqlite",
        "filecas",
        "filecas-nospark",
        "manifest",
        "manifest-nospark",
        "sparklog",
    ]
)
def any_store(request, spark, tmp_path):
    """Every backend; each CAS store also as the Spark-less handle a
    worker process opens."""
    return _make_store(request.param, spark, tmp_path)


def graph_of(*pairs, args=None):
    """pairs: (job_id, [dep_ids]) — explicit-id graph helper."""
    jobs = [Job(id=i, type=f"t-{i}", args=args) for i, _ in pairs]
    edges = [(i, d) for i, deps in pairs for d in deps]
    return JobGraph(jobs=jobs, edges=edges)


# -- graph insert (store_test.clj:27-40) -----------------------------------

def test_transact_graph_inserts(store):
    g = graph_of(("a", []), ("b", ["a"]))
    store.transact_graph(g)
    assert store.job_info("a").status == STATUS_UNSTARTED
    assert store.job_info("b").type == "t-b"
    assert store.dependents("a") == {"b"}


def test_transact_graph_idempotent_no_upsert(store):
    """Duplicate job ids ⇒ the whole transaction is a no-op; args are never
    upserted (store_test.clj:27-40)."""
    store.transact_graph(graph_of(("a", []), args={"v": 1}))
    store.reserve_job("a")
    # same id, new args + a brand-new id: NOTHING is inserted
    store.transact_graph(graph_of(("a", []), ("new", []), args={"v": 2}))
    assert store.job_info("a").args == {"v": 1}
    assert store.job_info("a").status == STATUS_STARTED
    assert store.job_info("new") is None


def test_args_roundtrip(store):
    """Payload serialization roundtrip (store_test.clj:42-52)."""
    args = {"email": "x@example.com", "age": 30, "nested": {"k": [1, 2]}}
    store.transact_graph(graph_of(("a", []), args=args))
    assert store.job_info("a").args == args


# -- FSM transitions (store_test.clj:54-124) -------------------------------

def test_reserve_and_finish(store):
    store.transact_graph(graph_of(("a", [])))
    reserved = store.reserve_job("a")
    assert reserved.status == STATUS_STARTED
    assert reserved.heartbeat is not None
    store.finish_job("a")
    assert store.job_info("a").status == STATUS_FINISHED


def test_reserve_lost_race_returns_none(store):
    store.transact_graph(graph_of(("a", [])))
    assert store.reserve_job("a") is not None
    assert store.reserve_job("a") is None  # second reservation loses
    assert store.reserve_job("missing") is None


def test_finish_illegal_raises(store):
    store.transact_graph(graph_of(("a", [])))
    with pytest.raises(IllegalTransition):
        store.finish_job("a")  # not started


def test_fail_sets_failure_struct(store):
    store.transact_graph(graph_of(("a", [])))
    store.reserve_job("a")
    store.fail_job("a", {"reason": "unhandled-exception", "message": "boom"})
    job = store.job_info("a")
    assert job.status == STATUS_FAILED
    assert job.failure["message"] == "boom"


def test_reset_returns_none_on_race_never_raises(store):
    store.transact_graph(graph_of(("a", [])))
    assert store.reset_job("a") is None  # not started: silent None
    store.reserve_job("a")
    assert store.reset_job("a").status == STATUS_UNSTARTED
    assert store.job_info("a").status == STATUS_UNSTARTED


def test_heartbeat_updates(store):
    store.transact_graph(graph_of(("a", [])))
    job = store.reserve_job("a")
    store.heartbeat_job("a")
    assert store.job_info("a").heartbeat >= job.heartbeat


def test_every_transition_bumps_lock_version_by_one(any_store):
    """Each of the six transitions, heartbeat included, is one CAS write:
    lock_version rises by exactly one per applied transition (the
    reference's update-job, jdbc.clj:62-87) and not at all on a refused one."""
    any_store.transact_graph(graph_of(("a", []), ("b", []), ("c", ["b"])))

    def lv(jid):
        return any_store.job_info(jid).lock_version

    assert (lv("a"), lv("b"), lv("c")) == (0, 0, 0)
    assert any_store.reserve_job("a").lock_version == 1
    any_store.heartbeat_job("a")
    assert lv("a") == 2
    assert any_store.reset_job("a").lock_version == 3
    assert any_store.reserve_job("a").lock_version == 4
    any_store.finish_job("a")
    assert lv("a") == 5
    assert any_store.reserve_job("a") is None and any_store.reset_job("a") is None
    with pytest.raises(IllegalTransition):
        any_store.fail_job("a", {"reason": "late"})
    assert lv("a") == 5
    any_store.reserve_job("b")
    any_store.fail_job("b", {"reason": "boom"})
    assert lv("b") == 2
    any_store.abort_job("b")
    assert (lv("b"), lv("c")) == (3, 1)
    assert any_store.job_info("c").status == STATUS_ABORTED


@pytest.mark.parametrize("kind", ["filecas", "manifest"])
def test_cas_store_set_queries_start_no_spark_job(spark, tmp_path, kind):
    """A CAS store reads its state on the driver, so with a session
    attached its set queries still run no Spark job."""
    s = _make_store(kind, spark, tmp_path)
    s.transact_graph(graph_of(("a", []), ("b", ["a"]), ("c", ["b"]), ("d", [])))
    s.reserve_job("a")
    s.finish_job("a")
    s.reserve_job("d")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    assert s.jobs_ready() == ["b"]
    assert s.jobs_ready(limit=1, types={"t-b"}) == ["b"]
    assert s.jobs_dead(threshold=2**62) == ["d"]
    assert s.dependents("a") == {"b", "c"}
    assert s.jobs_with_status(STATUS_FINISHED) == ["a"]
    assert set(tracker.getJobIdsForGroup()) == before
    spark.range(1).count()  # the tracker does see a job started here
    assert set(tracker.getJobIdsForGroup()) != before


@pytest.mark.parametrize("kind", ["memory", "sqlite", "filecas", "manifest"])
def test_heartbeat_thread_never_fails_the_workers_finish(spark, tmp_path, kind):
    """Heartbeat threads beat the running job in a tight loop while the
    worker reserves and finishes 200 jobs: since heartbeats bump
    lock_version, a transition that gave up on any concurrent write would
    raise IllegalTransition here (three beating threads make a read-then-
    CAS finish lose in nearly every run). SparkLogStore runs every
    transition under one lock, so the two cannot interleave there."""
    import threading

    s = _make_store(kind, spark, tmp_path)
    ids = [f"j{i:03d}" for i in range(200)]
    s.transact_graph(graph_of(*((i, []) for i in ids)))
    running: list[str] = []
    stop = threading.Event()
    errors: list[BaseException] = []

    def beat():
        try:
            while not stop.is_set():
                if running:
                    s.heartbeat_job(running[-1])
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=beat) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for jid in ids:
            assert s.reserve_job(jid) is not None
            running.append(jid)
            s.finish_job(jid)
    finally:
        stop.set()
        for t in threads:
            t.join()
    assert not errors
    assert s.jobs_with_status(STATUS_FINISHED) == ids


# -- ready set truth table (datomic_test.clj:14-64 / FIXTURES.md §B) -------

def test_ready_set_truth_table(any_store):
    """R3 truth table; with ``types`` (R12, run inside the ready scan) the
    same table restricted to those types, filtered before ``limit``."""
    g = graph_of(
        ("j-unstarted-nodeps", []),
        ("j-started", []),
        ("j-dep-unfinished", ["j-unstarted-nodeps"]),
        ("j-finished", []),
        ("j-dep-finished", ["j-finished"]),
        ("j-dep-mixed", ["j-unstarted-nodeps", "j-finished"]),
        ("j-aborted", []),
    )
    any_store.transact_graph(g)
    any_store.reserve_job("j-started")
    any_store.reserve_job("j-finished")
    any_store.finish_job("j-finished")
    any_store.abort_job("j-aborted")
    ready = ["j-dep-finished", "j-unstarted-nodeps"]
    assert any_store.jobs_ready() == ready
    assert any_store.jobs_ready(types=frozenset(j.type for j in g.jobs)) == ready
    # one ready type, two types that are not ready, one no job has
    mixed = {"t-j-dep-finished", "t-j-started", "t-j-dep-mixed", "t-no-such-type"}
    assert any_store.jobs_ready(types=mixed) == ["j-dep-finished"]
    # limit-then-filter would keep the first ready id, j-dep-finished
    assert any_store.jobs_ready(limit=1, types={"t-j-unstarted-nodeps"}) == [
        "j-unstarted-nodeps"
    ]
    assert any_store.jobs_ready(types=frozenset()) == []


def test_ready_set_limit(store):
    store.transact_graph(graph_of(("a", []), ("b", []), ("c", [])))
    assert len(store.jobs_ready(limit=2)) == 2


# -- dead set (store_test.clj:152-164) -------------------------------------

def test_jobs_dead_threshold(store):
    store.transact_graph(graph_of(("dead", []), ("live", []), ("idle", [])))
    store.reserve_job("dead")
    store.reserve_job("live")
    # backdate the dead job's heartbeat through the public interface:
    # reserve stamped now; monitor thresholds are unix-seconds ints.
    now = store.job_info("live").heartbeat
    assert store.jobs_dead(threshold=now - 100) == []
    assert "dead" in store.jobs_dead(threshold=now + 10_000)
    assert "idle" not in store.jobs_dead(threshold=now + 10_000)  # unstarted


# -- closure + abort cascade (datomic_test.clj:66-88, store_test.clj:106-124)

def test_transitive_dependents(store):
    g = graph_of(
        ("j-root", []),
        ("j-a", ["j-root"]),
        ("j-b", ["j-root"]),
        ("j-c", ["j-a"]),
        ("j-solo", []),
    )
    store.transact_graph(g)
    assert store.dependents("j-root") == {"j-a", "j-b", "j-c"}
    assert store.dependents("j-c") == set()
    assert store.dependents("j-solo") == set()


def test_abort_cascades(store):
    g = graph_of(("root", []), ("mid", ["root"]), ("leaf", ["mid"]), ("other", []))
    store.transact_graph(g)
    store.abort_job("root")
    for jid in ("root", "mid", "leaf"):
        assert store.job_info(jid).status == STATUS_ABORTED
    assert store.job_info("other").status == STATUS_UNSTARTED
    assert store.jobs_ready() == ["other"]


# -- sparklog-specific: the DataFrame view agrees with the cache -----------

def test_sparklog_dataframe_view_consistent(spark, tmp_path):
    from overseer_spark.store.sparklog import SparkLogStore

    s = SparkLogStore(spark, str(tmp_path / "store2"))
    s.install()
    s.transact_graph(graph_of(("a", []), ("b", ["a"])))
    s.reserve_job("a")
    s.finish_job("a")
    rows = {r["id"]: r["status"] for r in s.jobs_df().collect()}
    assert rows == {"a": STATUS_FINISHED, "b": STATUS_UNSTARTED}
    # restart path: rebuild cache from the log
    s2 = SparkLogStore(spark, str(tmp_path / "store2"))
    s2.load()
    assert s2.job_info("a").status == STATUS_FINISHED
    assert s2.jobs_ready() == ["b"]
    # compaction folds the log without changing state
    s.compact()
    assert {r["id"]: r["status"] for r in s.jobs_df().collect()} == rows


# -- concurrency: exactly one of two racing reservations wins
# (overseer/test/overseer/store/jdbc_test.clj:42-60) ------------------------

def test_concurrent_reserve_exactly_one_wins(store):
    import threading

    store.transact_graph(graph_of(("race-1", [])))
    results = []
    barrier = threading.Barrier(2)

    def contend():
        barrier.wait()
        results.append(store.reserve_job("race-1"))

    threads = [threading.Thread(target=contend) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [r for r in results if r is not None]
    assert len(winners) == 1, f"expected exactly 1 winner, got {results}"
    assert store.job_info("race-1").status == STATUS_STARTED


def test_concurrent_transact_same_graph_idempotent(store):
    """Two threads submitting the same graph: net effect of one insert
    (the reference's duplicate-id no-op semantics under contention)."""
    import threading

    g = graph_of(("cc-a", []), ("cc-b", ["cc-a"]))
    barrier = threading.Barrier(2)
    errors = []

    def submit():
        barrier.wait()
        try:
            store.transact_graph(g)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=submit) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert store.job_info("cc-a").status == STATUS_UNSTARTED
    assert sorted(j for j in ("cc-a", "cc-b")) == ["cc-a", "cc-b"]


def test_sparklog_as_of_time_travel(spark, tmp_path):
    """The append-only log doubles as version history: as-of reads
    reconstruct engine state at any past transition."""
    from overseer_spark.store.sparklog import SparkLogStore

    s = SparkLogStore(spark, str(tmp_path / "store3"))
    s.install()
    s.transact_graph(graph_of(("a", []), ("b", ["a"])))
    v0 = s.current_seq()
    s.reserve_job("a")
    v1 = s.current_seq()
    s.finish_job("a")

    now = {r["id"]: r["status"] for r in s.jobs_df().collect()}
    assert now == {"a": STATUS_FINISHED, "b": STATUS_UNSTARTED}
    at_v0 = {r["id"]: r["status"] for r in s.jobs_df(as_of_seq=v0).collect()}
    assert at_v0 == {"a": STATUS_UNSTARTED, "b": STATUS_UNSTARTED}
    at_v1 = {r["id"]: r["status"] for r in s.jobs_df(as_of_seq=v1).collect()}
    assert at_v1 == {"a": STATUS_STARTED, "b": STATUS_UNSTARTED}


@pytest.mark.slow
def test_job_runtime_stats_from_log(spark, tmp_path):
    """The engine reports its own per-type runtimes from the transition
    log (operators/scheduling.py job_runtime_stats)."""
    from overseer_spark.operators.scheduling import job_runtime_stats
    from overseer_spark.store.sparklog import SparkLogStore

    s = SparkLogStore(spark, str(tmp_path / "store4"))
    s.install()
    s.transact_graph(graph_of(("ok1", []), ("ok2", []), ("bad", [])))
    for jid in ("ok1", "ok2"):
        s.reserve_job(jid)
        s.finish_job(jid)
    s.reserve_job("bad")
    s.fail_job("bad", {"reason": "boom"})

    rows = {r.type: r for r in job_runtime_stats(s._log_df()).collect()}
    # graph_of assigns type == f"t-{id}" in these fixtures
    assert rows["t-ok1"].n_finished == 1 and rows["t-ok1"].n_failed == 0
    assert rows["t-bad"].n_failed == 1 and rows["t-bad"].n_finished == 0
    assert rows["t-ok1"].max_secs is not None and rows["t-ok1"].max_secs >= 0
    assert rows["t-bad"].avg_secs is None


def test_created_at_survives_transitions_and_compact(spark, tmp_path):
    """created_at is stamped on the insert row only, but the current-state
    view must carry it through every transition (reference keeps it on the
    JDBC row through updates — store/jdbc.clj:171-175) and compaction."""
    from overseer_spark.operators.scheduling import job_runtime_stats
    from overseer_spark.store.sparklog import SparkLogStore

    s = SparkLogStore(spark, str(tmp_path / "store5"))
    s.install()
    s.transact_graph(graph_of(("a", []), ("b", [])))
    created = {r.id: r.created_at for r in s.jobs_df().collect()}
    assert created["a"] is not None and created["b"] is not None

    s.reserve_job("a")
    s.heartbeat_job("a")
    s.finish_job("a")
    after = {r.id: r for r in s.jobs_df().collect()}
    assert after["a"].status == STATUS_FINISHED
    assert after["a"].created_at == created["a"]  # carried through updates
    assert after["a"].updated_at >= after["a"].created_at

    s.compact()
    compacted = {r.id: r for r in s.jobs_df().collect()}
    assert compacted["a"].created_at == created["a"]
    assert compacted["a"].status == STATUS_FINISHED
    # runtime analytics survive compaction: first started + terminal rows kept
    stats = {r.type: r for r in job_runtime_stats(s._log_df()).collect()}
    assert stats["t-a"].n_finished == 1
    assert stats["t-a"].max_secs is not None and stats["t-a"].max_secs >= 0


@pytest.mark.slow
def test_bounded_cache_with_10k_job_graph(spark, tmp_path, monkeypatch):
    """Driver mirror is a bounded LRU: a 10k-job graph runs correctly with
    a 100-job cap — misses fall back to predicate-pushed log lookups, so
    the driver's memory ceiling is the cap, not the job count."""
    from overseer_spark.store import sparklog
    from overseer_spark.store.sparklog import SparkLogStore

    monkeypatch.setattr(sparklog, "CACHE_CAPACITY", 100)
    s = SparkLogStore(spark, str(tmp_path / "big"))
    s.install()
    jobs = [Job(id=f"j{i:05d}", type="t") for i in range(10_000)]
    s.transact_graph(JobGraph(jobs=jobs, edges=[]))
    assert len(s._lru) <= 100

    # jobs far outside the cached tail exercise the point-lookup path
    for jid in ("j00000", "j04321", "j07777"):
        assert s.job_info(jid).status == STATUS_UNSTARTED
        assert s.reserve_job(jid).status == STATUS_STARTED
        s.finish_job(jid)
    assert s.job_info("j00000").status == STATUS_FINISHED
    assert len(s._lru) <= 100

    # duplicate transact stays all-or-nothing with a cold cache
    s2 = SparkLogStore(spark, str(tmp_path / "big"))
    s2.load()  # recovers only the seq counter — no full-table collect
    s2.transact_graph(
        JobGraph(jobs=[Job(id="j00001", type="t"), Job(id="brand-new", type="t")],
                 edges=[])
    )
    assert s2.job_info("brand-new") is None  # nothing inserted
    assert s2.job_info("j00000").status == STATUS_FINISHED  # state survived
    assert s2.reserve_job("j00002") is not None
    assert len(s2._lru) <= 100


def test_store_time_travel_catalog_entry(spark):
    """store_time_travel: as-of reads must reconstruct every historical
    status histogram exactly — the unstarted count steps 3→2→1→0 while
    finished steps 0→1→2→3, and the live head equals the last as-of."""
    from overseer_spark.queries.catalog import CATALOG

    rows = {r["phase"]: r for r in CATALOG["store_time_travel"].fn(spark, "").collect()}
    order = ["submitted", "after_extract", "after_transform", "after_load"]
    for i, phase in enumerate(order):
        assert rows[phase]["n_unstarted"] == 3 - i
        assert rows[phase]["n_finished"] == i
    assert rows["live"]["n_finished"] == 3 and rows["live"]["n_unstarted"] == 0
