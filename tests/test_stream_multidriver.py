"""Multi-driver streaming e2e: N OS processes, each running its own
SparkSession + StreamingWorker (streaming/scheduler.py) against ONE
shared FileCAS store, drain a 1k-job DAG — the reference's masterless
worker-pool deployment (doc/guide/Concepts.md:13-16) in its Spark-native
shape. Covers:

- exactly-once completion across drivers (CAS reserve; lost races skip);
- kill -9 of one driver mid-drain: the survivors' per-micro-batch
  monitor pass (overseer/heartbeat.clj:45-68 semantics) resets the
  victim's stale STARTED job and a survivor re-runs it;
- deterministic recovery evidence: the parent itself reserves one job
  and never heartbeats it — exactly what a crashed worker leaves behind
  — so the dead-job→reset→re-run path is exercised every run, not only
  when the SIGKILL happens to land mid-job.

Runs ~1-2 min (three child JVMs); the cheap per-operation races are in
tests/test_filecas_race.py and tests/test_manifest_race.py.
"""

from __future__ import annotations

import pytest

import multiprocessing as mp
import os
import signal
import time

from overseer_spark.core import (
    STATUS_FINISHED,
    STATUS_STARTED,
    STATUS_UNSTARTED,
    Job,
    JobGraph,
)
from overseer_spark.store.filecas import FileCASStore
from tests.conftest import children_started

_CTX = mp.get_context("spawn")


def _stream_worker(path: str, idx: int, runlog_dir: str, started_evt) -> None:
    from pyspark.sql import SparkSession

    from overseer_spark.config import Config, HeartbeatConfig
    from overseer_spark.streaming.scheduler import StreamingWorker

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"stream-worker-{idx}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    store = FileCASStore(None, path)
    runlog = open(os.path.join(runlog_dir, f"w{idx}.log"), "a")

    def handler(job):
        runlog.write(job.id + "\n")
        runlog.flush()
        time.sleep(0.002)

    cfg = Config(
        detector_sleep_time=0.3,
        sleep_time=0.01,
        heartbeat=HeartbeatConfig(enabled=True, sleep_time=0.5, tolerance=3),
        rand_seed=idx,
    )
    w = StreamingWorker(
        spark, store, {"t": handler, "hog": handler}, config=cfg
    ).start()
    started_evt.set()
    try:
        w.await_drained(timeout=240)
    finally:
        w.stop()
        spark.stop()


@pytest.mark.slow
def test_three_driver_pool_drains_1k_dag_and_recovers_from_kill9(tmp_path):
    path = str(tmp_path / "store")
    store = FileCASStore(None, path)
    store.install()

    n_pairs = 500
    jobs = [Job(id=f"r{i}", type="t") for i in range(n_pairs)]
    jobs += [Job(id=f"l{i}", type="t") for i in range(n_pairs)]
    jobs.append(Job(id="hog", type="hog"))
    edges = [(f"l{i}", f"r{i}") for i in range(n_pairs)]
    store.transact_graph(JobGraph(jobs=jobs, edges=edges))
    all_ids = sorted(j.id for j in jobs)

    # simulate a worker that died mid-job: reserve 'hog' and never beat —
    # survivors' monitor must reset it once the heartbeat goes stale
    assert store.reserve_job("hog") is not None

    runlog_dir = str(tmp_path / "runs")
    os.makedirs(runlog_dir)
    events = [_CTX.Event() for _ in range(3)]
    procs = [
        _CTX.Process(
            target=_stream_worker, args=(path, i, runlog_dir, events[i])
        )
        for i in range(3)
    ]
    for p in procs:
        p.start()
    children_started(events, procs, timeout=120)

    # let the pool get into the drain, then SIGKILL one driver
    time.sleep(2.0)
    os.kill(procs[0].pid, signal.SIGKILL)
    procs[0].join()

    deadline = time.monotonic() + 240
    while time.monotonic() < deadline:
        if not store.jobs_with_status(STATUS_UNSTARTED) and not (
            store.jobs_with_status(STATUS_STARTED)
        ):
            break
        time.sleep(0.5)
    for p in procs[1:]:
        p.join(timeout=120)

    # exactly-once completion: every job finished, including the
    # recovered 'hog' the parent left in a crashed-worker state
    assert store.jobs_with_status(STATUS_FINISHED) == all_ids
    assert store.job_info("hog").status == STATUS_FINISHED

    runs: list[str] = []
    per_worker: dict[int, int] = {}
    for i in range(3):
        f = os.path.join(runlog_dir, f"w{i}.log")
        lines = [ln.strip() for ln in open(f)] if os.path.exists(f) else []
        per_worker[i] = len(lines)
        runs.extend(lines)
    # every job ran at least once somewhere; re-runs only happen for
    # monitor-reset jobs (the victim's in-flight work), so duplicates
    # stay near zero — far below the 1001-job total
    assert set(runs) >= set(all_ids) - {"hog"} or set(runs) == set(all_ids)
    assert "hog" in runs, "recovered job must have been re-run by a survivor"
    dupes = len(runs) - len(set(runs))
    assert dupes <= 10, f"unexpected duplicate executions: {dupes}"
    # the surviving drivers both participated
    assert per_worker[1] > 0 and per_worker[2] > 0
