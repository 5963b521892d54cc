from __future__ import annotations

import os
import queue
import time

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("OVERSEER_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from overseer_spark.session import get_spark

    cpus = os.environ.get("OVERSEER_TEST_CPUS", "8")
    spark = get_spark("overseer-tests", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_CORRECTNESS}/{name}.parquet'"
        )
    yield con
    con.close()


def child_results(out, procs, timeout: float) -> list:
    """One result per child process, read from the multiprocessing queue
    ``out``, each within ``timeout`` seconds. The queue is polled in
    short slices; when a child has exited non-zero the test fails at
    once, naming the child and its exit code, instead of waiting out the
    timeout for a result that cannot come. The other children are
    stopped before the failure is raised."""
    results = []
    deadline = time.monotonic() + timeout
    while len(results) < len(procs):
        # exit codes are read BEFORE the get: a child flushes its queue
        # writes before it exits, so a result it sent is read below
        dead = [p for p in procs if p.exitcode not in (None, 0)]
        try:
            results.append(out.get(timeout=0.2))
            deadline = time.monotonic() + timeout
            continue
        except queue.Empty:
            if not dead and time.monotonic() < deadline:
                continue
        for p in procs:
            if p.is_alive():
                p.terminate()
                p.join(5)
        why = ", ".join(
            f"child {p.name} (pid {p.pid}) exited with code {p.exitcode}"
            for p in dead
        ) or f"no result within {timeout:g} s"
        pytest.fail(f"{len(results)}/{len(procs)} child results: {why}")
    return results
