"""Benchmark inputs. The program under test only ever sees what this
module hands it: the repository's test tables, or a seeded job graph.

``data/sf0.01`` and ``data/sf0.001`` are byte-for-byte copies of the
repository's read-only test data at those scale factors (TESTDATA.md),
kept inside the benchmark so a run reads nothing outside its checkout.
sf0.01 is the size docs/VERIFY.md checks the DuckDB oracles against;
sf0.001 is the smoke size. The seed never changes the tables: it only
orders the calls, picks the queries, and splits the embeddings.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def data_dir(smoke: bool) -> str:
    return os.path.join(DATA, "sf0.001" if smoke else "sf0.01")


def embeddings(smoke: bool) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vec_id int64[n], vectors float32[n, dim], label int32[n]) of the
    test data's embeddings table, in file order."""
    t = pq.read_table(os.path.join(data_dir(smoke), "embeddings.parquet"))
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    return t.column("vec_id").to_numpy(), vecs, t.column("label").to_numpy()


def layered_dag(
    seed: int,
    n_jobs: int,
    wide: tuple[int, int] = (110, 130),
    chain: tuple[int, int] = (5, 7),
) -> tuple[list[str], list[tuple[str, str]]]:
    """A layered DAG of ``n_jobs`` job ids and (job, dependency) edges.

    Layers alternate between a wide layer, whose jobs all depend on the
    tail of the chain before it and so become ready together, and a
    narrow chain, whose head waits for the whole wide layer before it.
    Dependencies only point to earlier jobs, so the graph is acyclic."""
    rng = random.Random(seed)
    ids: list[str] = []
    edges: list[tuple[str, str]] = []
    prev: list[str] = []
    wide_next = True
    while len(ids) < n_jobs:
        left = n_jobs - len(ids)
        if wide_next:
            layer = [f"j{len(ids) + i:05d}" for i in range(min(left, rng.randint(*wide)))]
            for j in layer:
                for d in rng.sample(prev, min(len(prev), rng.randint(1, 2))):
                    edges.append((j, d))
            ids += layer
            prev = layer
        else:
            for i in range(min(left, rng.randint(*chain))):
                j = f"j{len(ids):05d}"
                edges += [(j, d) for d in prev]
                ids.append(j)
                prev = [j]
        wide_next = not wide_next
    return ids, edges
