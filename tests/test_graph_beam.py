"""graph_beam_topk against a pure-Python beam on seeded random graphs.

The reference states the beam's contract directly: score the entry
layer, keep the ``entry_top`` best, then ``hops`` rounds of (expand the
top-``beam`` visited nodes along their out-edges, score every unseen
neighbour present in the corpus); the result is the top-``k`` visited
nodes by (sim DESC, id), minus the query's own node and the excluded
ids, which stay legal waypoints. The first round expands the whole
entry layer."""

from __future__ import annotations

import random

import pytest

from overseer_spark.operators.graph import graph_beam_topk

MISSING = 99_999  # an id with edges into it but no vector


def reference_beam(vecs, edges, queries, entries, entry_top, hops, beam, k,
                   exclude=()):
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    order = lambda ns: (-ns[1], ns[0])  # noqa: E731
    rows = []
    for qid, qvec in queries.items():
        def dot(n):
            return sum(a * b for a, b in zip(qvec, vecs[n]))

        visited = dict(
            sorted(((n, dot(n)) for n in set(entries) if n in vecs), key=order)[
                :entry_top
            ]
        )
        frontier = list(visited)
        for _ in range(hops):
            for n in {d for f in frontier for d in adj.get(f, ())}:
                if n in vecs and n not in visited:
                    visited[n] = dot(n)
            frontier = [n for n, _ in sorted(visited.items(), key=order)[:beam]]
        kept = [
            ns for ns in visited.items() if ns[0] != qid and ns[0] not in exclude
        ]
        for rank, (n, s) in enumerate(sorted(kept, key=order)[:k], 1):
            rows.append((qid, n, s, rank))
    return sorted(rows)


def random_case(seed):
    """A seeded graph with duplicate vectors (so sims tie), nodes without
    out-edges, an edge to an id with no vector, an entry with no vector,
    tombstones, and in- and out-of-corpus queries."""
    rng = random.Random(seed)
    n = rng.randint(50, 200)
    dim = rng.randint(3, 6)
    ids = rng.sample(range(1, 5 * n), n)
    vecs: dict[int, list[int]] = {}
    for i in ids:
        if vecs and rng.random() < 0.2:
            vecs[i] = list(vecs[rng.choice(list(vecs))])
        else:
            vecs[i] = [rng.randint(-4, 4) for _ in range(dim)]
    sinks = set(rng.sample(ids, n // 10))
    edges = {
        (s, rng.choice(ids))
        for s in ids
        if s not in sinks
        for _ in range(rng.randint(1, 6))
    }
    edges |= {(rng.choice(ids), MISSING), (MISSING, rng.choice(ids))}
    entries = rng.sample(ids, rng.randint(2, 8)) + [MISSING]
    in_corpus = rng.sample(ids, 3)
    queries = {q: vecs[q] for q in in_corpus}
    for j in range(2):
        queries[10 * n + j] = [rng.randint(-4, 4) for _ in range(dim)]
    exclude = set(rng.sample(ids, 4)) | {in_corpus[0]}
    return vecs, sorted(edges), queries, entries, exclude


@pytest.mark.parametrize("hops", range(6))
def test_graph_beam_matches_python_reference(spark, hops):
    """One seeded case per hop count; the last serves without tombstones."""
    seed = 100 + hops
    vecs, edges, queries, entries, exclude = random_case(seed)
    if hops == 5:
        exclude = set()
    entry_top, beam, k = [(3, 5, 4), (6, 4, 10), (1, 1, 3), (8, 12, 6)][hops % 4]
    got = graph_beam_topk(
        spark.createDataFrame(sorted(vecs.items()), "vec_id long, q array<long>"),
        spark.createDataFrame(edges, "src long, dst long"),
        spark.createDataFrame(sorted(queries.items()), "query_id long, qv array<long>"),
        spark.createDataFrame([(e,) for e in entries], "node long"),
        entry_top=entry_top, hops=hops, beam=beam, k=k,
        exclude=spark.createDataFrame([(e,) for e in sorted(exclude)], "node long")
        if exclude else None,
    )
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == reference_beam(
        vecs, edges, queries, entries, entry_top, hops, beam, k, exclude
    )
    assert rows, "the case served nothing"
