"""Connected components + near-dup cluster dedup.

Near-duplicate detection (dedup.py / similarity.py) emits *pairs*; actual
deduplication needs *clusters* — keep one canonical document per group of
mutually-similar documents. Clusters are the connected components of the
pair graph.

Strategies (same adaptive pattern as scheduling.transitive_dependents):

- ``local``: pair graphs are usually minuscule next to the corpus (near-dup
  rate × n), so after a bounded size probe the edges collect to the driver
  and a union-find solves them exactly — zero iterative Spark jobs.
- ``label_prop``: distributed min-label propagation — every vertex starts
  as its own component, each round adopts the min label among itself and
  its neighbors, until a fixed point. Rounds = graph diameter; near-dup
  clusters are shallow (diameter ≤ ~3), so this converges in a few rounds
  even at corpus scale. ``localCheckpoint`` truncates lineage per round.
  (For adversarial long-chain graphs, the large-star/small-star algorithm
  [Kiveris et al., "Connected Components in MapReduce and Beyond"] halves
  diameter per round; not needed for the dedup workload this serves.)

Output: ``(node, component)`` where ``component`` is the min node id in the
cluster — deterministic, so the canonical representative is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from overseer_spark.operators.util import eager_cache
from overseer_spark.session import local_frame


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    strategy: str = "auto",
    max_iterations: int = 50,
    local_edge_cap: int = 500_000,
) -> DataFrame:
    """Components of the undirected graph given by (src, dst) pairs.

    Returns (node, component) for every node that appears in any edge;
    isolated corpus members simply don't appear (they are their own
    component implicitly).
    """
    spark = edges.sparkSession
    # cached: the size probe, the collect (local) / iteration base
    # (label_prop), and any caller reuse would otherwise re-run the whole
    # upstream pair-mining pipeline per materialization
    e = eager_cache(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    if strategy in ("auto", "local"):
        small = e.limit(local_edge_cap + 1).count() <= local_edge_cap
        if small:
            pairs = e.collect()
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in pairs:
                ra, rb = find(r.a), find(r.b)
                if ra != rb:
                    # union by min so the root IS the canonical min id
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
            nodes = {x for r in pairs for x in (r.a, r.b)}
            rows = [(n, find(n)) for n in sorted(nodes)]
            schema_t = e.schema["a"].dataType.simpleString()
            return local_frame(
                spark, rows, schema=f"node {schema_t}, component {schema_t}"
            )
        if strategy == "local":
            raise ValueError(
                f"edge table exceeds local_edge_cap={local_edge_cap}; "
                "use strategy='label_prop'"
            )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        prop = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("component")
        )
        new_labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        # free the superseded round's checkpoint blocks — otherwise every
        # round (and every caller) leaks executor storage
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels


def dedup_keep_canonical(
    df: DataFrame,
    pair_df: DataFrame,
    id_col: str = "doc_id",
    src: str = "d1",
    dst: str = "d2",
    strategy: str = "auto",
) -> DataFrame:
    """Drop every near-duplicate except the min-id representative of its
    cluster: ``df`` minus (members of components) plus (component roots).

    The anti-join's right side is only the *duplicate* ids — tiny next to
    the corpus — so AQE broadcasts it and the corpus never shuffles.
    """
    comp = connected_components(pair_df, src, dst, strategy=strategy)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def kcore(
    edges: DataFrame,
    k: int = 3,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 100,
) -> DataFrame:
    """k-core of the undirected graph: iteratively peel vertices with
    degree < k until a fixpoint. Returns the surviving vertices as
    (node).

    Each round: symmetrize → degree aggregate → keep-set semi-join on
    both endpoints. The edge set shrinks monotonically; rounds are
    bounded by peeling depth (degeneracy), not graph size.
    ``localCheckpoint`` cuts lineage so late rounds don't replay the
    whole peel history, and the loop exits early the first round nothing
    is removed (one count per round — metadata-sized)."""
    e = eager_cache(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).distinct()
    )
    for _ in range(max_rounds):
        sym = e.select("a", "b").union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("a").localCheckpoint(eager=True)
        n_before = e.count()
        e2 = (
            e.join(keep, "a", "semi")
            .join(keep.select(F.col("a").alias("b")), "b", "semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n_after = e2.count()
        e = e2
        if n_after == n_before:
            break
    sym = e.select("a").union(e.select(F.col("b").alias("a")))
    return sym.distinct().select(F.col("a").alias("node"))
