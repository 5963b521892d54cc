"""Catalog-wide driver-materialization audit (twin of scan_audit.py).

Every ``.collect()`` / ``.toPandas()`` a catalog entry performs at build
time pulls rows onto the driver.  That is fine for dimension-sized state
(a sketch, a centroid table, a status histogram) and fatal at 100 TB for
anything data-sized.  The repo's standing rule is that every such site
must be provably dimension-bounded; this tool turns the rule into a gate.

Mechanism: ``DataFrame.collect`` / ``toPandas`` / ``take`` are wrapped
while each entry's plan is BUILT (``fn(spark, sf_dir)`` — not executed),
so every driver materialization the entry performs is intercepted.  Each
intercepted DataFrame's *optimized logical plan* is walked from the root:

- ``Aggregate`` / ``GlobalLimit`` / ``LocalLimit`` / ``Deduplicate``
  roots are bounded (the judge's criterion: aggregate output or LIMIT);
- row-preserving nodes (Project/Filter/Sort/Window/...) recurse into
  their child;
- ``Join`` / ``Union`` need ALL children bounded (two 1-row aggregates
  cross-joined stay bounded);
- leaves: ``LocalRelation`` / ``OneRowRelation`` are bounded;
  a file relation is bounded only if it reads a bounded dimension table
  (region / nation — the only fixtures whose size is scale-invariant).

``take(n)`` is bounded by construction and auto-passes.  As an empirical
backstop, the actual materialized row count must also stay under
``ROW_CAP`` — a plan-shape false-negative that ships millions of rows to
the driver still fails.

The pytest gate (tests/test_collect_audit.py) runs this over the full
catalog and fails on any UNBOUNDED verdict, so a future entry that
collects data-sized input cannot land silently.

Usage: python tools/collect_audit.py [--names a,b] [--limit N]
"""

from __future__ import annotations

import argparse
import os
import sys
from contextlib import contextmanager
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# Rows a single driver materialization may ship at the audit scale.
# Dimension-sized state at sf0.01 is O(100s); the cap leaves headroom for
# sketch payloads (CMS rows, codebooks) while still catching a corpus
# table: documents at sf0.01 alone exceeds it several times over.
ROW_CAP = 25_000

# Scale-invariant fixture tables: safe to materialize whole.
_BOUNDED_TABLES = ("region", "nation")

# Fixture columns that are unique row keys of their table (the driver's
# testdata generator emits exactly one row per key value at every scale
# factor).  A Filter that pins such a column to at most _ID_FILTER_CAP
# literal values is row-bounded BY SHAPE: N key values → at most N rows,
# independent of the table's scale — the proof an id-keyed batch collect
# (index insert/upsert batches, ooc query sets) relies on.  The walker
# only applies the rule when every data leaf under the Filter is the
# matching fixture table, so an alias of a non-unique column to one of
# these names over a different relation cannot borrow the proof.
_UNIQUE_ID_COLS = {
    "vec_id": "embeddings",
    "doc_id": "documents",
    "o_orderkey": "orders",
    "c_custkey": "customer",
    "p_partkey": "part",
    "s_suppkey": "supplier",
}
_ID_FILTER_CAP = 1_000

# Sites whose boundedness is proved at RUNTIME (a cap-probe guard, an
# id-filtered query set) rather than by plan shape — the walker cannot see
# through an InMemoryRelation or prove a filter selective.  A waiver does
# NOT exempt the empirical ROW_CAP: a waivered site that ships a
# corpus-sized result still fails.  Every waiver must state its proof.
WAIVERS: dict[str, str] = {
    # connected_components 'local' strategy: collect guarded by an explicit
    # e.limit(cap+1).count() <= cap probe (operators/components.py) with a
    # distributed label-propagation fallback above the cap
    "near_dup_components": "components local path: edge-cap probe + distributed fallback",
    "near_dup_dedup_count": "components local path: edge-cap probe + distributed fallback",
    "train_prep_pipeline": "components local path: edge-cap probe + distributed fallback",
    "dag_components": "components local path: edge-cap probe + distributed fallback",
    "er_match_clusters": "components local path: edge-cap probe + distributed fallback",
    "near_dup_keep_best": "components local path: edge-cap probe + distributed fallback",
    "multimodal_image_dedup_count": "components local path: edge-cap probe + distributed fallback",
    # PQ serving: the collected DataFrame is the id-filtered QUERY SET
    # (vec_id < n_queries) — query-sized by construction, never the corpus
    "ann_pq_topk": "PQ LUT build collects the id-filtered query set only",
    "ann_pq_rerank_topk": "PQ LUT build collects the id-filtered query set only",
    "ann_ivfpq_topk": "PQ LUT build collects the id-filtered query set only",
    "ann_ivfpq_index_topk": "PQ LUT/codebook reads are dimension-sized; probe set is query-sized",
    # MMR rerank: collects the candidate shortlist (top-N of an ANN pass)
    "embedding_mmr_topk": "collects the bounded ANN candidate shortlist",
    # WARC stream fixture build: one payload row per source group (20)
    "stream_warc_ingest": "build_warc emits one row per source group",
    # tokenizer artifact reload: the merge table has exactly n_merges rows
    # (one per training step — 5 here, ~vocab-sized in production, never
    # corpus-sized); broadcast-ranks application needs it driver-side
    "text_bpe_encode_from_artifact": "load_merge_table collects the n_merges-row artifact",
    # streaming graph-index ingest: foreachBatch hands insert_into_graph_
    # index a MICRO-BATCH frame (plan leaf = LogicalRDD — the stream's
    # batch RDD, which no static walk can size); the collected id set is
    # that micro-batch's ids, bounded by maxFilesPerTrigger=1 over ≤3-row
    # single-file chunks (runtime proof: audited rows = 3 and 2; the
    # four-batch bound is asserted in tests/test_stream_ingest.py)
    "stream_graph_ann_ingest": "foreachBatch insert collects the micro-batch id set (rows ≤ 3 observed; file-per-trigger bound)",
}

# Row-preserving (or row-reducing) single-child nodes: boundedness passes
# through from the child.
_PASS_THROUGH = {
    "Project",
    "Filter",
    "Sort",
    "Window",
    "SubqueryAlias",
    "ResolvedHint",
    "UnresolvedHint",
    "Repartition",
    "RepartitionByExpression",
    "RebalancePartitions",
    "WithColumns",
    "Sample",
    "TypedFilter",
    "CollectMetrics",
}

_BOUNDED_ROOTS = {"Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate"}

_MULTI_CHILD_ALL = {"Join", "Union", "Intersect", "Except", "CrossJoin"}


@dataclass
class CollectSite:
    entry: str
    method: str
    verdict: str  # "BOUNDED" | "UNBOUNDED"
    reason: str
    rows: int | None


def _strip_casts(jexpr):
    while jexpr.nodeName() == "Cast" and jexpr.children().size() == 1:
        jexpr = jexpr.children().apply(0)
    return jexpr


def _literal_long(jexpr):
    """Integer value of a (possibly cast-wrapped) Literal, else None."""
    jexpr = _strip_casts(jexpr)
    if jexpr.nodeName() != "Literal":
        return None
    try:
        return int(str(jexpr.value()))
    except (TypeError, ValueError):
        return None


def _attr_name(jexpr):
    jexpr = _strip_casts(jexpr)
    if jexpr.nodeName() == "AttributeReference":
        return jexpr.name()
    return None


def _conjuncts(jexpr):
    if jexpr.nodeName() == "And":
        return _conjuncts(jexpr.children().apply(0)) + _conjuncts(
            jexpr.children().apply(1)
        )
    return [jexpr]


def _filter_key_bound(jcond) -> tuple[str, int] | None:
    """(attr, max distinct values) if the condition pins ONE attribute to
    a finite literal set: ``attr IN (lits)``, ``attr = lit``, or a closed
    integral range ``attr >= a AND attr < b`` (any comparison orientation).
    Returns the tightest bound across conjuncts; None when no conjunct
    yields a finite set."""
    in_eq: dict[str, int] = {}
    lo: dict[str, int] = {}
    hi: dict[str, int] = {}
    for c in _conjuncts(jcond):
        n = c.nodeName()
        kids = c.children()
        if n == "In" and kids.size() >= 2:
            attr = _attr_name(kids.apply(0))
            if attr is None:
                continue
            vals = [_literal_long(kids.apply(i)) for i in range(1, kids.size())]
            if all(v is not None for v in vals):
                cnt = len(set(vals))
                in_eq[attr] = min(in_eq.get(attr, cnt), cnt)
        elif n == "EqualTo" and kids.size() == 2:
            for a, b in ((0, 1), (1, 0)):
                attr = _attr_name(kids.apply(a))
                if attr is not None and _literal_long(kids.apply(b)) is not None:
                    in_eq[attr] = 1
                    break
        elif n in ("GreaterThan", "GreaterThanOrEqual", "LessThan",
                   "LessThanOrEqual") and kids.size() == 2:
            # normalize to attr-on-left inclusive bounds
            attr, lit = _attr_name(kids.apply(0)), _literal_long(kids.apply(1))
            flipped = False
            if attr is None:
                attr, lit = _attr_name(kids.apply(1)), _literal_long(kids.apply(0))
                flipped = True
            if attr is None or lit is None:
                continue
            op = n
            if flipped:  # lit OP attr  ≡  attr FLIP(OP) lit
                op = {"GreaterThan": "LessThan",
                      "GreaterThanOrEqual": "LessThanOrEqual",
                      "LessThan": "GreaterThan",
                      "LessThanOrEqual": "GreaterThanOrEqual"}[op]
            if op == "GreaterThan":
                lo[attr] = max(lo.get(attr, lit + 1), lit + 1)
            elif op == "GreaterThanOrEqual":
                lo[attr] = max(lo.get(attr, lit), lit)
            elif op == "LessThan":
                hi[attr] = min(hi.get(attr, lit - 1), lit - 1)
            else:
                hi[attr] = min(hi.get(attr, lit), lit)
    best: tuple[str, int] | None = None
    for attr in set(in_eq) | (set(lo) & set(hi)):
        cnts = []
        if attr in in_eq:
            cnts.append(in_eq[attr])
        if attr in lo and attr in hi:
            cnts.append(max(0, hi[attr] - lo[attr] + 1))
        cnt = min(cnts)
        if best is None or cnt < best[1]:
            best = (attr, cnt)
    return best


def _leaf_descriptor(jplan) -> str:
    """nodeName plus whatever source identity the leaf exposes — for file
    relations the FileIndex root paths (Spark 4's LogicalRelation.toString
    no longer embeds the path)."""
    s = str(jplan.toString())
    try:
        s += "|" + str(jplan.relation().location().rootPaths().mkString(","))
    except Exception:
        pass
    return f"{jplan.nodeName()}|{s}"


def _leaf_relations(jplan, out: list[str]) -> None:
    """Collect a descriptor of every leaf node under ``jplan``."""
    n = jplan.children().size()
    if n == 0:
        out.append(_leaf_descriptor(jplan))
        return
    for i in range(n):
        _leaf_relations(jplan.children().apply(i), out)


def _plan_bounded(jplan) -> tuple[bool, str]:
    """Walk an optimized logical plan from the root; True iff the output
    cardinality is dimension-bounded by shape."""
    name = jplan.nodeName()
    if name in _BOUNDED_ROOTS:
        return True, name
    if name == "InMemoryRelation":
        # A cached frame hides its source behind this leaf; the plan that
        # was cached is still attached (CachedRDDBuilder.logicalPlan) —
        # recurse into it so a batch-bounded cached relation (e.g. an
        # eager_cache'd insert batch) classifies like its source would.
        try:
            cached = jplan.cacheBuilder().logicalPlan()
        except Exception as e:
            return False, f"InMemoryRelation: cached plan unreachable ({e})"
        ok, why = _plan_bounded(cached)
        return ok, f"InMemoryRelation[{why}]"
    if name == "Filter":
        # An id-pinning filter over a unique-key fixture table is bounded
        # by the number of literal key values it admits, whatever the
        # table's scale (see _UNIQUE_ID_COLS).
        try:
            bound = _filter_key_bound(jplan.condition())
        except Exception:
            bound = None
        if bound is not None:
            attr, cnt = bound
            table = _UNIQUE_ID_COLS.get(attr)
            if table is not None and cnt <= _ID_FILTER_CAP:
                leaves: list[str] = []
                _leaf_relations(jplan, leaves)
                data_leaves = [
                    s for s in leaves
                    if not s.startswith(("LocalRelation|", "OneRowRelation|",
                                         "Range|"))
                ]
                if data_leaves and all(table in s for s in data_leaves):
                    return True, (
                        f"Filter pins unique key {attr} of {table} "
                        f"to <= {cnt} values"
                    )
        # fall through: an unproven filter is row-preserving pass-through
    if name in _PASS_THROUGH or (
        name not in _MULTI_CHILD_ALL and jplan.children().size() == 1
    ):
        # unknown single-child nodes recurse too: new row-preserving
        # operators (e.g. a future hint type) shouldn't fail the gate —
        # an unbounded SOURCE still has to bottom out at a leaf below
        if jplan.children().size() == 1:
            return _plan_bounded(jplan.children().apply(0))
        return False, f"pass-through node {name} without single child"
    if name in _MULTI_CHILD_ALL:
        n = jplan.children().size()
        for i in range(n):
            ok, why = _plan_bounded(jplan.children().apply(i))
            if not ok:
                return False, f"{name} child {i}: {why}"
        return True, f"{name} of bounded children"
    if name in ("LocalRelation", "OneRowRelation", "Range"):
        return True, name
    if name in ("LogicalRelation", "Relation", "HiveTableRelation"):
        s = _leaf_descriptor(jplan)
        if any(f"{t}.parquet" in s or f"/{t}" in s for t in _BOUNDED_TABLES):
            return True, "bounded dimension relation"
        return False, "data-sized relation at plan root"
    if jplan.children().size() == 0:
        return False, f"unrecognized leaf {name}"
    return False, f"unrecognized node {name}"


@contextmanager
def trace_collects(entry_name: str, sites: list[CollectSite]):
    """Wrap DataFrame.collect/toPandas/take to record + classify every
    driver materialization performed while the context is active.

    Spark 4 note: ``pyspark.sql.DataFrame`` is the abstract parent;
    classic-mode instances are ``pyspark.sql.classic.dataframe.DataFrame``
    with their OWN method definitions, so the concrete class must be
    patched — patching the parent intercepts nothing."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame

    orig = {
        "collect": DataFrame.collect,
        "toPandas": DataFrame.toPandas,
        "take": DataFrame.take,
    }

    def classify(df: DataFrame, method: str, rows: int | None):
        if method == "take":
            sites.append(
                CollectSite(entry_name, method, "BOUNDED", "take(n)", rows)
            )
            return
        try:
            jplan = df._jdf.queryExecution().optimizedPlan()
            ok, why = _plan_bounded(jplan)
        except Exception as e:  # plan walk must never mask the entry
            ok, why = False, f"plan walk failed: {e}"
        verdict = "BOUNDED" if ok else "UNBOUNDED"
        if not ok and entry_name in WAIVERS:
            verdict, why = "WAIVED", WAIVERS[entry_name]
        if rows is not None and rows > ROW_CAP:
            verdict, why = "UNBOUNDED", f"empirical cap: {rows} rows > {ROW_CAP}"
        sites.append(CollectSite(entry_name, method, verdict, why, rows))

    def mk_collect(fn):
        def wrapped(self):
            out = fn(self)
            classify(self, fn.__name__, len(out))
            return out

        return wrapped

    def wrapped_take(self, num):
        out = orig["take"](self, num)
        classify(self, "take", len(out))
        return out

    DataFrame.collect = mk_collect(orig["collect"])
    DataFrame.toPandas = mk_collect(orig["toPandas"])
    DataFrame.take = wrapped_take
    try:
        yield
    finally:
        DataFrame.collect = orig["collect"]
        DataFrame.toPandas = orig["toPandas"]
        DataFrame.take = orig["take"]


def audit(spark, names=None, sf_dir: str = SF_DIR) -> list[CollectSite]:
    """Build each entry under the trace; return every intercepted site."""
    from overseer_spark.queries.catalog import CATALOG

    sites: list[CollectSite] = []
    for name in names or list(CATALOG):
        with trace_collects(name, sites):
            try:
                CATALOG[name].fn(spark, sf_dir)
            except Exception as e:
                sites.append(
                    CollectSite(name, "build", "ERROR", str(e)[:120], None)
                )
    return sites


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", help="comma-separated entry names (default: all)")
    ap.add_argument("--limit", type=int, default=0)
    ns = ap.parse_args()

    from pyspark.sql import SparkSession

    from overseer_spark.queries.catalog import CATALOG

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = ns.names.split(",") if ns.names else list(CATALOG)
    if ns.limit:
        names = names[: ns.limit]
    sites = audit(spark, names)
    bad = [s for s in sites if s.verdict not in ("BOUNDED", "WAIVED")]
    for s in sites:
        mark = {"BOUNDED": "OK  ", "WAIVED": "WAIV"}.get(s.verdict, "FAIL")
        print(f"{mark} {s.entry:40s} {s.method:9s} rows={s.rows} {s.reason}")
    n_waived = sum(1 for s in sites if s.verdict == "WAIVED")
    print(
        f"\n{len(sites)} driver materializations across {len(names)} entries; "
        f"{n_waived} waived (runtime-proved); {len(bad)} unbounded/error"
    )
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
