"""Physical-plan regression tests: pin the scale-critical properties of the
catalog's plans (pushdown, pruning, broadcast, partial agg, top-k heap).
A refactor that silently turns a broadcast join into a shuffle join or
loses parquet pushdown fails HERE, not at 100 TB.
"""

from __future__ import annotations

import pytest

import re

from overseer_spark.plans import (
    explain_str,
    has_broadcast_join,
    has_partial_aggregation,
    pushed_filters,
    read_schema_columns,
    uses_take_ordered,
)
from overseer_spark.queries.catalog import CATALOG
from tests.conftest import SF_SMOKE


def q(name, spark):
    return CATALOG[name].fn(spark, SF_SMOKE)


def test_q02_filter_pushdown_and_column_pruning(spark):
    df = q("q02_projection_filter", spark)
    assert any("l_quantity" in f for f in pushed_filters(df)), "filter not pushed to scan"
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity"}, (
        f"scan reads {cols}, expected exactly the projected columns"
    )


def test_q03_string_filter_pushdown(spark):
    assert any("c_mktsegment" in f for f in pushed_filters(q("q03_string_filter", spark)))


def test_q07_broadcasts_dimension(spark):
    assert has_broadcast_join(q("q07_inner_join", spark)), "nation should broadcast"


def test_q08_multiway_broadcasts(spark):
    assert has_broadcast_join(q("q08_multiway_join", spark))


def test_q14_partial_aggregation(spark):
    assert has_partial_aggregation(q("q14_grouped_agg", spark)), (
        "grouped agg must map-side combine before the shuffle"
    )


def test_q23_topk_avoids_full_sort(spark):
    assert uses_take_ordered(q("q23_topk", spark)), (
        "ORDER BY+LIMIT must plan as TakeOrderedAndProject"
    )


def test_q31_ready_set_is_anti_join(spark):
    from overseer_spark.plans import explain_str

    text = explain_str(q("q31_ready_set", spark))
    assert "LeftAnti" in text and "LeftSemi" in text


def test_scan_count_prunes_all_columns(spark):
    cols = read_schema_columns(q("q01_scan_count", spark))
    assert cols == [], f"COUNT(*) should read no columns, reads {cols}"


def test_interval_join_is_equi_not_nested_loop(spark):
    """The bucketed interval join must plan as a hash/sort-merge equi-join
    on (user_id, bucket) — never a per-key cross product."""
    from overseer_spark.plans import has_cartesian_or_bnlj
    from overseer_spark.plans.inspect import explain_str

    df = q("interval_join_events", spark)
    assert not has_cartesian_or_bnlj(df), "interval join degenerated to O(n*m)"
    assert "Join" in explain_str(df)


def test_asof_join_is_not_nested_loop(spark):
    from overseer_spark.plans import has_cartesian_or_bnlj

    assert not has_cartesian_or_bnlj(q("asof_join_events", spark))


def test_minhash_signatures_single_exchange(spark):
    """Signatures are a posting-list min-aggregation whose groupBy must
    REUSE the spread repartition's hash-partitioning on the id: exactly one
    Exchange in the whole plan (the spread), none inserted for the agg —
    per-shingle rows never cross the network."""
    from overseer_spark.operators.dedup import minhash_signatures
    from overseer_spark.plans.inspect import explain_str
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    text = explain_str(minhash_signatures(docs), "simple")
    assert "HashAggregate" in text, "expected the min-agg signature plan"
    n_exchanges = text.count("Exchange")
    assert n_exchanges <= 1, f"agg added a shuffle:\n{text}"


def test_jaccard_candidates_join_on_shingle_key(spark):
    """PPJoin candidate generation must be an equi-join on the shingle."""
    from overseer_spark.operators.dedup import jaccard_pairs
    from overseer_spark.plans import has_cartesian_or_bnlj
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert not has_cartesian_or_bnlj(jaccard_pairs(docs))


def test_tpch_q3_broadcasts_customer(spark):
    """The selective dimension side (filtered customer) must broadcast —
    the lineitem fact never shuffles for the join."""
    from overseer_spark.plans import has_broadcast_join

    assert has_broadcast_join(q("tpch_q3_shape", spark))


def test_funnel_single_shuffle(spark):
    """Funnel = one groupBy(user) shuffle for the fold, then the tiny
    depth-count agg + presentation sort; the k-step logic must NOT add
    per-step joins (the naive form is k joins over the event table)."""
    from overseer_spark.plans.inspect import exchange_count, explain_str

    df = q("funnel_view_click_purchase", spark)
    assert exchange_count(df) <= 3  # user fold, depth agg, order-by range
    assert "Join" not in explain_str(df, "simple")


def test_hash_split_is_scan_only(spark):
    """Deterministic split: no shuffle before the counting aggregate, and
    no Python — md5/conv stay in codegen."""
    from overseer_spark.plans.inspect import explain_str

    text = explain_str(q("train_test_split_counts", spark), "simple")
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text


def test_pivot_no_distinct_values_job(spark):
    """Explicit pivot value list: exactly one agg pass over the fact table
    (an unlisted pivot triggers a prior distinct-values job)."""
    from overseer_spark.plans.inspect import explain_str

    text = explain_str(q("q_pivot_status", spark), "simple")
    # count agg + pivotfirst agg, each partial+final — and no extra
    # distinct-values aggregation pass (it would be a 5th/6th)
    assert "pivotfirst" in text
    assert text.count("HashAggregate") <= 4


def test_exists_correlated_becomes_semi_and_anti(spark):
    """Catalyst must rewrite EXISTS/NOT EXISTS to hash semi/anti joins —
    no per-row subquery execution."""
    from overseer_spark.plans.inspect import explain_str

    text = explain_str(q("q_exists_correlated", spark), "simple")
    assert "LeftSemi" in text and "LeftAnti" in text


def test_tpch_q5_single_fact_pass_all_broadcast(spark):
    """Q5's plan must be ONE pass over lineitem with every other table
    broadcast (date/region filters pushed), plus exactly the final agg
    exchange — no sort-merge join, no fact re-shuffle."""
    from overseer_spark.plans import explain_str

    text = explain_str(q("tpch_q5_shape", spark), "simple")
    assert "SortMergeJoin" not in text, "fact table must not shuffle for a join"
    assert text.count("BroadcastHashJoin") == 5, text.count("BroadcastHashJoin")
    assert any("o_orderdate" in f for f in pushed_filters(q("tpch_q5_shape", spark)))


def test_skew_salted_agg_two_phase(spark):
    """The salted aggregate must contain BOTH groupings — (key, salt) then
    (key) — each with map-side partial aggregation."""
    from overseer_spark.plans import explain_str

    text = explain_str(q("skew_salted_agg", spark))
    assert "_salt" in text
    assert has_partial_aggregation(q("skew_salted_agg", spark))


def test_sequence_islands_single_partitioning(spark):
    """Window + both aggregations share the o_custkey hash-partitioning:
    exactly one exchange on o_custkey before the final sort."""
    from overseer_spark.plans import explain_str

    text = explain_str(q("q_sequence_islands", spark))
    n_hash_exchanges = text.count("hashpartitioning(o_custkey")
    assert n_hash_exchanges == 1, f"expected 1 o_custkey exchange, saw {n_hash_exchanges}"


def test_min_max_by_single_aggregation(spark):
    """MAX_BY/MIN_BY plan: broadcast dim join + one partial/final agg —
    no self-join back for the argmax row."""
    df = q("q_min_max_by", spark)
    assert has_broadcast_join(df)
    assert has_partial_aggregation(df)
    from overseer_spark.plans import explain_str

    assert explain_str(df, "simple").count("Join") <= 1  # just the one dim join


def test_contamination_broadcasts_benchmark_set(spark):
    """The benchmark shingle set must broadcast — the corpus side stays a
    map-side probe, never a shuffle keyed on shingle strings."""
    from overseer_spark.plans import explain_str

    df = q("text_contamination_check", spark)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in explain_str(df, "simple")


def test_variant_extraction_stays_jvm(spark):
    """parse_json/variant_get are JVM expressions: no Python-eval operator
    may appear in the plan (that would mean a per-row Python round trip)."""
    from overseer_spark.plans import explain_str

    text = explain_str(q("q_variant_json", spark), "simple")
    assert "EvalPython" not in text, "variant path fell back to Python"
    assert has_partial_aggregation(q("q_variant_json", spark))


def test_pagerank_plan_is_bounded(spark):
    """PageRank's returned plan must not grow with iteration count beyond
    the checkpoint horizon: after 10 iterations with a lineage cut every
    4, the final lineage holds at most ~2 join rounds, not 10."""
    from overseer_spark.operators.scheduling import pagerank
    from overseer_spark.plans import explain_str
    from overseer_spark.queries import fixtures as FX

    df = pagerank(FX.jobs_df(spark), FX.deps_df(spark), iterations=10)
    text = explain_str(df, "simple")
    assert text.count("Join") <= 6, "lineage not truncated by localCheckpoint"


def test_tpch_q18_survivors_broadcast(spark):
    """The HAVING survivors (tiny after the lineitem pre-agg) must reach
    orders and customer as broadcast joins — neither big table shuffles
    for a join; the lineitem agg is the only fact-sized exchange."""
    from overseer_spark.plans.inspect import explain_str

    df = q("tpch_q18_shape", spark)
    s = explain_str(df, "simple")
    assert "SortMergeJoin" not in s
    assert has_broadcast_join(df)
    assert has_partial_aggregation(df)


def test_tpch_q9_only_fact_fact_may_shuffle(spark):
    """Q9's three dimension joins must all broadcast; at most the
    lineitem-orders fact-fact join may appear as a shuffle join."""
    from overseer_spark.plans.inspect import explain_str

    df = q("tpch_q9_shape", spark)
    s = explain_str(df, "simple")
    assert s.count("SortMergeJoin") <= 1
    assert has_broadcast_join(df)


def test_dsir_lm_dims_broadcast(spark):
    """DSIR's unigram LM tables and smoothing scalars must broadcast onto
    the token stream — a shuffle join on terms would move the corpus."""
    df = q("text_dsir_scores", spark)
    from overseer_spark.plans.inspect import explain_str

    s = explain_str(df, "simple")
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in s


def test_mad_outliers_percentile_dims_broadcast(spark):
    """Both MAD percentile tables are |event_types|-sized and must join
    back as broadcasts; the event stream shuffles only for the grouped
    percentiles themselves."""
    df = q("q_mad_outliers", spark)
    from overseer_spark.plans.inspect import explain_str

    s = explain_str(df, "simple")
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in s


def test_bloom_prune_filters_at_scan_with_codegen(spark):
    """The bloom probe must be a literal-bitmap getbit filter ON THE PROBE
    SCAN (no extra exchange, no Python), and exact=True must re-verify."""
    from overseer_spark.operators.joins import bloom_semi_join
    from overseer_spark.sources.tables import load_table

    c = load_table(spark, SF_SMOKE, "customer").select("c_custkey")
    hi = (
        load_table(spark, SF_SMOKE, "orders")
        .filter("o_totalprice > 400000")
        .select("o_custkey")
    )
    pruned = bloom_semi_join(c, hi, "c_custkey", "o_custkey", exact=False)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "getbit" in plan, "bloom probe not in the plan"
    assert "Exchange" not in plan, "exact=False prune must not shuffle"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # no false negatives + FP bound: pruned ⊇ exact, |FP| ≤ 5·fpp·|probe|
    exact = {
        r.c_custkey
        for r in bloom_semi_join(c, hi, "c_custkey", "o_custkey", exact=True).collect()
    }
    got = {r.c_custkey for r in pruned.collect()}
    assert exact <= got, "bloom dropped a true match (false negative)"
    n_probe = c.count()
    assert len(got) - len(exact) <= max(2, 5 * 0.01 * n_probe), (
        f"FP count {len(got) - len(exact)} exceeds bound for {n_probe} probe rows"
    )


def test_tpch_q21_single_fact_shuffle_no_self_join(spark):
    """Q21's decorrelation promise: ONE aggregation over lineitem (no
    lineitem self-join — the classic plan has two), supplier broadcast."""
    df = q("tpch_q21_shape", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 2, "lineitem scanned more than once + supplier"
    assert has_broadcast_join(df), "supplier dim must broadcast"


def test_semantic_dedup_stage2_is_grouped_matmul_not_pair_join(spark):
    """SemDeDup stage 2 must be an Arrow-batched group map
    (FlatMapGroupsInPandas: the chunked BLAS U·Uᵀ) — no pair join over
    the vector table at all, and in particular no nested-loop/cartesian
    pairing (the O(n²)-materialization plan the operator exists to
    avoid). The only nested loop allowed is the intentional k-row
    centroid broadcast in the stage-1 assignment. The group map must
    partition on the SALTED key (cluster, _bi, _bj) — with k ≪ corpus a
    plain groupBy(cluster) hands each hot cluster to one reducer; the
    block-pair fan-out (operators/skew.py replicate_for_block_pairs) is
    the promised production skew path and must stay in the plan."""
    df = q("semantic_dedup_clustered", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, (
        f"stage 2 should be a grouped Arrow matmul:\n{plan}"
    )
    assert re.search(r"hashpartitioning\(cluster#\d+, _bi#\d+, _bj#\d+", plan), (
        f"stage-2 exchange must partition on the salted (cluster, _bi, _bj) "
        f"block-pair key:\n{plan}"
    )
    pair_joins = [
        ln
        for ln in plan.splitlines()
        if ("Join" in ln or "CartesianProduct" in ln) and "vec_id" in ln
    ]
    assert not pair_joins, f"unexpected pair join over vectors:\n{pair_joins}"


def test_knn_graph_salted_block_pair_exchange(spark):
    """embedding_knn_graph must score pairs per SALTED (cluster, _bi,
    _bj) block-pair task (the replicate_for_block_pairs fan-out) — same
    skew contract as semantic_dedup stage 2 — and rank neighbors with a
    window partitioned by the id (no hot keys), never a pair join over
    the vector table."""
    df = q("embedding_knn_graph", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert re.search(r"hashpartitioning\(cluster#\d+, _bi#\d+, _bj#\d+", plan), plan
    assert "CartesianProduct" not in plan


def test_triangle_count_low_degree_orientation(spark):
    """graph_triangle_count must run the O(m^1.5) low-degree-orientation
    plan: a degree aggregation feeds the re-orientation, and the wedge
    self-join's condition compares the heads' (deg, id) rank structs —
    the bound that keeps one hub vertex from generating d² wedges. The
    canonical u<v plan this replaced has no such struct comparison."""
    df = q("graph_triangle_count", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"\(hi#\d+ < hi#\d+\)", plan), (
        f"wedge join must rank-order heads via the (deg, id) struct:\n{plan}"
    )
    assert "CartesianProduct" not in plan


def test_tpch_q11_rollup_persisted_and_threshold_broadcast(spark):
    """Q11: the per-part rollup must be read from cache by both branches
    (one fact scan) and the grand-total threshold must broadcast."""
    df = q("tpch_q11_shape", spark)
    s = explain_str(df)
    assert "InMemoryTableScan" in s or "InMemoryRelation" in s, (
        "per-part rollup should be persisted — otherwise lineitem is "
        "scanned and aggregated twice"
    )
    assert has_broadcast_join(df)


def test_quality_classifier_partial_agg_absorbs_explode(spark):
    """Classifier scoring: the explode fan-out must collapse map-side
    (partial agg on doc_id) before any exchange."""
    assert has_partial_aggregation(q("quality_classifier_score", spark))


def test_deterministic_shuffle_offsets_broadcast_no_global_sort(spark):
    """Global order comes from bucket windows + broadcast offsets — there
    must be no single-partition global window."""
    df = q("deterministic_shuffle_order", spark)
    s = explain_str(df)
    assert has_broadcast_join(df), "bucket offsets must broadcast"
    # the per-row window must be partitioned by the bucket column —
    # a global ROW_NUMBER would show an empty partition spec over the docs
    assert re.search(r"row_number\(\).*partition.*bkt", s, re.S | re.I), s[:2000]


def test_winsorized_bands_broadcast(spark):
    """[p5,p95] bands are dimension-sized and must broadcast back."""
    assert has_broadcast_join(q("q_winsorized_stats", spark))


# entries whose fn EXECUTES work on call (streams, probes, sketch collects) —
# too expensive to plan-check in this sweep; their shapes are pinned above
# and in their module tests
_EAGER = [n for n in CATALOG if n.startswith("stream_")] + [
    "q_observed_metrics", "cms_term_counts", "kmeans_lloyd_iters",
    "embedding_pca_power", "dag_pagerank", "dag_components", "dag_cycle_check",
    "q33_transitive_closure", "q33b_closure_recursive_cte",
    "q33c_closure_sql_scripting",
    "near_dup_components", "near_dup_dedup_count", "train_prep_pipeline",
    "hll_distinct_merge", "r13_seeded_sample", "q42_approx_aggs",
    # eager_cache of the min-support edge set / driver-side PQ codebook training
    "graph_triangle_count", "ann_pq_topk", "ann_pq_rerank_topk",
    "er_match_clusters", "graph_kcore", "embedding_mmr_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_index_topk",
    "contrastive_pairs_mining", "multimodal_image_dedup_count",
    "store_time_travel", "embedding_matryoshka_eval",
    # eager_cache of the min-support edge set + LPA label state
    "graph_modularity",
    # components local path (cap probe) + quality-argmax keeper broadcast
    "near_dup_keep_best",
    # eager_cache of the dimension-sized contingency table
    "q_t_closeness",
]

# deliberate BroadcastNestedLoopJoin users: a tiny broadcast side (query
# set, centroid table, scalar aggregate, LM constants) against the corpus —
# the correct plan when there is no join key. Adding an entry here is a
# conscious decision; anything else with a nested loop is a scale bug.
_BNLJ_OK = {
    "q38_cosine_top5", "ann_cosine_topk", "ann_ivf_topk", "ann_lsh_topk",
    "knn_label_predict", "embedding_near_dup_exact", "kmeans_assign_step",
    "semantic_dedup_clustered",
    # round-11: dimension-sized query broadcast (same shape as
    # ann_cosine_topk), exact filter-then-rank baseline
    "hard_negative_mining",
    # round-11: same scored-pass broadcast feeding DCG + ideal-DCG legs
    "retrieval_ndcg_eval",
    "text_doc_freq_idf", "text_bm25_search", "text_dsir_scores",
    "text_chi2_terms", "text_perplexity_unigram", "text_ccnet_buckets",
    "q_mixture_plan", "q_join_key_skew_profile", "tpch_q11_shape",
    "tpch_q22_shape", "q_equi_depth_histogram",
    # 1-row total-count broadcast against the candidate recount
    "text_heavy_hitters",
    # two 1-row arm summaries / grouped z assembly
    "q_ab_test_stats",
    # 1-row corpus-total broadcasts against the bigram table
    "text_bigram_pmi",
    # 1-row grand-total / vocab-size / union-sketch broadcasts
    "q_benford_audit", "text_perplexity_bigram", "hll_intersection_estimate",
    # brute-force ground-truth leg of the retrieval eval (query-set broadcast)
    "ann_recall_eval",
    # waterfilling totals (1-row) / English-fertility row (1-row) crossed
    # back into the |langs|-sized result
    "mixture_unimax_plan", "text_tokenizer_fertility",
    "mixture_epoch_expansion",
    # two 1-row count aggregates crossed into the metric row
    "minhash_recall_eval",
    # two 1-row count-star aggregates + the 1-row orphan tuple crossed
    # into the 4-row report (round-6 full-outer rework)
    "q_integrity_audit",
    # 1-row series-mean broadcast under the running CUSUM
    "q_changepoint_cusum",
    # 1-row population-total broadcast into the at-risk computation
    "q_survival_km",
    # 1-row date-bounds broadcast trimming incomplete windows
    "q_rolling_distinct_sketch",
    # 1-row corpus-total broadcast under the divergence probabilities
    "text_js_divergence_by_source",
    # 1-row global-critical-path broadcast into the slack computation
    "dag_slack_analysis",
    # k×d centroid-table broadcast for the cell assignment
    "embedding_outlier_flags",
    # round-8: 1-row token/temperature totals crossed into the |langs| rows
    "mixture_temperature_weights", "mixture_temperature_expansion",
    # query-set broadcast against the 8-byte sign-bit codes (and the
    # recall eval reusing both the hamming and cosine brute legs)
    "ann_hamming_topk", "ann_hamming_recall_eval",
    # cosine brute leg of the lexical-vs-semantic agreement eval
    "hybrid_retrieval_overlap",
    # round-10: cosine brute leg of the RRF fusion; the fusion join
    # itself is rank-list-sized
    "hybrid_rrf_fusion_topk",
    # round-10: 7-option x 200-point closed-form S-curve grid + 1-row
    # corpus count — all dimension-sized crossJoins
    "dedup_lsh_param_plan",
    # 1-row total-token broadcast into the phase assignment
    "curriculum_phase_plan",
    # 1-row edge-count + modularity-numerator totals crossed into the
    # per-community rows
    "graph_modularity",
    # dimension-margin cross join (25 nations x 5 segments) + 1-row total
    "q_t_closeness",
    # 1-row best-pass-rate broadcast into the |langs| rows
    "quality_filter_bias_audit",
    # round-9: query-batch x entry-layer seed scoring (entry layer is
    # CELLS-sized — one row per IVF cell — and broadcast; every later
    # hop is an equi-join of the beam frontier against the edge set)
    "ann_graph_topk", "ann_graph_recall_eval",
    # round-10: same entry-layer seed scoring served from the persisted
    # graph index (shares ann_graph_topk's beam)
    "ann_graph_index_topk",
    # round-11: out-of-corpus batch served from the persisted graph
    # index (same entry-layer seed scoring)
    "ann_graph_ooc_index_topk",
    # round-11: lifecycle flow (insert beam placement + post-compact
    # serve, both entry-layer seeded)
    "ann_graph_index_lifecycle",
    # round-10: out-of-corpus serving pair (entry-layer seed scoring +
    # brute cosine truth leg in the eval)
    "ann_graph_ooc_topk", "ann_graph_ooc_recall_eval",
    # round-12: query-batch × dimension-sized broadcast probes (16
    # centroids / 8×4 planes) inside the cached probed_cells /
    # rp_signatures plan — ALWAYS present in the serve path, but
    # hidden pre-r12 by a `.localCheckpoint()` that existed only to
    # sever lineage from the per-call temp index dir; the session
    # artifact made the checkpoint unnecessary and the (bounded)
    # crossJoin visible
    "ann_ivf_index_topk", "ann_lsh_index_topk",
    # round-9: 5 winning-pair 1-row broadcasts into the vocab-sized
    # merge projections (one per unrolled BPE round; train_apply shares
    # the chain)
    "text_bpe_merge_train", "text_bpe_train_apply",
    # round-10: same 1-row winning-pair broadcasts (train chain) ahead
    # of the artifact persist + broadcast-ranks encode
    "text_bpe_encode_from_artifact",
    # round-9: 1-row (max partkey, max suppkey) stats broadcast under
    # the quantization projection
    "layout_zorder_buckets",
}


@pytest.mark.slow
def test_no_unexpected_nested_loop_joins(spark):
    """Catalog-wide scale guard: no entry may plan a Cartesian product or
    BroadcastNestedLoopJoin unless it is a whitelisted tiny-broadcast
    pattern. Catches the classic 100 TB killer — a join that silently
    degenerates to nested loops when a condition stops being an equi-join."""
    from overseer_spark.plans import has_cartesian_or_bnlj

    offenders = []
    for name, spec in CATALOG.items():
        if name in _EAGER or name in _BNLJ_OK:
            continue
        if has_cartesian_or_bnlj(spec.fn(spark, SF_SMOKE)):
            offenders.append(name)
    assert not offenders, (
        f"unexpected nested-loop/cartesian plans: {offenders} — fix the join "
        "or consciously whitelist in _BNLJ_OK"
    )


def test_skyline_broadcasts_domination_summary(spark):
    """The skyline's domination summary is dimension-sized and must
    broadcast — the fact table sees one grouped agg + one broadcast
    join, never a quadratic self-join."""
    from overseer_spark.plans import has_broadcast_join, has_cartesian_or_bnlj

    df = q("q_skyline_pareto", spark)
    assert has_broadcast_join(df)
    assert not has_cartesian_or_bnlj(df)


def test_interval_merge_single_user_partitioning(spark):
    """Both stacked windows and the island aggregate share ONE
    hashpartitioning(user_id) exchange."""
    from overseer_spark.plans import explain_str

    text = explain_str(q("q_interval_merge", spark))
    assert text.count("hashpartitioning(user_id") == 1, text.count(
        "hashpartitioning(user_id"
    )


def test_churn_features_single_user_exchange(spark):
    """The LAG window and the feature aggregate share the user_id
    partitioning — one exchange before the presentation sort."""
    from overseer_spark.plans import explain_str

    text = explain_str(q("q_churn_features", spark))
    assert text.count("hashpartitioning(user_id") == 1


def test_rolling_wau_is_equi_joined(spark):
    """Contribution-explode WAU must not plan a range/nested-loop join
    against a day spine."""
    from overseer_spark.plans import has_cartesian_or_bnlj

    assert not has_cartesian_or_bnlj(q("q_rolling_active_users", spark))


def test_point_in_time_join_is_equi_join(spark):
    """PIT join: user_id equi-join with the validity range as a join
    filter — no nested loop over versions."""
    from overseer_spark.plans import has_cartesian_or_bnlj
    from overseer_spark.plans.inspect import explain_str

    df = q("q_point_in_time_join", spark)
    assert not has_cartesian_or_bnlj(df)
    assert "Join" in explain_str(df, "simple")


def test_aqe_coalesces_shuffle_partitions_at_runtime(spark):
    """Runtime re-planning evidence: with 64 shuffle partitions configured
    but a tiny aggregate, AQE's executed plan must coalesce the shuffle
    reads (AQEShuffleRead coalesced) instead of launching 64 near-empty
    tasks — the behavior that keeps small stages cheap at any configured
    parallelism."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        agg = (
            spark.read.parquet(f"{SF_SMOKE}/events.parquet")
            .groupBy("event_type")
            .count()
        )
        agg.collect()  # AQE final plan exists only after execution
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_aqe_splits_skewed_join_partitions_at_runtime(spark):
    """Runtime skew remediation evidence: a sort-merge join where ONE key
    owns ~95% of the left side must trigger AQE's skew-join split — the
    executed plan shows `skew=true` on the SMJ (hot partition split into
    multiple tasks) instead of one straggler task dragging the stage.
    This is the no-code-change alternative to manual salting
    (skew_salted_agg) and the first line of defense at 100 TB."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        # force SMJ: a broadcast join would hide the skew path entirely
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 200_000).selectExpr(
            "CASE WHEN id % 20 != 0 THEN 7 ELSE id END AS k",
            "repeat('x', 32) AS pad",
        )
        right = spark.range(0, 2_000).selectExpr("id AS k", "id * 2 AS v")
        joined = left.join(right, "k").groupBy().count()
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fim_transform_is_pure_projection(spark):
    """FIM rendering must be zero-shuffle compute: the ONLY exchange in
    the plan is the presentation sort's range partitioning — cuts,
    substrings, and md5 all stay inside codegen with no Python."""
    s = explain_str(q("text_fim_transform", spark))
    assert len(re.findall(r"\bExchange \(\d+\)", s)) == 1
    assert s.count("rangepartitioning") == 1
    assert "EvalPython" not in s


def test_preference_pairs_bounded_exchanges(spark):
    """Round-6 rework: chosen/rejected are MAX_BY/MIN_BY over one grouped
    aggregate — NO joins anywhere, exactly one (lang, source) hash
    exchange with map-side partial aggregation, then the presentation
    sort. (The previous formulation was two rank windows + a count join;
    this pin is strictly tighter.)"""
    df = q("preference_pairs", spark)
    s = explain_str(df)
    assert "Join" not in s, "pair mining should be a single aggregation"
    assert s.count("hashpartitioning") == 1, s.count("hashpartitioning")
    assert has_partial_aggregation(df)


def test_shard_plan_two_phase_no_global_data_sort(spark):
    """The two-phase cumulative sum must never globally sort the data:
    exactly one range partitioning (the 55-row manifest presentation
    sort) and the block-carry table returns via broadcast."""
    df = q("shard_plan_by_tokens", spark)
    s = explain_str(df)
    assert has_broadcast_join(df), "block carries must broadcast"
    assert s.count("rangepartitioning") == 1, s.count("rangepartitioning")


def test_instruction_format_reuses_group_partitioning(spark):
    """The prompt/response self-join keys on the SAME (lang, source, rn)
    ranking both sides share — at most 2 hash exchanges (one per window
    input side) and string rendering stays in codegen."""
    s = explain_str(q("text_instruction_format", spark))
    assert s.count("hashpartitioning") <= 2
    assert "EvalPython" not in s


def test_url_normalize_stays_jvm_side(spark):
    """url_normalize_dedup's contract is zero Python: parse_url/regexp/
    array_sort all run in the JVM (codegen or JVM expression eval), so
    the plan must contain no Python evaluation nodes — the property that
    makes it free at 100 TB while the codec entries pay the Arrow seam."""
    text = explain_str(q("url_normalize_dedup", spark), "simple")
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
    assert "mapInPandas" not in text.lower()


def test_blocklist_ac_single_exchange_no_join(spark):
    """The blocklist scan's shuffle is the per-pattern partial rollup
    ONLY: one Exchange (partials → final agg over ~patterns×partitions
    tiny rows), no join anywhere, and document text must not appear
    past the mapInPandas stage (partials carry just pattern/counts)."""
    from overseer_spark.operators.text import blocklist_matches
    from overseer_spark.plans import has_cartesian_or_bnlj
    from overseer_spark.plans.inspect import explain_str
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = blocklist_matches(docs)
    text = explain_str(df, "simple")
    assert not has_cartesian_or_bnlj(df)
    assert "Join" not in text, text
    n_exchanges = text.count("Exchange")
    assert n_exchanges <= 2, f"unexpected extra shuffle:\n{text}"
    assert "MapInPandas" in text or "mapInPandas" in text.lower(), text


def test_lm_family_scan_counts_pinned(spark):
    """Spark performs no cross-branch subexpression reuse: every plan
    branch referencing an aggregate re-derives it down to its own
    FileScan. These pins hold the round-6 scan-count audit in place —
    an edit that adds a corpus-scanning branch to one of these entries
    fails here, not in a bench regression three rounds later."""
    from overseer_spark.queries.catalog import CATALOG
    from tests.conftest import SF_CORRECTNESS

    budgets = {
        "text_blocklist_ac": 1,
        "preference_pairs": 1,
        "q_funnel_conversion_latency": 1,
        "text_remove_repeated_spans": 2,
        "text_vocab_overlap": 2,
        "text_js_divergence_by_source": 2,
        "q_mad_outliers": 2,
        "text_dsir_scores": 3,
        "text_perplexity_bigram": 3,
        "text_perplexity_unigram": 3,
        "text_chi2_terms": 3,
        "text_bm25_search": 3,
        "text_bigram_pmi": 4,
        "text_ccnet_buckets": 4,
        # graph_beam_topk is one plan: each of its 4 hops prints its own
        # qv and edge scans under broadcasts that exchange reuse builds
        # once (jobs flat in hops: test_graph_beam_is_one_plan_flat_in_hops)
        "ann_graph_bucketed_index_topk": 10,
    }
    over = {}
    for name, budget in budgets.items():
        df = CATALOG[name].fn(spark, SF_CORRECTNESS)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = plan.count("Scan parquet")
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"corpus scan-count regressions: {over}"


def test_new_entries_pass_scan_audit(spark):
    """Catalog entries added since the last full scan-audit sweep
    (tests/scan_audit_pins.json) are plan-audited live: a cache-free
    plan may exceed its distinct-path lower bound by at most 2 scans
    unless it carries an explicit budget in
    test_lm_family_scan_counts_pinned. This is how the round-6
    branch-collapse discipline (Spark re-derives every referenced
    aggregate down to its own FileScan) binds on NEW entries without
    re-running the full sweep per test run. After a round's sweep,
    refresh the pins file with the current catalog names."""
    import json
    import pathlib
    import sys

    sys.path.insert(0, "tools")
    from scan_audit import audit_entry

    from overseer_spark.queries.catalog import CATALOG
    from tests.conftest import SF_CORRECTNESS

    pins = set(
        json.loads(
            (pathlib.Path(__file__).parent / "scan_audit_pins.json").read_text()
        )
    )
    budgeted = {
        "text_blocklist_ac", "preference_pairs", "q_funnel_conversion_latency",
        "text_remove_repeated_spans", "text_vocab_overlap",
        "text_js_divergence_by_source", "q_mad_outliers", "text_dsir_scores",
        "text_perplexity_bigram", "text_perplexity_unigram", "text_chi2_terms",
        "text_bm25_search", "text_bigram_pmi", "text_ccnet_buckets",
        "ann_graph_bucketed_index_topk",
    }
    over = {}
    for name in CATALOG:
        if name in pins or name in budgeted or name.startswith("stream_"):
            continue
        n, paths, cached = audit_entry(spark, CATALOG[name].fn, SF_CORRECTNESS)
        if not cached and n - paths > 2:
            over[name] = (n, paths)
    assert not over, (
        f"new entries with excess corpus scans (collapse the branches or "
        f"add an explicit budget with rationale): {over}"
    )


def test_scan_audit_tool_counts_and_cache_flag(spark):
    """tools/scan_audit.py's parser: exact scan counts on cache-free
    plans, cached plans flagged (their printed lineage overstates what
    executes, so the tool must not rank them)."""
    import sys

    sys.path.insert(0, "tools")
    from scan_audit import audit_entry

    from overseer_spark.queries.catalog import CATALOG
    from tests.conftest import SF_CORRECTNESS

    n, paths, cached = audit_entry(
        spark, CATALOG["q01_scan_count"].fn, SF_CORRECTNESS
    )
    assert (n, paths, cached) == (1, 1, False)
    _, _, cached = audit_entry(
        spark, CATALOG["graph_triangle_count"].fn, SF_CORRECTNESS
    )
    assert cached is True  # eager_cache'd edge table


def test_prefix_cache_groups_shuffles_hashes_not_text(spark):
    """prefix_cache_groups: both windows must ride the 16-byte prefix
    HASH partitioning (h) — the document text never becomes a shuffle
    key — and the rollup re-keys on source only."""
    df = q("prefix_cache_groups", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(h#\d+", plan), plan
    assert "text#" not in re.findall(
        r"hashpartitioning\(([^)]*)\)", plan
    ).__str__(), "document text must not be a shuffle key"
    assert "CartesianProduct" not in plan


def test_curriculum_cumsum_window_is_partitioned(spark):
    """curriculum_phase_plan: the corpus-sized cumulative-token window
    must be HASH-PARTITIONED by q_int (the bucket-offset pattern) — the
    only unpartitioned window in the plan is the bucket-level offset
    scan over the ≤10001-row q_int relation, never the corpus."""
    df = q("curriculum_phase_plan", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(q_int#\d+", plan), (
        "per-doc cumsum window lost its q_int partitioning:\n" + plan
    )


def test_graph_bucketed_edges_hop_join_no_edge_exchange(spark):
    """VERDICT r11 ask #4: with the bucketed serving layout
    (build_graph_index(bucket_edges=N)), a hop's frontier ⋈ edges probe
    must read the edge table bucket-aligned — the ONLY exchange in the
    join is the beam-sized frontier shuffling to the bucket layout; the
    edge side is a bucketed FileScan with no Exchange above it. Forced
    to SMJ (broadcast off) so the pin exercises the bucketing, not the
    broadcast fallback; results are bit-identical either way (the
    catalog entry shares ann_graph_topk's pin)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from overseer_spark.operators import ann_index as AI
    from overseer_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    d = tempfile.mkdtemp(prefix="gidx_bucket_plan_")
    tbl = AI._edges_table_name(d)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        AI.build_graph_index(emb, d, n_cells=4, n_probe=2, edge_k=6,
                             bucket_edges=8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        edges = spark.table(AI._register_bucketed_edges(spark, d, 8))
        frontier = (
            spark.read.parquet(f"{d}/qv")
            .limit(5)
            .select(F.col("vec_id").alias("src"))
            .localCheckpoint()
        )
        plan = (
            frontier.join(edges, "src")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange") == 1, (
            "expected exactly the frontier-side exchange:\n" + plan
        )
        # the single exchange must sit above the frontier RDD scan, not
        # the bucketed file scan (which follows its Sort directly)
        assert re.search(
            r"Exchange hashpartitioning\(src#\d+L, 8\)(?:[^\n]*\n){1,3}"
            r"[^\n]*ExistingRDD",
            plan,
        ), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_graph_bucketed_layout_is_immutable(spark):
    """The bucketed serving replica refuses lifecycle mutation (a plain
    parquet append would violate the bucket-file contract): insert and
    compact raise; delete (tombstone append, a sibling dir) still works
    and masks at serve time."""
    import shutil
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from overseer_spark.operators import ann_index as AI
    from overseer_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    d = tempfile.mkdtemp(prefix="gidx_bucket_immutable_")
    tbl = AI._edges_table_name(d)
    try:
        AI.build_graph_index(
            emb.filter(F.col("vec_id") >= 5), d, n_cells=4, n_probe=2,
            edge_k=6, bucket_edges=8,
        )
        batch = emb.filter(F.col("vec_id") < 5)
        with pytest.raises(ValueError, match="immutable"):
            AI.insert_into_graph_index(spark, d, batch)
        with pytest.raises(ValueError, match="immutable"):
            AI.compact_graph_index(spark, d)
        served = AI.graph_index_topk(
            spark, d, query_ids=[5], entry_top=4, beam=8, k=5
        )
        victim = served.filter(F.col("rank") == 1).first()["vec_id"]
        AI.delete_from_graph_index(spark, d, [int(victim)])
        post = {
            r["vec_id"]
            for r in AI.graph_index_topk(
                spark, d, query_ids=[5], entry_top=4, beam=8, k=5
            ).collect()
        }
        assert victim not in post
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(d, ignore_errors=True)


def test_graph_beam_is_one_plan_flat_in_hops(spark):
    """graph_beam_topk is one plan whose hops add no Spark job and no
    shuffle: each hop reads the previous visited state once, its joins
    to the broadcast edges, qv and queries keep the entry layer's
    query_id partitioning, and the broadcasts are built once and reused
    by every hop. A per-hop checkpoint loop ran 8 + 6·hops jobs (20 at
    hops=2, 44 at hops=6)."""
    import shutil
    import tempfile

    from overseer_spark.operators import ann_index as AI
    from overseer_spark.operators.graph import graph_beam_topk
    from overseer_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    d = tempfile.mkdtemp(prefix="gidx_beam_plan_")
    try:
        AI.build_graph_index(emb, d, n_cells=4, n_probe=2, edge_k=6)
        qv = spark.read.parquet(f"{d}/qv")
        edges = spark.read.parquet(f"{d}/edges")
        entries = spark.read.parquet(f"{d}/entries")
        queries = (
            qv.filter("vec_id < 5")
            .selectExpr("vec_id AS query_id", "q AS qv")
            .localCheckpoint()
        )
        sc = spark.sparkContext
        shape = {}
        for hops in (2, 6):
            group = f"graph-beam-hops-{hops}"
            sc.setJobGroup(group, group)
            try:
                # the call is inside the group: a lazy localCheckpoint
                # runs its plan's shuffle and broadcast stages at the call
                beam = graph_beam_topk(qv, edges, queries, entries, hops=hops)
                assert len(beam.collect()) == 50
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            plan = beam._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]  # AQE's final plan
            shape[hops] = (
                len(sc.statusTracker().getJobIdsForGroup(group)),
                len(re.findall(r"\bExchange\b", plan)),
                len(re.findall(r"- BroadcastExchange\b", plan)),
            )
        assert shape[2] == shape[6], (
            f"(jobs, shuffle exchanges, broadcast builds) by hops: {shape}"
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
