"""Physical-plan assertions: the scale properties SURVEY §4 promises
must be visible in `.explain` output — filter pushdown to the parquet
scan, column pruning, broadcast joins for dimensions, and bounded
shuffle counts. A regression here is a 100 TB performance bug even when
results stay correct."""

from __future__ import annotations

import re

import pytest

from procoggraph_spark.queries import registry
from procoggraph_spark.session import formatted_plan
from tests.conftest import SF_ORACLE

# Plan assertions must inspect a FRESH build: a DataFrame served from
# the registry's plan cache may already have been executed by an
# earlier test, and df._jdf.queryExecution() then shows the
# AQE-FINALIZED plan of that execution (coalesced/re-optimized
# exchanges), not the compile-time shape these tests pin. Unwrap the
# cache (functools.wraps exposes the underlying builder).
QUERIES, _ = registry()
QUERIES = {n: getattr(f, "__wrapped__", f) for n, f in QUERIES.items()}


def plan(spark, df, mode: str = "formatted") -> str:
    return formatted_plan(df, mode)


def test_a1_filter_pushdown_and_single_shuffle(spark):
    df = QUERIES["a1_pricing_summary"](spark, SF_ORACLE)
    p = plan(spark, df)
    # the shipdate predicate must reach the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # grouped agg = exactly one exchange (partial agg map-side, final
    # after); formatted mode lists each node twice (tree + detail)
    assert p.count("Exchange (") == 1 and p.count(") Exchange") == 1


def test_q3_column_pruning(spark):
    df = QUERIES["q3_substring_search"](spark, SF_ORACLE)
    p = plan(spark, df)
    # scan must read only the two projected columns, not all of part
    sched = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert sched and all(
        "p_partkey" in ln and "p_name" in ln and "p_retailprice" not in ln
        for ln in sched
    )
    # top-k with limit plans as TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in p


def test_j7_broadcasts_dimensions(spark):
    df = QUERIES["j7_star_join_rollup"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert p.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # customer must NOT be hint-pinned to broadcast: it is fact-sized at
    # scale, so its join strategy is a size-based Catalyst/AQE decision
    # (fine if the optimizer broadcasts it at test SF — the HINT is the
    # 100 TB bug). Only nation, region (bounded dims) + the orders merge
    # hint appear in the parsed logical plan.
    parsed = plan(spark, df, "extended").split("== Analyzed Logical Plan ==")[0]
    hints = [
        ln for ln in parsed.splitlines() if "ResolvedHint (strategy=broadcast)" in ln
    ]
    assert len(hints) == 2, hints


def test_q4_preagg_below_join(spark):
    df = QUERIES["q4_report_card"](spark, SF_ORACLE)
    p = plan(spark, df, "extended")
    # the per-order aggregate must sit BELOW the outer join with orders
    # (physical: the left join's right child contains the aggregate)
    phys = p.split("== Physical Plan ==")[1]
    assert "SortMergeJoin" in phys or "ShuffledHashJoin" in phys or "BroadcastHashJoin" in phys
    agg_idx = min(
        idx
        for idx in (phys.find("HashAggregate"), phys.find("SortAggregate"))
        if idx != -1
    )
    assert phys.index("Join") < agg_idx or "ObjectHashAggregate" in phys
    # the part dimension join is a broadcast, never a shuffle
    assert "BroadcastHashJoin" in phys


def test_whole_stage_codegen_everywhere_relational(spark):
    """The relational hot paths stay inside whole-stage codegen (no
    row-at-a-time Python in the plan). AQE is disabled for the probe:
    an un-finalized AdaptiveSparkPlan hides the codegen stage markers."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ["a1_pricing_summary", "j7_star_join_rollup", "w5_topk_per_group"]:
            p = plan(spark, QUERIES[name](spark, SF_ORACLE), "simple")
            assert "*(" in p, name  # WholeStageCodegen stage markers
            assert "BatchEvalPython" not in p, name
            assert "PythonUDF" not in p, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_sim_lsh_join_is_equi_not_cross(spark):
    """The ANN candidate joins must be equi-joins on bucket/cell —
    a cross product here is the 100 TB death sentence."""
    for name in ["sim_lsh_ann", "sim_ivf_ann"]:
        p = plan(spark, QUERIES[name](spark, SF_ORACLE))
        assert "CartesianProduct" not in p, name


def test_dedup_minhash_no_cartesian(spark):
    p = plan(spark, QUERIES["dedup_minhash_lsh"](spark, SF_ORACLE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dedup_embedding_cosine_blocked_not_crossjoin(spark):
    """Round-3 verdict #2: the registry's embedding near-dup entry must
    run the scale shape — SimHash-blocked candidate equi-join + exact
    cosine rerank — not the all-pairs crossJoin (which survives only as
    the DuckDB oracle twin)."""
    p = plan(spark, QUERIES["dedup_embedding_cosine"](spark, SF_ORACLE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_decontaminate_broadcasts_benchmark_only(spark):
    df = QUERIES["text_decontaminate"](spark, SF_ORACLE)
    p = plan(spark, df)
    # the eval-set shingle probe must be a broadcast hash join (the
    # benchmark side is small by construction); the per-doc totals join
    # must NOT broadcast a corpus-sized side
    assert "BroadcastHashJoin" in p


def test_tfidf_vocab_join_not_hinted_broadcast(spark):
    df = QUERIES["text_tfidf_top_terms"](spark, SF_ORACLE)
    # At sf0.001 Catalyst may broadcast the DF table on size stats —
    # correct, and it flips to a shuffle join when stats grow. The scale
    # bug would be a FORCED broadcast hint on the vocabulary-sized join;
    # only the 1-row n_docs aggregate may carry a hint.
    logical = str(df._jdf.queryExecution().analyzed())
    assert logical.count("ResolvedHint") == 1
    # and the hinted subtree is the global count, not the DF aggregation
    hint_idx = logical.index("ResolvedHint")
    assert "count(1) AS n_docs" in logical[hint_idx:hint_idx + 400]


def test_cms_estimate_broadcasts_sketch(spark):
    df = QUERIES["sketch_cms_heavy_hitters"](spark, SF_ORACLE)
    p = plan(spark, df)
    # the ≤ depth×width sketch must broadcast to the probe side, and the
    # final top-10 must plan as TakeOrderedAndProject, not a global sort
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_training_pipeline_two_exchanges_no_python(spark):
    """The 5-stage composed pipeline must stay one lean Catalyst plan:
    two hash exchanges (dedup key; shard — the pack window reuses the
    shard shuffle's partitioning), no cartesian product, and zero
    Python evaluation (the whole composition is column algebra)."""
    df = QUERIES["training_data_pipeline"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert p.count("Exchange hashpartitioning") <= 4  # 2 nodes x tree+detail
    assert "CartesianProduct" not in p
    assert "Python" not in p


def test_chunker_is_map_only(spark):
    """chunk_documents is a generator on the scan: zero exchanges, zero
    Python — at 100 TB the chunker runs at scan parallelism and fuses
    with downstream projections."""
    df = QUERIES["text_chunk_overlap"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "Exchange" not in p
    assert "Python" not in p
    assert "Generate" in p  # the explode is a generator, not a join


def test_bloom_probe_broadcasts_bitmap_only(spark):
    """The Bloom probe must reach the corpus scan as a broadcast of the
    <=n_bits bitmap (BroadcastNestedLoopJoin on the single-row map —
    map-only on the probe side); the exact-verify join may shuffle only
    candidates. No cartesian product over data-sized inputs."""
    df = QUERIES["text_decontaminate_bloom"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_leakage_split_single_key_shuffle(spark):
    """leakage_safe_split is groupBy + join-back on the dedup key: the
    canonical aggregation and the join share the key's hash
    partitioning, and the split assignment itself adds no exchange."""
    df = QUERIES["split_leakage_safe"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "Python" not in p


def test_bigram_lm_no_python_no_cartesian(spark):
    """bigram_logprob stays whole-plan column algebra: the vocabulary
    joins shuffle on corpus-sized keys (correct — not broadcast-hinted),
    with no Python evaluation and no cartesian product; the only
    broadcast is the 1-row vocab-size aggregate."""
    df = QUERIES["text_bigram_logprob"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "Python" not in p
    assert "CartesianProduct" not in p


def test_containment_no_cartesian_hot_guard_broadcast(spark):
    """dedup_containment must keep ngram_jaccard's scale shape: the
    pair generation is a shingle-keyed equi-join (never cartesian), and
    the hot-shingle guard is a broadcast anti-join (the hot set is tiny
    by construction). The guard sits below a lazy localCheckpoint in
    the full query (three-consumer reuse), which swallows its subplan
    from the final explain — so the guard shape is asserted on the
    shared ``_guarded_shingles`` frame the checkpoint wraps."""
    p = plan(spark, QUERIES["dedup_containment"](spark, SF_ORACLE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    from procoggraph_spark.operators.dedup import _guarded_shingles
    from procoggraph_spark.queries.common import t

    g = _guarded_shingles(
        t(spark, SF_ORACLE, "documents"),
        id_col="doc_id",
        text_col="text",
        n=2,
        max_shingle_df=200,
    )
    gp = plan(spark, g)
    assert "LeftAnti" in gp and "BroadcastHashJoin" in gp


def test_incremental_ingest_no_window_no_python(spark):
    """Within-batch firsts must come from groupBy(min)+join-back, never
    a window over the unbounded content-hash key space; the whole
    classification is pure column algebra."""
    p = plan(spark, QUERIES["dedup_incremental_ingest"](spark, SF_ORACLE))
    assert "Window" not in p
    assert "Python" not in p
    assert "CartesianProduct" not in p


def test_emb_outlier_single_broadcast_no_dim_join_back(spark):
    """emb_outlier_zscore follows the centroid-fold discipline: the
    per-dim stats cross the plan exactly once as a broadcast one-row
    frame; the corpus is never joined back on a (vec, dim) key. The
    broadcast nested-loop join IS the intended shape here — a one-row
    broadcast side, i.e. a constant fold, not a pair blowup."""
    p = plan(spark, QUERIES["emb_outlier_zscore"](spark, SF_ORACLE))
    assert "CartesianProduct" not in p
    # exactly one broadcast exchange: the 1-row stats frame
    assert p.count("BroadcastExchange (") == 1
    # no shuffle-keyed join of the exploded corpus back to stats
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_zipf_window_after_limit(spark):
    """The rank window may only run on the LIMITed top-1000 table —
    the plan must show the global limit below the window, so the
    single-partition window never sees the unbounded vocabulary."""
    df = QUERIES["text_zipf_slope"](spark, SF_ORACLE)
    p = plan(spark, df, mode="simple")
    # Catalyst fuses orderBy+limit into TakeOrderedAndProject; it must
    # sit BELOW the window (appear after it in the tree print)
    assert "Window" in p and "TakeOrderedAndProject" in p
    assert p.index("TakeOrderedAndProject") > p.index("Window")


def test_source_cap_partial_window_group_limit(spark):
    """curation_source_cap's scale property: the row_number cut must be
    pushed map-side (WindowGroupLimit Partial below the exchange), so a
    single giant source shuffles at most k rows per input partition —
    not its full document set — before the final per-source rank."""
    df = QUERIES["curation_source_cap"](spark, SF_ORACLE)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p and "Partial" in p
    partial_at = p.index(", Partial")
    exch_at = p.index("Exchange hashpartitioning(source")
    # tree prints top-down: the Partial limit appears BELOW (after) the
    # exchange node in the string
    assert partial_at > exch_at


def test_filtered_topk_predicate_pushed_to_scan(spark):
    """sim_filtered_topk's scale property: filter-then-search. The
    label predicate must reach the parquet scan (PushedFilters), so the
    pair blow-up only ever sees the qualifying slice of the corpus."""
    df = QUERIES["sim_filtered_topk"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "EqualTo(label,2)" in p
    # queries are the broadcast side; no cartesian anywhere
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_weighted_priority_heap_cut_before_rank(spark):
    """sample_weighted_priority must cut via per-partition top-k heaps
    (TakeOrderedAndProject) BEFORE the single-partition rank window —
    the window may only ever see the k survivors, never the corpus."""
    df = QUERIES["sample_weighted_priority"](spark, SF_ORACLE)
    p = plan(spark, df, mode="simple")
    assert "TakeOrderedAndProject" in p and "Window" in p
    assert p.index("TakeOrderedAndProject") > p.index("Window")


def test_temperature_mix_broadcasts_total_only(spark):
    """mix_temperature_sources joins the per-source frame to a
    single-row total — that side must broadcast; the source-grain agg
    is the only hash shuffle."""
    df = QUERIES["mix_temperature_sources"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_int8_quantize_map_only_no_python(spark):
    """emb_int8_quantize is pure column algebra: no exchange, no
    Python, whole-stage codegen over the scan."""
    df = QUERIES["emb_int8_quantize"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "Exchange" not in p
    assert "Python" not in p and "ArrowEval" not in p


def test_dsir_no_cartesian_beyond_totals(spark):
    """curation_dsir_selection: term joins are hash equi-joins; the only
    nested-loop is the broadcast of the 1-row totals frame. No Python."""
    df = QUERIES["curation_dsir_selection"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "Python" not in p and "ArrowEval" not in p


def test_substring_pairs_equi_join_no_cartesian(spark):
    """dedup_substring_pairs: candidate generation is the gram-keyed
    equi-join (SortMergeJoin/ShuffledHashJoin), never an all-pairs
    nested loop."""
    df = QUERIES["dedup_substring_pairs"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_gopher_rules_map_only(spark):
    """text_gopher_rules is scan-speed column algebra: no exchange, no
    Python, whole-stage codegen from scan to project."""
    df = QUERIES["text_gopher_rules"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert p.count("Exchange (") == 0
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_fertility_single_exchange_no_python(spark):
    """text_tokenizer_fertility: one hash agg to (lang, source) grain —
    exactly one exchange (map-side partial agg), no Python."""
    df = QUERIES["text_tokenizer_fertility"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert p.count("Exchange (") == 1
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_perplexity_buckets_no_cartesian_no_python(spark):
    """curation_perplexity_buckets: the only nested-loop join allowed
    is the broadcast of the 1-row corpus total (unigram_logprob's
    shape); the vocabulary join and the source join are hash joins."""
    df = QUERIES["curation_perplexity_buckets"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_curriculum_heap_cut_before_rank(spark):
    """curation_curriculum_order must cut the corpus with per-partition
    top-k heaps (TakeOrderedAndProject) BEFORE the single-partition
    rank window — the window only ever sees the k survivors."""
    df = QUERIES["curation_curriculum_order"](spark, SF_ORACLE)
    p = plan(spark, df, mode="simple")
    assert "TakeOrderedAndProject" in p and "Window" in p
    assert p.index("TakeOrderedAndProject") > p.index("Window")


def test_epoch_plan_broadcasts_total_only(spark):
    """curation_epoch_plan: per-source agg is the only hash exchange;
    the 1-row weight total joins back via broadcast."""
    df = QUERIES["curation_epoch_plan"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_hard_negatives_broadcast_queries_no_python(spark):
    """sim_hard_negatives follows the exact-primitive shape: the query
    side broadcasts (never the corpus), no Python, no CartesianProduct
    (the pair join is the documented BroadcastNestedLoop over the
    broadcast query set)."""
    df = QUERIES["sim_hard_negatives"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    # the pushed query predicate proves the small side is the broadcast
    assert "LessThan(vec_id,5)" in p


def test_knn_vote_gemm_path_no_cartesian(spark):
    """emb_knn_label_vote rides the documented Arrow-batched GEMM
    searcher (hundreds of queries — BLAS wins ~10× over the
    interpreted fold): exactly one mapInPandas stage, never
    row-at-a-time Python, no cartesian."""
    df = QUERIES["emb_knn_label_vote"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert p.count("MapInPandas") == 2  # one stage; formatted lists twice
    assert "BatchEvalPython" not in p  # no row-at-a-time Python


def test_zorder_stats_map_plus_single_agg(spark):
    """layout_zorder_stats: Morton key algebra on the scan + one hash
    aggregation on the bucket — exactly one exchange, no Python, and
    the scan reads only the two key columns."""
    df = QUERIES["layout_zorder_stats"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert p.count("Exchange (") == 1
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    sched = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert sched and all(
        "l_partkey" in ln and "l_suppkey" in ln and "l_quantity" not in ln
        for ln in sched
    )


def test_recall_eval_joins_topk_frames_only(spark):
    """sim_recall_eval joins two k-rows-per-query frames — no
    CartesianProduct beyond the searchers' own documented broadcast
    shapes, no Python anywhere."""
    df = QUERIES["sim_recall_eval"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_normalized_dedup_single_exchange_no_python(spark):
    df = QUERIES["dedup_normalized_exact"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert p.count("Exchange (") == 1
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_oov_vocab_cut_is_heap_then_broadcast(spark):
    """text_oov_rate: the vocabulary cut must be TakeOrderedAndProject
    (vocab-sized heap cut, never a corpus sort) and the vocab probe a
    broadcast hash join."""
    df = QUERIES["text_oov_rate"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_skew_audit_heap_cut_before_rank(spark):
    """diag_key_skew: per-partition top-k heaps cut the key histogram
    BEFORE the single-partition rank window."""
    df = QUERIES["diag_key_skew"](spark, SF_ORACLE)
    p = plan(spark, df, mode="simple")
    assert "TakeOrderedAndProject" in p and "Window" in p
    assert p.index("TakeOrderedAndProject") > p.index("Window")


def test_salted_join_replicates_dim_not_fact(spark):
    """j_salted_skew_join: the salt explode (Generate) sits on the
    dimension side; the join is an equi-join on (key, salt) — no
    cartesian, no Python."""
    df = QUERIES["j_salted_skew_join"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "Generate" in p  # the salt explode on the dim side
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_scd2_single_full_outer_join(spark):
    """scd2_customer_segment: exactly one join in the plan (the full
    outer on the key) — the history expansion is an inline, not a
    three-branch union re-joining the inputs."""
    df = QUERIES["scd2_customer_segment"](spark, SF_ORACLE)
    p = plan(spark, df, mode="simple")
    joins = sum(p.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 1, p
    assert "FullOuter" in p
    assert "CartesianProduct" not in p


def test_rag_pipeline_no_python_one_plan(spark):
    """rag_index_pipeline: chunk -> fingerprint -> embed -> retrieve is
    one Catalyst plan with no Python stage and no cartesian product
    (the query side broadcasts)."""
    df = QUERIES["rag_index_pipeline"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    assert "CartesianProduct" not in p
    assert "Generate" in p  # the chunker


def test_target_encode_single_scan_broadcast_global(spark):
    """feat_target_encode: ONE source scan into the category-grain hash
    agg (lazily checkpointed — both consumers read the same RDD); the
    global mean is a 1-row tree-reduced aggregate over the category
    partials, broadcast back. Target encoding targets HIGH-cardinality
    categoricals, so nothing may funnel the category table through a
    single partition: no unpartitioned window, no source re-scan
    (r12-advice item)."""
    df = QUERIES["feat_target_encode"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "Scan parquet" not in p  # the one scan sits in the checkpoint
    # ...and both consumers read that ONE checkpoint: every RDD scan
    # names the same RDD, so two independent scan-then-checkpoint
    # subplans cannot pass
    scans = re.findall(r"^\(\d+\) Scan ExistingRDD$", p, re.M)
    rdds = re.findall(r"(MapPartitionsRDD\[\d+\]) at localCheckpoint", p)
    assert len(scans) >= 2 and len(rdds) == len(scans), p
    assert len(set(rdds)) == 1, rdds
    assert "Window" not in p  # no single-partition pass over categories
    assert "BroadcastExchange" in p  # 1-row global attached by broadcast
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_pagerank_vertex_count_broadcast_once(spark):
    """graph_pagerank runs its rounds on n·rank, so the 1-row vertex
    count is broadcast once and crosses the ranks once, in the final
    division — not once per round."""
    df = QUERIES["graph_pagerank"](spark, SF_ORACLE)
    p = plan(spark, df, mode="simple")
    assert p.count("BroadcastNestedLoopJoin") == 1, p
    assert p.count("BroadcastExchange") == 1, p


def test_robust_scale_bounds_broadcast_back(spark):
    """feat_robust_scale: the rank window shuffles on the group once;
    the group-grain bounds frame joins back via broadcast hash join."""
    df = QUERIES["feat_robust_scale"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_release_diff_joins_hashes_not_documents(spark):
    """corpus_release_diff: md5 computed below the join (the full-outer
    join carries 32-byte hashes, not documents) and one join total."""
    df = QUERIES["corpus_release_diff"](spark, SF_ORACLE)
    p = plan(spark, df, mode="simple")
    joins = sum(p.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins == 1
    assert "FullOuter" in p
    # the probe: text must not appear ABOVE the join (hash projected early)
    above_join = p[: p.index("Join")]
    assert "text#" not in above_join


def test_length_buckets_single_exchange(spark):
    df = QUERIES["serve_length_buckets"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert p.count("Exchange (") == 1
    assert "BatchEvalPython" not in p and "PythonUDF" not in p


def test_centroid_drift_no_cartesian_no_python(spark):
    df = QUERIES["emb_centroid_drift"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    assert "Generate" in p  # posexplode to (label, half, dim) grain


def test_basket_pairs_equi_join_no_cartesian(spark):
    """Basket co-occurrence generates within-basket pairs by exploding
    the per-basket item set — no self-join on the fact table at all
    (only the broadcast single-row basket total), and never an
    all-pairs product."""
    df = QUERIES["basket_part_pairs"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("Generate") >= 2  # the two explodes
    assert "TakeOrderedAndProject" in p  # top-20 never global-sorts


def test_gate_sensitivity_bounded_grid_broadcasts(spark):
    """The threshold sweep collapses the corpus to one bounded bucket
    agg; the grid x histogram join and totals are broadcast, and the
    totals' second consumer rides exchange reuse — the corpus is read
    exactly once (round-12 measurement: the windowed-totals rewrite
    was slower for zero scan savings, so THIS is the pinned shape)."""
    df = QUERIES["curation_gate_sensitivity"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert p.count("BroadcastExchange") >= 2  # totals row + histogram
    assert "CartesianProduct" not in p
    # (exchange reuse collapses the two consumers to one physical scan
    # under the bench session policy at sf0.1 — see
    # `tools/plan_audit.py --capture` — but is regime-dependent, so it
    # is not asserted here at sf0.001)


def test_table_profile_single_pass(spark):
    """All per-column metrics (incl. 5 exact distincts) must come from
    ONE scan of orders — Expand-based multi-distinct, not a union of
    per-column scans like the oracle twin."""
    df = QUERIES["diag_table_profile"](spark, SF_ORACLE)
    p = plan(spark, df)
    import re
    # formatted mode lists each node twice (tree + detail); count
    # distinct scan node ids
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", p))
    assert len(scan_ids) == 1
    assert "Expand" in p
    assert "Union" not in p


def test_sessionize_windows_partition_by_user(spark):
    """Gaps-and-islands windows must partition by user (bounded state),
    and the whole sessionize = windows + one grouped agg — no join."""
    df = QUERIES["events_sessionize"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs and all("user_id" in s for s in specs)


def test_volume_anomaly_windows_on_bounded_grain(spark):
    """The anomaly z-score windows run on the (type, hour) grain —
    partitioned by event_type — after the fact table has collapsed to
    hourly counts (one grouped agg below the window)."""
    df = QUERIES["events_volume_anomaly"](spark, SF_ORACLE)
    p = plan(spark, df)
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs and all("event_type" in s for s in specs)
    assert "CartesianProduct" not in p


def test_cohort_retention_no_global_window(spark):
    """Cohort retention is pure aggs + equi-joins — no window function
    at all (the classic formulation uses one over users; this must
    not)."""
    df = QUERIES["events_cohort_retention"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_mmr_no_cartesian_no_python(spark):
    """MMR rerank: the candidate pool is the only corpus-scale stage
    (broadcast query side); every rerank round is an equi-join on
    query_id + a per-query window on <=pool rows — no cartesian
    product, no Python, and every window partitions by query_id."""
    df = QUERIES["sim_mmr_diversify"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs and all("query_id" in s for s in specs)


def test_time_to_conversion_single_pass_on_user_key(spark):
    """Conversion lag is ONE pass over the start/goal events: a single
    user-keyed exchange feeds the first-start window, and the gated
    goal aggregation rides the same partitioning — no join (the old
    first-start ⋈ goals shape fanned every user's goal events through
    the join; super-linear at the 10× probe), no cartesian, and the
    window partitions by user (bounded per-user state), never
    unpartitioned."""
    df = QUERIES["events_time_to_conversion"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") <= 2  # one node: tree+detail
    assert "CartesianProduct" not in p


def test_cohort_ltv_window_on_bounded_month_grain(spark):
    """The cumulative-revenue window partitions by cohort_month over
    the bounded month-offset axis — never by customer — and runs ABOVE
    the (cohort, offset) aggregation."""
    df = QUERIES["orders_cohort_ltv"](spark, SF_ORACLE)
    p = plan(spark, df)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs and all("cohort_month" in s for s in specs)
    assert all("custkey" not in s for s in specs)
    assert "CartesianProduct" not in p


def test_dau_stickiness_joins_grid_not_events(spark):
    """The 7-day lookback join's inputs are the DISTINCT user-day grid
    and the distinct day list — both aggregations sit BELOW the range
    join, so the fanout is 7 x the grid, never the raw event stream;
    DAU comes from a conditional distinct on the SAME join output (no
    third branch re-scanning events)."""
    df = QUERIES["events_dau_stickiness"](spark, SF_ORACLE)
    p = plan(spark, df)
    import re

    assert "CartesianProduct" not in p  # day-range join is broadcast-NL
    # two scans only (grid + day-list branches; Spark does not dedupe
    # shared subtrees) — the DAU fold must NOT add a third
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", p))
    assert len(scan_ids) == 2
    join_ids = set(re.findall(r"\((\d+)\) [A-Za-z]*Join", p))
    assert len(join_ids) == 1  # the lookback join is the only join


def test_weekly_streaks_window_per_user(spark):
    df = QUERIES["events_weekly_streaks"](spark, SF_ORACLE)
    p = plan(spark, df)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs and all("_u" in s for s in specs)
    assert "CartesianProduct" not in p


def test_dim_covariance_equi_join_exact_sums(spark):
    """The covariance sums come off the per-partition integer Gram
    accumulation (one MapInPandas pass, d^2-row partials, lazily
    checkpointed so the Python stage runs once per execution for its
    three consumers) — never the O(n*d^2) posexplode self-join, never a
    cartesian; the final top-20 window runs on the bounded d^2 grain.
    The checkpoint makes the upstream a LogicalRDD leaf in the final
    plan, so the Python-stage shape is pinned on the operator's
    pre-checkpoint lineage via the partials frame itself."""
    df = QUERIES["emb_dim_covariance"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "Generate" not in p  # the posexplode join form is gone
    # the bounded-grain merge reads the checkpointed partials, not a
    # parquet rescan — the corpus is touched only inside the (hidden)
    # checkpoint lineage, exactly once
    assert "Scan parquet" not in p
    assert "ExistingRDD" in p or "Scan ExistingRDD" in p


def test_hash_buckets_hashes_vocabulary_grain(spark):
    """The polynomial fold evaluates on the DISTINCT-feature grain: an
    aggregation sits between the scan and the hash projection, and the
    dim join is broadcast."""
    df = QUERIES["feat_hash_buckets"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "BroadcastHashJoin" in p  # nation dim
    assert "CartesianProduct" not in p


def test_recency_engagement_single_fact_exchange(spark):
    """Decayed engagement = one scan + broadcast single-row ref + one
    user-keyed agg; the decay terms are integer-exact (no float sums)."""
    df = QUERIES["events_recency_engagement"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" in p
    assert "BatchEvalPython" not in p
    import re

    assert "Window" not in p  # pure agg, no window


def test_rocchio_broadcasts_models_no_python(spark):
    """Rocchio: centroid agg on the bounded (query, dim) grain, the
    expanded-query side broadcast over the corpus re-scan — no Python,
    no cartesian beyond the broadcast query x corpus product."""
    df = QUERIES["sim_rocchio_feedback"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "BatchEvalPython" not in p and "PythonUDF" not in p
    assert "BroadcastExchange" in p
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs and all("query_id" in s for s in specs)


def test_ab_srm_single_fact_aggregation(spark):
    """SRM: the corpus collapses to (segment, arm) counts in one pass;
    the arm grid and chi2 join run on the bounded segment grain with
    the range() arm list broadcast. No Python, no corpus-sized window."""
    df = QUERIES["ab_assignment_srm"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert "BatchEvalPython" not in p
    assert "Window" not in p
    import re

    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", p))
    assert len(scan_ids) <= 2  # observed counts + segment grid branch


def test_u7_single_exchange_no_python_pruned_scan(spark):
    """U7 cofactor priority: one hash aggregation (partial map-side),
    the resolution is array algebra inside the plan — no Python stage;
    the part scan reads only the three referenced columns."""
    df = QUERIES["u7_cofactor_priority"](spark, SF_ORACLE)
    p = plan(spark, df)
    assert p.count("Exchange (") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    # column pruning: p_partkey / p_name / p_retailprice never read
    assert "p_partkey" not in p and "p_retailprice" not in p


def test_a3_hll_above_dedup_not_per_fine_group(spark):
    """A3 approx tier: the HLL must aggregate the PRE-DEDUPLICATED
    (group, key) rows, never ride the distinct-rewrite's Expand — that
    form keeps a partial_approx_count_distinct buffer per (returnflag,
    orderkey) fine-grained group (~12 KB of registers EACH at rsd 0.01;
    measured 13.3 s vs 0.79 s at sf0.1, and the state scales with the
    key count at 100 TB). Pin: exactly one aggregation carries the
    approx function, its grouping is the flag alone, and the fine-
    grained (flag, key) aggregate below it carries NO aggregate
    functions (a pure dedup)."""
    df = QUERIES["a3_approx_count_distinct"](spark, SF_ORACLE)
    p = plan(spark, df)
    import re

    # every partial_approx_count_distinct node groups by the flag only
    for m in re.finditer(r"\((\d+)\) HashAggregate", p):
        node = p[m.start():p.find("\n\n", m.start())]
        if "partial_approx_count_distinct" in node:
            keys = re.search(r"Keys \[(\d+)\]", node)
            assert keys and keys.group(1) == "1", node
    assert "Expand" not in p  # no distinct-agg rewrite
    assert "partial_approx_count_distinct" in p
