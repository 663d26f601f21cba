"""Driver-facing query registry.

Each module contributes ``QUERIES`` (name -> callable(spark, sf_dir) ->
DataFrame) and ``ORACLES`` (name -> equivalent DuckDB SQL). The registry
union is what ``__spark_entry__.queries()`` / ``oracle_sql()`` expose.
Names are prefixed with the SURVEY §2 operator-family id they exercise.
"""

from __future__ import annotations

# The driver window: the first 50 registry keys (registry() rejects stale names).
_PROMOTE = (
    # --- 6 rows re-staled by round-11's own oracle edits ---
    "dedup_embedding_cosine",
    "emb_knn_label_vote",
    "emb_outlier_zscore",
    "sim_filtered_topk",
    "sim_matryoshka_topk",
    "j_ref_integrity_check",
    # --- the 9 r07 leftovers deferred from the r11 window ---
    "rag_index_pipeline",
    "scd2_customer_segment",
    "scd2_two_batch_history",
    "serve_length_buckets",
    "serve_prefix_sharing",
    "sketch_quantile_bins",
    "text_langid_confusion",
    "text_oov_rate",
    "u7_cofactor_priority",
    # --- r08 batch fill, alphabetical (10 named rows defer to r13) ---
    "a11_cube_combinations",
    "a11_grouping_sets",
    "a11_rollup_hierarchy",
    "a2_group_by_rest_nulls",
    "a5_quantile",
    "a8_inscode_sort",
    "a_histogram_fixed_width",
    "a_stat_moments",
    "chain_ec_rollup",
    "f16_sentinel_cast_sum",
    "f8_sequence_explode",
    "f9_selector_strings",
    "f_string_kitchen",
    "graph_bfs_distances",
    "graph_pagerank",
    "graph_triangle_count",
    "hier_topology_walk",
    "j_full_outer_reconcile",
    "mm_feature_neardup",
    "p7_conditional_overwrite",
    "p8_column_swap",
    "q10_semi_join_rollup",
    "q11_hierarchy_walk",
    "q12_array_membership",
    "q13_compare_groups",
    "q14_topk_by_count",
    "q15_subgraph_export",
    "q16_json_payload",
    "q1_global_summary_counts",
    "q2_unambiguous_counts",
    "q3_substring_search",
    "q6_all_mode",
    "q6_any_mode",
    "q6_best_mode",
    "q7_rollup_by_p_brand",
)


def registry():
    from procoggraph_spark.queries import (
        star_graph,
        star_llmops,
        star_llmops2,
        star_llmops3,
        star_llmops4,
        star_llmops5,
        star_llmops6,
        star_llmops7,
        star_llmops8,
        star_llmops9,
        star_multimodal,
        star_relational,
        star_relational2,
        star_streaming,
        star_temporal,
    )

    queries: dict = {}
    oracles: dict = {}
    # _PROMOTE alone fixes the driver window; module order orders the rest.
    for mod in (
        star_llmops2,
        star_llmops3,
        star_llmops4,
        star_llmops5,
        star_llmops6,
        star_llmops7,
        star_llmops8,
        star_llmops9,
        star_relational,
        star_multimodal,
        star_streaming,
        star_temporal,
        star_relational2,
        star_graph,
        star_llmops,
    ):
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)

    missing = [n for n in _PROMOTE if n not in queries]
    if missing:
        raise KeyError(
            f"stale _PROMOTE entries (renamed/removed queries?): {missing}"
        )

    # Table-level event-time contract, oracle side: every oracle that
    # reads the `events` view gets the band-gated shadow CTE, mirroring
    # the valid_ts gate t() applies at the Spark-side load (see
    # queries.common). Applied here — at the one point all oracles pass
    # through — so a new events oracle can't forget the gate.
    import re

    from procoggraph_spark.queries import common

    oracles = {
        n: (
            common.gate_events_oracle(sql)
            if re.search(r"\bevents\b", sql)
            else sql
        )
        for n, sql in oracles.items()
    }
    # Same pattern for the embeddings table: the dimension-coherence
    # gate (valid_dim on the Spark load) gets its SQL twin spliced into
    # every oracle that reads the view, so a ragged vector degrades to
    # NULL identically on both engines (ragged-vectors fuzz leg).
    oracles = {
        n: (
            common.gate_embeddings_oracle(sql)
            if re.search(r"\bembeddings\b", sql)
            else sql
        )
        for n, sql in oracles.items()
    }
    ordered = {n: _plan_cached(n, queries[n]) for n in _PROMOTE}
    ordered.update(
        (n, _plan_cached(n, fn)) for n, fn in queries.items()
        if n not in ordered
    )
    return ordered, oracles


# Resident-engine plan cache: serve repeated calls from one built
# DataFrame (a prepared plan), keyed on session, data dir, query name and
# the dir's mtime signature so a data refresh rebuilds. A frame whose
# plan holds a pending (lazy, not yet run) checkpoint is rebuilt on every
# call, so each run recomputes its intermediates instead of reading the
# previous run's blocks; the memo keeps _FRESH under its key.
_PLAN_MEMO: dict = {}
_FRESH = object()


def _dir_signature(sf_dir):
    import os

    try:
        with os.scandir(sf_dir) as it:
            return tuple(sorted(
                (e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in it
            ))
    except OSError:
        return None  # unknown path: still cacheable, keyed as-is


def _plan_cached(name, fn):
    import functools

    from procoggraph_spark.session import has_pending_checkpoint

    @functools.wraps(fn)
    def run(spark, sf_dir):
        key = (id(spark), sf_dir, name, _dir_signature(sf_dir))
        df = _PLAN_MEMO.get(key)
        if df is _FRESH:
            return fn(spark, sf_dir)
        if df is None:
            df = fn(spark, sf_dir)
            _PLAN_MEMO[key] = _FRESH if has_pending_checkpoint(df) else df
        return df

    return run
