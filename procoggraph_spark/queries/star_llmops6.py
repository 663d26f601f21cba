"""Round-6 third batch: corpus-quality governance and serving-eval
operators — Gopher structural rules, tokenizer fertility, CCNet
perplexity buckets, quality-banded curriculum ordering, data-constrained
epoch planning, hard-negative mining, kNN label propagation, Z-order
write-layout auditing, and ANN recall evaluation. All nine fully
oracle-backed (portable arithmetic throughout), registered directly
after star_llmops5 so they land inside the round-6 driver sample window
(pinned by tests/test_oracle_parity.py::test_driver_window_rotation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.operators import layout as L
from procoggraph_spark.operators import sampling as SP
from procoggraph_spark.operators import similarity as S
from procoggraph_spark.operators import text as X
from procoggraph_spark.queries.common import q, t

_STOP_LIST = "['the','a','an','of','and','or','to','in','is','it']"


# --- Gopher structural quality rules ---------------------------------------

_GOPHER_SQL = f"""
    -- strictly PER-ROW, like the Spark column algebra: one metric row
    -- per document OBSERVATION. The earlier LEFT JOIN back on doc_id
    -- fans out under replayed doc_ids (dirty-keys fuzz) — a bag of two
    -- observations must yield exactly two metric rows on both engines.
    -- NULL text carries no metrics (the `has` flag gates every metric
    -- NULL, matching Spark's NULL propagation); gopher_keep is FALSE.
    WITH w AS (
      SELECT doc_id, text IS NOT NULL AS has,
             list_filter(string_split_regex(trim(COALESCE(text, '')), '\\s+'), _t -> _t <> '') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id, has,
             len(ws) AS n_words,
             greatest(len(ws), 1) AS nn,
             -- list_prepend keeps the sum non-NULL for zero-token docs
             -- (Spark's aggregate over an empty array returns its 0
             -- seed)
             list_sum(list_prepend(CAST(0 AS BIGINT),
                 list_transform(ws, x -> CAST(length(x) AS BIGINT)))) AS tl,
             len(list_filter(ws, x -> regexp_full_match(x, '[a-zA-Z]+')))
                 AS na,
             len(list_filter(ws, x -> list_contains({_STOP_LIST}, x)))
                 AS nstop,
             len(ws) - len(list_distinct(ws)) AS ndup
      FROM w
    )
    SELECT doc_id,
           CASE WHEN has THEN CAST(n_words AS BIGINT) END AS n_words,
           CASE WHEN has THEN ROUND(tl * 1.0 / nn, 6) END AS mean_word_len,
           CASE WHEN has THEN ROUND(na * 1.0 / nn, 6) END AS frac_alpha_words,
           CASE WHEN has THEN CAST(nstop AS BIGINT) END AS n_stopwords,
           CASE WHEN has THEN ROUND(ndup * 1.0 / nn, 6) END AS dup_word_frac,
           COALESCE(has AND (n_words BETWEEN 10 AND 100000)
             AND (tl * 1.0 / nn >= 3.0) AND (tl * 1.0 / nn <= 10.0)
             AND (na * 1.0 / nn >= 0.8)
             AND (nstop >= 2)
             AND (ndup * 1.0 / nn <= 0.5), FALSE) AS gopher_keep
    FROM m
    """


@q("text_gopher_rules", _GOPHER_SQL)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style structural quality audit (word-count bounds, mean
    word length, alphabetic fraction, stopword hits, duplicate-word
    fraction) with the composed keep flag — the rule table next to the
    composite quality score. Scan-speed column algebra."""
    return X.gopher_quality_rules(
        t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


# --- Tokenizer fertility ----------------------------------------------------

_FERTILITY_SQL = """
    WITH d AS (
      SELECT lang, source,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
                 AS bpe,
             len(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS wst,
             length(text) AS ch
      FROM documents
    )
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(wst) AS BIGINT) AS n_ws_tokens,
           CAST(SUM(ch) AS BIGINT) AS n_chars,
           ROUND(SUM(bpe) * 1.0 / greatest(SUM(wst), 1), 6) AS fertility,
           ROUND(SUM(ch) * 1.0 / greatest(SUM(bpe), 1), 6)
               AS chars_per_bpe_token
    FROM d GROUP BY lang, source
    """


@q("text_tokenizer_fertility", _FERTILITY_SQL)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (lang, source): BPE-ish tokens per
    whitespace word and characters per token — the per-language
    tokenizer-efficiency dashboard. One tokenize per row, hash agg to
    slice grain."""
    return X.tokenizer_fertility(
        t(spark, sf_dir, "documents"),
        group_cols=("lang", "source"),
        text_col="text",
    )


# --- CCNet perplexity buckets ----------------------------------------------

_PPL_BUCKETS_SQL = """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS total FROM tok),
    lp AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             ROUND(AVG(-ln(cnt * 1.0 / total)), 6) AS avg_neg_logprob
      FROM tok JOIN tf USING (term) CROSS JOIN n
      GROUP BY doc_id
    ),
    j AS (SELECT lp.*, d.source FROM lp JOIN documents d USING (doc_id)),
    b AS (
      SELECT source, n_tokens, avg_neg_logprob,
             NTILE(3) OVER (PARTITION BY source
                            ORDER BY avg_neg_logprob, doc_id) AS bucket
      FROM j
    )
    SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           -- exact micro-unit mean (order-free long sum), matching the
           -- Spark face — a float AVG's summation order straddles the
           -- 1e-6 display grid between engines
           ROUND(SUM(CAST(ROUND(avg_neg_logprob * 1e6) AS BIGINT)) * 1.0
                 / (COUNT(*) * 1e6), 6) AS avg_score,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM b GROUP BY source, bucket
    """


@q("curation_perplexity_buckets", _PPL_BUCKETS_SQL)
def curation_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bands per source from the
    unigram-LM cross-entropy proxy: per-band doc counts, mean score, and
    token mass (see operators/text.perplexity_buckets for the 100 TB
    approx-quantile variant of the cut)."""
    return X.perplexity_buckets(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        source_col="source",
        n_buckets=3,
    )


# --- Quality-banded curriculum order ---------------------------------------

_CURRICULUM_SQL = """
    WITH s AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS ws,
             length(text) AS n,
             length(text) - length(regexp_replace(text,
                 '[!-/:-@\\[-`{-~]', '', 'g')) AS np
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CASE WHEN n >= 100 THEN 1.0 ELSE n / 100.0 END AS len_ok,
             1.0 - least(np * 1.0 / greatest(n, 1) * 5.0, 1.0) AS punct_ok,
             least(len(list_filter(ws, w -> list_contains(
                 ['the','a','an','of','and','or','to','in','is','it'], w)))
                 * 1.0 / greatest(len(ws), 1) * 5.0, 1.0) AS stop_ok,
             CASE WHEN (list_sum(list_transform(ws, w -> length(w)))
                        * 1.0 / greatest(len(ws), 1)) BETWEEN 3.0 AND 12.0
                  THEN 1.0 ELSE 0.5 END AS mtl_ok
      FROM s
    ),
    qd AS (
      SELECT doc_id,
             ROUND((len_ok + punct_ok + stop_ok + mtl_ok) / 4.0, 6) AS quality
      FROM m
    ),
    kd AS (
      SELECT doc_id,
             least(CAST(floor(quality * 5.0) AS BIGINT), 4) AS band,
             (doc_id % 2147483648) * 2654435761 % 4294967296 AS shuffle_key
      FROM qd
    )
    SELECT doc_id, band, shuffle_key, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
          ORDER BY band DESC, shuffle_key, doc_id) AS rank
      FROM kd
    ) WHERE rank <= 200
    """


@q("curation_curriculum_order", _CURRICULUM_SQL)
def curation_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-banded curriculum schedule: the first 200 training
    positions when the highest quality band is served first and order
    inside a band is the portable-hash shuffle — reproducible in any
    engine, cut via TakeOrderedAndProject (no global sort)."""
    return SP.curriculum_order(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        bands=5,
        k=200,
    )


# --- Data-constrained epoch planning ---------------------------------------

_EPOCH_PLAN_SQL = """
    WITH s AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (SELECT *, CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS weight FROM s),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w),
    p AS (
      SELECT source, n_tokens, weight,
             CAST(FLOOR(CAST(weight AS DOUBLE) / CAST(tw AS DOUBLE)
                        * 5000000.0) AS BIGINT) AS alloc
      FROM w, tot
    )
    SELECT source, n_tokens, weight, alloc AS alloc_tokens,
           ROUND(CAST(alloc AS DOUBLE)
                 / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 6)
               AS epochs_wanted,
           ROUND(CAST(least(alloc, 4 * n_tokens) AS DOUBLE)
                 / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 6)
               AS epochs_served,
           CAST(least(alloc, 4 * n_tokens) AS BIGINT) AS served_tokens,
           CAST(greatest(alloc - 4 * n_tokens, 0) AS BIGINT) AS excess_tokens
    FROM p
    """


@q("curation_epoch_plan", _EPOCH_PLAN_SQL)
def curation_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planning: sqrt-temperature allocations
    against a 5M-token budget, capped at 4 passes over each source's
    unique tokens — served/excess token accounting per source (the
    Muennighoff-style repeat budget table)."""
    return SP.epoch_repeat_plan(
        t(spark, sf_dir, "documents"),
        source_col="source",
        weight_col="n_chars",
        budget=5_000_000,
        max_epochs=4,
    )


# --- Hard-negative mining ---------------------------------------------------

_HARD_NEG_SQL = """
    WITH q AS (
      SELECT vec_id AS query_id, label AS query_label,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
        AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE
    ),
    c AS (
      SELECT vec_id AS neighbor_id, label AS neighbor_label,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
      WHERE COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE
    ),
    scored AS (
      SELECT q.query_id, q.query_label, c.neighbor_id, c.neighbor_label,
             ROUND(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(cv, cv))), 6) AS cosine_sim
      FROM q, c
      WHERE c.neighbor_id <> q.query_id
        AND c.neighbor_label <> q.query_label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label,
           cosine_sim, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id)
                AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@q("sim_hard_negatives", _HARD_NEG_SQL)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector
    the 5 most-similar corpus vectors with a DIFFERENT label — the
    filter-then-rank different-label variant of the exact searcher."""
    e = t(spark, sf_dir, "embeddings")
    return S.hard_negative_topk(
        e,
        e.filter(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        label_col="label",
        k=5,
    )


# --- kNN label propagation --------------------------------------------------

_KNN_VOTE_SQL = """
    WITH l AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 10 <> 0
        AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE
    ),
    u AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 10 = 0
        AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE
    ),
    -- key_unique twins (see operators/similarity.key_unique): the
    -- vote join and the per-query top-k window are id-keyed
    l1 AS (
      SELECT vec_id, label, v FROM (
        SELECT vec_id, label, v,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v, label) AS _rn
        FROM l
      ) WHERE _rn = 1
    ),
    u1 AS (
      SELECT vec_id, v FROM (
        SELECT vec_id, v,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v) AS _rn
        FROM u
      ) WHERE _rn = 1
    ),
    scored AS (
      SELECT u.vec_id AS query_id, l.vec_id AS neighbor_id, l.label,
             ROUND(list_dot_product(u.v, l.v) /
                   (sqrt(list_dot_product(u.v, u.v)) *
                    sqrt(list_dot_product(l.v, l.v))), 6) AS s
      FROM u1 u, l1 l WHERE l.vec_id <> u.vec_id
    ),
    nn AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, neighbor_id) AS r
        FROM scored
      ) WHERE r <= 5
    ),
    votes AS (
      SELECT query_id, label, COUNT(*) AS n_votes
      FROM nn GROUP BY query_id, label
    )
    SELECT query_id AS vec_id, label AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           ROUND(n_votes / 5.0, 6) AS vote_frac
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, label) AS r
      FROM votes
    ) WHERE r = 1
    """


@q("emb_knn_label_vote", _KNN_VOTE_SQL)
def emb_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation: every 10th vector plays unlabeled and
    receives the majority label of its 5 nearest labeled neighbors
    (ties toward the smaller label) — the semi-supervised auto-tagging
    pass over an embedding corpus. The query set is corpus-sized/10
    (hundreds), so the searcher is the Arrow-batched BLAS GEMM variant,
    ~10× the interpreted fold at this query count."""
    e = t(spark, sf_dir, "embeddings")
    return S.knn_label_vote(
        e.filter(F.col("vec_id") % 10 != 0),
        e.filter(F.col("vec_id") % 10 == 0),
        id_col="vec_id",
        vec_col="embedding",
        label_col="label",
        k=5,
        searcher=S.gemm_topk,
    )


# --- Z-order write-layout audit ---------------------------------------------


def _zorder_oracle_sql(*, bits: int = 8, bucket_shift: int = 8) -> str:
    """DuckDB twin of operators/layout.zorder_locality_stats: the Morton
    interleave is the same per-bit integer arithmetic, so the keys and
    bucket bounds replay exactly."""
    terms = []
    for i in range(bits):
        terms.append(f"((x // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((y // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    z = " + ".join(terms)
    return f"""
    WITH k AS (
      SELECT CAST(l_partkey % 256 AS BIGINT) AS x,
             CAST(l_suppkey % 256 AS BIGINT) AS y
      FROM lineitem
    ),
    b AS (SELECT (({z}) // {1 << bucket_shift}) AS bucket, x, y FROM k)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
           CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max,
           CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT)
               AS tile_area
    FROM b GROUP BY bucket
    """


@q("layout_zorder_stats", _zorder_oracle_sql())
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit over lineitem (part, supplier) keys: Morton
    buckets bound BOTH dimensions to ≤16×16 tiles of the 256×256 domain
    — the min-max-stats locality a z-ordered parquet write gives
    multi-column file skipping (see operators/layout.py for the write
    recipe)."""
    li = t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("zx"),
        (F.col("l_suppkey") % 256).alias("zy"),
    )
    return L.zorder_locality_stats(li, "zx", "zy", bits=8, bucket_shift=8)


# --- ANN recall evaluation --------------------------------------------------


def _recall_oracle_sql() -> str:
    from procoggraph_spark.queries.star_llmops import (
        _BRUTEFORCE_SQL,
        _lsh_oracle_sql,
    )

    return f"""
    WITH lsh AS ({_lsh_oracle_sql()}),
    bf AS ({_BRUTEFORCE_SQL}),
    hit AS (
      SELECT b.query_id, COUNT(*) AS n
      FROM bf b JOIN lsh l
        ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
      GROUP BY b.query_id
    ),
    tot AS (SELECT query_id, COUNT(*) AS n_exact FROM bf GROUP BY query_id)
    SELECT t.query_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n, 0) * 1.0 / t.n_exact, 6) AS recall
    FROM tot t LEFT JOIN hit h USING (query_id)
    """


@q("sim_recall_eval", _recall_oracle_sql())
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN rollout gate: per-query recall@10 of the LSH searcher against
    the exact brute-force ground truth on the same 5-query sample — the
    eval harness as an operator (operators/similarity.recall_at_k)."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    approx = S.lsh_topk(
        e, queries, id_col="vec_id", vec_col="embedding", dim=64,
        n_planes=4, n_tables=8, k=10,
    )
    exact = S.brute_force_topk(
        e, queries, id_col="vec_id", vec_col="embedding", k=10
    )
    return S.recall_at_k(approx, exact)
