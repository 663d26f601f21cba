"""Round-6 second batch: curation / serving operators a training-data
pipeline runs after dedup — temperature source mixing, deterministic
weighted sampling, int8 embedding quantization, filtered + Matryoshka
vector search, and the crawl-novelty curve. All six fully oracle-backed
(portable arithmetic throughout), registered directly after star_llmops4
so they land inside the round-6 driver sample window (pinned by
tests/test_oracle_parity.py::test_driver_window_rotation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.operators import dedup as D
from procoggraph_spark.operators import sampling as SP
from procoggraph_spark.operators import similarity as S
from procoggraph_spark.queries.common import q, t

# --- Temperature-scaled source mixing --------------------------------------

_TEMP_MIX_SQL = """
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS weight FROM s
    ),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w)
    SELECT source, n_docs, n_tokens, weight,
           ROUND(CAST(weight AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS temp_share,
           CAST(FLOOR(CAST(weight AS DOUBLE) / CAST(tw AS DOUBLE)
                      * 1000000.0) AS BIGINT) AS alloc_tokens,
           ROUND(FLOOR(CAST(weight AS DOUBLE) / CAST(tw AS DOUBLE)
                       * 1000000.0)
                 / CAST(n_tokens AS DOUBLE), 6) AS upsample_factor
    FROM w, tot
    """


@q("mix_temperature_sources", _TEMP_MIX_SQL)
def mix_temperature_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (τ=0.5) source rebalancing: per-source token budgets
    ∝ sqrt(token mass) against a 1M-token target — the multilingual /
    multi-domain upsampling curve. Integer temperature weights
    (floor∘sqrt) make the share denominators exact across engines."""
    return SP.temperature_mix(
        t(spark, sf_dir, "documents"),
        source_col="source",
        weight_col="n_chars",
        budget=1_000_000,
    )


# --- Weighted sampling without replacement ---------------------------------

_WEIGHTED_PRIORITY_SQL = """
    WITH p AS (
      SELECT doc_id, source, n_chars,
             ROUND(ln((CAST((doc_id % 2147483648) * 2654435761
                             % 4294967296 AS DOUBLE) + 1.0)
                      / 4294967298.0)
                   / greatest(CAST(n_chars AS DOUBLE), 1.0), 6) AS priority
      FROM documents
    )
    SELECT doc_id, source, n_chars, priority, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rank
      FROM p
    ) WHERE rank <= 100
    """


@q("sample_weighted_priority", _WEIGHTED_PRIORITY_SQL)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirtakis weighted sampling without replacement: the
    100 highest ln(u)/w priorities, u from the portable multiplicative
    hash of the doc id, w = n_chars — a length-proportional sample that
    is rerun-, partitioning-, and engine-stable, cut via per-partition
    top-k heaps (no global sort)."""
    return SP.weighted_priority_sample(
        t(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        ),
        id_col="doc_id",
        weight_col="n_chars",
        k=100,
    )


# --- Int8 embedding quantization audit -------------------------------------

_INT8_QUANT_SQL = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    a AS (
      SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS amax
      FROM e
    ),
    qq AS (
      SELECT vec_id, v,
             list_transform(v, x -> round(x * 127.0 / amax)) AS q,
             -- audit contract, non-finite leg: no int8 code exists for
             -- a NaN/Inf component (the BIGINT cast would overflow) —
             -- the row stays with NULL stats (Spark gates identically)
             COALESCE(list_sum(list_transform(v, x -> x * x)), 0)
               < 'inf'::DOUBLE AS is_finite
      FROM a
    )
    SELECT vec_id,
           CASE WHEN is_finite THEN
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
           END AS q_norm2,
           CASE WHEN is_finite THEN
             CAST(list_sum(list_transform(q,
                  x -> CASE WHEN abs(x) >= 127.0 THEN 1 ELSE 0 END))
                  AS BIGINT)
           END AS n_saturated,
           -- generate_series folds, NOT list_dot_product: the latter
           -- raises on a NULL list even under CASE (vectorized branch
           -- evaluation does not short-circuit); these yield NULL for
           -- NULL v, and a zero-norm vector divides 0/0 -> NULL (same
           -- as the Spark side's explicit guard)
           CASE WHEN is_finite THEN
             ROUND(list_sum(list_transform(generate_series(1, len(v)),
                       i -> v[i] * q[i])) /
                   (sqrt(list_sum(list_transform(generate_series(1, len(v)),
                       i -> v[i] * v[i]))) *
                    sqrt(list_sum(list_transform(generate_series(1, len(q)),
                       i -> q[i] * q[i])))), 6)
           END AS recon_cos
    FROM qq
    """


@q("emb_int8_quantize", _INT8_QUANT_SQL)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit over the embedding corpus (the
    4×-vs-float32 storage format): exact integer code norms, saturation
    counts, and the raw↔code reconstruction cosine per vector — pure
    column algebra, scan-speed, no shuffle."""
    return S.int8_quantize_stats(
        t(spark, sf_dir, "embeddings"), id_col="vec_id", vec_col="embedding"
    )


# --- Filtered vector search ------------------------------------------------

_FILTERED_ANN_SQL = """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE label = 2),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(cv, cv))), 6) AS cosine_sim
      FROM q, c WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@q("sim_filtered_topk", _FILTERED_ANN_SQL)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the RAG-with-metadata-predicate shape):
    exact cosine top-10 restricted to candidates with label = 2. The
    predicate prunes BEFORE the similarity join — at scale the filter
    pushes into the parquet scan, so the pair blow-up only ever sees the
    qualifying slice (filter-then-search, never search-then-filter)."""
    e = t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(
        e.filter(F.col("label") == 2),
        e.filter(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
    )


# --- Matryoshka (truncated-dimension) search -------------------------------

_MATRYOSHKA_SQL = """
    WITH sliced AS (
      SELECT vec_id,
             list_slice(CAST(embedding AS DOUBLE[]), 1, 16) AS v
      FROM embeddings
    ),
    e AS (
      -- searchable() boundary on the SLICED vector (the Spark side
      -- slices first, then brute_force_topk filters): a NaN/Inf or
      -- zero-norm prefix is unsearchable at this resolution
      SELECT vec_id, v FROM sliced
      WHERE v IS NOT NULL
        AND COALESCE(list_sum(list_transform(v, x -> x * x)), 0) > 0
        AND COALESCE(list_sum(list_transform(v, x -> x * x)), 0)
              < 'inf'::DOUBLE
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(v, v))), 6) AS cosine_sim
      FROM q, e WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@q("sim_matryoshka_topk", _MATRYOSHKA_SQL)
def sim_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated search: cosine top-10 over only the
    FIRST 16 of 64 dimensions — the cheap first pass of a
    coarse-to-fine serving stack (4× less data scanned per distance).
    On MRL-trained embeddings the truncated order approximates the
    full-dimension order (pinned on a constructed front-loaded corpus in
    tests/test_llmops4.py); this corpus spreads signal across all dims,
    so here the oracle verifies the slice+search arithmetic itself."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice(F.col("embedding"), 1, 16).alias("embedding")
    )
    return S.brute_force_topk(
        e,
        e.filter(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=10,
    )


# --- Crawl novelty curve ---------------------------------------------------

_CRAWL_NOVELTY_SQL = """
    WITH d AS (
      SELECT CAST(doc_id // 50 AS BIGINT) AS cycle,
             COALESCE(md5(text), '__NULL_TEXT__') AS k
      FROM documents
    ),
    pc AS (SELECT cycle, COUNT(*) AS n_docs FROM d GROUP BY cycle),
    f AS (SELECT k, MIN(cycle) AS cycle FROM d GROUP BY k),
    nw AS (SELECT cycle, COUNT(*) AS n_new_keys FROM f GROUP BY cycle)
    SELECT pc.cycle, pc.n_docs,
           CAST(COALESCE(nw.n_new_keys, 0) AS BIGINT) AS n_new_keys,
           ROUND(CAST(COALESCE(nw.n_new_keys, 0) AS DOUBLE)
                 / CAST(pc.n_docs AS DOUBLE), 6) AS novelty_rate
    FROM pc LEFT JOIN nw ON pc.cycle = nw.cycle
    """


@q("dedup_crawl_novelty", _CRAWL_NOVELTY_SQL)
def dedup_crawl_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty curve over id-ordered crawl cycles of 50 documents: per
    cycle, the count and share of content keys never seen in any earlier
    cycle — the stop-recrawling signal for continual ingestion. Two
    bounded hash aggs (cycle grain, key grain) + one cycle-grain join."""
    return D.crawl_novelty(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        cycle_size=50,
    )


# --- DSIR importance weighting ---------------------------------------------

_DSIR_SQL = """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS term
      FROM documents
    ),
    tok_t AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS term
      FROM documents WHERE source = 'src0'
    ),
    tf_r AS (SELECT term, COUNT(*) AS c_raw FROM tok GROUP BY term),
    tf_t AS (SELECT term, COUNT(*) AS c_tgt FROM tok_t GROUP BY term),
    tot AS (
      SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
             CAST(SUM(COALESCE(c_tgt, 0)) AS BIGINT) AS n_tgt,
             COUNT(*) AS vocab
      FROM tf_r LEFT JOIN tf_t USING (term)
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           -- + 0.0 canonicalizes the zero's sign, same as the Spark
           -- face (a cancelling doc averages to ±epsilon by summation
           -- order; ROUND then emits -0.0 vs +0.0 across engines)
           ROUND(AVG(
             ln((COALESCE(c_tgt, 0) + 1) * 1.0 / (n_tgt + vocab))
             - ln((c_raw + 1) * 1.0 / (n_raw + vocab))
           ), 6) + 0.0 AS avg_log_ratio
    FROM tok
    JOIN tf_r USING (term)
    LEFT JOIN tf_t USING (term)
    CROSS JOIN tot
    GROUP BY doc_id
    """


@q("curation_dsir_selection", _DSIR_SQL)
def curation_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection signal: every document scored by
    avg[ln p_src0(w) - ln p_corpus(w)] — how target-domain-like (source
    src0 as the stand-in quality domain) its unigram stream is versus
    the raw corpus, with add-one smoothing. Two vocabulary-keyed
    aggregations + term joins; the three scalar totals broadcast."""
    from procoggraph_spark.operators.text import dsir_logratio

    d = t(spark, sf_dir, "documents")
    return dsir_logratio(
        d, d.filter(F.col("source") == "src0"),
        id_col="doc_id", text_col="text",
    )


# --- Character-level substring dedup ---------------------------------------

_SUBSTRING_PAIRS_SQL = """
    WITH g AS (
      SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 40) AS gr
      FROM documents,
           LATERAL unnest(generate_series(1, length(text) - 39)) AS u(i)
      WHERE length(text) >= 40
    ),
    ok AS (SELECT gr FROM g GROUP BY gr HAVING COUNT(*) <= 20),
    gg AS (SELECT doc_id, g.gr FROM g JOIN ok USING (gr))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM gg a JOIN gg b ON a.gr = b.gr AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


@q("dedup_substring_pairs", _SUBSTRING_PAIRS_SQL)
def dedup_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level substring dedup: candidate pairs sharing any
    40-char substring (copied-passage detection word shingles dilute in
    long documents), with per-doc-distinct grams, a ≤20-doc-frequency
    hot-gram guard, and a gram-keyed equi-join — never all-pairs."""
    from procoggraph_spark.operators.dedup import substring_ngram_pairs

    return substring_ngram_pairs(
        t(spark, sf_dir, "documents"),
        id_col="doc_id", text_col="text", k=40, max_df=20,
    )
