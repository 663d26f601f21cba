"""Round-6 fourth batch: pipeline-hardening operators — normalized
content dedup, vocabulary-coverage (OOV) audit, join-key skew
diagnostics, the salted skew-safe join, SCD type-2 dimension
maintenance, and the RAG chunk-index serving capstone. All six fully
oracle-backed (portable arithmetic throughout). Registered after
star_llmops6 — PAST the round-6 driver window by design (the window is
full at 50); these rotate into external sampling on round 7, and are
pre-verified vs DuckDB at sf0.001 + sf0.01 like every past-window batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from procoggraph_spark.operators import dedup as D
from procoggraph_spark.operators import skew as K
from procoggraph_spark.operators import similarity as S
from procoggraph_spark.operators import temporal as TP
from procoggraph_spark.operators import text as X
from procoggraph_spark.queries.common import q, t

# --- Normalized content dedup ----------------------------------------------

# translate, not lower(): the content key's case fold is ASCII-only by
# contract — engine lower() diverges on İ/ß/Σ/ligatures (Java full
# mapping vs utf8proc 1:1; see operators.text.normalize_text)
_NORM_DEDUP_SQL = """
    WITH n AS (
      SELECT doc_id,
             md5(trim(regexp_replace(
                 translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                 'abcdefghijklmnopqrstuvwxyz'),
                 '[^a-z0-9]+', ' ', 'g')))
                 AS content_key
      FROM documents
    )
    SELECT content_key, MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM n GROUP BY content_key
    """


@q("dedup_normalized_exact", _NORM_DEDUP_SQL)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER canonical normalization (lowercase, strip
    punctuation, collapse whitespace): catches the case/punct-variant
    copies raw-byte dedup misses. Keyed on md5 of the normalized text
    (fixed 32-byte shuffle key instead of the full document — the right
    key size at 100 TB); same hash-groupBy single-shuffle shape as
    dedup_exact."""
    d = t(spark, sf_dir, "documents").withColumn(
        "content_key", F.md5(X.normalize_text(F.col("text")))
    )
    return D.exact_dedup(d, key_cols=["content_key"], id_col="doc_id")


# --- Vocabulary coverage / OOV audit ---------------------------------------

_OOV_SQL = """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
    vocab AS (
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS r
        FROM tf
      ) WHERE r <= 100
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS oov_rate
    FROM tok LEFT JOIN vocab USING (term)
    GROUP BY doc_id
    """


@q("text_oov_rate", _OOV_SQL)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: per-document OOV rate against the
    corpus's top-100 term vocabulary (frequency-ranked, lexicographic
    tiebreak) — the tokenizer/vocab rollout gate. Vocab cut is
    TakeOrderedAndProject + broadcast probe (see operators/text.oov_rate)."""
    return X.oov_rate(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        vocab_size=100,
    )


# --- Join-key skew diagnostics ---------------------------------------------

_SKEW_AUDIT_SQL = """
    WITH k AS (
      SELECT CASE WHEN l_partkey % 4 = 0 THEN 1
                  ELSE l_suppkey END AS join_key
      FROM lineitem
    ),
    c AS (SELECT join_key, COUNT(*) AS n_rows FROM k GROUP BY join_key),
    s AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_keys FROM c)
    SELECT join_key, n_rows, row_share, skew_ratio, rank FROM (
      SELECT c.join_key, CAST(c.n_rows AS BIGINT) AS n_rows,
             ROUND(c.n_rows * 1.0 / s.total, 6) AS row_share,
             ROUND(c.n_rows * s.n_keys * 1.0 / s.total, 6) AS skew_ratio,
             ROW_NUMBER() OVER (ORDER BY c.n_rows DESC, c.join_key) AS rank
      FROM c, s
    ) WHERE rank <= 10
    """


@q("diag_key_skew", _SKEW_AUDIT_SQL)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report on a synthetically hot-keyed lineitem (a
    quarter of the rows collapse onto supplier 1): top-10 keys with row
    share and skew ratio vs the uniform mean — the pre-join audit that
    decides salting factors (see operators/skew.key_skew_audit)."""
    li = t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_partkey") % 4 == 0, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("join_key")
    )
    return K.key_skew_audit(li, "join_key", top_k=10)


# --- Salted skew-safe join --------------------------------------------------

_SALTED_JOIN_SQL = """
    WITH f AS (
      SELECT CASE WHEN l_partkey % 4 = 0 THEN 1
                  ELSE l_suppkey END AS join_key,
             l_quantity
      FROM lineitem
    )
    SELECT s.s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST((CASE WHEN f.l_quantity >= -9.0e15 AND f.l_quantity <= 9.0e15 THEN f.l_quantity END) AS DECIMAL(18,2))) AS DOUBLE)
               AS total_qty
    FROM f JOIN supplier s ON f.join_key = s.s_suppkey
    GROUP BY s.s_nationkey
    """


@q("j_salted_skew_join", _SALTED_JOIN_SQL)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join: the hot-keyed lineitem joins supplier with
    the dimension side replicated over 8 salts and the fact side salted
    from the portable hash of l_orderkey — the hot key's rows spread
    over 8 reducers, and the per-nation rollup is value-identical to
    the plain join (the oracle IS the plain join). The broadcast hint
    is deliberately absent: this is the pattern for dims too big to
    broadcast."""
    li = t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_partkey") % 4 == 0, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("join_key"),
        "l_orderkey",
        "l_quantity",
    )
    sup = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("join_key"), "s_nationkey"
    )
    from procoggraph_spark.queries.common import dsum2

    joined = K.salted_join(
        li, sup, key_col="join_key", salt_from="l_orderkey", salts=8
    )
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        dsum2(F.col("l_quantity")).alias("total_qty"),
    )


# --- SCD type-2 dimension maintenance --------------------------------------

_SCD2_SQL = """
    WITH b AS (SELECT c_custkey, c_mktsegment FROM customer),
    u AS (
      SELECT c_custkey, c_mktsegment || '-V2' AS c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 'SEG-NEW' FROM customer
      WHERE c_custkey % 10 = 5
    ),
    ch AS (
      SELECT b.c_custkey, b.c_mktsegment AS old_seg,
             u.c_mktsegment AS new_seg
      FROM b JOIN u USING (c_custkey)
      WHERE b.c_mktsegment IS DISTINCT FROM u.c_mktsegment
    )
    SELECT b.c_custkey, b.c_mktsegment, 1 AS version, TRUE AS is_current
    FROM b ANTI JOIN ch USING (c_custkey)
    UNION ALL
    SELECT c_custkey, old_seg, 1, FALSE FROM ch
    UNION ALL
    SELECT c_custkey, new_seg, 2, TRUE FROM ch
    UNION ALL
    SELECT u.c_custkey, u.c_mktsegment, 1, TRUE
    FROM u ANTI JOIN b USING (c_custkey)
    """


@q("scd2_customer_segment", _SCD2_SQL)
def scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge of a CDC delta into the customer dimension:
    every 10th customer changes market segment (old row closed at
    version 1, new row opened at version 2) and a synthetic set of new
    customers inserts — the versioned-history maintenance every
    warehouse dimension needs. Single full-outer join + struct-array
    inline, no double scan (see operators/temporal.scd2_merge)."""
    c = t(spark, sf_dir, "customer")
    base = c.select("c_custkey", "c_mktsegment")
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", F.concat(F.col("c_mktsegment"), F.lit("-V2")).alias(
            "c_mktsegment"
        )
    ).unionByName(
        c.filter(F.col("c_custkey") % 10 == 5).select(
            (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
            F.lit("SEG-NEW").alias("c_mktsegment"),
        )
    )
    return TP.scd2_merge(
        base, updates, key_col="c_custkey", attr_col="c_mktsegment"
    )


# --- RAG chunk-index serving capstone --------------------------------------


def _pseudo_emb_sql(var: str, *, dim: int = 8) -> str:
    """DuckDB list literal replaying operators/similarity.pseudo_embedding
    over an integer fingerprint expression ``var``."""
    comps = []
    for j in range(dim):
        comps.append(
            f"((({var} % 2147483648) * {2 * j + 1} % 2147483648)"
            f" * 2654435761 % 4294967296) / 4294967296.0 - 0.5"
        )
    return "[" + ", ".join(comps) + "]"


def _rag_oracle_sql() -> str:
    rh = """list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, least(length(chunk_text), 64)),
                              i -> CAST(ascii(substr(chunk_text, i, 1)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 2147483647)"""
    return f"""
    WITH ch AS (
      SELECT doc_id, s AS chunk_start,
             substr(text, CAST(s + 1 AS INT), 200) AS chunk_text
      FROM documents,
           LATERAL unnest(generate_series(0, length(text) - 1, 160)) AS u(s)
      WHERE s = 0 OR s + 40 < length(text)
    ),
    emb AS (
      SELECT doc_id, chunk_start,
             {_pseudo_emb_sql(rh)} AS v
      FROM ch
    ),
    qs AS (SELECT doc_id AS query_doc, chunk_start AS query_start, v AS qv
           FROM emb WHERE doc_id < 3),
    scored AS (
      SELECT q.query_doc, q.query_start,
             e.doc_id AS neighbor_doc, e.chunk_start AS neighbor_start,
             ROUND(list_dot_product(qv, e.v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
      FROM qs q, emb e WHERE e.doc_id <> q.query_doc
    )
    SELECT query_doc, query_start, neighbor_doc, neighbor_start,
           cosine_sim, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_doc, query_start
          ORDER BY cosine_sim DESC, neighbor_doc, neighbor_start) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


@q("rag_index_pipeline", _rag_oracle_sql())
def rag_index_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG indexing + retrieval capstone, one Catalyst plan end-to-end:
    chunk every document (200/40 overlap, sequence+explode generator),
    fingerprint each chunk (Rabin-Karp fold), derive a deterministic
    8-dim pseudo-embedding (the portable stand-in for the encoder —
    same array<double> contract), and serve cross-document top-3
    retrieval for the chunks of the first 3 documents. The retrieval
    here is the exact primitive over a broadcast query set; at corpus
    scale the LSH/IVF searchers (same embedding column) are the serving
    path. No Python anywhere — the whole pipeline is column algebra."""
    d = t(spark, sf_dir, "documents")
    chunks = X.chunk_documents(
        d, id_col="doc_id", text_col="text", chunk_size=200, overlap=40
    )
    emb = chunks.select(
        "doc_id",
        "chunk_start",
        S.pseudo_embedding(
            X.rolling_hash_fingerprint(F.col("chunk_text")), dim=8
        ).alias("v"),
    )
    qs = F.broadcast(
        emb.filter(F.col("doc_id") < 3).select(
            F.col("doc_id").alias("query_doc"),
            F.col("chunk_start").alias("query_start"),
            F.col("v").alias("qv"),
        )
    )
    scored = (
        emb.join(qs, emb["doc_id"] != qs["query_doc"])
        .select(
            "query_doc",
            "query_start",
            F.col("doc_id").alias("neighbor_doc"),
            F.col("chunk_start").alias("neighbor_start"),
            F.round(
                S.dot(F.col("qv"), F.col("v"))
                / (S.l2_norm(F.col("qv")) * S.l2_norm(F.col("v"))),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_doc", "query_start").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_doc"), F.asc("neighbor_start")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 3
    )


# --- Iterated SCD2 (two CDC batches -> multi-version history) ---------------

_SCD2_TWO_BATCH_SQL = """
    WITH b AS (SELECT c_custkey, c_mktsegment FROM customer)
    SELECT c_custkey, c_mktsegment, 1 AS version,
           (c_custkey % 10 <> 0) AS is_current
    FROM b
    UNION ALL
    SELECT c_custkey, c_mktsegment || '-V2', 2, (c_custkey % 20 <> 0)
    FROM b WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_mktsegment || '-V3', 3, TRUE
    FROM b WHERE c_custkey % 20 = 0
    UNION ALL
    SELECT c_custkey + 10000000, 'SEG-NEW', 1, TRUE
    FROM b WHERE c_custkey % 10 = 5
    """


@q("scd2_two_batch_history", _SCD2_TWO_BATCH_SQL)
def scd2_two_batch_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated SCD2: bootstrap the customer dimension, apply two CDC
    deltas in sequence (every 10th key changes segment in batch 1 +
    new keys insert; every 20th changes again in batch 2) — keys hit
    twice carry a 3-version history. This is the batch twin of
    ``streaming.windows.streaming_scd2`` (each micro-batch is one
    ``scd2_apply``; equality pytest in tests/test_streaming.py)."""
    c = t(spark, sf_dir, "customer")
    base = c.select("c_custkey", "c_mktsegment")
    hist = TP.scd2_from_snapshot(
        base, key_col="c_custkey", attr_col="c_mktsegment"
    )
    d1 = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("-V2")).alias("c_mktsegment"),
    ).unionByName(
        c.filter(F.col("c_custkey") % 10 == 5).select(
            (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
            F.lit("SEG-NEW").alias("c_mktsegment"),
        )
    )
    hist = TP.scd2_apply(
        hist, d1, key_col="c_custkey", attr_col="c_mktsegment"
    )
    d2 = c.filter(F.col("c_custkey") % 20 == 0).select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("-V3")).alias("c_mktsegment"),
    )
    return TP.scd2_apply(
        hist, d2, key_col="c_custkey", attr_col="c_mktsegment"
    )


# --- Corpus data card (per-source gate attribution) -------------------------

_DATA_CARD_SQL = """
    -- strictly PER-ROW chained CTEs, like the Spark single-pass column
    -- algebra: the earlier formulation joined four doc_id-keyed CTEs
    -- back together, which fans out under replayed doc_ids (dirty-keys
    -- fuzz: one duplicated id inflated its source's n_docs 4-fold).
    WITH s AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS ws,
             length(text) AS n,
             length(text) - length(regexp_replace(text,
                 '[!-/:-@\\[-`{-~]', '', 'g')) AS np
      FROM documents
    ),
    l AS (
      SELECT *,
        len(list_filter(ws, w -> list_contains(['der','die','das','und','nicht','ist'], w))) AS s_de,
        len(list_filter(ws, w -> list_contains(['the','a','of','and','to','is'], w))) AS s_en,
        len(list_filter(ws, w -> list_contains(['el','la','los','de','que','es'], w))) AS s_es,
        len(list_filter(ws, w -> list_contains(['le','la','les','et','est','que'], w))) AS s_fr,
        len(list_filter(ws, w -> list_contains(['de','le','shi','bu','wo','zai'], w))) AS s_zh
      FROM s
    ),
    lang AS (
      SELECT *,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
             WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
             WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
             WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
             WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
             ELSE 'zh' END AS pred_lang
      FROM l
    ),
    qual AS (
      SELECT *,
             ROUND((
               (CASE WHEN n >= 100 THEN 1.0 ELSE n / 100.0 END)
               + (1.0 - least(np * 1.0 / greatest(n, 1) * 5.0, 1.0))
               + least(len(list_filter(ws, w -> list_contains(
                     ['the','a','an','of','and','or','to','in','is','it'], w)))
                     * 1.0 / greatest(len(ws), 1) * 5.0, 1.0)
               + (CASE WHEN (list_sum(list_transform(ws, w -> length(w)))
                             * 1.0 / greatest(len(ws), 1))
                            BETWEEN 3.0 AND 12.0
                       THEN 1.0 ELSE 0.5 END)
             ) / 4.0, 6) AS quality
      FROM lang
    ),
    rep AS (
      SELECT *,
             CASE WHEN len(grams) <= 0 THEN 0.0
                  ELSE ROUND((len(grams) - len(list_distinct(grams))) * 1.0
                             / len(grams), 6) END AS rep_ratio
      FROM (
        SELECT *,
               list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                              i -> ws[i] || ' ' || ws[i+1]) AS grams
        FROM qual
      )
    ),
    d AS (
      SELECT source,
             CASE WHEN pred_lang <> 'en' THEN 'drop_lang'
                  WHEN quality < 0.5 THEN 'drop_quality'
                  WHEN rep_ratio > 0.2 THEN 'drop_repetition'
                  ELSE 'kept' END AS dec
      FROM rep
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dec = 'drop_lang' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_drop_lang,
           CAST(SUM(CASE WHEN dec = 'drop_quality' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_drop_quality,
           CAST(SUM(CASE WHEN dec = 'drop_repetition' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_drop_repetition,
           CAST(SUM(CASE WHEN dec = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           ROUND(SUM(CASE WHEN dec = 'kept' THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS kept_rate
    FROM d GROUP BY source
    """


@q("curation_data_card", _DATA_CARD_SQL)
def curation_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published-dataset data card: per source, documents dropped by
    each curation gate (first-failing attribution in pipeline order:
    language → quality → repetition) and the kept rate — counts sum
    exactly to n_docs per source. One scan, one agg (see
    operators/text.curation_data_card)."""
    return X.curation_data_card(
        t(spark, sf_dir, "documents"),
        source_col="source",
        text_col="text",
        langs=("en",),
        min_quality=0.5,
        max_repetition=0.2,
    )


# --- Feature engineering: target encoding + robust scaling ------------------

_TARGET_ENCODE_SQL = """
    WITH g AS (
      SELECT CAST(SUM(CAST((CASE WHEN o_totalprice >= -9.0e15 AND o_totalprice <= 9.0e15 THEN o_totalprice END) AS DECIMAL(18,2))) AS DOUBLE) AS gs,
             COUNT(*) AS gn
      FROM orders
    ),
    c AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST((CASE WHEN o_totalprice >= -9.0e15 AND o_totalprice <= 9.0e15 THEN o_totalprice END) AS DECIMAL(18,2))) AS DOUBLE) AS s
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n_o_orderpriority,
           ROUND(s / n, 6) AS cat_mean,
           ROUND((s + 10.0 * (gs / gn)) / (n + 10.0), 6) AS encoded
    FROM c, g
    """


@q("feat_target_encode", _TARGET_ENCODE_SQL)
def feat_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-estimate target encoding of order priority against total price
    (exact long-cents sums, broadcast global mean) — the
    high-cardinality categorical encoder for model-ready tables."""
    from procoggraph_spark.operators.features import target_encode

    return target_encode(
        t(spark, sf_dir, "orders"),
        category_col="o_orderpriority",
        target_col="o_totalprice",
        smoothing=10.0,
    )


_ROBUST_SCALE_SQL = """
    WITH d AS (SELECT doc_id, source, n_chars FROM documents),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM d
    ),
    b AS (
      SELECT source,
             CAST(MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
                           THEN n_chars END) AS BIGINT) AS lo,
             CAST(MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                           THEN n_chars END) AS BIGINT) AS hi
      FROM r GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars, lo, hi,
           CAST(least(greatest(d.n_chars, lo), hi) AS BIGINT) AS clipped,
           ROUND(CASE WHEN hi = lo THEN 0.0
                 ELSE (least(greatest(d.n_chars, lo), hi) - lo) * 1.0
                      / (hi - lo) END, 6) AS scaled
    FROM d JOIN b USING (source)
    """


@q("feat_robust_scale", _ROBUST_SCALE_SQL)
def feat_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorize (rank-based p05/p95 — discrete, no engine
    interpolation semantics) + min-max scale of document lengths — the
    outlier-robust numeric normalization; bounds broadcast back onto
    the scan."""
    from procoggraph_spark.operators.features import robust_scale

    return robust_scale(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        group_col="source",
        value_col="n_chars",
        lo_q=0.05,
        hi_q=0.95,
    )


# --- Incremental materialized-aggregate refresh -----------------------------

_INC_REFRESH_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST((CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END) AS DECIMAL(18,2))) AS DOUBLE)
               AS total_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """


@q("agg_incremental_refresh", _INC_REFRESH_SQL)
def agg_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance: 90% of lineitem plays the
    pre-aggregated base, the other 10% arrives as the delta, and the
    refresh merges delta partials into the rollup WITHOUT rescanning
    the base — the oracle is the full recompute over everything, so
    the equality refresh(base_agg, delta) ≡ recompute(base ∪ delta) is
    what the gate checks (see operators/scale.incremental_agg_refresh).
    Exact long-cents sums keep the merge bit-reproducible."""
    from procoggraph_spark.operators.scale import incremental_agg_refresh
    from procoggraph_spark.queries.common import cents

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        "l_orderkey",
        cents(F.col("l_quantity"), 2).alias("qty_cents"),
    )
    base = li.filter(F.col("l_orderkey") % 10 != 0)
    delta = li.filter(F.col("l_orderkey") % 10 == 0)
    mat = base.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty_cents").cast("long").alias("qty_cents"),
        F.count("*").alias("n_rows"),
    )
    refreshed = incremental_agg_refresh(
        mat,
        delta.select("l_returnflag", "l_linestatus", "qty_cents"),
        key_cols=["l_returnflag", "l_linestatus"],
        sum_cols=["qty_cents"],
    )
    return refreshed.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("qty_cents") / 100.0).alias("total_qty"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


# --- Corpus release diff ----------------------------------------------------

_RELEASE_DIFF_SQL = """
    WITH v1 AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
      WHERE doc_id % 7 <> 0
    ),
    v2 AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
                      ELSE text END) AS h
      FROM documents WHERE doc_id % 3 <> 0
    ),
    j AS (
      SELECT COALESCE(v1.source, v2.source) AS source,
             -- IS DISTINCT FROM: NULL-text revisions still diff
             -- correctly (NULL vs real hash = changed, NULL vs NULL =
             -- unchanged — matching Spark's eqNullSafe)
             CASE WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v1.h IS DISTINCT FROM v2.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL JOIN v2 USING (doc_id)
    )
    SELECT source,
           CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unchanged
    FROM j GROUP BY source
    """


@q("corpus_release_diff", _RELEASE_DIFF_SQL)
def corpus_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release engineering: diff two corpus versions (id-keyed, content
    compared by md5) into per-source added/removed/changed/unchanged
    counts — the audit table that accompanies every dataset version
    bump. One full-outer hash join on the id; content hashes computed
    scan-side so the join carries 32-byte keys, not documents."""
    d = t(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", "source", F.md5("text").alias("_h")
    )
    v2 = d.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("_h"),
    )
    # presence flags, not hash-nullness: md5(NULL text) is NULL, so a
    # NULL-text doc present in BOTH versions would otherwise read as
    # 'removed' (fuzz finding); eqNullSafe keeps NULL==NULL 'unchanged'
    j = (
        v1.withColumn("_in_a", F.lit(True)).alias("a")
        .join(v2.withColumn("_in_b", F.lit(True)).alias("b"), "doc_id", "full")
    )
    status = (
        F.when(F.col("b._in_b").isNull(), "removed")
        .when(F.col("a._in_a").isNull(), "added")
        .when(~F.col("a._h").eqNullSafe(F.col("b._h")), "changed")
        .otherwise("unchanged")
    )
    per = j.select(
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        status.alias("_s"),
    )
    return per.groupBy("source").agg(
        *[
            F.sum(F.when(F.col("_s") == s, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{s}")
            for s in ("added", "removed", "changed", "unchanged")
        ]
    )


# --- Length-bucketed inference batching -------------------------------------

_LENGTH_BUCKETS_SQL = """
    WITH d AS (
      SELECT doc_id, len(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT doc_id, n_tokens,
             CAST(CEIL(LOG2(GREATEST(n_tokens, 1))) AS BIGINT) AS bucket,
             CAST(POWER(2, CEIL(LOG2(GREATEST(n_tokens, 1)))) AS BIGINT)
                 AS pad_to
      FROM d
    )
    SELECT bucket, CAST(MIN(pad_to) AS BIGINT) AS pad_to,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
           CAST(SUM(pad_to - n_tokens) AS BIGINT) AS padding_tokens,
           ROUND(SUM(pad_to - n_tokens) * 1.0
                 / (SUM(n_tokens) + SUM(pad_to - n_tokens)), 6)
               AS padding_waste
    FROM b GROUP BY bucket
    """


@q("serve_length_buckets", _LENGTH_BUCKETS_SQL)
def serve_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference batching audit: bucket documents into power-of-two
    token-length bands and report real vs padding tokens per band —
    the table that justifies length-bucketed batching (padding waste
    within a band is bounded by 50%, vs pad-to-global-max without
    bucketing). Scan-side bucket algebra + one hash agg; integer log2
    via ceil(log2) on both engines."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(X.tokens(F.col("text"))).alias("n_tokens")
    )
    bucket = F.ceil(F.log2(F.greatest(F.col("n_tokens"), F.lit(1)))).cast(
        "long"
    )
    b = d.select(
        "n_tokens",
        bucket.alias("bucket"),
        F.pow(F.lit(2.0), bucket).cast("long").alias("pad_to"),
    )
    pad = F.sum(F.col("pad_to") - F.col("n_tokens"))
    return b.groupBy("bucket").agg(
        F.min("pad_to").cast("long").alias("pad_to"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("real_tokens"),
        pad.cast("long").alias("padding_tokens"),
        F.round(pad / (F.sum("n_tokens") + pad), 6).alias("padding_waste"),
    )


# --- Embedding centroid drift -----------------------------------------------

_CENTROID_DRIFT_SQL = """
    WITH e AS (
      SELECT vec_id, label, CAST(vec_id % 2 AS BIGINT) AS half,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT label, half, u.i AS dim, AVG(v[u.i]) AS m
      FROM e, LATERAL unnest(generate_series(1, 64)) AS u(i)
      GROUP BY label, half, u.i
    ),
    paired AS (
      SELECT a.label, a.dim, a.m AS m0, b.m AS m1
      FROM dims a JOIN dims b ON a.label = b.label AND a.dim = b.dim
      WHERE a.half = 0 AND b.half = 1
    )
    SELECT label, ROUND(SQRT(SUM((m0 - m1) * (m0 - m1))), 6)
               AS centroid_shift
    FROM paired GROUP BY label
    """


@q("emb_centroid_drift", _CENTROID_DRIFT_SQL)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split the corpus into two halves (even /
    odd ids standing in for week-1 / week-2 snapshots) and report the
    L2 shift between per-label centroids — the number a retrieval
    system alarms on before re-indexing. Fully relational on both
    engines: posexplode to (label, half, dim) grain, mean per cell,
    pair the halves, reduce the squared differences."""
    e = t(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "_pos", "_x"
        ),
    )
    dims = e.groupBy("label", "half", "_pos").agg(F.avg("_x").alias("m"))
    a = dims.filter(F.col("half") == 0).select(
        "label", "_pos", F.col("m").alias("m0")
    )
    b = dims.filter(F.col("half") == 1).select(
        "label", "_pos", F.col("m").alias("m1")
    )
    return (
        a.join(b, ["label", "_pos"])
        .groupBy("label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("m0") - F.col("m1")) ** 2)), 6
            ).alias("centroid_shift")
        )
    )


# --- KV prefix-cache sharing estimate ---------------------------------------

_PREFIX_SHARING_SQL = """
    WITH p AS (
      SELECT doc_id,
             -- zero-token docs share the EMPTY prefix, key md5('') —
             -- DuckDB's slice/join chain yields NULL there, Spark's
             -- concat_ws yields ''; coalesce pins the joint contract
             md5(COALESCE(array_to_string(
                 list_slice(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> ''), 1, 8), ' '), ''))
                 AS prefix_key,
             least(len(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')), 8) AS ptok
      FROM documents WHERE text IS NOT NULL
    )
    SELECT prefix_key, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(ptok) AS BIGINT) AS prefix_tokens,
           CAST((COUNT(*) - 1) * MIN(ptok) AS BIGINT) AS saved_tokens
    FROM p GROUP BY prefix_key HAVING COUNT(*) >= 2
    """


@q("serve_prefix_sharing", _PREFIX_SHARING_SQL)
def serve_prefix_sharing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV prefix-cache planning: group requests by their first-8-token
    prefix and report, per shared prefix, how many requests share it
    and how many prefill tokens a prefix cache saves ((n-1) × prefix
    length) — the serving-side measurement behind automatic prefix
    caching. Hash-groupBy on a 32-byte prefix key, one shuffle.

    Edge contract (fuzz-pinned): zero-token documents share the empty
    prefix (key md5(''), prefix_tokens 0 — a degenerate but real cache
    line); NULL text is not a request and is excluded on both sides."""
    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = X.tokens(F.col("text"))
    p = d.select(
        F.md5(F.concat_ws(" ", F.slice(ws, 1, 8))).alias("prefix_key"),
        F.least(F.size(ws), F.lit(8)).alias("ptok"),
    )
    return (
        p.groupBy("prefix_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("ptok").cast("long").alias("prefix_tokens"),
            ((F.count("*") - 1) * F.min("ptok")).cast("long").alias(
                "saved_tokens"
            ),
        )
        .filter(F.col("n_docs") >= 2)
    )
