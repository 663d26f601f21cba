"""Training-data-pipeline operator coverage over `documents` and
`embeddings`: dedup, similarity search, text analysis. DuckDB oracles
where the logic is SQL-replicable; MinHash/SimHash/LSH (engine-hash-
dependent) are registered oracle-less and verified by pytest instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.operators import dedup as D
from procoggraph_spark.operators import similarity as S
from procoggraph_spark.operators import text as X
from procoggraph_spark.queries.common import q, t

# --- exact dedup (hash-groupBy; A4 + dedup family) ------------------------

@q(
    "dedup_exact",
    """
    SELECT substr(text, 1, 40) AS key_prefix,
           MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY substr(text, 1, 40)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by 40-char text prefix: canonical min doc_id and copy count per key (hash-groupBy, one shuffle)."""
    d = t(spark, sf_dir, "documents").withColumn(
        "key_prefix", F.substring("text", 1, 40)
    )
    return D.exact_dedup(d, key_cols=["key_prefix"], id_col="doc_id")


# --- n-gram Jaccard near-dup (explode + equi-join; no cross product) ------

@q(
    "dedup_ngram_jaccard",
    """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS w
      FROM documents WHERE doc_id < 150
    ),
    sh0 AS (
      SELECT DISTINCT doc_id, s FROM ws,
        LATERAL unnest(list_transform(generate_series(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1])) AS u(s)
    ),
    -- hot-shingle guard twin: shingles in >50 of the 150 docs are
    -- boilerplate and excluded from numerator AND denominator
    sh AS (
      SELECT * FROM sh0
      WHERE s NOT IN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > 50)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs bigram Jaccard >= 0.2 via shingle equi-join with the max_shingle_df hot-shingle guard (no cross product)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return D.ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=2, threshold=0.2, max_shingle_df=50
    )


# --- MinHash + LSH near-dup (oracle-less: xxhash64 is Spark-specific) -----

@q(
    "dedup_minhash_lsh",
    rows_only=(
        "signatures use Spark's engine-internal xxhash64 seeds",
        "twin `dedup_minhash_lsh_portable` (oracle, full signature+banding replay)",
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + banded LSH candidate pairs with estimated Jaccard (engine-hash-dependent: rows-only check, planted-dup pytest)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sigs = D.minhash_signatures(d, id_col="doc_id", text_col="text", n=2, num_hashes=64)
    est = D.minhash_lsh_pairs(sigs, id_col="doc_id", bands=16, rows_per_band=4)
    return est.filter(F.col("est_jaccard") >= 0.2).select(
        "id_a", "id_b", "n_bands_matched", "est_jaccard"
    )


# --- SimHash near-dup: portable-hash twin (oracle-backed) -----------------
# Same vote-sum fingerprint + pigeonhole banding, but per-token hashes
# use the portable positional-fingerprint + CMS affine mixers, so DuckDB
# rebuilds identical fingerprints and checks the emitted pairs exactly
# (the all-pairs Hamming in SQL equals the banded equi-join by the
# pigeonhole guarantee).

_SIMHASH_PORTABLE_SQL = r"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), _t -> _t <> '')) AS tk
      FROM documents WHERE doc_id < 150
    ),
    fp AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(1, least(length(tk), 64)),
                  i -> ascii(substr(tk, i, 1)) * i)) % 2147483647 AS BIGINT) AS h
      FROM tok
    ),
    votes AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h * (2654435761 + i * 40503) + i * 1009) % 2147483648
                           < 1073741824 THEN 1 ELSE -1 END) AS v
      FROM fp CROSS JOIN generate_series(0, 63) AS g(i)
      GROUP BY doc_id, i
    ),
    bits AS (
      SELECT doc_id, list(CASE WHEN v > 0 THEN 1 ELSE 0 END ORDER BY i) AS b
      FROM votes GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             list_sum(list_transform(generate_series(1, 64),
                  i -> CASE WHEN a.b[i] <> b.b[i] THEN 1 ELSE 0 END)) AS ham
      FROM bits a JOIN bits b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(ham AS BIGINT) AS hamming
    FROM pairs WHERE ham <= 16
"""


@q("dedup_simhash_portable", _SIMHASH_PORTABLE_SQL)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over portable positional-fingerprint hashes so DuckDB rebuilds identical fingerprints (pigeonhole-banded equi-join)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    fp = D.simhash(d, id_col="doc_id", text_col="text", portable=True)
    pairs = D.simhash_near_pairs(fp, id_col="doc_id", max_hamming=16)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


# --- SimHash near-dup (oracle-less) ---------------------------------------

@q(
    "dedup_simhash",
    rows_only=(
        "64-bit simhash built from engine-internal xxhash64 bits",
        "twin `dedup_simhash_portable` (oracle)",
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over Spark xxhash64 token hashes (the production hash; rows-only check, pytest-verified)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    fp = D.simhash(d, id_col="doc_id", text_col="text")
    return D.simhash_near_pairs(fp, id_col="doc_id", max_hamming=16)


# --- text analysis --------------------------------------------------------

@q(
    "text_token_stats",
    """
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS n_tokens,
           length(text) AS n_chars_actual,
           ROUND(len(list_filter(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> ''),
                     w -> list_contains(['the','a','an','of','and','or','to','in','is','it'], w)))
                 * 1.0 / greatest(len(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')), 1), 6) AS stopword_ratio
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count, mean token length, and punctuation ratio (pure column algebra)."""
    d = t(spark, sf_dir, "documents")
    text = F.col("text")
    return d.select(
        "doc_id",
        X.token_count(text).alias("n_tokens"),
        F.length(text).alias("n_chars_actual"),
        F.round(X.stopword_ratio(text), 6).alias("stopword_ratio"),
    )


@q(
    "text_quality_score",
    """
    WITH s AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS ws,
             length(text) AS n,
             length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS np
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
    )
    SELECT doc_id, ROUND((len_ok + punct_ok + stop_ok + mtl_ok) / 4.0, 6) AS quality
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite [0,1] document quality heuristic: length, punctuation, stopword share, mean token length."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", X.quality_score(F.col("text")).alias("quality"))


@q(
    "text_langid",
    """
    WITH s AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS ws FROM documents
    ),
    sc AS (
      SELECT doc_id,
        len(list_filter(ws, w -> list_contains(['der','die','das','und','nicht','ist'], w))) AS s_de,
        len(list_filter(ws, w -> list_contains(['the','a','of','and','to','is'], w))) AS s_en,
        len(list_filter(ws, w -> list_contains(['el','la','los','de','que','es'], w))) AS s_es,
        len(list_filter(ws, w -> list_contains(['le','la','les','et','est','que'], w))) AS s_fr,
        len(list_filter(ws, w -> list_contains(['de','le','shi','bu','wo','zai'], w))) AS s_zh
      FROM s
    )
    SELECT doc_id,
           -- COALESCE: NULL text has NULL scores; it is 'und' like a
           -- zero-hit text, not 'zh' via NULL-comparison fallthrough
           CASE WHEN COALESCE(greatest(s_de, s_en, s_es, s_fr, s_zh), 0) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM sc
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-free stopword-vote language ID across five language profiles with deterministic tie-break."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", X.predict_lang(F.col("text")).alias("pred_lang"))


@q(
    "text_fingerprint",
    """
    SELECT doc_id,
           -- list_prepend(0, ...) keeps the list non-empty so the
           -- fingerprint of '' is 0 (the Spark contract: fingerprints
           -- are keys for real documents, never NULL); the explicit
           -- CASE keeps NULL text -> NULL (DuckDB's generate_series
           -- with a NULL bound yields [], which would otherwise
           -- silently collapse missing documents to fingerprint 0)
           CASE WHEN text IS NULL THEN NULL ELSE
             CAST(list_sum(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, least(length(text), 64)),
                  i -> CAST(ascii(substr(text, i, 1)) * i AS BIGINT))))
                 % 2147483647 AS BIGINT)
           END AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional character fingerprint per document (the cheap shard/dedup key; integer-exact in both engines)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", X.positional_fingerprint(F.col("text")).cast("long").alias("fingerprint")
    )


@q(
    "text_bpe_token_count",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
               AS n_bpe_tokens,
           len(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS n_ws_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: GPT-2-style pre-tokenizer split classes
    (letter runs / digit runs / single punctuation) next to plain
    whitespace tokens — the fertility-style ratio a curation pipeline
    monitors. Counts are integers, so the oracle is exact."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(X.bpe_ish_tokens(F.col("text"))).alias("n_bpe_tokens"),
        X.token_count(F.col("text")).alias("n_ws_tokens"),
    )


@q(
    "text_tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             ROUND(tf.tf * ln(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, tfidf, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword extraction: TF-IDF over the whole documents table,
    top-3 terms per doc (explode → two hash aggs → term-key join →
    windowed top-k; see operators/text.tfidf_top_terms for the scale
    shape)."""
    d = t(spark, sf_dir, "documents")
    return X.tfidf_top_terms(d, id_col="doc_id", text_col="text", k=3)


@q(
    "sketch_cms_heavy_hitters",
    """
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS term FROM documents
    ),
    fp AS (
      SELECT term,
             CAST(list_sum(list_transform(generate_series(1, least(length(term), 64)),
                  i -> ascii(substr(term, i, 1)) * i)) % 2147483647 AS BIGINT) AS h
      FROM tok
    ),
    cells AS (
      SELECT r,
             ((h * (2654435761 + r * 40503) + r * 1009) % 2147483648) % 64 AS bucket,
             COUNT(*) AS cnt
      FROM fp CROSS JOIN generate_series(0, 3) AS g(r)
      GROUP BY 1, 2
    ),
    probes AS (SELECT DISTINCT term, h FROM fp),
    est AS (
      SELECT p.term, MIN(c.cnt) AS est_count
      FROM probes p CROSS JOIN generate_series(0, 3) AS g(r)
      JOIN cells c ON c.r = g.r
       AND c.bucket = ((p.h * (2654435761 + g.r * 40503) + g.r * 1009)
                       % 2147483648) % 64
      GROUP BY p.term
    )
    SELECT term, est_count, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY est_count DESC, term) AS rank
      FROM est
    ) WHERE rank <= 10
    """,
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters: sketch all term occurrences into a
    4×64 mergeable count table, estimate every distinct term from the
    broadcast sketch, report the top 10. The top-k is orderBy+limit
    (TakeOrderedAndProject — no vocabulary-sized global window); the
    rank column is computed over the surviving 10 rows only. The portable
    bucket hash lets DuckDB rebuild the identical sketch, so even the
    approximate counts hash-match exactly."""
    from pyspark.sql import Window

    from procoggraph_spark.operators import sketches as K

    d = t(spark, sf_dir, "documents")
    tok = d.select(F.explode(X.tokens(F.col("text"))).alias("term"))
    # The probe side needs every distinct term anyway, so the corpus
    # tokenizes ONCE into the vocabulary-grain frequency table and the
    # sketch derives from it (cell = SUM of term counts — bit-identical
    # to counting raw occurrences); previously build and probe each ran
    # their own corpus tokenize+explode pass. The two consumers' partial
    # aggregates differ (sum-fanout vs distinct), so exchange reuse
    # cannot fire — the vocabulary-sized table is lazily checkpointed
    # to make the corpus pass run once per execution.
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("_tf"))
        .localCheckpoint(eager=False)
    )
    sketch = K.cms_build_counts(vocab, "term", "_tf", depth=4, width=64)
    est = K.cms_estimate(sketch, vocab, "term", depth=4, width=64)
    top = est.orderBy(F.desc("est_count"), F.asc("term")).limit(10)
    w = Window.orderBy(F.desc("est_count"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w))


@q(
    "text_decontaminate",
    """
    WITH cw AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS w
      FROM documents WHERE doc_id >= 10
    ),
    csh AS (
      SELECT DISTINCT doc_id, s FROM cw, LATERAL unnest(
        CASE WHEN len(w) >= 3
             THEN list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE [] END) AS u(s)
    ),
    bw AS (
      SELECT list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS w
      FROM documents WHERE doc_id < 10
    ),
    bsh AS (
      SELECT DISTINCT s FROM bw, LATERAL unnest(
        CASE WHEN len(w) >= 3
             THEN list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE [] END) AS u(s)
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM csh GROUP BY doc_id),
    hit AS (
      SELECT doc_id, COUNT(*) AS n_contaminated
      FROM csh JOIN bsh USING (s) GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_shingles,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           ROUND(COALESCE(h.n_contaminated, 0) * 1.0 / t.n_shingles, 6)
               AS contamination_ratio
    FROM tot t LEFT JOIN hit h USING (doc_id)
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs 0-9 stand in for the held-out eval
    set; every other document reports what fraction of its distinct
    3-gram shingles leak from it (broadcast overlap probe — see
    operators/dedup.benchmark_contamination for the scale shape)."""
    d = t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") >= 10)
    benchmark = d.filter(F.col("doc_id") < 10)
    return D.benchmark_contamination(
        corpus, benchmark, id_col="doc_id", text_col="text", n=3
    )


@q(
    "text_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS total FROM tok)
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(-ln(cnt * 1.0 / total)), 6) AS avg_neg_logprob
    FROM tok JOIN tf USING (term) CROSS JOIN n
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring: mean negative log probability of each
    document under the corpus's own unigram distribution (the cheap
    perplexity proxy; see operators/text.unigram_logprob)."""
    d = t(spark, sf_dir, "documents")
    return X.unigram_logprob(d, id_col="doc_id", text_col="text")


@q(
    "text_rolling_hash",
    """
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, least(length(text), 64)),
                              i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 2147483647) AS rhash
    FROM documents
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint. The polynomial fold uses only
    portable 64-bit integer arithmetic, so the DuckDB oracle replays it
    exactly (list_reduce with a prepended 0 seed); a pytest golden test
    additionally pins a pure-Python reimplementation."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.rolling_hash_fingerprint(F.col("text")).cast("long").alias("rhash"),
    )


# --- similarity search ----------------------------------------------------

_BRUTEFORCE_SQL = """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings
               WHERE vec_id < 5
                 AND COALESCE(list_sum(list_transform(
                       embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
          WHERE COALESCE(list_sum(list_transform(
                  embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE),
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


@q("sim_bruteforce_topk", _BRUTEFORCE_SQL)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k. Default implementation is the Arrow-batched
    BLAS GEMM path (operators/similarity.gemm_topk — one matrix multiply
    per batch, per-partition local top-k with oracle-identical 6-decimal
    tie-breaking, ~40% faster than the JVM fold at sf0.1); the JVM
    aggregate/zip_with fold stays registered as ``sim_bruteforce_fold``
    (same oracle) for the no-Python-dependency plan."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return S.gemm_topk(e, queries, id_col="vec_id", vec_col="embedding", k=10)


def _lsh_oracle_sql(*, n_tables: int = 8, n_planes: int = 4, dim: int = 64,
                    k: int = 10) -> str:
    """DuckDB twin of lsh_topk: the hyperplane coefficients are
    deterministic integers (sha256 of the plane/dim coordinate), so they
    inline as literals and the oracle rebuilds the identical buckets,
    candidate set, and exact-cosine rerank."""
    from procoggraph_spark.operators.similarity import _det_plane_component

    selects = []
    for tbl in range(n_tables):
        bits = []
        for pl in range(n_planes):
            plane = tbl * n_planes + pl
            coeffs = ", ".join(
                str(float(_det_plane_component(plane, d))) for d in range(dim)
            )
            bits.append(
                f"(CASE WHEN list_dot_product(v, [{coeffs}]) >= 0"
                f" THEN {1 << pl} ELSE 0 END)"
            )
        selects.append(
            f"SELECT vec_id, v, {tbl} AS tbl, " + " + ".join(bits) + " AS sig FROM e"
        )
    buckets = "\n  UNION ALL\n  ".join(selects)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE COALESCE(list_sum(list_transform(
                          embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE),
    b AS (
      {buckets}
    ),
    qb AS (SELECT * FROM b WHERE vec_id < 5),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(c.v, c.v))), 6) AS cosine_sim
      FROM qb q JOIN b c ON q.tbl = c.tbl AND q.sig = c.sig
                        AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= {k}
    """


@q("sim_lsh_ann", _lsh_oracle_sql())
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors, hash-compared against
    the coefficient-inlined DuckDB twin; pytest additionally checks
    recall >= 0.5 vs brute force on the same data."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return S.lsh_topk(
        e, queries, id_col="vec_id", vec_col="embedding", dim=64, n_planes=4,
        n_tables=8, k=10,
    )


_IVF_ORACLE_SQL = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE COALESCE(list_sum(list_transform(
                          embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE),
    -- key_unique twin: IVF assigns one cell PER ID, so a replayed
    -- vec_id resolves to the lexicographic-min payload on both engines
    e1 AS (
      SELECT vec_id, v FROM (
        SELECT vec_id, v,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v) AS _rn
        FROM e
      ) WHERE _rn = 1
    ),
    cent AS (
      SELECT vec_id AS cell, v AS cv,
             CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
                  ELSE sqrt(list_dot_product(v, v)) END AS cn
      FROM e1 ORDER BY vec_id LIMIT 16
    ),
    sc AS (
      SELECT e.vec_id, e.v, cent.cell,
             ROUND(list_dot_product(e.v, cent.cv) /
                   ((CASE WHEN sqrt(list_dot_product(e.v, e.v)) = 0 THEN 1.0
                          ELSE sqrt(list_dot_product(e.v, e.v)) END) * cent.cn),
                   6) AS s
      FROM e1 AS e CROSS JOIN cent
    ),
    rn AS (
      SELECT vec_id, v, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS r
      FROM sc
    ),
    cells AS (SELECT vec_id AS neighbor_id, v AS nv, cell FROM rn WHERE r = 1),
    probes AS (SELECT vec_id AS query_id, v AS qv, cell
               FROM rn WHERE r <= 4 AND vec_id < 5),
    cand AS (
      SELECT DISTINCT p.query_id, c.neighbor_id,
             ROUND(list_dot_product(p.qv, c.nv) /
                   (sqrt(list_dot_product(p.qv, p.qv)) *
                    sqrt(list_dot_product(c.nv, c.nv))), 6) AS cosine_sim
      FROM probes p JOIN cells c USING (cell)
      WHERE p.query_id <> c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 10
    """


@q("sim_ivf_ann", _IVF_ORACLE_SQL)
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbors, hash-compared against
    a DuckDB twin that replays the whole index: the deterministic
    lowest-id seed centroids, the rounded-cosine cell assignment
    (6-decimal rounding makes near-tie cells resolve by centroid order
    on both engines), the n_probe=4 probe set, and the exact rerank.
    pytest additionally checks recall ≥ 0.5 vs brute force."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return S.ivf_topk(
        e, queries, id_col="vec_id", vec_col="embedding", n_cells=16, n_probe=4, k=10
    )


# --- embedding column stats (F12 array_min/array_max family) --------------

@q(
    "emb_array_stats",
    """
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(list_min(embedding)), 6) AS avg_min,
           ROUND(AVG(list_max(embedding)), 6) AS avg_max
    FROM embeddings GROUP BY label
    """,
)
def emb_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector embedding statistics: L2 norm, min/max component, mean (aggregate folds over the array column)."""
    e = t(spark, sf_dir, "embeddings")
    return e.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.array_min("embedding")), 6).alias("avg_min"),
        F.round(F.avg(F.array_max("embedding")), 6).alias("avg_max"),
    )


# --- oracle-backed cluster canonicalization (portable pair source) --------
# Same connected-components + keep-min-id canonicalization, but fed from
# the portable n-gram Jaccard pairs so DuckDB can replay the ENTIRE
# chain: shingle join -> pair list -> transitive closure (recursive CTE)
# -> canonical assignment -> cluster sizes.

_CLUSTER_JACCARD_SQL = """
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS w
      FROM documents WHERE doc_id < 150
    ),
    sh0 AS (
      SELECT DISTINCT doc_id, s FROM ws,
        LATERAL unnest(list_transform(generate_series(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1])) AS u(s)
    ),
    sh AS (
      SELECT * FROM sh0
      WHERE s NOT IN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > 50)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5
    ),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
      )
      SELECT a, b FROM r
    ),
    canon AS (
      SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS canonical_id
      FROM ws d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id
    ),
    cs AS (SELECT canonical_id, COUNT(*) AS cluster_size FROM canon GROUP BY canonical_id)
    SELECT c.doc_id, c.canonical_id, cs.cluster_size
    FROM canon c JOIN cs ON c.canonical_id = cs.canonical_id
"""


@q("dedup_cluster_canonical_jaccard", _CLUSTER_JACCARD_SQL)
def dedup_cluster_canonical_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard candidate pairs -> connected components -> one keep-min-id canonical per duplicate cluster with cluster size."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pairs = D.ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=2, threshold=0.5, max_shingle_df=50
    )
    return D.dedup_clusters(pairs, d, id_col="doc_id")


@q(
    "dedup_cluster_canonical",
    rows_only=(
        "clusters over the xxhash64 MinHash candidate graph",
        "twin `dedup_cluster_canonical_jaccard` (oracle) exercises the same "
        "CC + keep-min-id canonicalization on portable candidates",
    ),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup removal: MinHash-LSH candidate pairs → connected
    components → canonical doc per cluster (oracle-less: transitive
    closure over engine-hash buckets; pytest checks cluster invariants
    and agreement with exact dedup on identical texts)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sigs = D.minhash_signatures(d, id_col="doc_id", text_col="text", n=2, num_hashes=64)
    est = D.minhash_lsh_pairs(sigs, id_col="doc_id", bands=16, rows_per_band=4)
    pairs = est.filter(F.col("est_jaccard") >= 0.5)
    return D.dedup_clusters(pairs, d, id_col="doc_id")


@q(
    "text_repetition",
    """
    WITH s AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id, ws,
             list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                            i -> ws[i] || ' ' || ws[i+1]) AS grams
      FROM s
    )
    SELECT doc_id,
           -- NULL text -> NULL ratio (Spark propagates NULL through
           -- the gram fold; DuckDB's greatest(NULL-1, 0)=0 would
           -- otherwise silently report 0.0 for a missing document)
           CASE WHEN ws IS NULL THEN NULL
                WHEN len(grams) <= 0 THEN 0.0
                ELSE ROUND((len(grams) - len(list_distinct(grams))) * 1.0
                           / len(grams), 6) END AS rep_ratio
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repeated-bigram ratio (boilerplate/spam signal)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", X.repeated_ngram_ratio(F.col("text"), n=2).alias("rep_ratio")
    )


@q(
    "text_scrub_pii",
    """
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^[:space:]]+', '<URL>', 'g') AS clean_text
    FROM documents WHERE doc_id < 200
    """,
)
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email and URL scrubbing to placeholder tokens via regexp_replace (PII hygiene pass)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select("doc_id", X.scrub_pii(F.col("text")).alias("clean_text"))


@q(
    "corpus_filter_pipeline",
    """
    WITH s AS (
      SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS ws,
             length(text) AS n,
             length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS np
      FROM documents
    ),
    q AS (
      SELECT doc_id, text, ws,
             ROUND(((CASE WHEN n >= 100 THEN 1.0 ELSE n / 100.0 END)
              + (1.0 - least(np * 1.0 / greatest(n, 1) * 5.0, 1.0))
              + least(len(list_filter(ws, w -> list_contains(
                  ['the','a','an','of','and','or','to','in','is','it'], w)))
                  * 1.0 / greatest(len(ws), 1) * 5.0, 1.0)
              + (CASE WHEN (list_sum(list_transform(ws, w -> length(w)))
                            * 1.0 / greatest(len(ws), 1)) BETWEEN 3.0 AND 12.0
                      THEN 1.0 ELSE 0.5 END)) / 4.0, 6) AS quality
      FROM s
    ),
    r AS (
      SELECT doc_id, quality,
             list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                            i -> ws[i] || ' ' || ws[i+1]) AS grams,
        len(list_filter(ws, w -> list_contains(['the','a','of','and','to','is'], w))) AS s_en,
        len(list_filter(ws, w -> list_contains(['der','die','das','und','nicht','ist'], w))) AS s_de,
        len(list_filter(ws, w -> list_contains(['el','la','los','de','que','es'], w))) AS s_es,
        len(list_filter(ws, w -> list_contains(['le','la','les','et','est','que'], w))) AS s_fr,
        len(list_filter(ws, w -> list_contains(['de','le','shi','bu','wo','zai'], w))) AS s_zh
      FROM q
    )
    SELECT doc_id,
           -- COALESCE: a NULL-text document is never kept (explicit
           -- false — a curation gate must not emit NULL keep flags;
           -- same contract as gopher_keep)
           COALESCE(quality >= 0.5
            AND (CASE WHEN len(grams) <= 0 THEN 0.0
                      ELSE ROUND((len(grams) - len(list_distinct(grams))) * 1.0
                                 / len(grams), 6) END) <= 0.2
            AND greatest(s_de, s_en, s_es, s_fr, s_zh) > 0
            AND s_en = greatest(s_de, s_en, s_es, s_fr, s_zh)
            AND NOT (s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_de >= s_en),
            FALSE) AS keep
    FROM r
    """,
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation gate: quality >= 0.5 AND repetition <= 0.2 AND predicted language is English -> one keep boolean per doc."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.corpus_keep_decision(F.col("text"), min_quality=0.5,
                               max_repetition=0.2, langs=("en",)).alias("keep"),
    )


# --- dataset assignment: split / stratified sample / sequence packing -----

@q(
    "split_train_val_test",
    """
    WITH b AS (
      SELECT doc_id,
             (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 AS bkt
      FROM documents
    )
    SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id FROM (
      SELECT doc_id, CASE WHEN bkt < 80.0 THEN 'train'
                          WHEN bkt < 90.0 THEN 'val'
                          ELSE 'test' END AS split
      FROM b
    ) GROUP BY split
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split: a pure integer-hash function of the
    id, so reruns and re-ingests never migrate rows between splits. The
    oracle recomputes the identical buckets (plain 64-bit arithmetic,
    no engine-specific hash)."""
    from procoggraph_spark.operators.sampling import deterministic_split

    d = t(spark, sf_dir, "documents")
    s = deterministic_split(
        d, id_col="doc_id", fractions={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return s.groupBy("split").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("min_id")
    )


@q(
    "pack_token_budget",
    """
    WITH tok AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      -- ORDER BY (doc_id, n_tokens): total over everything the packing
      -- depends on, so replayed doc_ids (dirty-keys fuzz) pack
      -- deterministically — rows tying on the full key are
      -- interchangeable for the cumsum
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY doc_id, n_tokens NULLS FIRST
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM tok
    )
    SELECT source, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM c GROUP BY source, (cum - n_tokens) // 512
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing to a 512-token budget per source shard (windowed
    cumsum binning — one shuffle), rolled up per bin. Integer-exact on
    both engines."""
    from procoggraph_spark.operators.sampling import pack_sequences

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", X.token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(
        d, id_col="doc_id", token_col="n_tokens", budget=512,
        partition_cols=["source"], order_cols=["doc_id", "n_tokens"],
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("bin_tokens")
    )


@q(
    "mix_weighted_sources",
    """
    WITH w AS (
      SELECT * FROM (VALUES ('src0', 0.6), ('src1', 0.3), ('src2', 0.1))
        AS t(source, w)
    ),
    c AS (
      SELECT d.source, w.w, COUNT(*) AS n
      FROM documents d JOIN w ON d.source = w.source
      GROUP BY d.source, w.w
    ),
    s AS (SELECT MIN(n / w) AS scale FROM c),
    f AS (SELECT source, (s.scale * w / n) AS keep_frac FROM c CROSS JOIN s),
    b AS (
      SELECT d.doc_id, d.source, f.keep_frac,
             (((((length(d.source) * 131 + ascii(substr(d.source, 1, 1))) * 1009
                 + ascii(substr(d.source, -1, 1))) % 2147483648
                + (d.doc_id % 2147483648)) % 2147483648)
              * 2654435761) % 4294967296 % 1000000 AS bkt
      FROM documents d JOIN f ON d.source = f.source
    )
    SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_id
    FROM b WHERE bkt < keep_frac * 1000000
    GROUP BY source
    """,
)
def mix_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: rebalance three sources to a 60/30/10 target by
    deterministic downsampling (largest achievable mix, portable salt
    so the oracle reproduces the exact kept set)."""
    from procoggraph_spark.operators.sampling import weighted_mix

    d = t(spark, sf_dir, "documents")
    kept = weighted_mix(
        d,
        source_col="source",
        id_col="doc_id",
        weights={"src0": 0.6, "src1": 0.3, "src2": 0.1},
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.min("doc_id").alias("min_id")
    )


@q(
    "sample_exact_k_per_source",
    """
    WITH b AS (
      SELECT doc_id, source,
             (((doc_id % 2147483648) * 2654435761) % 4294967296) % 1000000 AS bkt
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY bkt, doc_id) AS rn
      FROM b
    )
    SELECT source, doc_id FROM r WHERE rn <= 5
    """,
)
def sample_exact_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-5-docs-per-source sample (the eval-subset
    builder; see operators/sampling.exact_k_per_group). The oracle
    recomputes the identical portable hash order."""
    from procoggraph_spark.operators.sampling import exact_k_per_group

    d = t(spark, sf_dir, "documents")
    return exact_k_per_group(d, id_col="doc_id", group_col="source", k=5).select(
        "source", "doc_id"
    )


@q(
    "corpus_pareto_coverage",
    """
    WITH s AS (
      SELECT source, SUM(len(list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> ''))) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS total FROM s),
    c AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER (ORDER BY n_tokens DESC,
                                 source ASC NULLS LAST) AS cum
      FROM s
    )
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(cum * 1.0 / tot.total, 6) AS cum_share,
           ((cum - n_tokens) * 1.0 / tot.total < 0.8) AS in_top80
    FROM c CROSS JOIN tot
    """,
)
def corpus_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage analysis: which sources cover 80% of corpus
    tokens (sources ordered by size, cumulative token share, Pareto-cut
    flag). The global window runs over SOURCE-level rows — bounded by
    the number of sources, not the corpus (same bounded-global-window
    justification as w3's distinct-key ranking); token counts are
    integers so the cumulative sums are engine-exact."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(X.token_count(F.col("text"))).alias("n_tokens")
    )
    # tiebreak NULL placement is EXPLICIT on both faces: Spark's asc
    # default is NULLS FIRST, DuckDB's is NULLS LAST, so a token-count
    # tie involving the NULL-source group silently reorders the
    # cumulative sums between engines (case-mapping fuzz leg, round 11
    # — the leg changed token counts and manufactured exactly that tie)
    w = Window.orderBy(
        F.desc("n_tokens"), F.asc_nulls_last("source")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # the grand total rides an unpartitioned window over the bounded
    # source rows (same single partition the cumulative window already
    # established), NOT s.agg + crossJoin — the broadcast-subquery form
    # re-ran the corpus-wide tokenize+agg a second time per execution
    c = s.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "total", F.sum("n_tokens").over(Window.partitionBy())
    )
    return c.select(
        "source",
        "n_tokens",
        F.round(F.col("cum") / F.col("total"), 6).alias("cum_share"),
        (((F.col("cum") - F.col("n_tokens")) / F.col("total")) < 0.8).alias(
            "in_top80"
        ),
    )


@q("sim_bruteforce_fold", _BRUTEFORCE_SQL)
def sim_bruteforce_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k via the pure-JVM ``aggregate``/``zip_with``
    dot-product fold (operators/similarity.brute_force_topk) — same
    oracle as the GEMM default, kept as the zero-Python-dependency twin
    and a whole-stage-codegen exemplar."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return S.brute_force_topk(e, queries, id_col="vec_id", vec_col="embedding", k=10)


# --- passage-level exact-substring dedup (oracle-backed) ------------------

@q(
    "dedup_repeated_passages",
    r"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), _t -> _t <> '') AS w
      FROM documents WHERE doc_id < 300
    ),
    wins AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS passage
      FROM ws, LATERAL unnest(generate_series(1, len(w) - 7)) AS g(i)
      WHERE len(w) >= 8
    )
    SELECT passage, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc_id
    FROM wins GROUP BY passage HAVING COUNT(*) >= 2
    """,
)
def dedup_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 8-word passage shared by >=2 documents — substring-granular
    dedup (boilerplate/licence/template spans) that document-level
    hashing cannot see; one shingle explode + one passage groupBy
    (operators/dedup.repeated_passages)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return D.repeated_passages(
        d, id_col="doc_id", text_col="text", window=8, min_docs=2
    )
