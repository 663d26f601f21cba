"""Round-6 additions: portable-oracle twins for the engine-hash ANN /
dedup operators the driver could previously only rows-check.

Placed directly after star_llmops2/3 in the registry union so these
rows land inside the round-6 driver sample window (pinned by
tests/test_oracle_parity.py::test_driver_window_rotation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.operators import dedup as D
from procoggraph_spark.queries.common import q, t

# --- MinHash + LSH near-dup: portable-hash twin (oracle-backed) ------------
# Same signature -> banded-bucket-join -> estimate pipeline as
# dedup_minhash_lsh, but the per-shingle hash is the portable
# positional-fingerprint + CMS affine mixers (plain int64 arithmetic,
# see operators/sketches) and band buckets key on the exact concatenated
# band values, so DuckDB rebuilds the identical signatures and the
# all-pairs slice comparison in SQL equals the banded equi-join exactly
# (collision-free band keys make "bucket collision" == "band slices
# value-equal").

_MINHASH_PORTABLE_SQL = r"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), _t -> _t <> '') AS w
      FROM documents WHERE doc_id < 150
    ),
    sh AS (
      SELECT DISTINCT doc_id, g AS s
      FROM w, LATERAL unnest(list_transform(generate_series(1, len(w) - 1),
                                            i -> w[i] || ' ' || w[i + 1])) AS u(g)
    ),
    fp AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(1, least(length(s), 64)),
                  i -> ascii(substr(s, i, 1)) * i)) % 2147483647 AS BIGINT) AS h
      FROM sh
    ),
    mh AS (
      SELECT doc_id, i,
             MIN((h * (2654435761 + i * 40503) + i * 1009) % 2147483648) AS mv
      FROM fp CROSS JOIN generate_series(0, 63) AS g(i)
      GROUP BY doc_id, i
    ),
    sig AS (SELECT doc_id, list(mv ORDER BY i) AS sg FROM mh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             list_sum(list_transform(generate_series(0, 15),
                  bi -> CASE WHEN a.sg[bi * 4 + 1] = b.sg[bi * 4 + 1]
                              AND a.sg[bi * 4 + 2] = b.sg[bi * 4 + 2]
                              AND a.sg[bi * 4 + 3] = b.sg[bi * 4 + 3]
                              AND a.sg[bi * 4 + 4] = b.sg[bi * 4 + 4]
                             THEN 1 ELSE 0 END)) AS nb,
             list_sum(list_transform(generate_series(1, 64),
                  i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) / 64.0
               AS est
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(nb AS BIGINT) AS n_bands_matched,
           ROUND(est, 6) AS est_jaccard
    FROM pairs WHERE nb >= 1 AND est >= 0.2
    """


@q("dedup_minhash_lsh_portable", _MINHASH_PORTABLE_SQL)
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + banded LSH candidate pairs with estimated
    Jaccard — the portable-arithmetic twin of dedup_minhash_lsh
    (positional shingle fingerprints + affine-mixer permutations,
    value-exact band keys), hash-compared against a DuckDB twin that
    replays signatures, banding, and the estimate end-to-end."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sigs = D.minhash_signatures(
        d, id_col="doc_id", text_col="text", n=2, num_hashes=64, portable=True
    )
    est = D.minhash_lsh_pairs(
        sigs, id_col="doc_id", bands=16, rows_per_band=4, portable_bands=True
    )
    return est.filter(F.col("est_jaccard") >= 0.2).select(
        "id_a", "id_b", "n_bands_matched", "est_jaccard"
    )


# --- IVF+PQ with exact rerank: fully oracle-backed ANN serving shape -------
# The whole compressed-vector pipeline replayed in SQL: seed coarse
# centroids (16 lowest-id vectors) and seed codebooks (their subspace
# slices — train_pq with iterations=0), 6-decimal-rounded L2 argmin for
# both cell assignment and PQ codes, per-query probe sets, ADC sums
# over the code table, a 40-deep ADC shortlist, and exact L2 rerank.
# Every distance rounds to the 1e-6 grid BEFORE any cut, so near-ties
# resolve by (distance, id) identically on both engines; the rounded
# entries make the ADC sum itself grid-aligned and order-insensitive.

_IVF_PQ_RERANK_SQL = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE COALESCE(list_sum(list_transform(
                          embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE),
    -- key_unique twin (see operators/similarity.key_unique): the index
    -- build, the probe set, and the fetch-by-id rerank are all
    -- id-keyed, so a replayed vec_id resolves to the lexicographic-min
    -- payload on both engines
    e1 AS (
      SELECT vec_id, v FROM (
        SELECT vec_id, v,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v) AS _rn
        FROM e
      ) WHERE _rn = 1
    ),
    seed AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS cv
      FROM (SELECT * FROM e1 ORDER BY vec_id LIMIT 16)
    ),
    coarse AS (
      SELECT e.vec_id, s.cid,
             ROUND(list_sum(list_transform(generate_series(1, 64),
                   i -> (e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]))), 6) AS d
      FROM e1 AS e CROSS JOIN seed s
    ),
    cellof AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        FROM coarse) WHERE r = 1
    ),
    subd AS (
      SELECT e.vec_id, g.s, sd.cid,
             ROUND(list_sum(list_transform(generate_series(1, 4),
                   i -> (e.v[g.s * 4 + i] - sd.cv[g.s * 4 + i])
                      * (e.v[g.s * 4 + i] - sd.cv[g.s * 4 + i]))), 6) AS d
      FROM e1 AS e CROSS JOIN generate_series(0, 15) AS g(s) CROSS JOIN seed sd
    ),
    code AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS r
        FROM subd) WHERE r = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        FROM coarse WHERE vec_id < 5) WHERE r <= 4
    ),
    adc AS (
      SELECT p.query_id, cf.vec_id AS cand_id, ROUND(SUM(qd.d), 6) AS adc_dist
      FROM probes p
      JOIN cellof cf ON cf.cell = p.cell
      JOIN code k ON k.vec_id = cf.vec_id
      JOIN subd qd ON qd.vec_id = p.query_id AND qd.s = k.s AND qd.cid = k.code
      GROUP BY p.query_id, cf.vec_id
    ),
    sl AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, cand_id) AS r
        FROM adc) WHERE r <= 40 AND query_id <> cand_id
    ),
    rerank AS (
      SELECT s.query_id, s.cand_id AS vec_id,
             ROUND(list_sum(list_transform(generate_series(1, 64),
                   i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))), 6) AS l2_dist
      FROM sl s
      JOIN e1 q ON q.vec_id = s.query_id
      JOIN e1 c ON c.vec_id = s.cand_id
    )
    SELECT query_id, vec_id, l2_dist, rank FROM (
      SELECT query_id, vec_id, l2_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY l2_dist, vec_id) AS rank
      FROM rerank
    ) WHERE rank <= 10
    """


@q("sim_ivf_pq_rerank", _IVF_PQ_RERANK_SQL)
def sim_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN serving shape, externally verified end-to-end:
    IVF cells prune (probe 4 of 16), 16-byte PQ codes CUT to a 40-deep
    ADC shortlist (quantized distances rank coarsely — measured
    0.3-0.45 recall@10 when they rank the final answer), and the raw
    vectors of only the shortlist rows RANK by exact L2. Seed models
    (lowest-id centroids, iterations=0 codebooks) make the whole index
    deterministic and SQL-replayable — the DuckDB twin rebuilds cells,
    codes, probes, ADC sums, shortlist, and rerank from the base table."""
    from procoggraph_spark.operators.pq import (
        ivf_pq_index_numpy,
        ivf_pq_rerank_topk,
    )
    from procoggraph_spark.operators.similarity import searchable

    # shared similarity-family boundary: NULL and zero-norm vectors are
    # unindexable/unsearchable (a NULL embedding reaching the exact
    # rerank folds to a NaN distance and poisons the rank window)
    e = searchable(t(spark, sf_dir, "embeddings"), "embedding")
    # total (id, vector) order: which copy of a replayed id seeds the
    # model must not be partition-dependent (dirty-keys audit)
    seed_rows = e.orderBy("vec_id", "embedding").limit(16).collect()
    if len(seed_rows) < 16:
        raise ValueError(
            "sim_ivf_pq_rerank: need at least 16 vectors to seed the "
            f"IVF cells and PQ codebooks, got {len(seed_rows)}"
        )
    cents = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(seed_rows)
    ]
    # seed codebooks == subspace slices of the same 16 lowest-id
    # vectors (what train_pq(iterations=0) computes via 16 distributed
    # jobs) — sliced driver-side from the rows already collected, and
    # exactly what the SQL oracle models
    books = [
        [[float(x) for x in seed_rows[c]["embedding"][s * 4:(s + 1) * 4]]
         for c in range(16)]
        for s in range(16)
    ]
    # Arrow/GEMM index twin (the column-algebra builder is
    # interpreter-bound: m*k fold expressions per row — measured 2.2 s
    # vs 0.95 s for the full query at sf0.1); output and oracle hash
    # verified identical across sf0.001/0.01/0.1
    idx = ivf_pq_index_numpy(e, cents, books)
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id") < 5).collect()
    ]
    return ivf_pq_rerank_topk(
        idx, e, queries, cents, books,
        n_probe=4, shortlist=40, top_k=10, exclude_self=True,
    )
