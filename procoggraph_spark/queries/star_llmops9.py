"""Round-6 sixth batch: serving-side result diversification plus the
funnel/LTV/engagement/streak analytics tier and two feature-QA audits —
MMR diversified rerank (the "my top-10 are ten near-duplicates" fix),
per-user time-to-conversion, cohort LTV payback curves, DAU/WAU
stickiness, consecutive-week streak histograms, an exact-integer
embedding dimension-covariance redundancy audit, and a hashing-trick
bucket-collision audit. All seven fully oracle-backed (portable
arithmetic throughout; implementations in operators/similarity.py,
operators/analytics.py, operators/features.py).
Registered after star_llmops8 — PAST the full round-6 driver window;
round-7 rotation fodder, pre-verified vs DuckDB at sf0.001 + sf0.01
like every past-window batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.operators import analytics as A
from procoggraph_spark.operators import features as FE
from procoggraph_spark.operators import similarity as S
from procoggraph_spark.queries.common import q, t

# --- MMR diversified rerank ------------------------------------------------
# The greedy selection is sequential by definition, but k is small and
# bounded, so the oracle unrolls it: one CTE layer per selection step,
# each layer an argmax over the pool joined to the max-sim-vs-selected
# aggregate — exactly the plan the Spark operator builds. rel and
# pairwise sims are rounded to 6 decimals BEFORE the score arithmetic
# and lam/mu are independent literals, so both engines evaluate
# bit-identical doubles and replay the identical selection sequence.


def _mmr_oracle_sql(*, k: int = 5, pool: int = 20, lam: float = 0.7,
                    mu: float = 0.3) -> str:
    steps = []
    for i in range(2, k + 1):
        prev = f"sel{i - 1}"
        steps.append(f"""
    s{i} AS (
      SELECT query_id, nid, rel, {i} AS pick FROM (
        SELECT r.query_id, r.nid, r.rel,
               ROW_NUMBER() OVER (PARTITION BY r.query_id
                 ORDER BY {lam}*r.rel - {mu}*m.msim DESC, r.nid) AS rn
        FROM pool r
        JOIN (SELECT w.query_id, w.a_id, MAX(w.sim) AS msim
              FROM pw w JOIN {prev} s
                ON s.query_id = w.query_id AND s.nid = w.b_id
              GROUP BY w.query_id, w.a_id) m
          ON m.query_id = r.query_id AND m.a_id = r.nid
        WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                          WHERE s.query_id = r.query_id AND s.nid = r.nid)
      ) WHERE rn = 1
    ),
    sel{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM s{i})""")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE COALESCE(list_sum(list_transform(
                          embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT query_id, e.vec_id AS nid,
             ROUND(list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(v, v))), 6) AS rel
      FROM q, e WHERE e.vec_id <> q.query_id
    ),
    pool AS (SELECT query_id, nid, rel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, nid) AS rn
        FROM scored
      ) WHERE rn <= {pool}),
    pv AS (SELECT p.query_id, p.nid, e.v FROM pool p
           JOIN e ON e.vec_id = p.nid),
    pw AS (SELECT a.query_id, a.nid AS a_id, b.nid AS b_id,
                  ROUND(list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) *
                         sqrt(list_dot_product(b.v, b.v))), 6) AS sim
           FROM pv a JOIN pv b
             ON a.query_id = b.query_id AND a.nid <> b.nid),
    sel1 AS (SELECT query_id, nid, rel, 1 AS pick FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, nid) AS rn
        FROM pool
      ) WHERE rn = 1),{",".join(steps)}
    SELECT query_id, nid AS neighbor_id, rel AS cosine_sim,
           CAST(pick AS INT) AS pick
    FROM sel{k}
    """


@q("sim_mmr_diversify", _mmr_oracle_sql())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified rerank over each query's top-20 exact-cosine pool
    (lam=0.7): greedy k=5 selection maximizing relevance minus
    max-similarity-to-already-selected. The candidate pool is the only
    corpus-scale stage (any ANN searcher slots in); the rerank itself is
    bounded pool^2-per-query work — see operators/similarity.mmr_diversify."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return S.mmr_diversify(e, queries, k=5, pool=20, lam=0.7, mu=0.3)


# --- time to conversion ----------------------------------------------------

_TTC_SQL = """
    WITH fs AS (
      SELECT user_id,
             MIN(CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                      AS BIGINT)) AS start_ep
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    g AS (
      SELECT user_id,
             CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                  AS BIGINT) AS goal_ep
      FROM events WHERE event_type = 'purchase'
    ),
    conv AS (
      SELECT f.user_id, f.start_ep, MIN(g.goal_ep) AS goal_ep
      FROM fs f LEFT JOIN g
        ON g.user_id = f.user_id AND g.goal_ep >= f.start_ep
      GROUP BY f.user_id, f.start_ep
    )
    SELECT user_id, start_ep,
           CAST(goal_ep - start_ep AS BIGINT) AS secs_to_convert,
           goal_ep IS NOT NULL AS converted
    FROM conv
    """


@q("events_time_to_conversion", _TTC_SQL)
def events_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activation lag: seconds from the first 'view' to the
    first 'purchase' at-or-after it; non-converters kept with NULL lag
    (the >= gate lives in the join clause so they survive). Whole-second
    epoch math both engines truncate identically."""
    return A.time_to_conversion(t(spark, sf_dir, "events"))


# --- cohort LTV ------------------------------------------------------------

_LTV_SQL = """
    WITH o1 AS (
      -- portable-month contract (valid_ts twin): an undated order OR
      -- one whose month-bucket falls outside the representable
      -- timestamp window (year-9999 sentinel dates) is excluded
      SELECT o_custkey, o_totalprice,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m
      FROM orders
      WHERE o_orderdate IS NOT NULL
        AND CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
            BETWEEN TIMESTAMP '1970-01-01 00:00:01'
                AND TIMESTAMP '2262-01-01 00:00:00'
    ),
    f AS (
      SELECT o_custkey, MIN(m) AS cohort_month FROM o1 GROUP BY o_custkey
    ),
    sz AS (SELECT cohort_month, COUNT(*) AS cohort_size FROM f GROUP BY 1),
    cell AS (
      SELECT f.cohort_month,
             CAST((year(o.m) - year(f.cohort_month)) * 12
                  + (month(o.m) - month(f.cohort_month)) AS BIGINT)
               AS month_offset,
             CAST(SUM(CAST(ROUND((CASE WHEN o.o_totalprice >= -9.0e15 AND o.o_totalprice <= 9.0e15 THEN o.o_totalprice END) * 100, 0) AS BIGINT))
                  AS BIGINT) AS revenue_cents
      FROM o1 o JOIN f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT c.cohort_month, c.month_offset, c.revenue_cents,
           CAST(SUM(c.revenue_cents) OVER (
                  PARTITION BY c.cohort_month ORDER BY c.month_offset
                ) AS BIGINT) AS cum_revenue_cents,
           CAST(s.cohort_size AS BIGINT) AS cohort_size
    FROM cell c JOIN sz s ON s.cohort_month = c.cohort_month
    """


@q("orders_cohort_ltv", _LTV_SQL)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV payback triangle: first-order-month cohorts, per
    (cohort, month-offset) period revenue and running cumulative revenue
    in exact integer cents; cumulative window runs on the bounded
    month-offset axis, never per customer."""
    return A.cohort_ltv(t(spark, sf_dir, "orders"))


# --- DAU/WAU stickiness ----------------------------------------------------

_STICKY_SQL = """
    WITH grid AS (
      SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d AS day FROM grid),
    j AS (
      SELECT day,
             COUNT(DISTINCT CASE WHEN d = day THEN u END) AS dau,
             COUNT(DISTINCT u) AS wau
      FROM days JOIN grid
        ON grid.d <= days.day AND grid.d >= days.day - INTERVAL 6 DAY
      GROUP BY day
    )
    SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           ROUND(dau / CAST(wau AS DOUBLE), 6) AS stickiness
    FROM j
    """


@q("events_dau_stickiness", _STICKY_SQL)
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day-WAU per day. Trailing DISTINCT does not
    decompose into a window frame, so the op collapses to the distinct
    user-day grid first and joins each day to its 7-day lookback — the
    fanout is 7 x the grid, not the event stream."""
    return A.dau_stickiness(t(spark, sf_dir, "events"))


# --- weekly streak histogram ----------------------------------------------

_STREAK_SQL = """
    WITH grid AS (
      SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w
      FROM events WHERE ts IS NOT NULL
    ),
    r AS (SELECT u, w, ROW_NUMBER() OVER (PARTITION BY u ORDER BY w) AS rn
          FROM grid),
    s AS (SELECT u, w - CAST(rn * 7 AS INTEGER) AS island, COUNT(*) AS len
          FROM r GROUP BY u, island),
    m AS (SELECT u, MAX(len) AS streak_weeks FROM s GROUP BY u)
    SELECT CAST(streak_weeks AS BIGINT) AS streak_weeks,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM m GROUP BY streak_weeks
    """


@q("events_weekly_streaks", _STREAK_SQL)
def events_weekly_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-week streak per user, as a bounded
    streak-length histogram — gaps-and-islands on the distinct
    (user, week) grid (window partitions per user over that user's
    weeks, bounded by calendar span)."""
    return A.weekly_streaks(t(spark, sf_dir, "events"))


# --- embedding dimension covariance ---------------------------------------

_COV_SQL = """
    WITH fe AS (
      -- population boundary (finite_vectors' twin): a NaN/Inf
      -- component has no integer quantization and would poison every
      -- covariance sum — excluded from the population AND from n.
      -- The component band (9e18/quant = 9e12) additionally excludes
      -- finite-but-unquantizable garbage like an fp32-max component.
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
        AND COALESCE(list_sum(list_transform(
              embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE
        AND list_max(list_transform(
              embedding, x -> abs(CAST(x AS DOUBLE)))) <= 9.0e12
    ),
    q AS (
      SELECT vec_id AS id, i - 1 AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
                  AS BIGINT) AS qv
      FROM fe,
           LATERAL unnest(generate_series(1, len(embedding))) AS u(i)
    ),
    n AS (SELECT COUNT(*) AS n FROM fe),
    s AS (SELECT dim, CAST(SUM(qv) AS BIGINT) AS sv FROM q GROUP BY dim),
    c AS (SELECT a.dim AS i, b.dim AS j,
                 CAST(SUM(a.qv * b.qv) AS BIGINT) AS sij
          FROM q a JOIN q b ON a.id = b.id AND a.dim < b.dim
          GROUP BY 1, 2),
    cov AS (
      SELECT c.i, c.j,
             ROUND((CAST(c.sij AS DOUBLE) / 1000000.0 / 1000000.0
                    - (CAST(si.sv AS DOUBLE) / 1000000.0)
                      * (CAST(sj.sv AS DOUBLE) / 1000000.0) / n.n)
                   / n.n, 6) AS cov
      FROM c JOIN s si ON si.dim = c.i JOIN s sj ON sj.dim = c.j
      CROSS JOIN n
    )
    SELECT rank, i, j, cov FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(cov) DESC, i, j) AS rank
      FROM cov
    ) WHERE rank <= 20
    """


@q("emb_dim_covariance", _COV_SQL)
def emb_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 |covariance| off-diagonal embedding dimension pairs — the
    redundancy audit feeding dim-pruning decisions. Components quantize
    to integers FIRST so all three covariance sums are exact 64-bit
    aggregations (no float summation order across engines or
    partitions); see operators/features.dim_covariance_topk."""
    return FE.dim_covariance_topk(t(spark, sf_dir, "embeddings"))


# --- hashing-trick bucket audit -------------------------------------------

_HASHB_SQL = """
    WITH f AS (
      SELECT c.c_mktsegment || '|' || n.n_name AS feat
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    g AS (SELECT feat, COUNT(*) AS nrows FROM f GROUP BY feat),
    h AS (
      SELECT feat, nrows,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(generate_series(1, least(length(feat), 64)),
                                i -> CAST(ascii(substr(feat, i, 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 2147483647) % 32 AS bucket
      FROM g
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(SUM(nrows) AS BIGINT) AS n_rows,
           COUNT(*) > 1 AS collided,
           MIN(feat) AS example_feature
    FROM h GROUP BY bucket
    """


@q("feat_hash_buckets", _HASHB_SQL)
def feat_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit of the (mktsegment, nation) feature
    cross into 32 buckets via the portable polynomial fold — the
    information-loss check before training on hashed categoricals.
    Hashes evaluate once per DISTINCT feature (vocabulary grain), row
    counts ride along from an exact pre-aggregation."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return FE.hash_bucket_audit(
        joined,
        F.concat(F.col("c_mktsegment"), F.lit("|"), F.col("n_name")),
        n_buckets=32,
    )


# --- recency-weighted engagement ------------------------------------------

_RECENCY_SQL = """
    WITH ref AS (
      SELECT MAX(CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
                      AS BIGINT)) AS r
      FROM events
    ),
    t AS (
      SELECT user_id,
             CAST(ROUND(
               1.0 / (1.0
                      + CAST(r - date_diff('second',
                                           TIMESTAMP '1970-01-01 00:00:00', ts)
                             AS DOUBLE) / 86400.0 / 7.0)
               * 1000000000, 0) AS BIGINT) AS t9
      FROM events CROSS JOIN ref
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(t9) AS BIGINT) / 1000000000.0, 6) AS engagement
    FROM t GROUP BY user_id
    """


@q("events_recency_engagement", _RECENCY_SQL)
def events_recency_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted per-user engagement: each event contributes
    1/(1 + age_days/7) vs the corpus's newest event. Hyperbolic decay
    by design (pure IEEE division — no libm exp() whose last-ulp can
    differ across engines); terms round to 9 decimals and sum as exact
    scaled integers (partitioning-independent). See
    operators/analytics.recency_weighted_engagement."""
    return A.recency_weighted_engagement(t(spark, sf_dir, "events"))


# --- Rocchio pseudo-relevance feedback ------------------------------------

_ROCCHIO_SQL = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE COALESCE(list_sum(list_transform(
                          embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                 AND COALESCE(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)), 0) < 'inf'::DOUBLE
                 -- quantizable-domain band (9e18/quant): the exact-
                 -- centroid discipline integer-quantizes components,
                 -- so fp32-max garbage is outside the operator domain
                 AND list_max(list_transform(
                       embedding, x -> abs(CAST(x AS DOUBLE)))) <= 9.0e12),
    qz AS (SELECT vec_id AS query_id,
                  list_transform(v, x -> CAST(ROUND(x * 1000000, 0) AS BIGINT))
                    AS qq,
                  v AS qv
           FROM e WHERE vec_id < 5),
    scored1 AS (
      SELECT q.query_id, e.vec_id AS nid,
             ROUND(list_dot_product(q.qv, e.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(e.v, e.v))), 6) AS s
      FROM qz q, e WHERE e.vec_id <> q.query_id
    ),
    fb AS (SELECT query_id, nid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, nid) AS rn
        FROM scored1
      ) WHERE rn <= 5),
    comp AS (
      SELECT f.query_id, u.i - 1 AS dim,
             CAST(ROUND(e.v[u.i] * 1000000, 0) AS BIGINT) AS qc
      FROM fb f JOIN e ON e.vec_id = f.nid,
           LATERAL unnest(generate_series(1, len(e.v))) AS u(i)
    ),
    cent AS (
      SELECT query_id, list(s ORDER BY dim) AS cent
      FROM (SELECT query_id, dim, CAST(SUM(qc) AS BIGINT) AS s
            FROM comp GROUP BY 1, 2)
      GROUP BY query_id
    ),
    ex AS (
      SELECT z.query_id,
             list_transform(generate_series(1, len(z.qq)),
               i -> CAST(z.qq[i] AS DOUBLE) / 1000000.0
                    + 0.5 * (CAST(c.cent[i] AS DOUBLE) / 5.0 / 1000000.0))
               AS ev
      FROM qz z JOIN cent c ON c.query_id = z.query_id
    ),
    scored2 AS (
      SELECT x.query_id, e.vec_id AS neighbor_id,
             ROUND(list_dot_product(x.ev, e.v) /
                   (sqrt(list_dot_product(x.ev, x.ev)) *
                    sqrt(list_dot_product(e.v, e.v))), 6) AS cosine_sim
      FROM ex x, e WHERE e.vec_id <> x.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id)
               AS rank
      FROM scored2
    ) WHERE rank <= 10
    """


@q("sim_rocchio_feedback", _ROCCHIO_SQL)
def sim_rocchio_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback: q' = q + 0.5 * centroid of the
    top-5 first-pass neighbors, then re-search — the recall-boosting
    second pass. Centroid components come from EXACT integer sums of
    quantized components, so q' is engine-exact; see
    operators/similarity.rocchio_expand_topk."""
    e = t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    return S.rocchio_expand_topk(e, queries, k=10, feedback=5, beta=0.5)


# --- A/B assignment + SRM guardrail ---------------------------------------

_SRM_SQL = """
    WITH obs AS (
      SELECT source AS segment,
             (((doc_id % 2147483648) * 2654435761) % 4294967296) % 2 AS arm,
             COUNT(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT segment FROM obs),
    arms AS (SELECT UNNEST(generate_series(0, 1)) AS arm),
    c AS (
      -- IS NOT DISTINCT FROM: units with no source label are a REAL
      -- segment to monitor (unattributed traffic), matching the Spark
      -- groupBy's NULL-group semantics — a plain equi-join would lose
      -- the NULL segment between the grid and its own counts
      SELECT g.segment, a.arm, COALESCE(o.n, 0) AS n
      FROM grid g CROSS JOIN arms a
      LEFT JOIN obs o ON o.segment IS NOT DISTINCT FROM g.segment
                     AND o.arm = a.arm
    ),
    t AS (SELECT segment, CAST(SUM(n) AS BIGINT) AS tt FROM c GROUP BY 1),
    chi AS (
      SELECT c.segment,
             ROUND(CAST(SUM((2 * c.n - t.tt) * (2 * c.n - t.tt)) AS DOUBLE)
                   / (2 * CAST(t.tt AS DOUBLE)), 6) AS chi2
      FROM c JOIN t ON t.segment IS NOT DISTINCT FROM c.segment
      GROUP BY c.segment, t.tt
    )
    SELECT c.segment, CAST(c.arm AS BIGINT) AS arm, CAST(c.n AS BIGINT) AS n,
           chi.chi2, chi.chi2 > 3.841459 AS srm_flag
    FROM c JOIN chi ON chi.segment IS NOT DISTINCT FROM c.segment
    """


@q("ab_assignment_srm", _SRM_SQL)
def ab_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B arm assignment (portable multiplicative hash —
    sticky across reruns) with a per-segment sample-ratio-mismatch
    chi-square flagged at the 95% critical value — the broken-randomizer
    guardrail. The cross-arm chi-square numerator rearranges to exact
    64-bit integer sums, so any engine reproduces it bit-identically;
    zero-unit arms are materialized (their n^2 term is the worst
    mismatch, not an absent row). See
    operators/analytics.ab_assignment_srm."""
    return A.ab_assignment_srm(t(spark, sf_dir, "documents"))


# --- language-ID confusion matrix -----------------------------------------

_LANGCONF_SQL = """
    WITH s AS (
      SELECT doc_id, lang, list_filter(string_split_regex(trim(text), '\\s+'), _t -> _t <> '') AS ws FROM documents
    ),
    sc AS (
      SELECT doc_id, lang,
        len(list_filter(ws, w -> list_contains(['der','die','das','und','nicht','ist'], w))) AS s_de,
        len(list_filter(ws, w -> list_contains(['the','a','of','and','to','is'], w))) AS s_en,
        len(list_filter(ws, w -> list_contains(['el','la','los','de','que','es'], w))) AS s_es,
        len(list_filter(ws, w -> list_contains(['le','la','les','et','est','que'], w))) AS s_fr,
        len(list_filter(ws, w -> list_contains(['de','le','shi','bu','wo','zai'], w))) AS s_zh
      FROM s
    ),
    p AS (
      SELECT lang,
             -- COALESCE: NULL text scores 'und', not 'zh' (same
             -- contract as text_langid)
             CASE WHEN COALESCE(greatest(s_de, s_en, s_es, s_fr, s_zh), 0) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                  WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                  ELSE 'zh' END AS pred_lang
      FROM sc
    ),
    cell AS (SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM cell GROUP BY 1)
    SELECT c.lang, c.pred_lang, CAST(c.n AS BIGINT) AS n,
           ROUND(c.n / CAST(t.t AS DOUBLE), 6) AS row_share,
           c.lang = c.pred_lang AS correct
    FROM cell c JOIN tot t ON t.lang = c.lang
    """


@q("text_langid_confusion", _LANGCONF_SQL)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality eval: confusion matrix of the stopword-vote
    heuristic (operators/text.predict_lang) against the labeled lang
    column, with row-normalized shares — the per-language
    accuracy/confusion table a curation pipeline reads before trusting
    the gate. Bounded lang x lang grain; one scan + one agg."""
    from procoggraph_spark.operators.text import predict_lang

    d = t(spark, sf_dir, "documents")
    cell = (
        d.select("lang", predict_lang(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    tot = cell.groupBy("lang").agg(F.sum("n").alias("_t"))
    return cell.join(tot, "lang").select(
        "lang",
        "pred_lang",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("_t").cast("double"), 6).alias("row_share"),
        (F.col("lang") == F.col("pred_lang")).alias("correct"),
    )
