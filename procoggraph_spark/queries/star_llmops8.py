"""Round-6 fifth batch: corpus/product analytics and governance —
cohort retention, funnel conversion, event-transition mining,
gaps-and-islands sessionization, hourly volume anomaly detection, and
user-activity Pareto over the events table; market-basket
co-occurrence and repurchase cadence over orders/lineitem;
duplicate-cluster size governance; one-pass table profiling;
curation-gate threshold sensitivity; inverse-frequency class weights;
RFM segmentation; plus the histogram quantile sketch (the quantile
tier of the sketch family) and PSI feature drift. All fifteen fully
oracle-backed (portable arithmetic throughout; implementations in
operators/analytics.py and operators/sketches.py).
Registered after star_llmops7 — PAST the full round-6 driver window;
round-7 rotation fodder, pre-verified vs DuckDB at sf0.001 + sf0.01
like every past-window batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.operators import analytics as A
from procoggraph_spark.queries.common import cents, q, t

# --- Cohort retention over the event stream --------------------------------
# Weekly-cohort retention triangle: cohort = Monday-truncated week of a
# user's first event (both engines truncate weeks to Monday), activity =
# the distinct (user, week) grid, offset = whole weeks since the cohort
# week (day difference of two week-truncated dates is always a multiple
# of 7). Two hash aggregations + one user-keyed join; the per-user state
# is one date, never the event history.

_COHORT_SQL = """
    WITH first AS (
      SELECT user_id,
             MIN(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
      FROM events
    ),
    sz AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM first GROUP BY 1),
    ret AS (
      SELECT f.cohort_week,
             date_diff('day', f.cohort_week, a.w) / 7 AS week_offset,
             COUNT(*) AS n_active
      FROM act a JOIN first f ON a.user_id = f.user_id
      GROUP BY 1, 2
    )
    SELECT r.cohort_week, CAST(r.week_offset AS BIGINT) AS week_offset,
           r.n_active, s.cohort_size,
           ROUND(r.n_active / CAST(s.cohort_size AS DOUBLE), 6) AS retention
    FROM ret r JOIN sz s ON r.cohort_week = s.cohort_week
    """


@q("events_cohort_retention", _COHORT_SQL)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle: for each signup-week cohort,
    the share of its users active in each subsequent week — the
    engagement decay table every product dashboard carries. Shape: two
    hash aggs (first-week per user, distinct user-weeks) + one
    user-keyed equi-join; cohort sizes join back on the bounded
    week grain. No window over the unbounded user space."""
    return A.cohort_retention(t(spark, sf_dir, "events"))


# --- Multi-step funnel conversion ------------------------------------------
# signup -> view -> purchase with strict temporal chaining: each step's
# first qualifying timestamp must fall AFTER the previous step's. Three
# user-keyed aggregations; the per-user state is three timestamps. The
# long-format output (one row per step) unpivots a single-row aggregate.

_FUNNEL_SQL = """
    WITH s AS (
      SELECT user_id, MIN(ts) AS ts_s FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
      SELECT e.user_id, MIN(e.ts) AS ts_v
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'view' AND e.ts > s.ts_s
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS ts_p
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.ts_v
      GROUP BY e.user_id
    ),
    c AS (
      SELECT (SELECT COUNT(*) FROM s) AS n1,
             (SELECT COUNT(*) FROM v) AS n2,
             (SELECT COUNT(*) FROM p) AS n3
    )
    SELECT * FROM (
      SELECT 1 AS step, 'signup' AS step_name, n1 AS n_users,
             1.0 AS conv_from_prev FROM c
      UNION ALL
      SELECT 2, 'view_after_signup', n2,
             CASE WHEN n1 = 0 THEN CAST(NULL AS DOUBLE)
                  ELSE ROUND(n2 / CAST(n1 AS DOUBLE), 6) END FROM c
      UNION ALL
      SELECT 3, 'purchase_after_view', n3,
             CASE WHEN n2 = 0 THEN CAST(NULL AS DOUBLE)
                  ELSE ROUND(n3 / CAST(n2 AS DOUBLE), 6) END FROM c
    ) ORDER BY step
    """


@q("events_funnel_conversion", _FUNNEL_SQL)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step funnel (signup → view → purchase) with strict
    temporal chaining: step N counts users whose first qualifying event
    falls after their step-N-1 timestamp. Three user-keyed hash aggs +
    two equi-joins; the final 3-row table unpivots one single-row
    aggregate (stack), so nothing wide ever sorts."""
    return A.funnel_conversion(
        t(spark, sf_dir, "events"), ("signup", "view", "purchase")
    )


# --- Event-transition mining (Markov first-order) --------------------------

_TRANSITIONS_SQL = """
    WITH o AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events WHERE ts IS NOT NULL
    ),
    c AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM o WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT prev_type, SUM(n) AS row_total FROM c GROUP BY 1)
    SELECT c.prev_type, c.next_type, c.n,
           ROUND(c.n / CAST(t.row_total AS DOUBLE), 6) AS p_next
    FROM c JOIN tot t ON c.prev_type = t.prev_type
    ORDER BY c.n DESC, c.prev_type, c.next_type LIMIT 20
    """


@q("events_top_transitions", _TRANSITIONS_SQL)
def events_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition table: per-user event sequences
    (lag over a user-partitioned window — state bounded by one user's
    history, never global), pair counts, and row-normalized transition
    probabilities; top-20 with a full deterministic tiebreak. The
    sequence-mining primitive behind session-flow dashboards."""
    return A.event_transitions(t(spark, sf_dir, "events"), top_k=20)



# --- Duplicate-cluster size governance -------------------------------------

_CLUSTER_SIZES_SQL = """
    WITH k AS (
      SELECT md5(text) AS ck, COUNT(*) AS sz
      FROM documents WHERE text IS NOT NULL GROUP BY md5(text)
    ),
    h AS (
      SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
             CAST(sz * COUNT(*) AS BIGINT) AS n_docs
      FROM k GROUP BY sz
    )
    SELECT cluster_size, n_clusters, n_docs,
           ROUND(n_docs / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS doc_share
    FROM h ORDER BY cluster_size
    """


@q("dedup_cluster_sizes", _CLUSTER_SIZES_SQL)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup governance table
    (how much of the corpus sits in 2×/3×/k× clusters decides whether
    near-dup even pays for itself). One content-key hash agg, then a
    second agg onto the BOUNDED size grain; the share window runs over
    the tiny histogram table only, never the key space."""
    return A.cluster_size_histogram(t(spark, sf_dir, "documents"))



# --- One-pass table profiling ----------------------------------------------
# Long-format data-quality profile of the orders table: per column —
# nulls, exact distinct count, numeric min/max (numeric columns) or
# lexicographic min/max (string columns). Spark computes ALL metrics in
# ONE aggregation pass (multiple count-distincts expand map-side) and
# unpivots the single result row with stack; the oracle unions
# per-column scans (DuckDB re-scans; correctness twin, not a perf twin).

_PROFILE_SQL = """
    SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus), NULL, NULL,
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority), NULL, NULL,
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    ORDER BY col_name
    """


@q("diag_table_profile", _PROFILE_SQL)
def diag_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler (nulls / exact distincts / min-max per
    column, long format) — the ingest data-quality gate. All metrics
    for all five columns compute in a SINGLE aggregation over one scan
    (multi-distinct expands map-side; 5 columns → one Expand, one
    exchange), then the single result row unpivots via stack. The
    oracle's UNION-of-scans shape is the correctness twin only."""
    return A.table_profile(
        t(spark, sf_dir, "orders"),
        numeric_cols=("o_orderkey", "o_custkey", "o_totalprice"),
        string_cols=("o_orderstatus", "o_orderpriority"),
    )



# --- Curation-gate threshold sensitivity -----------------------------------
# How many documents (and what character share) survive a min-length
# gate, swept over a 10-point threshold grid. Documents collapse to a
# BOUNDED bucket histogram first (floor(n_chars/100) capped at 10 —
# bucket >= t  <=>  n_chars >= 100*t); the grid x histogram product is
# 10 x 11 rows, so the sweep itself costs nothing regardless of corpus
# size. The 100 TB shape: one scan, one bounded agg, driver-sized rest.

_GATE_SENSITIVITY_SQL = """
    WITH b AS (
      SELECT LEAST(n_chars // 100, 10) AS bucket, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS n_total, SUM(chars) AS c_total FROM b),
    g AS (SELECT unnest(generate_series(1, 10)) AS tstep)
    SELECT CAST(g.tstep * 100 AS BIGINT) AS min_chars,
           CAST(COALESCE(SUM(b.n), 0) AS BIGINT) AS n_kept,
           ROUND(COALESCE(SUM(b.n), 0) / CAST(t.n_total AS DOUBLE), 6)
             AS kept_frac,
           ROUND(COALESCE(SUM(b.chars), 0) / CAST(t.c_total AS DOUBLE), 6)
             AS char_share
    FROM g CROSS JOIN tot t
    LEFT JOIN b ON b.bucket >= g.tstep
    GROUP BY g.tstep, t.n_total, t.c_total
    ORDER BY min_chars
    """


@q("curation_gate_sensitivity", _GATE_SENSITIVITY_SQL)
def curation_gate_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep for a min-length curation gate:
    docs and character share surviving each of 10 candidate thresholds —
    the picks-the-knob table run before committing a gate. Corpus
    collapses to a bounded length-bucket histogram in one agg; the
    10×11-row grid join and share math are driver-trivial at any
    corpus size."""
    return A.gate_sensitivity(
        t(spark, sf_dir, "documents"), size_col="n_chars", step=100, n_steps=10
    )



# --- Inverse-frequency class weights ---------------------------------------

_CLASS_WEIGHTS_SQL = """
    WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT SUM(n_docs) AS n_total, COUNT(*) AS n_classes FROM c)
    SELECT c.lang, c.n_docs,
           ROUND(t.n_total / CAST(t.n_classes * c.n_docs AS DOUBLE), 6)
             AS weight_balanced,
           ROUND(SQRT(t.n_total / CAST(c.n_docs AS DOUBLE)), 6)
             AS weight_sqrt
    FROM c CROSS JOIN t ORDER BY c.lang
    """


@q("feat_class_weights", _CLASS_WEIGHTS_SQL)
def feat_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class sample weights for imbalanced training: the sklearn
    'balanced' inverse-frequency weight and the softer sqrt variant,
    per language. One bounded class agg; the totals row broadcasts
    back — the standard loss-reweighting feed."""
    return A.class_weights(t(spark, sf_dir, "documents"), class_col="lang")



# --- RFM customer segmentation ---------------------------------------------
# Quartile scores for recency / frequency / monetary via ntile over a
# fully deterministic (metric, custkey) order — identical bucket edges
# on both engines. Monetary sums ride exact long-cents. The global
# ntile sort is the sf-scale shape; the documented 100 TB path swaps in
# approx-quantile cut points exactly as curation_perplexity_buckets does.

_RFM_SQL = """
    WITH base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
               AS r_days,
             COUNT(*) AS freq,
             CAST(SUM(CAST(ROUND((CASE WHEN o_totalprice >= -9.0e15 AND o_totalprice <= 9.0e15 THEN o_totalprice END) * 100, 0) AS BIGINT)) AS BIGINT)
               AS m_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT custkey,
             NTILE(4) OVER (ORDER BY r_days, custkey) AS r_q,
             NTILE(4) OVER (ORDER BY freq DESC, custkey) AS f_q,
             NTILE(4) OVER (ORDER BY m_cents DESC, custkey) AS m_q,
             m_cents
      FROM base
    )
    SELECT CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR)
             AS segment,
           COUNT(*) AS n_customers,
           CAST(SUM(m_cents) / 100.0 AS DOUBLE) AS total_monetary
    FROM scored GROUP BY 1 ORDER BY segment
    """


@q("orders_rfm_segments", _RFM_SQL)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary
    quartiles (ntile over deterministic tie-broken order; best quartile
    = 1) concatenated into a 3-digit segment, rolled up to segment
    counts and exact-cents monetary totals. The marketing-selection
    twin of the curation quality bands."""
    return A.rfm_segments(
        t(spark, sf_dir, "orders"),
        cents_col=cents(F.col("o_totalprice")),
    )


# --- Batch sessionization (gaps-and-islands) -------------------------------
# Second-session batch: sessionize / volume anomaly / basket pairs /
# repurchase gaps / user pareto — same past-window registration.

_SESSIONIZE_SQL = """
    WITH o AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN date_diff('second',
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE ts IS NOT NULL
    ),
    s AS (
      -- event_id tiebreak matches the operator's (ts, order_tiebreak)
      -- contract: without it session_seq is nondeterministic on
      -- same-ts events
      SELECT user_id, ts, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM o
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
             AS duration_sec,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM s GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """


@q("events_sessionize", _SESSIONIZE_SQL)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap) with
    per-session stats — the explicit batch twin of the engine session
    window, per-user-bounded windows throughout."""
    return A.sessionize(t(spark, sf_dir, "events"), gap_seconds=1800)


# --- Hourly volume anomaly detection ---------------------------------------

_VOLUME_ANOMALY_SQL = """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_start,
             COUNT(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    wstat AS (
      SELECT event_type, bucket_start, n,
             SUM(n) OVER w AS s,
             SUM(n * n) OVER w AS s2,
             COUNT(n) OVER w AS c
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, bucket_start, n,
           ROUND(s / 24.0, 6) AS trail_mean,
           ROUND(CASE WHEN (s2 - s * s / 24.0) / 23.0 > 0
                 THEN (n - s / 24.0) / sqrt((s2 - s * s / 24.0) / 23.0)
                 END, 6) AS z_score,
           COALESCE(CASE WHEN (s2 - s * s / 24.0) / 23.0 > 0
                 THEN abs((n - s / 24.0) / sqrt((s2 - s * s / 24.0) / 23.0))
                      >= 3.0 END, FALSE) AS is_anomaly
    FROM wstat WHERE c = 24
    """


@q("events_volume_anomaly", _VOLUME_ANOMALY_SQL)
def events_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomaly flags: each (type, hour) count z-scored
    against its trailing 24 observed buckets; moments derive from exact
    integer frame sums, never a windowed stddev (engine-specific
    accumulation order). The ops-monitoring twin of the drift audits."""
    return A.volume_anomaly(t(spark, sf_dir, "events"), trail=24)


# --- Market-basket co-occurrence -------------------------------------------

_BASKET_SQL = """
    WITH d AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    nb AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM d),
    p AS (
      SELECT a.i AS item_a, b2.i AS item_b, COUNT(*) AS support
      FROM d a JOIN d b2 ON a.b = b2.b AND a.i < b2.i
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, support,
           ROUND(support / CAST(nb.n_baskets AS DOUBLE), 6) AS support_share
    FROM p CROSS JOIN nb
    ORDER BY support DESC, item_a, item_b LIMIT 20
    """


@q("basket_part_pairs", _BASKET_SQL)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket part co-occurrence over order lines: within-order
    item pairs (basket-keyed equi-join, fanout bounded by basket size),
    support counts + share, deterministic top-20. The association-
    mining primitive behind recommendation candidates."""
    # basket-bucketed layout: the per-basket collect_set plans
    # exchange-free on l_orderkey
    return A.basket_pairs(
        t(spark, sf_dir, "lineitem", widen_on="l_orderkey"), top_k=20
    )


# --- Repurchase cadence ----------------------------------------------------

_REPURCHASE_SQL = """
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
               LAG(CAST(o_orderdate AS DATE))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    )
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_gaps,
           MIN(g.gap) AS min_gap_days,
           MAX(g.gap) AS max_gap_days,
           ROUND(SUM(g.gap) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_gap_days
    FROM g JOIN customer c ON g.o_custkey = c.c_custkey
    WHERE g.gap IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """


@q("orders_repurchase_gaps", _REPURCHASE_SQL)
def orders_repurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repurchase cadence per market segment: day gaps between a
    customer's consecutive orders (customer-bounded lag window), exact
    integer gap sums rolled up per segment with the dimension joined
    broadcast-side."""
    return A.repurchase_gaps(
        t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    )


# --- User-activity Pareto (whale curve) ------------------------------------

_USER_PARETO_SQL = """
    WITH u AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    td AS (
      SELECT n, NTILE(10) OVER (ORDER BY n DESC, user_id) AS decile FROM u
    ),
    d AS (
      SELECT decile, COUNT(*) AS n_users, SUM(n) AS n_events
      FROM td GROUP BY decile
    ),
    tot AS (SELECT SUM(n_events) AS t FROM d)
    SELECT d.decile, d.n_users, CAST(d.n_events AS BIGINT) AS n_events,
           ROUND(d.n_events / CAST(tot.t AS DOUBLE), 6) AS event_share,
           ROUND(SUM(d.n_events) OVER (ORDER BY d.decile
                                       ROWS UNBOUNDED PRECEDING)
                 / CAST(tot.t AS DOUBLE), 6) AS cum_share
    FROM d CROSS JOIN tot ORDER BY d.decile
    """


@q("events_user_pareto", _USER_PARETO_SQL)
def events_user_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-activity Pareto deciles: share and cumulative share of
    events produced by each activity decile — the whale-curve
    concentration diagnostic, user-grain twin of the source-level
    Pareto coverage. Cumulative window runs over the bounded 10-row
    decile table only."""
    return A.user_activity_pareto(t(spark, sf_dir, "events"), n_tiles=10)


# --- Histogram quantile sketch ---------------------------------------------
# Third micro-batch: the quantile tier of the sketch family + PSI
# feature-drift, same past-window registration.

_QUANTILE_BINS_SQL = """
    WITH mm AS (
      SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS mn,
             CAST(MAX(o_totalprice) AS DOUBLE) AS mx,
             COUNT(o_totalprice) AS n
      FROM orders
    ),
    b AS (
      SELECT CASE WHEN mm.mx = mm.mn THEN 0
             ELSE CAST(LEAST(FLOOR((o_totalprice - mm.mn)
                                   / ((mm.mx - mm.mn) / 64.0)), 63) AS BIGINT)
             END AS bin,
             COUNT(*) AS cnt
      FROM orders CROSS JOIN mm GROUP BY 1
    ),
    c AS (
      SELECT bin, SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      FROM b
    ),
    g AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q)
    SELECT g.q,
           mm.mn + (MIN(c.bin) + 1) * ((mm.mx - mm.mn) / 64.0) AS est
    FROM g CROSS JOIN mm JOIN c ON c.cum >= CEIL(g.q * mm.n)
    GROUP BY g.q, mm.mn, mm.mx ORDER BY g.q
    """


@q("sketch_quantile_bins", _QUANTILE_BINS_SQL)
def sketch_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch over order totals: 64 equi-width bins
    (bounded mergeable state, the quantile tier next to CMS/Bloom/HLL),
    quantiles answered by walking the cumulative histogram — error
    bounded by one bin width, arithmetic fully engine-replayable (no
    interpolation semantics). The 100 TB path for percentile
    dashboards where exact sorts don't pay."""
    from procoggraph_spark.operators.sketches import histogram_quantiles

    return histogram_quantiles(
        t(spark, sf_dir, "orders"), value_col="o_totalprice", bins=64
    )


# --- PSI feature drift ------------------------------------------------------

_PSI_SQL = """
    WITH s AS (
      SELECT LEAST(n_chars // 100, 10) AS bucket, doc_id % 2 AS snap
      FROM documents
    ),
    b AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN snap <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM s GROUP BY bucket
    ),
    t AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb,
             COUNT(*) AS k
      FROM b
    )
    SELECT CAST(b.bucket AS BIGINT) AS bucket, b.n_a, b.n_b,
           ROUND((b.n_a + 1) / CAST(t.ta + t.k AS DOUBLE), 6) AS share_a,
           ROUND((b.n_b + 1) / CAST(t.tb + t.k AS DOUBLE), 6) AS share_b,
           ROUND(((b.n_a + 1) / CAST(t.ta + t.k AS DOUBLE)
                  - (b.n_b + 1) / CAST(t.tb + t.k AS DOUBLE))
                 * ln(((b.n_a + 1) / CAST(t.ta + t.k AS DOUBLE))
                      / ((b.n_b + 1) / CAST(t.tb + t.k AS DOUBLE))), 6)
             AS psi_contrib
    FROM b CROSS JOIN t ORDER BY bucket
    """


@q("feat_psi_drift", _PSI_SQL)
def feat_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the document-length distribution
    between two corpus snapshots (even/odd ids standing in for week-1
    / week-2, the emb_centroid_drift convention): per-bucket shares
    with add-one smoothing and PSI contributions — the
    feature-distribution drift monitor next to the embedding-centroid
    one. One scan, one bounded bucket agg, totals broadcast back."""
    from procoggraph_spark.operators.sketches import psi_drift

    return psi_drift(
        t(spark, sf_dir, "documents"),
        value_col="n_chars",
        snapshot_col=(F.col("doc_id") % 2),
        step=100,
        n_buckets=10,
    )


# --- Corpus diversity without pairs ----------------------------------------
# Fourth micro-batch: diversity / heatmap / attribution.

_DIVERSITY_SQL = """
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (
      SELECT g.pos, e.v[g.pos] AS v
      FROM e, LATERAL unnest(generate_series(1, 64)) AS g(pos)
    ),
    per_dim AS (
      SELECT pos, SUM(v) AS s, SUM(v * v) AS sq FROM d GROUP BY pos
    ),
    a AS (SELECT SUM(s * s) AS ss, SUM(sq) AS self FROM per_dim),
    n AS (SELECT COUNT(*) AS n FROM embeddings)
    SELECT n.n AS n_vectors,
           ROUND((a.ss - a.self) / CAST(n.n * (n.n - 1) AS DOUBLE), 6)
             AS mean_pairwise_dot,
           ROUND(a.self / CAST(n.n AS DOUBLE), 6) AS mean_self_dot
    FROM a CROSS JOIN n
    """


@q("sim_pairwise_diversity", _DIVERSITY_SQL)
def sim_pairwise_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise dot product over ALL embedding pairs WITHOUT
    forming a single pair: the sum identity Σ_{i≠j} vi·vj = ||Σv||² −
    Σ||v||² turns the O(n²) diversity metric into one posexplode + one
    per-dim bounded agg — the data-mix collapse gauge at any corpus
    size."""
    return A.pairwise_diversity(t(spark, sf_dir, "embeddings"))


# --- Weekday × hour activity heatmap ---------------------------------------

_HEATMAP_SQL = """
    WITH g AS (
      SELECT isodow(ts) AS isodow, EXTRACT(hour FROM ts) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT SUM(n) AS t FROM g)
    SELECT CAST(g.isodow AS INT) AS isodow, CAST(g.hour AS INT) AS hour,
           g.n, ROUND(g.n / CAST(t.t AS DOUBLE), 6) AS share
    FROM g CROSS JOIN t ORDER BY isodow, hour
    """


@q("events_activity_heatmap", _HEATMAP_SQL)
def events_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-weekday × hour activity heatmap with per-cell share — one
    aggregation onto the bounded 7×24 grain, total broadcast back."""
    e = t(spark, sf_dir, "events")
    out = A.activity_heatmap(e)
    return out.select(
        F.col("isodow").cast("int").alias("isodow"),
        F.col("hour").cast("int").alias("hour"),
        "n",
        "share",
    )


# --- Last-touch purchase attribution ---------------------------------------

_ATTRIBUTION_SQL = """
    WITH o AS (
      SELECT user_id, event_type, value,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events WHERE ts IS NOT NULL
    ),
    h AS (
      SELECT prev_type AS touch_type, COUNT(*) AS n_conversions,
             CAST(SUM(CAST(ROUND((CASE WHEN value >= -9.0e15 AND value <= 9.0e15 THEN value END) * 100, 0) AS BIGINT)) AS BIGINT) AS vc
      FROM o WHERE event_type = 'purchase' AND prev_type IS NOT NULL
      GROUP BY 1
    ),
    t AS (SELECT SUM(n_conversions) AS t FROM h)
    SELECT h.touch_type, h.n_conversions,
           ROUND(h.n_conversions / CAST(t.t AS DOUBLE), 6)
             AS conversion_share,
           CAST(h.vc / 100.0 AS DOUBLE) AS total_value
    FROM h CROSS JOIN t ORDER BY h.touch_type
    """


@q("events_last_touch_attribution", _ATTRIBUTION_SQL)
def events_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution of purchases to the user's immediately
    preceding event type: counts, shares, exact-cents value totals —
    one user-bounded lag window + one bounded agg."""
    return A.last_touch_attribution(t(spark, sf_dir, "events"))
