"""Windowed-aggregation coverage over `events` (the streaming surface's
batch-mode twins, each with a DuckDB oracle). The same plans run under
readStream (see procoggraph_spark.streaming.windows) — tested in pytest
with trigger(availableNow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.functions.timeutil import epoch_seconds
from procoggraph_spark.queries.common import finite_num, q, t
from procoggraph_spark.streaming import windows as W

@q(
    "stream_tumbling_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST((CASE WHEN value >= -9.0e15 AND value <= 9.0e15 THEN value END) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window counts (batch twin of the streaming aggregation; availableNow equality pytest)."""
    return W.tumbling_counts(t(spark, sf_dir, "events"), duration="1 hour")


@q(
    "stream_sliding_window",
    """
    SELECT window_start, event_type, COUNT(*) AS n
    FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - k * INTERVAL '30 minutes' AS window_start,
             event_type
      FROM events, LATERAL unnest([0, 1]) AS u(k)
      WHERE ts IS NOT NULL
    )
    GROUP BY window_start, event_type
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window counts (overlapping windows, batch twin)."""
    return W.sliding_counts(
        t(spark, sf_dir, "events"), duration="1 hour", slide="30 minutes"
    )


@q(
    "stream_session_window",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap per user (batch twin of the streaming session aggregation)."""
    return W.session_windows_batch(t(spark, sf_dir, "events"), gap_minutes=30)


@q(
    "stream_late_data_policy",
    """
    SELECT event_type,
           COUNT(CASE WHEN ts <= mx - INTERVAL '10 minutes' THEN 1 END) AS n_on_time,
           COUNT(*) AS n_total
    FROM events, (SELECT MAX(ts) AS mx FROM events)
    GROUP BY event_type
    """,
)
def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy twin: classify events against max(ts) - 10 min —
    the batch-expressible shadow of `withWatermark('ts','10 minutes')`."""
    e = t(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("mx"))
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count(
                F.when(
                    F.col("ts") <= F.col("mx") - F.expr("INTERVAL 10 minutes"), 1
                )
            ).alias("n_on_time"),
            F.count("*").alias("n_total"),
        )
    )


@q(
    "stream_stateful_totals",
    """
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST((CASE WHEN value >= -9.0e15 AND value <= 9.0e15 THEN value END) AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState running-totals operator
    (procoggraph_spark.streaming.windows.stateful_user_totals); pytest
    drains the stateful stream with trigger(availableNow) and asserts
    bit-identical totals against this plan."""
    return W.batch_user_totals(t(spark, sf_dir, "events"))


@q(
    "stream_hypertable_rollup",
    """
    SELECT granularity, bucket_start, event_type, n, total
    FROM (
      SELECT 'hour' AS granularity,
             CAST(epoch_us(time_bucket(INTERVAL '1 hour', make_timestamp(epoch_ns(ts) // 1000)))
                  // 1000000 AS BIGINT) AS bucket_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST((CASE WHEN value >= -9.0e15 AND value <= 9.0e15 THEN value END) AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY 2, 3
      UNION ALL
      SELECT 'day',
             CAST(epoch_us(time_bucket(INTERVAL '1 day', make_timestamp(epoch_ns(ts) // 1000)))
                  // 1000000 AS BIGINT),
             event_type, COUNT(*),
             CAST(SUM(CAST((CASE WHEN value >= -9.0e15 AND value <= 9.0e15 THEN value END) AS DECIMAL(18,2))) AS DOUBLE)
      FROM events GROUP BY 2, 3
    )
    """,
)
def stream_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: one pass computes the
    finest granularity (hour), and the coarser tier (day) re-aggregates
    the HOURLY partials, not the raw events — the TimescaleDB
    continuous-aggregate cascade. Raw events are read and shuffled
    once; the day tier reduces ~24× fewer rows. Long-cents sums keep
    every tier exact and re-aggregatable."""
    e = t(spark, sf_dir, "events")
    hourly_c = (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.round(finite_num(F.col("value")) * 100, 0).cast("long")
            ).alias("_cents"),
        )
    )
    hourly = hourly_c.select(
        F.lit("hour").alias("granularity"),
        epoch_seconds(F.col("bucket_ts")).alias("bucket_start"),
        "event_type",
        "n",
        (F.col("_cents") / 100.0).alias("total"),
    )
    daily = (
        hourly_c.groupBy(
            F.date_trunc("day", F.col("bucket_ts")).alias("day_ts"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("_cents").alias("_cents"))
        .select(
            F.lit("day").alias("granularity"),
            epoch_seconds(F.col("day_ts")).alias("bucket_start"),
            "event_type",
            "n",
            (F.col("_cents") / 100.0).alias("total"),
        )
    )
    return hourly.unionByName(daily)


@q(
    "stream_funnel_join",
    """
    SELECT a.event_id AS first_id, b.event_id AS then_id, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'error'
    """,
)
def stream_funnel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join (click → error by
    the same user within 5 minutes); the readStream twin with two-sided
    watermarks is `streaming.windows.streaming_funnel_join`."""
    return W.funnel_join_batch(
        t(spark, sf_dir, "events"),
        first_type="click",
        then_type="error",
        within_minutes=5,
    )


@q(
    "stream_static_enrich",
    """
    SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
           c.c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST((CASE WHEN e.value >= -9.0e15 AND e.value <= 9.0e15 THEN e.value END) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join (events ⋈
    broadcast customer dim → hourly per-segment rollup); the readStream
    twin is `streaming.windows.streaming_enriched_counts`."""
    return W.enriched_counts_batch(
        t(spark, sf_dir, "events"), t(spark, sf_dir, "customer")
    )
