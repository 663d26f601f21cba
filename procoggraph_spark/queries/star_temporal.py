"""Temporal-join coverage over `events`: as-of join and interval range
join (operators.temporal), each with a DuckDB oracle — DuckDB's native
ASOF JOIN is the differential reference for our union-merge
formulation.

Oracle note: the driver's events.parquet is TIMESTAMP(NANOS); Spark
reads it truncated to microseconds (queries.common.t), so every oracle
truncates the same way (``make_timestamp(epoch_ns(ts) // 1000)``)
before comparing or joining — otherwise sub-microsecond components
flip as-of tie decisions between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from procoggraph_spark.functions.timeutil import epoch_seconds
from procoggraph_spark.operators.temporal import asof_join, range_join_intervals
from procoggraph_spark.queries.common import q, t

_EVENTS_US = """
  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
         user_id, event_type, value
  FROM events
"""


@q(
    "asof_purchase_view",
    f"""
    WITH e AS ({_EVENTS_US}),
    l AS (SELECT * FROM e WHERE event_type = 'purchase'),
    -- NULL event-time contract (dirty-ts fuzz): a timestamp-less view
    -- can never be the "most recent prior"; a timestamp-less purchase
    -- has no prior at all (DuckDB's ASOF would quirkily match it, so
    -- the NULL-ts left rows are carved out and re-attached unmatched)
    r AS (SELECT * FROM e WHERE event_type = 'view' AND ts IS NOT NULL)
    SELECT l.event_id, l.user_id,
           epoch_us(l.ts) // 1000000 AS ts_sec,
           r.value AS right_value
    FROM (SELECT * FROM l WHERE ts IS NOT NULL) l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    UNION ALL
    SELECT event_id, user_id, NULL AS ts_sec, NULL AS right_value
    FROM l WHERE ts IS NULL
    """,
)
def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the user's most recent prior view — the
    classic as-of shape (union-merge + last_value carry, one shuffle)."""
    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(
        purchases, views, on="user_id", value_cols=["value"]
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_seconds(F.col("ts")).alias("ts_sec"),
        F.col("right_value"),
    )


@q(
    "range_join_signup_window",
    f"""
    WITH e AS ({_EVENTS_US}),
    iv AS (
      SELECT user_id, ts AS start_ts, ts + INTERVAL '2 hours' AS end_ts
      FROM e WHERE event_type = 'signup'
    )
    SELECT e.event_id, e.user_id, e.event_type,
           epoch_us(iv.start_ts) // 1000000 AS window_start_sec
    FROM e JOIN iv
      ON e.user_id = iv.user_id
     AND e.ts BETWEEN iv.start_ts AND iv.end_ts
    """,
)
def range_join_signup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events inside each user's 2-hour post-signup window — interval
    containment via bucket-equi-join + exact refine (no theta join)."""
    e = t(spark, sf_dir, "events")
    iv = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    out = range_join_intervals(
        e.select("event_id", "user_id", "event_type", "ts"),
        iv,
        on="user_id",
        bucket_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        epoch_seconds(F.col("start")).alias("window_start_sec"),
    )


@q(
    "w_frame_moving_stats",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST((CASE WHEN value >= -9.0e15 AND value <= 9.0e15 THEN value END) AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS moving_sum,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING
                                    AND CURRENT ROW) AS n_last_30m
    FROM events WHERE user_id < 20 AND ts IS NOT NULL
    """,
)
def w_frame_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME specs (beyond-reference: the reference never uses
    rows/range frames): a 4-row moving sum (exact long-cents) and a
    30-minute RANGE frame count per user. One shuffle on user_id serves
    both frames. NULL event-time rows are excluded — they have no
    position in either frame (engines disagree on NULL sort placement;
    dirty-ts fuzz)."""
    from procoggraph_spark.queries.common import cents

    e = t(spark, sf_dir, "events").filter(
        (F.col("user_id") < 20) & F.col("ts").isNotNull()
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(epoch_seconds(F.col("ts")))
        .rangeBetween(-30 * 60, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        (F.sum(cents(F.col("value"))).over(w_rows) / 100.0).alias("moving_sum"),
        F.count("*").over(w_range).alias("n_last_30m"),
    )
