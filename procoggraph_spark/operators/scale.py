"""Scale operators: skew-salted aggregation and bucketed co-located
joins (SURVEY §4 / M6 — the 100 TB posture made concrete).

AQE's skew-join handles sort-merge skew at runtime; explicit salting is
still needed when the skewed side feeds a *aggregate-then-join* or a
UDF-cost hot key (one EC class holding half the candidate pairs in the
PARITY stage): ``two_phase_agg`` here, ``operators.skew.salted_join``
for joins. Bucketing removes the shuffle from repeated large-large
joins entirely — the node/edge tables of the graph layer are written
bucketed by their join key, so the interactive query joins (Q4-Q6
shapes) are exchange-free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def two_phase_agg(
    df: DataFrame,
    key: str,
    agg_exprs: dict[str, str],
    *,
    salt: int = 16,
) -> DataFrame:
    """Skew-safe grouped aggregation: partial agg on (key, salt) then
    final agg on key — a hot key's rows combine in ``salt`` parallel
    tasks before the single-key reduce sees only ``salt`` rows.
    Supports the decomposable aggregates the pipeline uses:
    sum / count / min / max."""
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(*df.columns), F.lit(salt)))
    partial_aggs, final_aggs = [], []
    for col, fn in agg_exprs.items():
        p = f"_p_{col}_{fn}"
        if fn == "count":
            partial_aggs.append(F.count(col).alias(p))
            final_aggs.append(F.sum(p).alias(f"{fn}_{col}"))
        elif fn in ("sum", "min", "max"):
            partial_aggs.append(getattr(F, fn)(col).alias(p))
            final_aggs.append(getattr(F, fn)(p).alias(f"{fn}_{col}"))
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")
    return (
        salted.groupBy(key, "_salt")
        .agg(*partial_aggs)
        .groupBy(key)
        .agg(*final_aggs)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (+ optionally sorted) managed table. Two
    tables bucketed the same way on the join key co-locate: their join
    needs NO exchange (and no sort, if sorted) — the layout SURVEY §4
    prescribes for the hot node/edge tables (`uniqueID`, `domain`,
    `pdbEntry`)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # the in-memory catalog forgets tables across sessions but their
    # warehouse directories persist; clear stale locations
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(warehouse, table.lower())
    if os.path.isdir(stale):
        shutil.rmtree(stale)
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed tables; with matching bucketing the plan
    shows zero Exchange on either side (asserted in tests)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def incremental_agg_refresh(
    materialized: DataFrame,
    delta: DataFrame,
    *,
    key_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Refresh a materialized rollup from a delta WITHOUT rescanning the
    base: aggregate the delta to the rollup grain, union it with the
    existing aggregate rows, and re-reduce — valid for any decomposable
    aggregate (sum/count here; min/max compose the same way). At 100 TB
    this is the difference between touching the delta partition and
    recomputing the fact table; refresh(base_agg, delta) is provably
    identical to recompute(base ∪ delta), which is exactly what the
    registry oracle checks.

    ``materialized`` carries ``key_cols + sum_cols + count_col`` (the
    output of a previous run or of ``delta`` aggregated from scratch
    against an empty frame). Scale shape: the delta agg is a hash agg
    with map-side combine; the merge shuffles only rollup-grain rows
    (bounded by key cardinality, not data size).
    """
    delta_agg = delta.groupBy(*key_cols).agg(
        *[F.sum(c).cast("long").alias(c) for c in sum_cols],
        F.count("*").alias(count_col),
    )
    return (
        materialized.select(*key_cols, *sum_cols, count_col)
        .unionByName(delta_agg)
        .groupBy(*key_cols)
        .agg(
            *[F.sum(c).cast("long").alias(c) for c in sum_cols],
            F.sum(count_col).cast("long").alias(count_col),
        )
    )
