"""Skew diagnostics and skew-safe join operators.

At 100 TB the single biggest shuffle-join failure mode is a hot key: one
reducer gets the head key's entire row set while the other 999 executors
idle. These operators are the two halves of the standard mitigation:
measure the key distribution BEFORE the join (``key_skew_audit`` — the
table a pipeline inspects to decide salting factors / AQE skew
thresholds), and run the join with the dimension side replicated across
``salts`` buckets so the hot key's probe rows spread over ``salts``
reducers (``salted_join`` — the classic salting rewrite, identical
results to the plain join).

Spark's AQE skew-join handles sort-merge skew automatically when stats
are visible at runtime; explicit salting remains the portable fix for
hash-partitioned aggregations and for engines/paths AQE doesn't cover.
The salt is the repo's portable multiplicative hash, so salted results
are deterministic and partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from procoggraph_spark.operators.sampling import _A, _M, _R


def key_skew_audit(
    df: DataFrame, key_col: str, *, top_k: int = 10
) -> DataFrame:
    """Join/agg-key skew report: the ``top_k`` heaviest keys with their
    row share and skew ratio (rows vs the mean rows-per-key). A
    skew_ratio near 1 means uniform keys; 100× means the key needs
    salting / AQE skew handling before it anchors a shuffle.

    Scale shape: one hash agg to key grain (map-side combine), a 1-row
    global summary broadcast back, and a TakeOrderedAndProject cut for
    the head keys — no global sort, no corpus-sized window.
    """
    counts = df.groupBy(key_col).agg(F.count("*").alias("n_rows"))
    tot = counts.agg(
        F.sum("n_rows").cast("long").alias("_total"),
        F.count("*").cast("long").alias("_n_keys"),
    )
    cut = (
        counts.join(F.broadcast(tot))
        .orderBy(F.desc("n_rows"), F.asc(key_col))
        .limit(top_k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_rows"), F.asc(key_col))
    return cut.withColumn("rank", F.row_number().over(w)).select(
        key_col,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("n_rows") / F.col("_total"), 6).alias("row_share"),
        F.round(
            F.col("n_rows") * F.col("_n_keys") / F.col("_total"), 6
        ).alias("skew_ratio"),
        "rank",
    )


def salt_of(col: Column, *, salts: int) -> Column:
    """Deterministic salt in [0, salts) from an integer column (the
    portable multiplicative hash — engine- and rerun-stable). pmod
    keeps the salt non-negative for negative inputs too — a plain %
    would emit a negative salt there, and every such fact row would
    silently vanish from the inner join against the 0..salts-1 dim
    replicas."""
    return F.pmod(((F.pmod(col, F.lit(_R))) * _A) % _M, F.lit(salts))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    *,
    key_col: str,
    salt_from: str,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: replicate the (small) dimension side across
    ``salts`` salt values and give every fact row a deterministic salt
    from ``salt_from`` (a fact column with high cardinality, e.g. the
    line id), then join on (key, salt). A hot key's rows now hash to
    ``salts`` different reducers instead of one; results are identical
    to ``fact.join(dim, key_col, how)`` for fact-preserving joins
    (inner/left/left_semi/left_anti — the only accepted ``how``
    values). Right/full outer would replicate each unmatched dim row
    ``salts`` times (the dim side carries ``salts`` copies), so they
    are rejected rather than silently wrong.

    Cost model: dim side grows ``salts``× (it is the bounded side by
    contract); fact side is untouched. Use when the fact's key
    histogram (``key_skew_audit``) shows a head key too hot for one
    reducer and the dim is too big to broadcast outright.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} is not fact-preserving; the "
            f"salted dim side would duplicate unmatched dim rows. "
            f"Use one of {sorted(allowed)}."
        )
    dim_s = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    fact_s = fact.withColumn("_salt", salt_of(F.col(salt_from), salts=salts))
    return fact_s.join(dim_s, [key_col, "_salt"], how).drop("_salt")
