"""Product/corpus analytics operators: cohort retention, funnel
conversion, event-transition mining, duplicate-cluster governance,
table profiling, gate-threshold sensitivity, class weights, RFM
segmentation.

Reference parity note: the reference's dashboard layer answers grouped
rollups and ratio tables over its graph model (e.g.
`procoggraph_flask/app.py` summary/ratio endpoints); these operators
are the same rollup/ratio shapes generalized to the event-stream and
corpus tables, expressed as single-pass Spark column algebra.

Scale posture shared by every operator here: per-entity state is a few
scalars (never an event history), windows partition by a bounded or
per-entity key (never the global row space), global ratios come from
broadcast single-row aggregates, and sweep grids collapse the corpus
to a bounded histogram before any cross product.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from procoggraph_spark.queries.common import finite_num, valid_ts


def _sql_str(v) -> str:
    """Escape a value as a SQL single-quoted string literal (quotes
    doubled) — caller-supplied step/column names are interpolated into
    selectExpr stacks and must not be able to break or alter the SQL."""
    return "'" + str(v).replace("'", "''") + "'"


def _sql_ident(name) -> str:
    """Escape a caller-supplied name as a backtick-quoted SQL
    identifier (backticks doubled)."""
    return "`" + str(name).replace("`", "``") + "`"


def cohort_retention(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention triangle: cohort = Monday-truncated week
    of the user's first event; one row per (cohort_week, week_offset)
    with the count and share of the cohort active that week.

    Two hash aggregations (first week per user; distinct user-weeks) +
    one user-keyed equi-join; cohort sizes join back on the bounded
    week grain. Week offsets are exact (day difference of two
    week-truncated timestamps is always a multiple of 7).
    """
    wk = F.date_trunc("week", F.col(ts_col))
    first = events.groupBy(user_col).agg(F.min(wk).alias("cohort_week"))
    act = events.select(user_col, wk.alias("w")).distinct()
    sz = first.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    ret = (
        act.join(first, user_col)
        .groupBy(
            "cohort_week",
            (F.datediff("w", "cohort_week") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )
    return ret.join(sz, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size").cast("double"), 6).alias(
            "retention"
        ),
    )


def funnel_conversion(
    events: DataFrame,
    steps: Sequence[str] = ("signup", "view", "purchase"),
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> DataFrame:
    """N-step funnel with strict temporal chaining: step k counts users
    whose FIRST qualifying step-k event falls strictly after their
    step-(k-1) timestamp — and, when ``within_seconds`` is set, no more
    than that long after it (the 'converted within 7 days' form every
    funnel dashboard actually runs). One user-keyed hash agg +
    equi-join per step (per-user state: one timestamp); the long-format
    result unpivots a single-row aggregate via stack — nothing wide
    ever sorts.
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_ts0"))
        .localCheckpoint(eager=False)  # two consumers — see loop note
    )
    counts = [cur.agg(F.count("*").alias("n1"))]
    prev_ts = "_ts0"
    for i, step in enumerate(steps[1:], start=1):
        qual = F.col(ts_col) > F.col(prev_ts)
        if within_seconds is not None:
            # cast through TIMESTAMP: NTZ-robust (see sessionize)
            qual = qual & (
                F.col(ts_col).cast("timestamp").cast("long")
                <= F.col(prev_ts).cast("timestamp").cast("long")
                + within_seconds
            )
        cur = (
            events.filter(F.col(type_col) == step)
            .join(cur.select(user_col, prev_ts), user_col)
            .filter(qual)
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"_ts{i}"))
            # each step frame has two consumers (its own count + the
            # next step's join) — the lazy checkpoint keeps step i's
            # lineage from re-running inside every later step, so the
            # events scan count is linear in the step count, not
            # quadratic (the iterative-lineage discipline the graph
            # algorithms use)
            .localCheckpoint(eager=False)
        )
        prev_ts = f"_ts{i}"
        counts.append(cur.agg(F.count("*").alias(f"n{i + 1}")))
    one = counts[0]
    for c in counts[1:]:
        one = one.crossJoin(c)
    rows = [f"1L, {_sql_str(steps[0])}, n1, 1.0D"]
    for i, step in enumerate(steps[1:], start=2):
        name = f"{step}_after_{steps[i - 2]}"
        # zero-base guard: an empty upstream step must yield NULL
        # conversion, not an ANSI divide-by-zero crash (hit live on the
        # 10x probe where the strict chain emptied a step)
        rows.append(
            f"{i}L, {_sql_str(name)}, n{i},"
            f" case when n{i - 1} = 0 then cast(null as double)"
            f" else round(n{i} / cast(n{i - 1} as double), 6) end"
        )
    return one.selectExpr(
        f"stack({len(rows)}, {', '.join(rows)})"
        " AS (step, step_name, n_users, conv_from_prev)"
    ).orderBy("step")


def event_transitions(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
    top_k: int | None = 20,
) -> DataFrame:
    """First-order transition table over per-user event sequences: lag
    within a user-partitioned window (state bounded by one user's
    history), (prev, next) pair counts, and row-normalized transition
    probabilities; optional top-k with a full deterministic tiebreak.

    NULL event-time contract: a timestamp-less event has no position in
    the user's sequence and is excluded (engines disagree on NULL sort
    placement — Spark nulls-first vs DuckDB nulls-last — so including
    them makes the transition table engine-dependent; dirty-ts fuzz).
    """
    events = events.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    pairs = (
        events.withColumn("prev_type", F.lag(type_col).over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col(type_col).alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    out = pairs.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.col("row_total").cast("double"), 6).alias("p_next"),
    )
    if top_k is not None:
        out = out.orderBy(F.desc("n"), "prev_type", "next_type").limit(top_k)
    return out


def cluster_size_histogram(
    df: DataFrame,
    *,
    text_col: str = "text",
    key: Column | None = None,
) -> DataFrame:
    """Duplicate-cluster size histogram: content-key groups → cluster
    size → (n_clusters, n_docs, doc_share) per size. The governance
    table that decides whether near-dup dedup pays for itself. Two hash
    aggs; the share window runs over the tiny bounded histogram only.
    """
    k = key if key is not None else F.md5(F.col(text_col))
    sized = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(k.alias("_ck"))
        .agg(F.count("*").alias("sz"))
    )
    h = sized.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        (F.first("sz") * F.count("*")).cast("long").alias("n_docs"),
    )
    return h.select(
        "cluster_size",
        "n_clusters",
        "n_docs",
        F.round(
            F.col("n_docs")
            / F.sum("n_docs").over(Window.partitionBy()).cast("double"),
            6,
        ).alias("doc_share"),
    ).orderBy("cluster_size")


def gate_sensitivity(
    df: DataFrame,
    *,
    size_col: str = "n_chars",
    step: int = 100,
    n_steps: int = 10,
) -> DataFrame:
    """Threshold-sensitivity sweep for a min-size curation gate: for
    each threshold step*t (t in 1..n_steps), the doc count and size
    share surviving `size >= threshold`. The corpus collapses to a
    bounded bucket histogram (floor(size/step) capped at n_steps —
    bucket >= t  <=>  size >= step*t) in ONE aggregation; the grid ×
    histogram product is n_steps × (n_steps+1) rows, so the sweep is
    driver-trivial at any corpus size.
    """
    spark = df.sparkSession
    b = df.groupBy(
        F.least(F.floor(F.col(size_col) / step), F.lit(n_steps)).alias("bucket")
    ).agg(
        F.count("*").alias("n"), F.sum(size_col).cast("long").alias("chars")
    )
    # totals via agg + crossJoin is the RIGHT form here, measured: both
    # consumers sit directly above one canonical Exchange, so Spark's
    # exchange reuse already serves them from a single corpus scan
    # (before-plan: ReusedExchange, 1 scan node), and the windowed
    # rewrite tried in round 12 (sentinel bucket + unpartitioned
    # window) was consistently ~30% SLOWER (best-of-8 0.241 vs
    # 0.310 s) for zero scan savings — reverted.
    tot = b.agg(F.sum("n").alias("n_total"), F.sum("chars").alias("c_total"))
    g = spark.range(1, n_steps + 1).select(F.col("id").alias("tstep"))
    return (
        g.crossJoin(F.broadcast(tot))
        .join(F.broadcast(b), b.bucket >= F.col("tstep"), "left")
        .groupBy("tstep", "n_total", "c_total")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.sum("chars"), F.lit(0)).alias("kept_chars"),
        )
        .select(
            (F.col("tstep") * step).cast("long").alias("min_chars"),
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_total").cast("double"), 6).alias(
                "kept_frac"
            ),
            F.round(
                F.col("kept_chars") / F.col("c_total").cast("double"), 6
            ).alias("char_share"),
        )
        .orderBy("min_chars")
    )


def class_weights(df: DataFrame, *, class_col: str = "lang") -> DataFrame:
    """Inverse-frequency sample weights per class: the sklearn
    'balanced' weight n_total / (n_classes * n_c) and the softer
    sqrt(n_total / n_c) variant. One bounded class agg; totals via an
    unpartitioned window over the class rows (NOT c.agg + crossJoin,
    whose broadcast subquery re-runs the corpus scan+agg a second time
    per execution — one scan, not two; the single-partition exchange
    moves only the class rows)."""
    c = df.groupBy(class_col).agg(F.count("*").alias("n_docs"))
    wall = Window.partitionBy()
    return (
        c.select(
            class_col,
            "n_docs",
            F.sum("n_docs").over(wall).alias("n_total"),
            F.count(F.lit(1)).over(wall).alias("n_classes"),
        )
        .select(
            class_col,
            "n_docs",
            F.round(
                F.col("n_total")
                / (F.col("n_classes") * F.col("n_docs")).cast("double"),
                6,
            ).alias("weight_balanced"),
            F.round(
                F.sqrt(F.col("n_total") / F.col("n_docs").cast("double")), 6
            ).alias("weight_sqrt"),
        )
        .orderBy(class_col)
    )


def rfm_segments(
    orders: DataFrame,
    *,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    cents_col: Column,
    n_tiles: int = 4,
) -> DataFrame:
    """RFM segmentation: per-customer recency / frequency / monetary
    quartile scores (ntile over a deterministic (metric, custkey)
    order; quartile 1 = best) concatenated into a segment label, rolled
    up to segment counts and exact-cents monetary totals.

    `cents_col` must be an exact integer-cents expression (see
    queries.common.cents) so monetary sums are associative. The global
    ntile is a single-partition sort at sf scale; the 100 TB path swaps
    in approx-quantile cut points (same pattern as the CCNet perplexity
    buckets operator).
    """
    mx = orders.agg(F.max(F.col(date_col).cast("date")).alias("_mx"))
    base = (
        orders.groupBy(F.col(cust_col).alias("custkey"))
        .agg(
            F.max(F.col(date_col).cast("date")).alias("_last"),
            F.count("*").alias("freq"),
            F.sum(cents_col).alias("m_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "custkey",
            F.datediff("_mx", "_last").alias("r_days"),
            "freq",
            "m_cents",
        )
    )
    scored = base.select(
        "custkey",
        "m_cents",
        F.ntile(n_tiles).over(Window.orderBy("r_days", "custkey")).alias("r_q"),
        F.ntile(n_tiles)
        .over(Window.orderBy(F.desc("freq"), "custkey"))
        .alias("f_q"),
        F.ntile(n_tiles)
        .over(Window.orderBy(F.desc("m_cents"), "custkey"))
        .alias("m_q"),
    )
    return (
        scored.groupBy(
            F.concat(
                F.col("r_q").cast("string"),
                F.col("f_q").cast("string"),
                F.col("m_q").cast("string"),
            ).alias("segment")
        )
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum("m_cents") / 100.0).alias("total_monetary"),
        )
        .orderBy("segment")
    )


def table_profile(
    df: DataFrame,
    *,
    numeric_cols: Sequence[str],
    string_cols: Sequence[str] = (),
) -> DataFrame:
    """One-pass long-format table profiler: per column — row count,
    nulls, exact distinct count, numeric min/max (numeric columns) or
    lexicographic min/max (string columns). ALL metrics compute in a
    SINGLE aggregation over one scan (multiple count-distincts expand
    map-side), then the one result row unpivots via stack.
    """
    aggs = [F.count("*").alias("n_rows")]
    for c in tuple(numeric_cols) + tuple(string_cols):
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    parts = []
    for c in numeric_cols:
        parts.append(
            f"{_sql_str(c)}, n_rows, {_sql_ident(f'{c}__nulls')}, "
            f"{_sql_ident(f'{c}__nd')}, "
            f"cast({_sql_ident(f'{c}__min')} as double), "
            f"cast({_sql_ident(f'{c}__max')} as double), "
            f"cast(null as string), cast(null as string)"
        )
    for c in string_cols:
        parts.append(
            f"{_sql_str(c)}, n_rows, {_sql_ident(f'{c}__nulls')}, "
            f"{_sql_ident(f'{c}__nd')}, "
            f"cast(null as double), cast(null as double), "
            f"{_sql_ident(f'{c}__min')}, {_sql_ident(f'{c}__max')}"
        )
    return row.selectExpr(
        f"stack({len(parts)}, {', '.join(parts)}) AS (col_name, n_rows,"
        " n_nulls, n_distinct, min_num, max_num, min_str, max_str)"
    ).orderBy("col_name")


def sessionize(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_tiebreak: str = "event_id",
    gap_seconds: int = 1800,
    purchase_type: str = "purchase",
) -> DataFrame:
    """Batch sessionization by gaps-and-islands: a new session starts
    when the gap to the user's previous event exceeds `gap_seconds`;
    per session — event count, duration, purchase count. The explicit
    twin of the engine session window (streaming/windows.session_counts)
    with per-session stats, and the key-space cousin of the A7 integer
    range compression (same islands idiom, one shuffle).

    Both windows partition by user (state bounded by one user's
    history). Gap math truncates timestamps to whole epoch seconds on
    both engines (Spark long cast == DuckDB date_diff('second')), so
    results are engine-portable.

    NULL event-time contract: a timestamp-less event cannot be placed
    in any session (no gap is computable against it) and is excluded —
    same rule as the streaming session window (dirty-ts fuzz).
    """
    events = events.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    # NTZ-robust epoch seconds: TIMESTAMP_NTZ refuses a direct long
    # cast; casting through TIMESTAMP first is a no-op for LTZ inputs
    sec = F.col(ts_col).cast("timestamp").cast("long")
    flagged = events.withColumn(
        "_new",
        F.when(
            (sec - F.lag(sec).over(w)).isNull()
            | ((sec - F.lag(sec).over(w)) > gap_seconds),
            1,
        ).otherwise(0),
    ).withColumn(
        "_sess",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy(user_col, F.col("_sess").alias("session_seq"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.count("*").alias("n_events"),
            (F.max(sec) - F.min(sec)).alias("duration_sec"),
            # when/otherwise, not a bare comparison cast: a NULL
            # event_type compares to NULL, and a session of only
            # NULL-type events would sum to NULL instead of 0 (an
            # unknown-type event is simply not a purchase)
            F.sum(
                F.when(F.col(type_col) == purchase_type, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("n_purchases"),
        )
        .orderBy(user_col, "session_seq")
    )


def volume_anomaly(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    type_col: str = "event_type",
    trail: int = 24,
    z_cut: float = 3.0,
) -> DataFrame:
    """Hourly event-volume anomaly detection: per event type, each
    hour's count is z-scored against the TRAILING `trail` observed
    hourly buckets (ROWS frame — a missing hour shortens history, it
    does not zero-fill), flagging |z| >= z_cut. Only rows with a full
    trailing window are emitted.

    Mean/variance derive from exact integer frame sums (sum, sum of
    squares) so the doubles are bit-identical across engines — never
    from a windowed stddev aggregate, whose accumulation order is
    engine-specific. Events collapse to the bounded (type, hour) grain
    before any window.

    NULL event-time contract: a timestamp-less event belongs to no
    hourly bucket and is excluded (a NULL bucket would otherwise enter
    the trailing frame at an engine-specific sort position; dirty-ts
    fuzz)."""
    events = events.filter(F.col(ts_col).isNotNull())
    hourly = events.groupBy(
        F.col(type_col).alias("event_type"),
        F.date_trunc("hour", F.col(ts_col)).alias("bucket_start"),
    ).agg(F.count("*").alias("n"))
    return anomaly_from_hourly(hourly, trail=trail, z_cut=z_cut)


def anomaly_from_hourly(
    hourly: DataFrame,
    *,
    trail: int = 24,
    z_cut: float = 3.0,
) -> DataFrame:
    """Anomaly z-scores over an ALREADY-bucketED hourly count table
    (event_type, bucket_start, n) — the shared scoring half of
    volume_anomaly, also served on read over the incrementally
    maintained hourly state of streaming_volume_monitor (counts are
    mergeable; z-scores are not, so they derive at read time)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(-trail, -1)
    )
    s = F.sum("n").over(w)
    s2 = F.sum(F.col("n") * F.col("n")).over(w)
    cnt = F.count("n").over(w)
    stats = hourly.select(
        "event_type",
        "bucket_start",
        "n",
        s.alias("_s"),
        s2.alias("_s2"),
        cnt.alias("_cnt"),
    ).filter(F.col("_cnt") == trail)
    mean = F.col("_s") / float(trail)
    var = (F.col("_s2") - F.col("_s") * F.col("_s") / float(trail)) / float(
        trail - 1
    )
    z = F.when(var > 0, (F.col("n") - mean) / F.sqrt(var))
    return stats.select(
        "event_type",
        "bucket_start",
        "n",
        F.round(mean, 6).alias("trail_mean"),
        F.round(z, 6).alias("z_score"),
        F.coalesce(F.abs(z) >= z_cut, F.lit(False)).alias("is_anomaly"),
    )


def basket_pairs(
    df: DataFrame,
    *,
    basket_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    top_k: int = 20,
) -> DataFrame:
    """Market-basket co-occurrence: one basket-keyed aggregation
    collapses each basket to its distinct item set (collect_set dedups
    map-side), within-basket pairs (item_a < item_b) then expand IN-ROW
    from the sorted item set — exactly k-choose-2 rows per basket (the
    double-explode form emitted k² and filtered half away), k bounded
    by basket size (TPC-H: <= 7 lines/order) — and a second bounded agg
    counts pair support. Two exchanges total (zero on the basket agg
    when the input rides the basket-bucketed layout); no self-join ever
    materializes, and nothing goes all-pairs across baskets."""
    per_basket = df.groupBy(F.col(basket_col).alias("_b")).agg(
        F.collect_set(F.col(item_col)).alias("_items")
    )
    # basket total straight off the (column-pruned) scan — cheaper than
    # re-evaluating the collect_set aggregation a second time
    n_baskets = df.agg(
        F.count_distinct(F.col(basket_col)).alias("_n_baskets")
    )
    items = F.sort_array(F.col("_items"))
    combos = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + 2, F.size(items)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        per_basket.select(F.explode(combos).alias("_p"))
        .groupBy(
            F.col("_p.a").alias("item_a"), F.col("_p.b").alias("item_b")
        )
        .agg(F.count("*").alias("support"))
    )
    return (
        pairs.crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "support",
            F.round(
                F.col("support") / F.col("_n_baskets").cast("double"), 6
            ).alias("support_share"),
        )
        .orderBy(F.desc("support"), "item_a", "item_b")
        .limit(top_k)
    )


def repurchase_gaps(
    orders: DataFrame,
    dims: DataFrame,
    *,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    dim_key: str = "c_custkey",
    segment_col: str = "c_mktsegment",
) -> DataFrame:
    """Repurchase-cadence analysis: per-customer day gaps between
    consecutive orders (lag over a customer-partitioned window — state
    bounded per customer), rolled up per market segment with exact
    integer gap sums (mean derives from them as one double division).
    The dimension joins broadcast-side."""
    w = Window.partitionBy(cust_col).orderBy(date_col, "o_orderkey")
    d = F.col(date_col).cast("date")
    gaps = (
        orders.withColumn("_gap", F.datediff(d, F.lag(d).over(w)))
        .filter(F.col("_gap").isNotNull())
        .join(F.broadcast(dims), F.col(cust_col) == F.col(dim_key))
    )
    return (
        gaps.groupBy(F.col(segment_col).alias("segment"))
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("_gap").alias("min_gap_days"),
            F.max("_gap").alias("max_gap_days"),
            F.round(
                F.sum("_gap") / F.count("*").cast("double"), 6
            ).alias("avg_gap_days"),
        )
        .orderBy("segment")
    )


def user_activity_pareto(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    n_tiles: int = 10,
) -> DataFrame:
    """User-activity Pareto ('whale curve'): users ranked into activity
    deciles (ntile over a deterministic (count desc, user) order), per
    decile — user count, event count, event share, cumulative share.
    The user-grain twin of the source-level corpus_pareto_coverage.
    Per-user counts are one hash agg; the ntile sort runs on the user
    grain (the 100 TB path swaps in approx-quantile cut points, same
    pattern as the CCNet perplexity buckets)."""
    per_user = events.groupBy(user_col).agg(F.count("*").alias("n"))
    tiled = per_user.select(
        "n",
        F.ntile(n_tiles)
        .over(Window.orderBy(F.desc("n"), user_col))
        .alias("decile"),
    )
    # the grand total is the sum of the decile sums — ride an
    # unpartitioned window over the bounded decile rows instead of
    # tiled.agg + crossJoin, whose broadcast subquery re-ran the
    # per-user aggregation AND the global ntile sort a second time per
    # execution
    by_dec = (
        tiled.groupBy("decile")
        .agg(F.count("*").alias("n_users"), F.sum("n").alias("n_events"))
        .withColumn(
            "_tot", F.sum("n_events").over(Window.partitionBy())
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return by_dec.select(
        "decile",
        "n_users",
        "n_events",
        F.round(F.col("n_events") / F.col("_tot").cast("double"), 6).alias(
            "event_share"
        ),
        F.round(
            F.sum("n_events").over(wcum) / F.col("_tot").cast("double"), 6
        ).alias("cum_share"),
    ).orderBy("decile")


def pairwise_diversity(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus diversity as the mean pairwise dot product over ALL
    vector pairs — computed WITHOUT forming any pair via the sum
    identity  Σ_{i≠j} vᵢ·vⱼ = ||Σᵢ vᵢ||² − Σᵢ ||vᵢ||², so the whole
    metric is one posexplode + one bounded per-dim aggregation (state =
    dim scalars) instead of an O(n²) join. The data-mix diversity
    gauge: a collapsing corpus (near-identical vectors) drives the
    mean pairwise dot toward the mean self dot.

    Returns one row: n_vectors, mean_pairwise_dot, mean_self_dot.
    """
    d = emb.select(F.posexplode(vec_col).alias("pos", "v"))
    per_dim = d.groupBy("pos").agg(
        F.sum("v").alias("s"), F.sum(F.col("v") * F.col("v")).alias("sq")
    )
    n = emb.select(F.count("*").alias("n"))
    agg = per_dim.agg(
        F.sum(F.col("s") * F.col("s")).alias("_ss"),
        F.sum("sq").alias("_self"),
    )
    return (
        agg.crossJoin(F.broadcast(n))
        .select(
            "n",
            F.round(
                (F.col("_ss") - F.col("_self"))
                / (F.col("n") * (F.col("n") - 1)).cast("double"),
                6,
            ).alias("mean_pairwise_dot"),
            F.round(F.col("_self") / F.col("n").cast("double"), 6).alias(
                "mean_self_dot"
            ),
        )
        .withColumnRenamed("n", "n_vectors")
    )


def activity_heatmap(
    events: DataFrame,
    *,
    ts_col: str = "ts",
) -> DataFrame:
    """Weekday × hour activity heatmap (ISO weekday, Monday = 1) with
    per-cell share of total — the bounded 7×24 grain every usage
    dashboard renders. One aggregation; the total broadcasts back."""
    g = events.groupBy(
        (F.weekday(F.col(ts_col)) + 1).alias("isodow"),
        F.hour(F.col(ts_col)).alias("hour"),
    ).agg(F.count("*").alias("n"))
    tot = g.agg(F.sum("n").alias("_t"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "isodow",
            "hour",
            "n",
            F.round(F.col("n") / F.col("_t").cast("double"), 6).alias("share"),
        )
        .orderBy("isodow", "hour")
    )


def last_touch_attribution(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
    target_type: str = "purchase",
    cents_scale: int = 2,
) -> DataFrame:
    """Last-touch attribution: each target event (purchase) credits the
    user's immediately preceding event type; per touch type — count,
    share of attributed targets, and exact-cents value total. The
    marketing-attribution primitive, one user-bounded lag window + one
    bounded agg.

    NULL event-time contract: a timestamp-less event has no sequence
    position, so it neither credits nor receives attribution — excluded
    (engines disagree on NULL sort placement; dirty-ts fuzz)."""
    events = events.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    hits = (
        events.withColumn("_prev", F.lag(type_col).over(w))
        .filter((F.col(type_col) == target_type) & F.col("_prev").isNotNull())
        .groupBy(F.col("_prev").alias("touch_type"))
        .agg(
            F.count("*").alias("n_conversions"),
            # finite_num: a NaN/Inf value would ANSI-crash the exact-
            # cents long cast — degrades to NULL like a missing value
            F.sum(
                F.round(
                    finite_num(F.col(value_col)) * (10 ** cents_scale), 0
                ).cast("long")
            ).alias("_vc"),
        )
    )
    # Global total via an unpartitioned window over the grouped frame
    # (bounded: one row per event type), NOT hits.agg + crossJoin —
    # the broadcast-subquery form re-runs the events-wide lag-window +
    # groupBy lineage a second time per execution (no plan-level CSE
    # across the broadcast). The single-partition exchange this window
    # adds moves only the handful of grouped rows.
    return (
        hits.withColumn(
            "_t", F.sum("n_conversions").over(Window.partitionBy())
        )
        .select(
            "touch_type",
            "n_conversions",
            F.round(F.col("n_conversions") / F.col("_t").cast("double"), 6).alias(
                "conversion_share"
            ),
            (F.col("_vc") / float(10 ** cents_scale)).alias("total_value"),
        )
        .orderBy("touch_type")
    )


def time_to_conversion(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    start_type: str = "view",
    goal_type: str = "purchase",
) -> DataFrame:
    """Per-user conversion latency: seconds from a user's FIRST
    ``start_type`` event to their first ``goal_type`` event at-or-after
    it (the activation-lag table behind "median time to convert").

    One pass, no join: the start/goal events shuffle ONCE on the user
    key, a window computes the user's first start, and the same
    partitioning carries the gated goal minimum (the aggregation keys
    on the user, so no second exchange). The previous first-start-agg
    ⋈ goals shape fanned every user's goal events through the join and
    re-shuffled both sides — super-linear wall-clock at the 10× probe
    (0.31 → 3.80 s for 10× data); this shape is one linear pass over
    the two event types. Per-user state is two timestamps. Users with
    a start but no subsequent goal keep a NULL latency
    (converted = false) — dropping them would bias the latency
    distribution. Epoch math on whole seconds keeps the output
    integer-exact across engines.

    Contract corners preserved from the join form: a user whose start
    events all carry NULL timestamps still appears (NULL start_ep, not
    converted) — presence means HAS a start event, not has a usable
    one; and NULL-user rows never convert (the old equi-join's
    NULL == NULL never matched), so the goal gate excludes the NULL
    user key explicitly.
    """
    # NTZ-robust epoch seconds (see sessionize): cast through TIMESTAMP
    ep = F.col(ts_col).cast("timestamp").cast("long")
    w = Window.partitionBy(user_col)
    is_start = F.col(type_col) == start_type
    # goal candidacy is gated on the GOAL type explicitly, not on
    # ~_is_start: the two are equivalent when start_type != goal_type
    # (every filtered row is exactly one of the two), but a dual-typed
    # config (start_type == goal_type) must keep the join-form
    # semantics — the first start satisfies the goal (latency 0,
    # converted) — which ~_is_start silently broke
    is_goal = F.col(type_col) == goal_type
    ev = events.filter(is_start | is_goal).select(
        F.col(user_col),
        is_start.alias("_is_start"),
        is_goal.alias("_is_goal"),
        ep.alias("_ep"),
    )
    g = (
        ev.withColumn("start_ep", F.min(F.when(F.col("_is_start"), F.col("_ep"))).over(w))
        .withColumn("_has_start", F.max(F.when(F.col("_is_start"), F.lit(True))).over(w))
        .filter(F.col("_has_start"))
    )
    conv = g.groupBy(user_col, "start_ep").agg(
        F.min(
            F.when(
                F.col("_is_goal")
                & F.col(user_col).isNotNull()
                & (F.col("_ep") >= F.col("start_ep")),
                F.col("_ep"),
            )
        ).alias("goal_ep")
    )
    return conv.select(
        F.col(user_col),
        F.col("start_ep").cast("long").alias("start_ep"),
        (F.col("goal_ep") - F.col("start_ep")).cast("long").alias("secs_to_convert"),
        F.col("goal_ep").isNotNull().alias("converted"),
    )


def cohort_ltv(
    orders: DataFrame,
    *,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    cents_col: Column = None,
) -> DataFrame:
    """Cohort lifetime-value triangle: customers cohorted by the month
    of their first order; for each (cohort_month, months-since) cell,
    the period revenue and the running cumulative revenue per cohort —
    the payback-curve table. ``cents_col`` must be an exact integer
    expression (defaults to o_totalprice in cents) so the cumulative
    sums are engine-exact.

    Per-customer state is one date; the cumulative window partitions by
    cohort month over the bounded month-offset axis (at most a few
    hundred cells regardless of corpus size), never by customer.

    NULL event-time contract: an undated order has no month offset and
    cannot be placed in the triangle — excluded (a NULL-offset cell
    enters the cumulative window at an engine-dependent sort position;
    dirty-star fuzz). A customer whose orders are all undated has no
    cohort.
    """
    # undated orders AND orders whose month-bucket is outside the
    # portable timestamp window (a year-9999 sentinel date) cannot be
    # placed in the triangle — the cohort_month output column is a
    # TIMESTAMP, so an out-of-band bucket would crash the client's
    # Arrow/pandas hop; same degrade-like-NULL contract as valid_ts
    orders = orders.filter(
        valid_ts(F.date_trunc("month", F.col(date_col))).isNotNull()
    )
    if cents_col is None:
        cents_col = F.round(finite_num(F.col("o_totalprice")) * 100).cast(
            "long"
        )
    mon = F.date_trunc("month", F.col(date_col))
    # the first-order table has TWO consumers (the cohort join and the
    # cohort-size rollup) and the planner does not reuse its exchange
    # across them, so without intervention the orders scan + customer
    # shuffle runs twice; one lazy localCheckpoint materializes the
    # customer-grain frame once per execution
    first = (
        orders.groupBy(cust_col)
        .agg(F.min(mon).alias("cohort_month"))
        .localCheckpoint(eager=False)
    )
    sized = first.groupBy("cohort_month").agg(
        F.count("*").alias("cohort_size")
    )
    per_cell = (
        orders.select(F.col(cust_col), mon.alias("_m"), cents_col.alias("_c"))
        .join(first, cust_col)
        .withColumn(
            "month_offset",
            (
                (F.year("_m") - F.year("cohort_month")) * 12
                + (F.month("_m") - F.month("cohort_month"))
            ).cast("long"),
        )
        .groupBy("cohort_month", "month_offset")
        .agg(F.sum("_c").alias("revenue_cents"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_cell.withColumn("cum_revenue_cents", F.sum("revenue_cents").over(w))
        .join(sized, "cohort_month")
        .select(
            "cohort_month",
            "month_offset",
            F.col("revenue_cents").cast("long").alias("revenue_cents"),
            F.col("cum_revenue_cents").cast("long").alias("cum_revenue_cents"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
        )
    )


def dau_stickiness(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day DAU / trailing-7-day WAU stickiness ratio (the DAU/MAU
    engagement gauge at weekly horizon). A trailing DISTINCT count is
    not a window frame — distinct does not decompose — so: collapse to
    the distinct (user, day) grid once, then join day d to activity
    days in [d-6, d] and count distinct users per d. The join fanout is
    bounded by 7 × the user-day grid, and the grid (not the raw event
    stream) is the join input. Day grain stays a DATE; ratios round at
    6 decimals off exact integer counts.
    """
    day = F.date_trunc("day", F.col(ts_col))
    grid = events.select(F.col(user_col).alias("_u"), day.alias("_d")).distinct()
    days = grid.select(F.col("_d").alias("day")).distinct()
    # ONE lookback pass yields both counts: each (user, day) grid row
    # contributes to the trailing-7 window of days d..d+6, so a 7-wide
    # sequence explode + equi-join on the observed-days list replaces
    # the between-predicate join the planner could only run as a
    # BroadcastNestedLoopJoin (|days| x |grid| predicate evaluations —
    # quadratic-ish compute a 100 TB grid cannot pay; the explode is a
    # flat 7x fanout into a map-side-combining aggregation). The
    # observed-days equi-join keeps the output day set identical, and
    # rows with _d == day are exactly that day's actives, so DAU stays
    # a conditional distinct on the same join output.
    return (
        grid.select(
            "_u",
            "_d",
            F.explode(
                F.sequence(
                    F.col("_d"),
                    F.col("_d") + F.expr("INTERVAL 6 DAYS"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("day"),
        )
        .join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(
            F.countDistinct(
                F.when(F.col("_d") == F.col("day"), F.col("_u"))
            ).alias("dau"),
            F.countDistinct("_u").alias("wau"),
        )
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


def weekly_streaks(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest consecutive-active-week streak per user, rolled up to a
    streak-length histogram (the habit-formation table). Classic
    gaps-and-islands on the distinct (user, week) grid: rank weeks per
    user, subtract rank×7 days — consecutive weeks collapse to one
    island key — then max island length per user and a bounded
    histogram. The only window partitions by user over that user's
    distinct WEEKS (bounded by calendar span, not event count).

    NULL event-time contract: a timestamp-less event belongs to no
    week and is excluded from the activity grid (dirty-ts fuzz — a
    NULL week would otherwise form a phantom one-week island).
    """
    events = events.filter(F.col(ts_col).isNotNull())
    week = F.date_trunc("week", F.col(ts_col)).cast("date")
    grid = events.select(F.col(user_col).alias("_u"), week.alias("_w")).distinct()
    w = Window.partitionBy("_u").orderBy("_w")
    islands = grid.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_isl", F.date_sub(F.col("_w"), F.col("_rn") * 7)
    )
    streaks = (
        islands.groupBy("_u", "_isl")
        .agg(F.count("*").alias("_len"))
        .groupBy("_u")
        .agg(F.max("_len").alias("streak_weeks"))
    )
    return (
        streaks.groupBy("streak_weeks")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.col("streak_weeks").cast("long").alias("streak_weeks"),
            F.col("n_users").cast("long").alias("n_users"),
        )
    )


def recency_weighted_engagement(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    halflife_days: float = 7.0,
) -> DataFrame:
    """Recency-weighted per-user engagement score: each event
    contributes ``1 / (1 + age_days / halflife)`` relative to the
    corpus's newest event, so yesterday's click outweighs last month's
    — the decayed-activity ranking behind re-engagement targeting.

    Decay is HYPERBOLIC, not exponential, by design: 1/(1+x) uses only
    IEEE division on integer-exact ages, so every engine computes
    bit-identical terms, whereas exp() goes through libm and two
    correctly-rounded-to-1-ulp implementations may disagree in the last
    bit. Terms are then rounded to 9 decimals and summed as scaled
    integers — the sum is exact and partitioning-independent (same
    discipline as cents()). The reference timestamp is the table's own
    MAX(ts) (broadcast single-row cross join), so the score is a pure
    function of the data.
    """
    sec = F.col(ts_col).cast("timestamp").cast("long")
    ref = events.agg(F.max(sec).alias("_ref"))
    term = (
        F.lit(1.0)
        / (
            F.lit(1.0)
            + (F.col("_ref") - sec).cast("double")
            / F.lit(86400.0)
            / F.lit(float(halflife_days))
        )
    )
    return (
        events.crossJoin(F.broadcast(ref))
        .select(
            F.col(user_col),
            F.round(term * 1000000000).cast("long").alias("_t9"),
        )
        .groupBy(user_col)
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_t9").alias("_s9"),
        )
        .select(
            F.col(user_col),
            F.col("n_events").cast("long").alias("n_events"),
            F.round(F.col("_s9").cast("double") / 1000000000.0, 6).alias(
                "engagement"
            ),
        )
    )


# 95th-percentile chi-square critical values by degrees of freedom —
# data-independent constants shared by the batch SRM check and the
# streaming monitor (streaming/windows.read_srm_monitor).
_CHI2_CRIT_95 = {
    1: 3.841459, 2: 5.991465, 3: 7.814728, 4: 9.487729, 5: 11.070498,
    6: 12.591587, 7: 14.067140, 8: 15.507313, 9: 16.918978,
}


def chi2_crit_95(n_arms: int) -> float:
    """Critical value for an SRM check over ``n_arms`` arms (df =
    n_arms - 1). Raises a descriptive ValueError outside the table
    instead of a bare KeyError."""
    df = n_arms - 1
    if df not in _CHI2_CRIT_95:
        raise ValueError(
            f"SRM check supports n_arms in 2..{max(_CHI2_CRIT_95) + 1}; "
            f"got n_arms={n_arms}"
        )
    return _CHI2_CRIT_95[df]


def ab_assignment_srm(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    segment_col: str = "source",
    n_arms: int = 2,
) -> DataFrame:
    """Deterministic A/B arm assignment + sample-ratio-mismatch check:
    every unit hashes to an arm with the portable multiplicative hash
    (sticky across reruns — the property an experimentation system
    needs), and each segment gets a chi-square statistic against the
    uniform expectation with a flag at the 95% critical value — the
    guardrail that catches a broken randomizer or a biased logging path
    before anyone reads the experiment.

    ONE corpus scan, ONE aggregation: the arm count per segment is k
    conditional counts in a single groupBy (k is tiny and fixed), so a
    zero-unit arm naturally materializes as 0 — the worst possible
    mismatch must contribute its n^2 term — and no segment x arm grid
    or join-back ever touches the fact table (a naive
    counts/grid/totals formulation measured SIX parquet scans from the
    three re-expanded references). The chi-square's per-arm terms
    rearrange to an INTEGER numerator: sum_arms (obs - n/k)^2 / (n/k)
    = sum_arms (k*obs - n)^2 / (k*n) — evaluated as a fixed-order
    expression over the k count columns (deterministic for any k,
    unlike a float SUM across rows), divided once. Overflow bound:
    (k*obs - n)^2 <= (k*n)^2 — fine to ~1e9 units per segment at k=2;
    beyond that switch the numerator to decimal. Critical values are
    data-independent constants (95th percentile, k-1 df). The stack
    back to (segment, arm) rows runs on the bounded segment grain.
    """
    from procoggraph_spark.operators.sampling import hash_bucket

    crit = chi2_crit_95(n_arms)
    arm = hash_bucket(F.col(id_col), buckets=n_arms)
    seg = (
        df.select(F.col(segment_col).alias("segment"), arm.alias("_arm"))
        .groupBy("segment")
        .agg(
            *[
                F.count(F.when(F.col("_arm") == a, F.lit(1))).alias(f"_n{a}")
                for a in range(n_arms)
            ]
        )
    )
    tot = None
    for a in range(n_arms):
        tot = F.col(f"_n{a}") if tot is None else tot + F.col(f"_n{a}")
    num = None
    for a in range(n_arms):
        dev = F.lit(n_arms) * F.col(f"_n{a}") - F.col("_t")
        num = dev * dev if num is None else num + dev * dev
    seg = seg.withColumn("_t", tot).withColumn(
        "chi2",
        F.round(
            num.cast("double") / (F.lit(n_arms) * F.col("_t").cast("double")),
            6,
        ),
    )
    pairs = ", ".join(f"{a}L, _n{a}" for a in range(n_arms))
    return seg.selectExpr(
        "segment",
        f"stack({n_arms}, {pairs}) AS (arm, n)",
        "chi2",
    ).select(
        "segment",
        "arm",
        F.col("n").cast("long").alias("n"),
        "chi2",
        (F.col("chi2") > F.lit(crit)).alias("srm_flag"),
    )
