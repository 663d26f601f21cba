"""Relational operator coverage (SURVEY §2.2-§2.7, §2.9) expressed over the
driver's star schema, each with a DuckDB oracle.

Naming: ``<family>_<what>`` where family is the SURVEY §2 id the query
exercises (a=aggregation, j=join, p=predicate/projection, q=dashboard query
shape, t=sort/set-op, w=window, f=scalar function).

Every query is a plain declarative DataFrame plan — Catalyst handles
pushdown/pruning/join-strategy; dimension tables are explicitly
``broadcast()`` where the reference's annotation joins are (SURVEY J7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from procoggraph_spark.operators.ownership import assign_ownership
from procoggraph_spark.queries.common import (
    bucketed_key,
    cents,
    dec2,
    dec4,
    dsum2,
    dsum4,
    q,
    t,
)

# --- A1/A2/F15: grouped multi-aggregate (TPC-H Q1 shape; SURVEY A1) -------

@q(
    "a1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST((CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END) AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST((CASE WHEN l_extendedprice >= -9.0e15 AND l_extendedprice <= 9.0e15 THEN l_extendedprice END) AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST((CASE WHEN l_extendedprice * (1 - l_discount) >= -9.0e13 AND l_extendedprice * (1 - l_discount) <= 9.0e13 THEN l_extendedprice * (1 - l_discount) END) AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_disc_price,
           COUNT(*) AS count_order,
           CAST(SUM(CAST((CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate pricing summary by returnflag/linestatus with exact long-cents sums (A1 family; plan-asserted single exchange)."""
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-02")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        dsum2(F.col("l_quantity")).alias("sum_qty"),
        dsum2(F.col("l_extendedprice")).alias("sum_base_price"),
        dsum4(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
        F.count("*").alias("count_order"),
        (dsum2(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
    )


# --- J7: star join with broadcast dimensions (SURVEY J7, Q5 shape) --------

@q(
    "j7_star_join_rollup",
    # Bag semantics, stated as the pre-aggregate form the engine plans:
    # one revenue rollup per ORDER OBSERVATION. A replayed order row
    # (duplicate o_orderkey — dirty-keys fuzz) is counted and weighted
    # like any other observation; idempotent ingest is a separate
    # operator (SCD2/upsert), not an implicit join-time dedup. The
    # flat-join + COUNT(DISTINCT) form disagrees with itself under
    # duplicate keys (revenue fans out, the count doesn't).
    """
    WITH lagg AS (
      SELECT l_orderkey,
             SUM(CAST((CASE WHEN l_extendedprice * (1 - l_discount) >= -9.0e13 AND l_extendedprice * (1 - l_discount) <= 9.0e13 THEN l_extendedprice * (1 - l_discount) END) AS DECIMAL(18,4))) AS rev
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT r_name, n_name,
           CAST(SUM(rev) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM lagg
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def j7_star_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: lineitem pre-aggregated to its join key, bucketed SMJ to orders, broadcast nation/region dims, revenue rollup per nation (J7)."""
    l = t(spark, sf_dir, "lineitem", widen_on="l_orderkey")
    o = t(spark, sf_dir, "orders", widen_on="o_orderkey")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    # pre-aggregate lineitem per order before the join chain: the
    # orders join then shuffles one row per order instead of one per
    # lineitem, and countDistinct(o_orderkey) degrades to count(*)
    lagg = l.groupBy("l_orderkey").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)).alias("_rev_c")
    )
    # orders join: merge hint, not broadcast — both sides are bucketed on
    # the orderkey so the SMJ is exchange-free (orders even pre-sorted),
    # while a broadcast would rebuild+ship a 1.5M-row hash relation per
    # query and stops being possible at 100 TB anyway
    o = o.hint("merge")
    # customer gets NO broadcast hint: it scales with the fact tables
    # (same argument that keeps the orders join a bucketed SMJ), so the
    # 100 TB posture is a size-based decision — Catalyst/AQE broadcasts
    # it while it fits autoBroadcastJoinThreshold and falls back to a
    # shuffle join when it no longer does. Only the genuinely bounded
    # dims (nation: 25 rows, region: 5 rows) are hint-pinned.
    return (
        lagg.join(o, lagg.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum("_rev_c") / 10000.0).alias("revenue"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


# --- Q1: global summary counts via union of labeled aggregates ------------

@q(
    "q1_global_summary_counts",
    """
    SELECT 'customer' AS entity, COUNT(DISTINCT c_custkey) AS n FROM customer
    UNION ALL SELECT 'supplier', COUNT(DISTINCT s_suppkey) FROM supplier
    UNION ALL SELECT 'part',     COUNT(DISTINCT p_partkey) FROM part
    UNION ALL SELECT 'order',    COUNT(DISTINCT o_orderkey) FROM orders
    UNION ALL SELECT 'nation',   COUNT(DISTINCT n_nationkey) FROM nation
    """,
)
def q1_global_summary_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 dashboard shape: global entity/distinct-count summary card (multi countDistinct)."""
    def one(table: str, key: str, label: str) -> DataFrame:
        return t(spark, sf_dir, table).agg(
            F.lit(label).alias("entity"), F.countDistinct(key).alias("n")
        ).select("entity", "n")

    parts = [
        one("customer", "c_custkey", "customer"),
        one("supplier", "s_suppkey", "supplier"),
        one("part", "p_partkey", "part"),
        one("orders", "o_orderkey", "order"),
        one("nation", "n_nationkey", "nation"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- Q2: threshold filter + "exactly one" semantics -----------------------
# Mirrors the reference's "unambiguous cognate = exactly 1 match" count
# (neodash_queries.yaml:23-36): customers with exactly one big order.

@q(
    "q2_unambiguous_counts",
    """
    SELECT c_mktsegment, COUNT(*) AS n_single_big_order_customers
    FROM customer
    JOIN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        GROUP BY o_custkey HAVING COUNT(*) = 1
    ) s ON c_custkey = s.o_custkey
    GROUP BY c_mktsegment
    """,
)
def q2_unambiguous_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 dashboard shape: counts restricted to unambiguous (single-match) entities."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    singles = o.groupBy("o_custkey").count().filter(F.col("count") == 1)
    c = t(spark, sf_dir, "customer")
    return (
        c.join(singles, c.c_custkey == singles.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_single_big_order_customers"))
    )


# --- Q3: substring search, case-insensitive, ordered by length, LIMIT -----
# (dashboard autocomplete shape, neodash_queries.yaml:40-52)

@q(
    "q3_substring_search",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE upper(p_name) LIKE '%RED%'
    ORDER BY length(p_name), p_name, p_partkey
    LIMIT 5
    """,
)
def q3_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 dashboard shape: case-insensitive substring search with top-k by key (pushed filter + TakeOrderedAndProject)."""
    p = t(spark, sf_dir, "part")
    return (
        p.filter(F.upper(F.col("p_name")).contains("RED"))
        .orderBy(F.length("p_name"), "p_name", "p_partkey")
        .limit(5)
        .select("p_partkey", "p_name")
    )


# --- Q4: report card — joins + countDistinct×n + sorted collect_set -------
# (the PDB report card shape, dashboard.json:453: anchor entity + optional
# matches + per-anchor distinct counts + markdown-joined list)

@q(
    "q4_report_card",
    # Bag semantics (see j7): one report-card row per ORDER OBSERVATION
    # — a replayed order row yields a second identical card instead of
    # silently double-counting revenue into one merged card (which is
    # what GROUP BY o_orderkey over the flat join does under duplicate
    # keys — dirty-keys fuzz). Stated as the pre-aggregate form the
    # engine plans.
    """
    WITH lagg AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_suppkey) AS n_suppliers,
             COALESCE(CAST(SUM(CAST((CASE WHEN l_extendedprice * (1 - l_discount) >= -9.0e13 AND l_extendedprice * (1 - l_discount) <= 9.0e13 THEN l_extendedprice * (1 - l_discount) END) AS DECIMAL(18,4))) AS DOUBLE), 0)
               AS revenue,
             COALESCE(string_agg(DISTINCT p_brand, '|' ORDER BY p_brand), '') AS brands
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY l_orderkey
    )
    SELECT o_orderkey,
           COALESCE(n_parts, 0) AS n_parts,
           COALESCE(n_suppliers, 0) AS n_suppliers,
           COALESCE(revenue, 0) AS revenue,
           COALESCE(brands, '') AS brands
    FROM orders LEFT JOIN lagg ON o_orderkey = l_orderkey
    """,
)
def q4_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 report card: per-order rollup with concat-sorted brand sets and coalesce chains over a bucket-aligned outer join (A6/P9)."""
    # pre-aggregate the fact side BELOW the join (orders ⟕ per-order
    # rollup instead of grouping the joined 4-way row set): the shuffle
    # carries 1 row per order, not 1 per lineitem — the classic
    # partial-agg pushdown Catalyst won't do through an outer join
    o = t(spark, sf_dir, "orders", widen_on="o_orderkey")
    l = t(spark, sf_dir, "lineitem", widen_on="l_orderkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # collect_set+size instead of countDistinct: two countDistincts in
    # one agg force an Expand (3× the input rows through the shuffle);
    # per-order cardinalities are tiny so sets are cheaper at any scale
    lagg = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(
            F.size(F.collect_set("l_partkey")).alias("n_parts"),
            F.size(F.collect_set("l_suppkey")).alias("n_suppliers"),
            dsum4(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
            F.array_join(F.array_sort(F.collect_set("p_brand")), "|").alias("_brands"),
        )
    )
    return o.join(lagg, o.o_orderkey == lagg.l_orderkey, "left").select(
        "o_orderkey",
        F.coalesce("n_parts", F.lit(0)).cast("long").alias("n_parts"),
        F.coalesce("n_suppliers", F.lit(0)).cast("long").alias("n_suppliers"),
        F.coalesce("_rev", F.lit(0.0)).alias("revenue"),
        F.coalesce("_brands", F.lit("")).alias("brands"),
    )


# --- Q6: Best / Any / All tri-state plan branching ------------------------
# The reference's $neodash_max_cognate parameter changes join type and
# predicate (dashboard.json:823; README.md:159-171). Here: per order, its
# qualifying lineitems; Best = only the max-price line(s), Any = all above
# cutoff (inner), All = keep orders with no qualifying line (left).

def _best_any_all(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    # orderkey-bucketed reads: the join, the best-mode window, and the
    # countDistinct partial dedup (keys (priority, orderkey) — clustered
    # by the orderkey bucketing) all run exchange-free; the only
    # remaining exchange moves priority-grain rows.
    o = t(spark, sf_dir, "orders", widen_on="o_orderkey").select(
        "o_orderkey", "o_orderpriority"
    )
    l = t(spark, sf_dir, "lineitem", widen_on="l_orderkey").filter(
        F.col("l_extendedprice") > 50000
    )
    if mode == "best":
        w = Window.partitionBy("l_orderkey")
        l = l.withColumn("max_price", F.max("l_extendedprice").over(w)).filter(
            F.col("l_extendedprice") == F.col("max_price")
        )
    join_type = "left" if mode == "all" else "inner"
    j = o.join(l, o.o_orderkey == l.l_orderkey, join_type)
    return j.groupBy("o_orderpriority").agg(
        F.count("l_orderkey").alias("n_lines"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


_BAA_SQL = {
    "best": """
    SELECT o_orderpriority, COUNT(l_orderkey) AS n_lines,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM orders JOIN (
      SELECT * FROM (
        SELECT *, MAX(l_extendedprice) OVER (PARTITION BY l_orderkey) AS mp
        FROM lineitem WHERE l_extendedprice > 50000
      ) WHERE l_extendedprice = mp
    ) l ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    "any": """
    SELECT o_orderpriority, COUNT(l_orderkey) AS n_lines,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM orders JOIN (SELECT * FROM lineitem WHERE l_extendedprice > 50000) l
      ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    "all": """
    SELECT o_orderpriority, COUNT(l_orderkey) AS n_lines,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_extendedprice > 50000) l
      ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
}

for _mode in ("best", "any", "all"):
    _fn = q(f"q6_{_mode}_mode", _BAA_SQL[_mode])(
        lambda spark, sf_dir, _m=_mode: _best_any_all(spark, sf_dir, _m)
    )
    _fn.__doc__ = (
        f"Q6 dashboard shape in {_mode!r} match mode (the Best/Any/All "
        "templating the reference exposes as one toggle): per-priority "
        "rollup counting best-ranked / any / all qualifying lines."
    )


# --- Q7: parameterized group rollup template ------------------------------
# The reference's 7-way apoc.case over domain DBs is one parameterized
# template (SURVEY Q7). Same here: rollup keyed by a chosen dimension.

def _group_rollup(spark: SparkSession, sf_dir: str, dim: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(dim)
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            dsum2(F.col("l_quantity")).alias("sum_qty"),
        )
    )


for _dim in ("p_brand", "p_type"):
    _fn = q(
        f"q7_rollup_by_{_dim}",
        f"""
    SELECT {_dim}, COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(SUM(CAST((CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END) AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY {_dim}
    """,
    )(lambda spark, sf_dir, _d=_dim: _group_rollup(spark, sf_dir, _d))
    _fn.__doc__ = (
        f"Q7 parameterized rollup template keyed by {_dim} (the "
        "reference's 7-way dimension toggle as one template)."
    )


# --- Q8: "% of group with property" — two grouped counts + ratio ----------

@q(
    "q8_group_ratio",
    """
    SELECT n_name,
           COUNT(DISTINCT c_custkey) AS n_customers,
           COUNT(DISTINCT CASE WHEN o_orderstatus = 'O' THEN c_custkey END)
               AS n_with_open_order,
           ROUND(COUNT(DISTINCT CASE WHEN o_orderstatus = 'O' THEN c_custkey END)
                 * 100.0 / COUNT(DISTINCT c_custkey), 4) AS pct_open
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY n_name
    """,
)
def q8_group_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 dashboard shape: within-group share ratio per nation (windowed sum as denominator)."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    o = t(spark, sf_dir, "orders")
    open_cust = F.when(F.col("o_orderstatus") == "O", F.col("c_custkey"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct(open_cust).alias("n_with_open_order"),
            F.round(
                F.countDistinct(open_cust) * 100.0 / F.countDistinct("c_custkey"), 4
            ).alias("pct_open"),
        )
    )


# --- Q9: group-by-collected-array (combinatorial interactions shape) ------
# Per order: the sorted distinct set of flag:status combos (excluding the
# "minor"-analog 'N:O'), then group orders by that combination key.

@q(
    "q9_group_by_array",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             string_agg(DISTINCT l_returnflag || ':' || l_linestatus, '|'
                        ORDER BY l_returnflag || ':' || l_linestatus) AS combo
      FROM lineitem
      WHERE l_returnflag || ':' || l_linestatus <> 'N:O'
      GROUP BY l_orderkey
    )
    SELECT combo, COUNT(*) AS n_orders
    FROM per_order GROUP BY combo
    """,
)
def q9_group_by_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 dashboard shape: group by a sorted in-row array key (T8) built from per-order parts."""
    l = t(spark, sf_dir, "lineitem", widen_on="l_orderkey")
    combo = F.concat_ws(":", "l_returnflag", "l_linestatus")
    per_order = (
        l.withColumn("fs", combo)
        .filter(F.col("fs") != "N:O")
        .groupBy("l_orderkey")
        .agg(F.array_join(F.array_sort(F.collect_set("fs")), "|").alias("combo"))
    )
    return per_order.groupBy("combo").agg(F.count("*").alias("n_orders"))


# --- Q10: semi-join anchor then rollup ------------------------------------

@q(
    "q10_semi_join_rollup",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    )
    GROUP BY o_orderpriority
    """,
)
def q10_semi_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 dashboard shape: left-semi filtered rollup (exists-style membership without row duplication)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    asia_cust = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    return (
        o.join(asia_cust, o.o_custkey == asia_cust.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# --- Q11: hierarchy walk (EC class→subclass→leaf analog) ------------------

@q(
    "q11_hierarchy_walk",
    """
    SELECT r_name, COUNT(DISTINCT n_nationkey) AS n_nations,
           COUNT(DISTINCT c_custkey) AS n_customers,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    GROUP BY r_name
    """,
)
def q11_hierarchy_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 dashboard shape: region->nation hierarchy walk with per-level rollups."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.countDistinct("n_nationkey").alias("n_nations"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


# --- Q12/P4: membership predicate over an array column --------------------
# ecList-membership shape ($ec IN pc.ecList, dashboard.json:1833).

@q(
    "q12_array_membership",
    """
    SELECT p_type, COUNT(*) AS n_parts
    FROM part
    WHERE list_contains(string_split(p_name, ' '), 'red')
    GROUP BY p_type
    """,
)
def q12_array_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 dashboard shape: member-of-array-column predicate (P5) driving a rollup."""
    p = t(spark, sf_dir, "part")
    return (
        p.withColumn("words", F.split(F.col("p_name"), " "))
        .filter(F.array_contains(F.col("words"), "red"))
        .groupBy("p_type")
        .agg(F.count("*").alias("n_parts"))
    )


# --- Q13/T5/T6: set intersection / difference of two groups' collections --
# (Compare Domains page: shared/unique cognate-ligand sets.)

@q(
    "q13_compare_groups",
    """
    WITH a AS (SELECT DISTINCT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
               WHERE p_brand = 'Brand#1'),
         b AS (SELECT DISTINCT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
               WHERE p_brand = 'Brand#2')
    SELECT (SELECT COUNT(*) FROM a WHERE l_suppkey IN (SELECT l_suppkey FROM b)) AS n_shared,
           (SELECT COUNT(*) FROM a WHERE l_suppkey NOT IN (SELECT l_suppkey FROM b)) AS n_only_a,
           (SELECT COUNT(*) FROM b WHERE l_suppkey NOT IN (SELECT l_suppkey FROM a)) AS n_only_b
    """,
)
def q13_compare_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 dashboard shape: set intersect/except comparison between two group memberships (T5/T6, A9)."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)

    # BOTH brand sets off ONE scan: conditional collect_set drops the
    # non-matching (NULL) values exactly like the per-brand filter did,
    # and a single global agg replaces two aggregate subqueries crossed
    # together (which scanned the fact table twice)
    def set_of(brand: str):
        return F.collect_set(
            F.when(F.col("p_brand") == brand, F.col("l_suppkey"))
        )

    ab = j.filter(F.col("p_brand").isin("Brand#1", "Brand#2")).agg(
        set_of("Brand#1").alias("a"), set_of("Brand#2").alias("b")
    )
    return ab.select(
        F.size(F.array_intersect("a", "b")).cast("long").alias("n_shared"),
        F.size(F.array_except("a", "b")).cast("long").alias("n_only_a"),
        F.size(F.array_except("b", "a")).cast("long").alias("n_only_b"),
    )


# --- Q14: top-k by count with deterministic tiebreak ----------------------

@q(
    "q14_topk_by_count",
    """
    SELECT l_partkey, COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem GROUP BY l_partkey
    ORDER BY n_orders DESC, l_partkey LIMIT 10
    """,
)
def q14_topk_by_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 dashboard shape: global top-k entities by count with deterministic tie-break."""
    # orderkey-bucketed read: the countDistinct dedup keys
    # (l_partkey, l_orderkey) are clustered by the bucketing, so the
    # dedup aggregate runs exchange-free and only partkey-grain partial
    # counts shuffle.
    l = t(spark, sf_dir, "lineitem", widen_on="l_orderkey")
    return (
        l.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "l_partkey")
        .limit(10)
    )


# --- Q15: 2-hop neighborhood subgraph export (graph-view shape) -----------

@q(
    "q15_subgraph_export",
    """
    SELECT 'customer' AS src_type, CAST(o_custkey AS VARCHAR) AS src,
           'order' AS dst_type, CAST(o_orderkey AS VARCHAR) AS dst, 'PLACED' AS rel
    FROM orders WHERE o_custkey = 7
    UNION ALL
    SELECT 'order', CAST(l_orderkey AS VARCHAR), 'part', CAST(l_partkey AS VARCHAR), 'CONTAINS'
    FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey = 7)
    """,
)
def q15_subgraph_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 dashboard shape: neighborhood subgraph rows (edge list) for one anchor entity."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") == 7)
    l = t(spark, sf_dir, "lineitem")
    hop1 = o.select(
        F.lit("customer").alias("src_type"),
        F.col("o_custkey").cast("string").alias("src"),
        F.lit("order").alias("dst_type"),
        F.col("o_orderkey").cast("string").alias("dst"),
        F.lit("PLACED").alias("rel"),
    )
    oo = o.select("o_orderkey")
    hop2 = (
        l.join(oo, l.l_orderkey == oo.o_orderkey, "left_semi")
        .select(
            F.lit("order").alias("src_type"),
            F.col("l_orderkey").cast("string").alias("src"),
            F.lit("part").alias("dst_type"),
            F.col("l_partkey").cast("string").alias("dst"),
            F.lit("CONTAINS").alias("rel"),
        )
    )
    return hop1.unionByName(hop2)


# --- Q16/F13: JSON payload projection -------------------------------------

@q(
    "q16_json_payload",
    """
    SELECT o_orderkey,
           '{"order":' || CAST(o_orderkey AS VARCHAR)
             || ',"priority":"' || o_orderpriority
             || '","lines":' || CAST(n AS VARCHAR) || '}' AS payload
    FROM (
      SELECT o_orderkey, o_orderpriority, COUNT(l_orderkey) AS n
      FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey < 200
      GROUP BY o_orderkey, o_orderpriority
    )
    """,
)
def q16_json_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 dashboard shape: JSON payload + URL-encoded deep-link column per row (F13)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    l = t(spark, sf_dir, "lineitem")
    agg = (
        o.join(l, o.o_orderkey == l.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count("l_orderkey").alias("n"))
    )
    return agg.select(
        "o_orderkey",
        F.concat(
            F.lit('{"order":'),
            F.col("o_orderkey").cast("string"),
            F.lit(',"priority":"'),
            F.col("o_orderpriority"),
            F.lit('","lines":'),
            F.col("n").cast("string"),
            F.lit("}"),
        ).alias("payload"),
    )


# --- W1: per-group sum broadcast back to rows (total_contact_counts) ------

@q(
    "w1_group_share",
    """
    SELECT l_orderkey, l_linenumber,
           -- share-of-nothing contract: NULL share when the group
           -- total is zero (domain-violations fuzz, round 10)
           ROUND(l_quantity * 100.0 / NULLIF(
                 SUM(l_quantity) OVER (PARTITION BY l_orderkey), 0), 4) AS qty_pct
    FROM lineitem
    """,
)
def w1_group_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: each row's share of its group total via a windowed sum."""
    l = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    total = F.sum("l_quantity").over(w)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        # share-of-nothing contract: NULL when the group total is zero
        # (a voided order's lines) — ANSI-safe on both engines
        F.round(
            F.when(total != 0, F.col("l_quantity") * 100.0 / total), 4
        ).alias("qty_pct"),
    )


# --- W2: best-per-group with tie keeping (bestCognate semantics) ----------

@q(
    "w2_best_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             MAX(o_totalprice) OVER (PARTITION BY o_custkey) AS mx
      FROM orders
    ) WHERE o_totalprice = mx
    """,
)
def w2_best_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: best-per-group with deterministic tie handling (max-struct pattern)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("mx", F.max("o_totalprice").over(w))
        .filter(F.col("o_totalprice") == F.col("mx"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# --- W3: deterministic dense ids (ngroup replacement) ---------------------

@q(
    "w3_dense_ids",
    """
    SELECT DISTINCT p_brand, DENSE_RANK() OVER (ORDER BY p_brand) AS brand_id
    FROM part WHERE p_brand IS NOT NULL
    """,
)
def w3_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: rerun-stable dense ids from a global ordering over distinct
    keys (bounded key-level window). A NULL key gets NO id — "missing"
    has no identity, and its rank placement is engine-dependent
    (Spark ranks NULLS FIRST, DuckDB LAST; dirty-star fuzz)."""
    p = (
        t(spark, sf_dir, "part")
        .select("p_brand")
        .filter(F.col("p_brand").isNotNull())
        .distinct()
    )
    return p.withColumn("brand_id", F.dense_rank().over(Window.orderBy("p_brand")))


# --- W5: top-k per group via row_number -----------------------------------

@q(
    "w5_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def w5_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: top-k rows per group via rank-limit window (WindowGroupLimit map-side partial top-k)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# --- A5: exact quantile ---------------------------------------------------

@q(
    "a5_quantile",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(CASE WHEN o_totalprice >= -9.0e15
                                AND o_totalprice <= 9.0e15
                               THEN o_totalprice END, 0.8), 4) AS p80_totalprice
    FROM orders GROUP BY o_orderpriority
    """,
)
def a5_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-group quantiles (percentile_approx vs the oracle's exact percentile at this cardinality). Non-finite totals are excluded like NULLs — a NaN sorts above every real on both engines and would otherwise drag every upper quantile to NaN."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(
            F.expr(
                "percentile(CASE WHEN o_totalprice >= -9.0e15 AND"
                " o_totalprice <= 9.0e15 THEN o_totalprice END, 0.8)"
            ),
            4,
        ).alias("p80_totalprice")
    )


# --- A7: run-length range compression (find_ec_ranges) --------------------
# Gaps-and-islands: compress each order's distinct linenumbers to "1-4,6"
# (the reference's EC-range compressor, process_all_pdb_contacts.py:76-101).

@q(
    "a7_range_compress",
    """
    WITH d AS (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem),
    grp AS (
      SELECT l_orderkey, l_linenumber,
             l_linenumber - ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                               ORDER BY l_linenumber) AS g
      FROM d
    ),
    seg AS (
      SELECT l_orderkey, MIN(l_linenumber) AS lo, MAX(l_linenumber) AS hi
      FROM grp GROUP BY l_orderkey, g
    )
    SELECT l_orderkey,
           string_agg(CASE WHEN lo = hi THEN CAST(lo AS VARCHAR)
                           ELSE CAST(lo AS VARCHAR) || '-' || CAST(hi AS VARCHAR) END,
                      ',' ORDER BY lo) AS ranges
    FROM seg GROUP BY l_orderkey
    """,
)
def a7_range_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: integer range compression (gaps-and-islands in a single shuffle) over per-order line numbers."""
    from procoggraph_spark.operators.ranges import compress_int_ranges

    # no .distinct() here: compress_int_ranges dedups (key, value) after
    # its own key-repartition — a prior distinct would add a full shuffle
    l = t(spark, sf_dir, "lineitem", widen_on="l_orderkey")
    return compress_int_ranges(
        l.select("l_orderkey", "l_linenumber"),
        key="l_orderkey",
        value="l_linenumber",
        out="ranges",
        pre_clustered=bucketed_key(l) == "l_orderkey",
    )


# --- A8: numeric-with-inscode sort (sort_numeric_with_inscode) ------------
# Tokens like "12_A" sort by (numeric, inscode); reference
# process_pdb_contacts.py:40-44. Tokens synthesized from lineitem.

@q(
    "a8_inscode_sort",
    """
    WITH tok AS (
      SELECT l_orderkey, l_linenumber AS num,
             CASE WHEN l_returnflag = 'R' THEN 'A' ELSE '' END AS ins,
             CAST(l_linenumber AS VARCHAR) ||
             CASE WHEN l_returnflag = 'R' THEN '_A' ELSE '' END AS token
      FROM lineitem WHERE l_orderkey < 500
    )
    SELECT l_orderkey, string_agg(token, '|' ORDER BY num, ins) AS residues
    FROM tok GROUP BY l_orderkey
    """,
)
def a8_inscode_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: numeric-then-insertion-code token sort inside a string column (custom SQL-surface kernel)."""
    from procoggraph_spark.functions.strings import sort_tokens_numeric_inscode

    l = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    tok = l.select(
        "l_orderkey",
        F.concat(
            F.col("l_linenumber").cast("string"),
            F.when(F.col("l_returnflag") == "R", "_A").otherwise(""),
        ).alias("token"),
    )
    agg = tok.groupBy("l_orderkey").agg(F.collect_list("token").alias("tokens"))
    return agg.select(
        "l_orderkey", sort_tokens_numeric_inscode(F.col("tokens")).alias("residues")
    )


# --- P6/W4/A10: the ownership classifier on star data ---------------------
# Reference semantics verbatim (process_pdb_contacts.py:45-78): order =
# bound entity, linenumber = domain, quantity = contact count.

@q(
    "p6_ownership_classify",
    """
    WITH base AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             SUM(l_quantity) OVER (PARTITION BY l_orderkey) AS total,
             -- share-of-nothing contract: NULL share when the group
             -- total is zero (see operators/ownership.py)
             l_quantity / NULLIF(
                 SUM(l_quantity) OVER (PARTITION BY l_orderkey), 0) AS perc
      FROM lineitem
    ),
    cls AS (
      SELECT *,
             SUM(CASE WHEN perc > 0.1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY l_orderkey) AS non_minor
      FROM base
    )
    SELECT CASE
             WHEN perc = 1.0 THEN 'exclusive'
             WHEN perc >= 0.9 THEN 'dominant'
             WHEN perc >= 0.5 AND perc < 0.9 AND non_minor = 1 THEN 'major'
             WHEN perc >= 0.5 AND perc < 0.9 AND non_minor > 1 THEN 'major_partner'
             WHEN perc > 0.1 AND perc < 0.5 AND non_minor > 1 THEN 'partner'
             WHEN perc <= 0.1 THEN 'minor'
           END AS domain_ownership,
           COUNT(*) AS n
    FROM cls GROUP BY 1
    """,
)
def p6_ownership_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: exclusive/dominant/major/partner/minor ownership classifier from per-group share thresholds (two windows over one shuffle)."""
    l = t(spark, sf_dir, "lineitem", widen_on="l_orderkey").select(
        F.col("l_orderkey").alias("uniqueID"),
        F.col("l_linenumber").alias("domain_accession"),
        F.col("l_quantity").alias("domain_contact_counts"),
        F.lit(0.0).alias("domain_hbond_counts"),
        F.lit(0.0).alias("domain_covalent_counts"),
    )
    owned = assign_ownership(l, unique_id="uniqueID", database_type=None)
    return owned.groupBy("domain_ownership").agg(F.count("*").alias("n"))


# --- F1-F7/F11: scalar string-function kitchen ----------------------------

@q(
    "f_string_kitchen",
    """
    SELECT p_partkey,
           string_split(p_name, ' ')[1] AS first_word,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           upper(p_brand) AS brand_upper,
           regexp_replace(p_brand, '^Brand#', '') AS brand_num,
           concat_ws(':', p_brand, p_type) AS brand_type,
           length(p_name) AS name_len
    FROM part WHERE p_partkey < 300
    """,
)
def f_string_kitchen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F7/F11 string kitchen sink: trim/pad/case/regex-extract/replace/split in one projection."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    return p.select(
        "p_partkey",
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.regexp_extract(F.col("p_name"), "([a-z]+)$", 1).alias("last_word"),
        F.upper("p_brand").alias("brand_upper"),
        F.regexp_replace(F.col("p_brand"), "^Brand#", "").alias("brand_num"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
    )


# --- F8: numeric range expansion (pattern_to_range) -----------------------

@q(
    "f8_sequence_explode",
    """
    SELECT p_brand, CAST(SUM(g) AS BIGINT) AS sum_series, COUNT(*) AS n_rows
    FROM part, LATERAL unnest(generate_series(1, p_size)) AS u(g)
    WHERE p_size <= 10
    GROUP BY p_brand
    """,
)
def f8_sequence_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: numeric range expansion to rows (sequence + explode) with the descending-sequence guard."""
    p = t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (
        p.select("p_brand", F.explode(F.sequence(F.lit(1), F.col("p_size"))).alias("g"))
        .groupBy("p_brand")
        .agg(F.sum("g").cast("long").alias("sum_series"), F.count("*").alias("n_rows"))
    )


# --- F14: JSON/map extraction from the events props column ----------------

@q(
    "f14_json_extract",
    """
    SELECT event_type,
           -- NULLIF: a missing/malformed "k" extracts '' — it must
           -- contribute NULL (nothing) to the sum, not ANSI-crash the
           -- cast on either engine
           CAST(SUM(CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '')
                         AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def f14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13/F14: JSON field extraction and map keys/values over a constructed payload."""
    e = t(spark, sf_dir, "events")
    k = F.nullif(
        F.regexp_extract(F.col("props"), '"k": ([0-9]+)', 1), F.lit("")
    ).cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"), F.count("*").alias("n")
    )


# --- T4: heterogeneous union (unionByName allowMissingColumns) ------------

@q(
    "t4_union_hetero",
    """
    WITH party AS (
      SELECT c_custkey AS pkey, c_name AS pname, c_acctbal AS bal,
             c_mktsegment AS segment, 'customer' AS kind
      FROM customer
      UNION ALL
      SELECT s_suppkey, s_name, s_acctbal, NULL, 'supplier' FROM supplier
    )
    SELECT kind, COUNT(*) AS n, COUNT(segment) AS n_with_segment,
           CAST(SUM(CAST((CASE WHEN bal >= -9.0e15 AND bal <= 9.0e15 THEN bal END)
                    AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM party GROUP BY kind
    """,
)
def t4_union_hetero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: heterogeneous union by name with missing columns null-filled, then rollup."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pkey"),
        F.col("c_name").alias("pname"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("customer").alias("kind"),
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("pkey"),
        F.col("s_name").alias("pname"),
        F.col("s_acctbal").alias("bal"),
        F.lit("supplier").alias("kind"),
    )
    party = c.unionByName(s, allowMissingColumns=True)
    return party.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.count("segment").alias("n_with_segment"),
        dsum2(F.col("bal")).alias("total_bal"),
    )
