"""Second coverage wave: the remaining SURVEY §2 operator families —
referential-integrity anti-joins (J1/T7), conditional overwrite/swap
(P7/P8), group-by-rest with null keys (A2), rollup (A11), pivot,
selector-string building (F9/F10), sentinel-filtered casts (F16), and
embedding-cosine near-dup pairs (dedup family)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.queries.common import cents, dsum2, finite_num, q, t

# --- fuzzy matching via edit distance --------------------------------------

@q(
    "f_fuzzy_match_levenshtein",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.n_name AS name_a, b.n_name AS name_b
      FROM nation a JOIN nation b ON a.n_name <> b.n_name
    ),
    cp AS (
      SELECT name_a, name_b,
             regexp_split_to_array(name_a, '') AS ac,
             regexp_split_to_array(name_b, '') AS bc
      FROM pairs
    ),
    -- CODEPOINT-level Wagner-Fischer: DuckDB's levenshtein() counts
    -- BYTES ('Müller'->'Muller' = 2, '日本語'->'日本' = 3) while
    -- Spark's counts characters — the operator contract is character
    -- edit distance, so the oracle runs the DP itself: one recursive
    -- step per name_a prefix, each new DP row built by a list_reduce
    -- left-fold (the prepended [i+1] element is the fold's initial
    -- accumulator — DuckDB 1.0 has no 3-arg list_reduce)
    rec AS (
      SELECT name_a, name_b, ac, bc, 0 AS i,
             range(0, len(bc) + 1) AS row
      FROM cp
      UNION ALL
      SELECT name_a, name_b, ac, bc, i + 1,
             list_reduce(
               list_prepend([CAST(i + 1 AS BIGINT)],
                            list_transform(range(1, len(bc) + 1), j -> [j])),
               (acc, x) -> list_append(acc, least(
                   row[x[1] + 1] + 1,
                   acc[len(acc)] + 1,
                   row[x[1]] + CASE WHEN ac[i + 1] = bc[x[1]]
                               THEN 0 ELSE 1 END))
             ) AS row
      FROM rec WHERE i < len(ac)
    ),
    d AS (
      SELECT name_a, name_b, row[len(bc) + 1] AS dist
      FROM rec WHERE i = len(ac)
    )
    SELECT name_a, closest, dist FROM (
      SELECT name_a, name_b AS closest, dist,
             ROW_NUMBER() OVER (PARTITION BY name_a
                                ORDER BY dist, name_b) AS rn
      FROM d
    ) WHERE rn = 1
    """,
)
def f_fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest-name fuzzy match by Levenshtein edit distance over the
    nation dimension. The all-pairs comparison is legitimate ONLY
    because both sides are dimension-sized (broadcast nested loop over
    25x25); at corpus scale the same primitive runs behind an LSH/
    n-gram blocking stage (operators/dedup) so only co-blocked pairs
    compare. Contract: CHARACTER (codepoint) edit distance — Spark's
    native semantics; DuckDB's levenshtein() counts BYTES and diverges
    on any non-ASCII name (unicode-names fuzz finding), so the oracle
    replays the Wagner-Fischer DP over codepoint arrays instead."""
    from pyspark.sql import Window

    n = t(spark, sf_dir, "nation")
    a = n.select(F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_name").alias("name_b"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("name_a") != F.col("name_b"))
    scored = pairs.withColumn("dist", F.levenshtein("name_a", "name_b"))
    w = Window.partitionBy("name_a").orderBy("dist", "name_b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("name_a", F.col("name_b").alias("closest"), "dist")
    )


# --- U8 sugar conversion chain, oracle-backed --------------------------------
# Drives functions/sugars.sugar_smiles_from_wurcs (the reference's
# WURCS→GlycoCT→CSDB→SMILES chain behind three S16 caches,
# process_all_pdb_contacts.py:13-32) on part-derived WURCS strings.
# The offline fallback kernels are pure deterministic string/hash
# algebra (sha256-tagged), so DuckDB replays the ENTIRE chain and the
# driver hash-compares every stage's output column.

_U8_RING = "C1OC(O)C(O)C(O)C1O"

_U8_SQL = rf"""
WITH src AS (
  SELECT DISTINCT CASE WHEN p_partkey % 7 = 0 THEN 'SMILES:' || p_name
    ELSE 'WURCS=2.0/' || CAST(p_size % 3 + 1 AS VARCHAR) || ',' ||
         CAST(p_size % 5 + 1 AS VARCHAR) || ',' ||
         CAST(p_size % 5 AS VARCHAR) || '/[u]/' END AS WURCS
  FROM part WHERE p_partkey < 300
),
g AS (
  -- a NULL conversion key (NULL p_name source) cannot be converted or
  -- cached (S16 keyed caches join on the key; NULL never matches) —
  -- dropped on both engines (dirty-star fuzz contract)
  SELECT WURCS,
    CASE WHEN regexp_matches(WURCS, '^WURCS=[^/]+/\d+,\d+,\d+/')
      THEN 'FAKE-GLYCOCT/res='
        || regexp_extract(WURCS, '^WURCS=[^/]+/(\d+),(\d+),(\d+)/', 2)
        || '/lin='
        || regexp_extract(WURCS, '^WURCS=[^/]+/(\d+),(\d+),(\d+)/', 3)
        || '/' || substr(sha256(WURCS), 1, 10)
      ELSE NULL END AS glycoct
  FROM src WHERE WURCS IS NOT NULL
),
c AS (
  SELECT WURCS, glycoct,
    CASE WHEN glycoct IS NULL THEN NULL
      ELSE 'FAKE-CSDB:res='
        || regexp_extract(glycoct, 'res=(\d+)', 1)
        || ':' || substr(sha256(glycoct), 1, 10) END AS csdb
  FROM g
)
SELECT WURCS, glycoct, csdb,
  CASE WHEN csdb IS NULL THEN NULL
    ELSE array_to_string(
      list_transform(
        range(GREATEST(1, CAST(regexp_extract(csdb, 'res=(\d+)', 1) AS INT))),
        x -> '{_U8_RING}'),
      'O') END AS descriptor
FROM c
"""


@q("u8_sugar_chain", _U8_SQL)
def u8_sugar_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U8 sugar conversion chain: WURCS->GlycoCT->CSDB->descriptor behind three S16 caches; deterministic fallback kernels fully SQL-replayed."""
    import os
    import tempfile

    from procoggraph_spark.functions.sugars import sugar_smiles_from_wurcs

    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    wurcs = p.select(
        F.when(
            F.col("p_partkey") % 7 == 0,
            F.concat(F.lit("SMILES:"), F.col("p_name")),
        )
        .otherwise(
            F.concat(
                F.lit("WURCS=2.0/"),
                (F.col("p_size") % 3 + 1).cast("string"),
                F.lit(","),
                (F.col("p_size") % 5 + 1).cast("string"),
                F.lit(","),
                (F.col("p_size") % 5).cast("string"),
                F.lit("/[u]/"),
            )
        )
        .alias("WURCS")
    ).filter(F.col("WURCS").isNotNull()).distinct()
    # stable per-session cache root (keyed by Spark application id, not
    # a fresh mkdtemp per call): repeat invocations within a bench /
    # correctness session hit the three S16 caches instead of
    # re-converting everything, and temp dirs don't accumulate — one per
    # session, reclaimed with the OS tempdir. Extra keys from other sf
    # dirs are harmless: the chain semi-joins back to the requested set.
    root = os.path.join(
        tempfile.gettempdir(),
        f"u8_sugar_cache_{spark.sparkContext.applicationId}",
    )
    return sugar_smiles_from_wurcs(spark, wurcs, cache_root=root)


# --- S13 ingestion fetch manifest, oracle-backed -----------------------------
# Drives sources/fetchers.fetch_manifest (the download_mmcif.py control
# structure) with a deterministic in-process service: 1-in-7 ids get a
# per-id service error (dead-letter), the rest a payload derived from
# the id. Output keeps only the partitioning-independent columns
# (id/payload/error) — attempts and chunk_size_used depend on how ids
# land in partitions and are pytest-verified instead.

_S13_SQL = """
SELECT 'pdb' || CAST(p_partkey AS VARCHAR) AS id,
       CASE WHEN p_partkey % 7 = 0 THEN NULL
            ELSE 'cif::pdb' || CAST(p_partkey AS VARCHAR) END AS payload,
       CASE WHEN p_partkey % 7 = 0 THEN 'model_server_error' END AS error
FROM part WHERE p_partkey < 200
"""


@q("s13_fetch_manifest", _S13_SQL)
def s13_fetch_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 ingestion fetch manifest: chunked mapInPandas fetch with dead-letter rows from a deterministic in-process service."""
    from procoggraph_spark.sources.fetchers import fetch_manifest

    ids = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 200)
        .select(F.concat(F.lit("pdb"), F.col("p_partkey").cast("string")).alias("id"))
    )

    def service(batch):
        out = []
        for x in batch:
            n = int(x[3:])
            if n % 7 == 0:
                out.append({"id": x, "payload": None, "error": "model_server_error"})
            else:
                out.append({"id": x, "payload": f"cif::{x}"})
        return out

    return fetch_manifest(ids, fetcher=service, chunk_size=50).select(
        "id", "payload", "error"
    )


# --- J1/T7: referential-integrity check via anti-join ---------------------
# The reference asserts merge(indicator=True) mismatches == 0 after every
# join (SURVEY §5.1). The distributed form: anti-join counts per side.

@q(
    "j_ref_integrity_check",
    # NOT EXISTS, not NOT IN: the oracle must carry the anti-join's
    # NULL semantics. `x NOT IN (subquery)` is UNKNOWN for a NULL x
    # (three-valued logic silently EXCLUDES the row), while left_anti
    # keeps it — and for an integrity CHECKER a NULL foreign key is
    # exactly as unresolvable as an orphan one (referential-dirt fuzz
    # leg, round 11: NULL o_custkey / l_partkey rows vanished from the
    # NOT IN counts). Contract: unresolvable-FK counts as a violation,
    # NULL or orphan alike.
    """
    SELECT 'orders_without_customer' AS check_name,
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
           AS n_violations
    UNION ALL
    SELECT 'lineitem_without_order',
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem_without_part',
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    """,
)
def j_ref_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/T7: referential-integrity anti-join — fact rows whose dimension
    key is missing OR NULL (both unresolvable; left_anti keeps NULL-key
    rows and the NOT EXISTS oracle states the same contract)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")

    def check(name: str, left: DataFrame, right: DataFrame, lk: str, rk: str):
        viol = left.join(right, left[lk] == right[rk], "left_anti")
        return viol.agg(
            F.lit(name).alias("check_name"), F.count("*").alias("n_violations")
        )

    return (
        check("orders_without_customer", o, c, "o_custkey", "c_custkey")
        .unionByName(check("lineitem_without_order", l, o, "l_orderkey", "o_orderkey"))
        .unionByName(check("lineitem_without_part", l, p, "l_partkey", "p_partkey"))
    )


# --- P7: conditional overwrite of a column slice ---------------------------
# (df.loc[mask, col] = value, e.g. process_pdb_contacts.py:194-202)

@q(
    "p7_conditional_overwrite",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'P' THEN 'PENDING' ELSE o_orderstatus END
               AS status_norm,
           CASE WHEN o_totalprice < 0 THEN 0.0 ELSE o_totalprice END AS price_clipped
    FROM orders WHERE o_orderkey < 1000
    """,
)
def p7_conditional_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: conditional column overwrite (when/otherwise) preserving the untouched rows byte-identical."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", "PENDING")
        .otherwise(F.col("o_orderstatus"))
        .alias("status_norm"),
        F.when(F.col("o_totalprice") < 0, 0.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price_clipped"),
    )


# --- P8: column swap under mask (orient bgn/end so bgn = ligand) -----------
# (process_pdb_contacts.py:354-355): swap (returnflag, linestatus) roles
# when the mask fires, as struct-swap then unpack.

@q(
    "p8_column_swap",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_returnflag = 'R' THEN l_linestatus ELSE l_returnflag END AS bgn,
           CASE WHEN l_returnflag = 'R' THEN l_returnflag ELSE l_linestatus END AS end_
    FROM lineitem WHERE l_orderkey < 500
    """,
)
def p8_column_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: masked column swap via struct repack (swap two columns only where a predicate holds)."""
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    mask = F.col("l_returnflag") == "R"
    swapped = F.when(
        mask, F.struct(F.col("l_linestatus").alias("a"), F.col("l_returnflag").alias("b"))
    ).otherwise(F.struct(F.col("l_returnflag").alias("a"), F.col("l_linestatus").alias("b")))
    return l.withColumn("_s", swapped).select(
        "l_orderkey",
        "l_linenumber",
        F.col("_s.a").alias("bgn"),
        F.col("_s.b").alias("end_"),
    )


# --- A2: group-by-all-remaining-columns with NULL keys ---------------------
# (dropna=False grouping, process_pdb_contacts.py:379 — null
# xref_db_version rows must survive as their own group)

@q(
    "a2_group_by_rest_nulls",
    """
    WITH src AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS status_v,
             o_totalprice
      FROM orders
    )
    SELECT o_orderpriority, status_v, COUNT(*) AS n,
           CAST(SUM(CAST((CASE WHEN o_totalprice >= -9.0e15 AND o_totalprice <= 9.0e15 THEN o_totalprice END) AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM src GROUP BY o_orderpriority, status_v
    """,
)
def a2_group_by_rest_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: group-by-rest with null grouping keys kept as real groups."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("status_v"),
        "o_totalprice",
    )
    agg_cols = {"o_totalprice"}
    rest = [c for c in o.columns if c not in agg_cols]  # group-by-rest idiom
    return o.groupBy(*rest).agg(
        F.count("*").alias("n"),
        dsum2(F.col("o_totalprice")).alias("total"),
    )


# --- A11: rollup (the manual EC class/subclass rollup in one pass) ---------

@q(
    "a11_rollup_hierarchy",
    """
    SELECT COALESCE(r_name, 'ALL') AS region_lvl,
           COALESCE(n_name, 'ALL') AS nation_lvl,
           COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def a11_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: ROLLUP over the nation/region hierarchy with grouping-id disambiguation."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_lvl"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_lvl"),
            "n_customers",
        )
    )


# --- pivot: wide per-status aggregation ------------------------------------

@q(
    "t_pivot_status",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST((CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END) AS DECIMAL(18,2)) END)
                AS DOUBLE) AS qty_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST((CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END) AS DECIMAL(18,2)) END)
                AS DOUBLE) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def t_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order status columns per priority row (fixed pivot values for engine parity)."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum2(F.col("l_quantity")))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


# --- F9/F10: per-row selector-string building over arrays ------------------
# (arpeggio selector construction, process_pdb_structure.py:140-141)

@q(
    "f9_selector_strings",
    """
    WITH src AS (
      SELECT l_orderkey,
             list_sort(list(DISTINCT l_linenumber)) AS nums
      FROM lineitem WHERE l_orderkey < 300 GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           array_to_string(list_transform(nums,
             x -> '/1/A/' || CAST(x AS VARCHAR) || '/'), ',') AS selectors,
           len(nums) AS n_selectors
    FROM src
    """,
)
def f9_selector_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/F10: per-row selector-string building via transform + array_join with element count."""
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    grouped = l.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_linenumber")).alias("nums")
    )
    return grouped.select(
        "l_orderkey",
        F.array_join(
            F.transform(
                "nums", lambda x: F.concat(F.lit("/1/A/"), x.cast("string"), F.lit("/"))
            ),
            ",",
        ).alias("selectors"),
        F.size("nums").alias("n_selectors"),
    )


# --- F16: sentinel-filtered cast + sum (molwt with '?' / '.') ---------------

@q(
    "f16_sentinel_cast_sum",
    """
    WITH src AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 97 = 0 THEN '?'
                  WHEN o_orderkey % 89 = 0 THEN '.'
                  ELSE CAST(o_totalprice AS VARCHAR) END AS raw_val
      FROM orders
    )
    SELECT o_orderpriority,
           -- a parsed value that is NaN/Inf is one more sentinel shape
           -- (a '?' and a 'NaN' both mean "no usable number"): excluded
           -- from n_valid AND the sum on both engines
           -- TRY_CAST, not CAST: DuckDB's AND is vectorized with no
           -- short-circuit guarantee, so a guarded CAST('?') can still
           -- raise; TRY_CAST degrades the sentinel to NULL, which
           -- fails the representation band and falls through the CASE
           COUNT(CASE WHEN raw_val NOT IN ('?', '.')
                       AND TRY_CAST(raw_val AS DOUBLE) >= -9.0e15
                       AND TRY_CAST(raw_val AS DOUBLE) <= 9.0e15 THEN 1 END)
               AS n_valid,
           CAST(SUM(CASE WHEN raw_val NOT IN ('?', '.')
                          AND TRY_CAST(raw_val AS DOUBLE) >= -9.0e15
                          AND TRY_CAST(raw_val AS DOUBLE) <= 9.0e15
                         THEN CAST(TRY_CAST(raw_val AS DOUBLE)
                                   AS DECIMAL(18,2)) END)
                AS DOUBLE) AS total
    FROM src GROUP BY o_orderpriority
    """,
)
def f16_sentinel_cast_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: sentinel-filtered cast-and-sum (non-numeric sentinels
    excluded before aggregation; a value that parses to NaN/Inf is one
    more sentinel shape — no usable number — excluded from n_valid and
    the sum alike)."""
    o = t(spark, sf_dir, "orders")
    raw = (
        F.when(F.col("o_orderkey") % 97 == 0, "?")
        .when(F.col("o_orderkey") % 89 == 0, ".")
        .otherwise(F.col("o_totalprice").cast("string"))
    )
    src = o.select("o_orderpriority", raw.alias("raw_val"))
    # the numeric probe stays INSIDE the sentinel branch: ANSI cast of
    # '?' raises, so the when() must gate it (CaseWhen is lazy per-row)
    valid = F.when(
        ~F.col("raw_val").isin("?", "."),
        finite_num(F.col("raw_val").cast("double")).isNotNull(),
    ).otherwise(F.lit(False))
    return src.groupBy("o_orderpriority").agg(
        F.count(F.when(valid, 1)).alias("n_valid"),
        (F.sum(F.when(valid, cents(F.col("raw_val").cast("double"), 2))) / 100.0)
        .alias("total"),
    )


# --- dedup family: embedding-cosine near-dup pairs --------------------------
# The synthetic embeddings are near-orthogonal random vectors (max natural
# pairwise cosine ~0.48), so the true near-dup operating point (0.9) would
# be vacuous on the raw table. The entry therefore plants deterministic
# perturbed twins (vec_id+1000, per-dim factor 1 + 0.003*k with k an
# integer hash of (vec_id, dim) in [-3, 3]) — the same planted-dup
# evaluation the MinHash path uses — and runs the SCALE shape on the
# corpus: hyperplane-SimHash signatures → pigeonhole-block equi-join
# candidates (operators.dedup.simhash_near_pairs) → exact cosine rerank.
# A planted pair flips ≤1 of 64 planes (measured over both SFs; expected
# 0.1 bits), so the 8-bit Hamming gate has >10σ recall margin while
# keeping blocking genuinely selective (9 blocks of ~7 bits). The DuckDB
# oracle is the EXACT all-pairs twin (no gate): recall 1 is checked, not
# assumed. No CartesianProduct in the Spark plan (tests/test_plans.py).


def _emb_twins(e: DataFrame) -> DataFrame:
    """Deterministic near-dup twins for vec_id < 40: identical integer
    arithmetic to the oracle's list_transform, bit-identical doubles.

    The id is pre-reduced (% 2^31) before the multiply — a no-op for
    the vec_id < 40 rows this branch keeps, but Spark does NOT
    guarantee conjunct evaluation order, so under an adversarial
    physical profile the transform can evaluate on rows the id filter
    later drops; an unreduced multiply on a snowflake-scale id (2^61,
    huge-keys fuzz) is an ANSI long overflow there (the portable-hash
    pre-reduction discipline every mixer in the repo follows)."""
    k = lambda d: (
        ((F.col("vec_id") % F.lit(2147483648)) * 17 + d * 13) % 7 - 3
    ).cast("double")
    return (
        e.filter(F.col("vec_id") < 40)
        .select(
            "vec_id",
            F.transform(
                "v", lambda x, d: x * (F.lit(1.0) + F.lit(0.003) * k(d))
            ).alias("v"),
        )
        .select((F.col("vec_id") + 1000).alias("vec_id"), "v")
    )


@q(
    "dedup_embedding_cosine",
    """
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings WHERE vec_id < 200
                    -- searchable() boundary: a NaN cosine passes
                    -- `>= 0.9` on BOTH engines (NaN ranks above every
                    -- real number in the comparison total order), so
                    -- one poisoned vector floods the near-dup pairs
                    AND COALESCE(list_sum(list_transform(
                          embedding, x -> CAST(x AS DOUBLE) * x)), 0) > 0
                    AND COALESCE(list_sum(list_transform(
                          embedding, x -> CAST(x AS DOUBLE) * x)), 0)
                          < 'inf'::DOUBLE),
    twins AS (
      SELECT vec_id + 1000 AS vec_id, vv AS v FROM (
        SELECT vec_id, list_transform(range(0, 64), d ->
          v[d + 1] * (1.0 + 0.003 * CAST((vec_id * 17 + d * 13) % 7 - 3 AS DOUBLE)))
            AS vv
        FROM base WHERE vec_id < 40)),
    e AS (SELECT * FROM base UNION ALL SELECT * FROM twins)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs >= 0.9 over planted twins: SimHash pigeonhole blocking + exact rerank; oracle is the exact all-pairs twin."""
    from procoggraph_spark.operators import dedup as D
    from procoggraph_spark.operators.similarity import (
        cosine,
        hyperplane_signature,
        searchable,
    )

    base = (
        searchable(t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    # three consumers (signature table + both rerank sides) and the
    # union references the gated scan twice — six parquet scans of the
    # gate lineage per execution without a checkpoint; the frame is
    # a few hundred rows
    corpus = base.unionByName(_emb_twins(base)).localCheckpoint(eager=False)
    sigs = corpus.select(
        "vec_id",
        hyperplane_signature(F.col("v"), n_planes=64, dim=64).alias("simhash"),
    )
    cand = D.simhash_near_pairs(sigs, id_col="vec_id", max_hamming=8).select(
        "id_a", "id_b"
    )
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("v").alias("_va"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("v").alias("_vb"))
    sim = cosine(F.col("_va"), F.col("_vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine_sim", F.round(sim, 6))
        .filter(sim >= 0.9)
        .select("id_a", "id_b", "cosine_sim")
    )


# --- Q5 star analog: per-entity interaction detail table -------------------
# (dashboard.json:716 — two joins to edge tables + projected interaction
# props + % share + interface array size/min + JSON payload; the star
# twin of graph.queries.q5_domain_interactions)

@q(
    "q5_interaction_detail",
    """
    WITH li AS (SELECT * FROM lineitem WHERE l_orderkey < 300),
    tot AS (
      SELECT l_orderkey, SUM(CAST((CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END) AS DECIMAL(18,2))) AS total_qty
      FROM li GROUP BY l_orderkey
    ),
    grp AS (
      SELECT l_orderkey, l_partkey,
             SUM(CAST((CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END) AS DECIMAL(18,2))) AS qty,
             list_sort(list(l_linenumber)) AS interface
      FROM li GROUP BY l_orderkey, l_partkey
    )
    SELECT g.l_orderkey, p_name,
           -- share-of-nothing contract: NULL when the order's total is
           -- zero (domain-violations fuzz, round 10)
           ROUND(CAST(g.qty AS DOUBLE) * 100.0 /
                 NULLIF(CAST(t.total_qty AS DOUBLE), 0), 2)
               AS contact_pct,
           len(interface) AS n_interface,
           interface[1] AS min_interface,
           '{"order":' || CAST(g.l_orderkey AS VARCHAR)
             || ',"part":"' || p_name || '"}' AS payload
    FROM grp g
    JOIN tot t ON g.l_orderkey = t.l_orderkey
    JOIN part p ON g.l_partkey = p_partkey
    """,
)
def q5_interaction_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 dashboard shape: per-interaction detail rows with array_min residue extraction (F12)."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    p = t(spark, sf_dir, "part")
    # pre-aggregate to (order, part) BEFORE the dimension join — the
    # shuffled payload is the grouped edge set, not raw contacts
    grp = li.groupBy("l_orderkey", "l_partkey").agg(
        F.sum(cents(F.col("l_quantity"), 2)).alias("_qty_c"),
        F.sort_array(F.collect_list("l_linenumber")).alias("interface"),
    )
    w = Window.partitionBy("l_orderkey")
    return (
        grp.withColumn("_tot_c", F.sum("_qty_c").over(w))
        .join(F.broadcast(p), grp.l_partkey == p.p_partkey)
        .select(
            "l_orderkey",
            "p_name",
            F.round(
                F.when(
                    F.col("_tot_c") != 0,
                    (F.col("_qty_c") / 100.0)
                    * 100.0
                    / (F.col("_tot_c") / 100.0),
                ),
                2,
            ).alias("contact_pct"),
            F.size("interface").alias("n_interface"),
            F.col("interface").getItem(0).alias("min_interface"),
            F.concat(
                F.lit('{"order":'),
                F.col("l_orderkey").cast("string"),
                F.lit(',"part":"'),
                F.col("p_name"),
                F.lit('"}'),
            ).alias("payload"),
        )
    )


# --- A3 at the 100 TB tier: approximate distinct (oracle-less; the
# exact twin is hash-compared elsewhere) ------------------------------------

@q(
    "a3_approx_count_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS approx_within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a3_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 approx tier: HLL approx_count_distinct checked AGAINST the
    exact count. The raw HLL estimate is engine-specific (no oracle can
    hash it), so the driver-facing contract is the accuracy bound
    itself: ``approx_within_tol`` asserts the rsd=0.01 estimate lands
    within 5% of exact (deterministic for fixed data — HLL++ has no
    RNG), which the oracle replays as a constant TRUE next to the exact
    count. A drifting estimator turns the row red instead of being
    permanently unverifiable.

    Shape: dedup (group, key) FIRST, then one plain aggregation.
    Mixing COUNT(DISTINCT) with the HLL in a single agg makes the
    distinct-rewrite keep a partial_approx_count_distinct buffer PER
    (returnflag, orderkey) FINE-GRAINED GROUP — ~150k live ~12 KB HLL
    sketches (rsd 0.01 ⇒ 2^14 registers) ≈ 2 GB of aggregation state,
    measured 13.3 s at sf0.1 vs 0.79 s for this form (17×), and the
    same blowup scales with the key count at 100 TB. The HLL is a set
    sketch (register max), so inserting each distinct value once
    yields bit-identical registers and an identical estimate; COUNT
    over the deduped rows is exactly COUNT(DISTINCT) — verified
    value-identical at sf0.001/0.01/0.1. The orderkey-bucketed layout
    makes the dedup exchange-free (distribution on the bucket key
    satisfies the (flag, key) clustering); the only Exchange left
    moves the 3-row per-flag partials."""
    l = t(spark, sf_dir, "lineitem", widen_on="l_orderkey")
    d = l.select("l_returnflag", "l_orderkey").distinct()
    return d.groupBy("l_returnflag").agg(
        F.count("l_orderkey").alias("exact_orders"),
        (
            F.abs(
                F.approx_count_distinct("l_orderkey", 0.01)
                - F.count("l_orderkey")
            )
            <= 0.05 * F.count("l_orderkey")
        ).alias("approx_within_tol"),
    )


# --- cube: all grouping-set combinations (A11 family completion) -----------

@q(
    "a11_cube_combinations",
    """
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority_lvl,
           COALESCE(CAST(priority_flag AS VARCHAR), 'ALL') AS flag_lvl,
           COUNT(*) AS n_orders
    FROM (
      SELECT o_orderpriority, (o_orderkey % 2 = 0) AS priority_flag
      FROM orders
    )
    GROUP BY CUBE (o_orderpriority, priority_flag)
    """,
)
def a11_cube_combinations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions: every grouping-set combination
    (both, each alone, grand total) in one pass — the generalization of
    the manual per-level rollup the reference hand-writes."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderkey") % 2 == 0).alias("priority_flag"),
    )
    return (
        o.cube("o_orderpriority", "priority_flag")
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority_lvl"),
            F.coalesce(F.col("priority_flag").cast("string"), F.lit("ALL")).alias("flag_lvl"),
            "n_orders",
        )
    )


# --- full ranking-function family over one window --------------------------

@q(
    "w_rank_family",
    """
    SELECT o_orderkey, o_custkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
           NTILE(4) OVER w AS quartile,
           ROUND(CUME_DIST() OVER w, 6) AS cdist,
           LAG(o_orderkey) OVER w AS prev_order
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def w_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every SQL ranking/distribution/offset function over one window
    (deterministic: the order key ends in the unique o_orderkey)."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
    )


# --- relational set operators (INTERSECT / EXCEPT; T5/T6 at row level) -----

@q(
    "t_set_operators",
    """
    SELECT 'both' AS grp, o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    )
    UNION ALL
    SELECT 'urgent_only', o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    )
    """,
)
def t_set_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level INTERSECT/EXCEPT (the set-algebra T5/T6 does on
    collected arrays, expressed as relational operators — Spark plans
    them as left-semi / left-anti aggregated joins)."""
    o = t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    both = urgent.intersect(low).select(F.lit("both").alias("grp"), "o_custkey")
    only = urgent.subtract(low).select(F.lit("urgent_only").alias("grp"), "o_custkey")
    return both.unionByName(only)


# --- statistical moment aggregates (beyond-reference F15 extension) -------
# The reference computes only ratios/percentages; a real analytics engine
# needs the second-moment family. All four definitions (sample stddev /
# variance, Pearson correlation, sample covariance) are identical between
# Spark and DuckDB; inputs are kept small-magnitude so the streaming
# co-moment merges agree to well under the rounding precision.

@q(
    "a_stat_moments",
    """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST((CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_qty,
           ROUND(stddev_samp(CASE WHEN l_quantity >= -9.0e15
                              AND l_quantity <= 9.0e15 THEN l_quantity END), 6) AS sd_qty,
           ROUND(var_samp(CASE WHEN l_quantity >= -9.0e15
                           AND l_quantity <= 9.0e15 THEN l_quantity END), 6) AS var_qty,
           ROUND(corr(CASE WHEN l_quantity >= -9.0e15 AND l_quantity <= 9.0e15 THEN l_quantity END,
                      CASE WHEN l_extendedprice >= -9.0e15
                            AND l_extendedprice <= 9.0e15
                      THEN l_extendedprice END), 6) AS corr_qty_price,
           ROUND(covar_samp(l_discount, l_tax), 6) + 0.0 AS cov_disc_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a_stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped second-moment statistics: stddev/variance/correlation/
    covariance per return flag — one hash aggregation, partial merges
    map-side (each moment is an associative (n, sum, co-moment) triple,
    so the shape is shuffle-light at any scale)."""
    l = t(spark, sf_dir, "lineitem")
    # non-finite measures enter no moment (a single Inf makes stddev
    # NaN here and raises Out-of-Range in DuckDB) — finite_num degrades
    # them to NULL, which every moment aggregate already skips
    fq = finite_num(F.col("l_quantity"))
    fp = finite_num(F.col("l_extendedprice"))
    return l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        (dsum2(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
        F.round(F.stddev_samp(fq), 6).alias("sd_qty"),
        F.round(F.var_samp(fq), 6).alias("var_qty"),
        F.round(F.corr(fq, fp), 6).alias("corr_qty_price"),
        # + 0.0 canonicalizes IEEE -0.0 (a near-zero covariance rounds to
        # -0.0 on one engine and +0.0 on the other) — same on the oracle.
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + F.lit(0.0)).alias(
            "cov_disc_tax"
        ),
    )


# --- fixed-width histogram binning ----------------------------------------

@q(
    "a_histogram_fixed_width",
    """
    SELECT CAST(least(floor((CASE WHEN o_totalprice >= -9.0e15 AND o_totalprice <= 9.0e15 THEN o_totalprice END) / 25000), 19) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST((CASE WHEN o_totalprice >= -9.0e15 AND o_totalprice <= 9.0e15 THEN o_totalprice END) AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY CAST(least(floor((CASE WHEN o_totalprice >= -9.0e15 AND o_totalprice <= 9.0e15 THEN o_totalprice END) / 25000), 19) AS BIGINT)
    """,
)
def a_histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order totals (25k-wide buckets, top
    bucket open-ended): the distribution profile every data-quality
    dashboard draws. Bucket assignment is integer floor arithmetic
    (engine-portable, unlike width_bucket variants), binning is a single
    hash aggregation with map-side partials, and the bucket total uses
    the exact decimal-sum discipline."""
    o = t(spark, sf_dir, "orders")
    # finite_num: a NaN total has no bucket (floor(NaN) would ANSI-crash
    # the long cast) — it groups under the NULL bucket like a NULL total
    bucket = F.least(
        F.floor(finite_num(F.col("o_totalprice")) / 25000), F.lit(19)
    ).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_orders"),
        dsum2(F.col("o_totalprice")).alias("total_price"),
    )


# --- arbitrary grouping sets (completes A11: rollup / cube / pivot /
# grouping sets). Spark's DataFrame API exposes only rollup()/cube();
# arbitrary sets are SQL surface — fitting, since the engine registers
# every table as a view (SURVEY §3.3). GROUPING() flags disambiguate
# real NULL keys from subtotal rows, and the totals use exact DECIMAL
# sums so subtotal rows hash-match.

_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       GROUPING(o_orderstatus) AS g_status,
       GROUPING(o_orderpriority) AS g_prio,
       COUNT(*) AS n,
       -- engine-portable usable-measure band (this string runs VERBATIM
       -- on Spark and DuckDB, so no isfinite(): both engines order NaN
       -- above +Inf above every real, so the band excludes NaN, ±Inf,
       -- and unrepresentable magnitudes in one predicate)
       CAST(SUM(CAST((CASE WHEN o_totalprice >= -9.0e15
                            AND o_totalprice <= 9.0e15
                      THEN o_totalprice END) AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price
FROM {table}
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority), ())
"""


@q("a11_grouping_sets", _GROUPING_SETS_SQL.format(table="orders"))
def a11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status, per-priority, per-(status, priority), and grand-total
    aggregates in ONE pass (Spark plans a single Expand + one shuffle,
    not four scans). The oracle runs the literally identical SQL."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(_GROUPING_SETS_SQL.format(table="_gs_orders"))


# --- full outer join: reconcile two grouped ledgers ------------------------
# The one join type the surface had only inside graph degrees; the
# relational form is the classic two-ledger reconciliation (customers
# with urgent-only, low-only, or both kinds of orders all survive).

@q(
    "j_full_outer_reconcile",
    """
    WITH u AS (
      SELECT o_custkey, COUNT(*) AS n_urgent FROM orders
      WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    ),
    l AS (
      SELECT o_custkey, COUNT(*) AS n_low FROM orders
      WHERE o_orderpriority = '5-LOW' GROUP BY o_custkey
    )
    SELECT COALESCE(u.o_custkey, l.o_custkey) AS custkey,
           COALESCE(n_urgent, 0) AS n_urgent,
           COALESCE(n_low, 0) AS n_low,
           COALESCE(n_urgent, 0) - COALESCE(n_low, 0) AS urgency_balance
    FROM u FULL OUTER JOIN l ON u.o_custkey = l.o_custkey
    """,
)
def j_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides: each side reduces to
    one row per customer BEFORE the join, so the outer join shuffles
    entity-sized inputs, never fact-sized ones."""
    o = t(spark, sf_dir, "orders")
    u = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_urgent"))
    )
    low = (
        o.filter(F.col("o_orderpriority") == "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_low"))
    )
    j = u.join(low, "o_custkey", "full_outer")
    return j.select(
        F.col("o_custkey").alias("custkey"),
        F.coalesce("n_urgent", F.lit(0)).alias("n_urgent"),
        F.coalesce("n_low", F.lit(0)).alias("n_low"),
        (F.coalesce("n_urgent", F.lit(0)) - F.coalesce("n_low", F.lit(0))).alias(
            "urgency_balance"
        ),
    )




# --- SemDeDup-style semantic cluster dedup (oracle-less: k-means cell
# boundaries are engine-specific; verified by the planted-twin pytest in
# tests/test_llmops.py instead) ---------------------------------------------

@q(
    "dedup_semantic_cluster",
    rows_only=(
        "k-means trainer state (centroids) is iteration-order-defined",
        "planted-duplicates pytest (tests/test_llmops2.py, 40/40 recovered)",
    ),
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) composition: k-means cells bound the
    candidate space, exact cosine within cells, connected components to
    one canonical survivor per semantic-duplicate group. Same planted
    twins as dedup_embedding_cosine; the pairwise stage is an equi-join
    on the cell id so work is sum(|cell|^2), never corpus^2."""
    from procoggraph_spark.operators.dedup import semantic_cluster_dedup

    e = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    corpus = e.unionByName(_emb_twins(e).select("vec_id", "v"))
    return semantic_cluster_dedup(
        corpus, id_col="vec_id", vec_col="v", n_cells=8, iterations=2, threshold=0.9
    )


# --- deterministic training-order shuffle (sampling family) ---------------

@q(
    "shuffle_training_order",
    """
    WITH m1 AS (
      SELECT doc_id,
             (((doc_id + 17) % 2147483648) * 2654435761) % 4294967296 AS a
      FROM documents
    ),
    m2 AS (
      SELECT doc_id,
             ((xor(a, a // 65536) % 2147483648) * 2246822519) % 4294967296 AS d
      FROM m1
    ),
    s AS (
      SELECT doc_id,
             (xor(d, d // 8192) % 2147483648) % 8 AS shard,
             (xor(d, d // 8192) % 2147483648) // 8 AS ord
      FROM m2
    )
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1
             AS shard_pos
    FROM s
    """,
)
def shuffle_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic corpus shuffle into 8 training shards with
    reproducible within-shard order (operators/sampling.corpus_shuffle,
    seed=17) — the epoch-order layout a trainer reads; integer-exact so
    DuckDB replays the identical permutation."""
    from procoggraph_spark.operators.sampling import corpus_shuffle

    d = t(spark, sf_dir, "documents")
    return corpus_shuffle(d, id_col="doc_id", n_shards=8, seed=17).select(
        "doc_id", "shard", "shard_pos"
    )


# --- end-to-end training-data pipeline composition ------------------------

@q(
    "training_data_pipeline",
    r"""
    WITH s AS (
      SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\s+'), _t -> _t <> '') AS ws,
             length(text) AS n,
             length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS np
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
      SELECT doc_id, text, ws, quality,
             list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                            i -> ws[i] || ' ' || ws[i+1]) AS grams,
        len(list_filter(ws, w -> list_contains(['the','a','of','and','to','is'], w))) AS s_en,
        len(list_filter(ws, w -> list_contains(['der','die','das','und','nicht','ist'], w))) AS s_de,
        len(list_filter(ws, w -> list_contains(['el','la','los','de','que','es'], w))) AS s_es,
        len(list_filter(ws, w -> list_contains(['le','la','les','et','est','que'], w))) AS s_fr,
        len(list_filter(ws, w -> list_contains(['de','le','shi','bu','wo','zai'], w))) AS s_zh
      FROM q
    ),
    keepers AS (
      SELECT doc_id, text, len(ws) AS n_tokens FROM r
      WHERE quality >= 0.5
        AND (CASE WHEN len(grams) <= 0 THEN 0.0
                  ELSE ROUND((len(grams) - len(list_distinct(grams))) * 1.0
                             / len(grams), 6) END) <= 0.2
        AND greatest(s_de, s_en, s_es, s_fr, s_zh) > 0
        AND s_en = greatest(s_de, s_en, s_es, s_fr, s_zh)
        AND NOT (s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_de >= s_en)
    ),
    surv AS (
      -- one survivor per dedup key, tie-safe under replayed doc_ids:
      -- lexicographic (doc_id, n_tokens) winner (the MIN(doc_id) +
      -- join-back form keeps BOTH payloads of a duplicated winning id)
      SELECT doc_id, n_tokens FROM (
        SELECT doc_id, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY substr(text, 1, 40)
                                  ORDER BY doc_id, n_tokens) AS rn
        FROM keepers
      ) WHERE rn = 1
    ),
    m1 AS (
      SELECT doc_id, n_tokens,
             (((doc_id + 17) % 2147483648) * 2654435761) % 4294967296 AS a
      FROM surv
    ),
    m2 AS (
      SELECT doc_id, n_tokens,
             ((xor(a, a // 65536) % 2147483648) * 2246822519) % 4294967296 AS d
      FROM m1
    ),
    sh AS (
      SELECT doc_id, n_tokens,
             (xor(d, d // 8192) % 2147483648) % 8 AS shard,
             (xor(d, d // 8192) % 2147483648) // 8 AS ord
      FROM m2
    ),
    pos AS (
      SELECT doc_id, n_tokens, shard,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1
               AS shard_pos
      FROM sh
    )
    SELECT doc_id, shard, shard_pos, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (
                  PARTITION BY shard ORDER BY shard_pos
                  ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS BIGINT)
             AS bin_id
    FROM pos
    """,
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition a training-data pipeline actually runs,
    each stage an operator from this engine, end-to-end in one plan:
    curation gate (quality + repetition + lang-ID,
    `text.corpus_keep_decision`) → exact-dedup survivorship via
    ``min(struct)``: token counts are computed map-side on the gated
    rows, then one groupBy on the dedup key keeps the lexicographic
    (doc_id, n_tokens) winner — a total order, so the survivor is
    deterministic even under replayed doc_ids (dirty-keys fuzz).
    This is simultaneously single-pass — the EXPENSIVE
    curation expression evaluates exactly once per row, where the
    agg + semi-join form re-runs it per reference — and skew-safe: a
    viral duplicate group partially aggregates on every mapper, where
    a row_number window over the dedup key would materialize the whole
    group in one partition → token counting → seeded epoch shuffle
    into 8 shards (`sampling.corpus_shuffle`) → token-budget sequence
    packing per shard (`sampling.pack_sequences`, budget 512).
    Everything is JVM column algebra; the measured plan has exactly TWO
    hash exchanges (dedup key; shard — the pack window reuses the shard
    shuffle's own partitioning), no cartesian products, no Python, no
    driver collects; every stage is individually oracle-backed
    elsewhere in the registry."""
    from procoggraph_spark.operators import text as X2
    from procoggraph_spark.operators.sampling import corpus_shuffle, pack_sequences

    d = t(spark, sf_dir, "documents")
    kept = d.filter(
        X2.corpus_keep_decision(
            F.col("text"), min_quality=0.5, max_repetition=0.2, langs=("en",)
        )
    ).select(
        "doc_id",
        F.substring("text", 1, 40).alias("key_prefix"),
        X2.token_count(F.col("text")).alias("n_tokens"),
    )
    # survivorship must stay deterministic under REPLAYED doc_ids
    # (dirty-keys fuzz): min_by(n_tokens, doc_id) breaks ties on equal
    # doc_id nondeterministically, while min over the (doc_id,
    # n_tokens) struct is a lexicographic total order — same partial
    # map-side combine, one winner whatever the duplicates
    surv = kept.groupBy("key_prefix").agg(
        F.min(F.struct("doc_id", "n_tokens")).alias("_s")
    ).select(
        F.col("_s.doc_id").alias("doc_id"),
        F.col("_s.n_tokens").alias("n_tokens"),
    )
    shuf = corpus_shuffle(surv, id_col="doc_id", n_shards=8, seed=17)
    packed = pack_sequences(
        shuf,
        id_col="shard_pos",
        token_col="n_tokens",
        budget=512,
        partition_cols=["shard"],
        bin_col="bin_id",
    )
    return packed.select("doc_id", "shard", "shard_pos", "n_tokens", "bin_id")


# --- boilerplate stripping (repeated_passages remediation) ----------------

@q(
    "dedup_strip_boilerplate",
    r"""
    WITH ws AS (
      SELECT doc_id, text, list_filter(string_split_regex(trim(text), '\s+'), _t -> _t <> '') AS w
      FROM documents
    ),
    wins AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS passage
      FROM ws, LATERAL unnest(generate_series(1, len(w) - 7)) AS g(i)
      WHERE len(w) >= 8
    ),
    hot AS (
      SELECT passage FROM wins GROUP BY passage HAVING COUNT(*) >= 3
    ),
    lists AS (
      SELECT doc_id, list_sort(list(passage)) AS ps
      FROM wins JOIN hot USING (passage)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN l.ps IS NULL THEN d.text
                ELSE list_reduce(list_prepend(d.text, l.ps),
                                 (acc, p) -> replace(acc, p, ' '))
           END AS clean_text
    FROM documents d LEFT JOIN lists l ON d.doc_id = l.doc_id
    """,
)
def dedup_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-passage removal: every 8-word span appearing in >=3 documents
    is stripped from the documents carrying it — the remediation step
    `dedup_repeated_passages` feeds (operators/dedup.strip_boilerplate);
    the per-row fold runs over the doc's sorted hot-passage list so both
    engines resolve overlapping passages identically."""
    from procoggraph_spark.operators.dedup import strip_boilerplate

    d = t(spark, sf_dir, "documents")
    return strip_boilerplate(
        d, id_col="doc_id", text_col="text", window=8, min_docs=3
    )


# --- U7: cofactor priority resolution ---------------------------------------

@q(
    "u7_cofactor_priority",
    """
    WITH classed AS (
      SELECT p_brand, p_size,
             CASE WHEN p_type = 'SMALL'  THEN 'Coenzyme'
                  WHEN p_type = 'LARGE'  THEN 'Prosthetic Group'
                  WHEN p_type = 'MEDIUM' THEN 'Siderophore'
                  WHEN p_type = 'PROMO'  THEN 'Cofactor'
                  ELSE 'N' END AS cls
      FROM part
    ), sets AS (
      SELECT p_brand, p_size,
             list_distinct(list(cls)) AS s,
             COUNT(*) AS n_parts
      FROM classed GROUP BY p_brand, p_size
    ), prepped AS (
      SELECT p_brand, p_size, n_parts, s,
             list_filter(s, x -> x <> 'N') AS denulled,
             list_filter(s, x -> x IN ('Coenzyme', 'Prosthetic Group',
                                       'Siderophore')) AS sub
      FROM sets
    )
    SELECT p_brand, p_size,
           CASE WHEN len(s) = 1 THEN s[1]
                WHEN len(sub) = 1 THEN sub[1]
                ELSE array_to_string(list_sort(denulled), '/') END
               AS cofactor_class,
           n_parts
    FROM prepped
    """,
)
def u7_cofactor_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7 cofactor priority resolution (`get_ec_information.py:332-342`)
    exercised on the star schema: each part's type maps to a
    cofactor-class label (SMALL->Coenzyme, LARGE->Prosthetic Group,
    MEDIUM->Siderophore, PROMO->Cofactor, else 'N'), the per-(brand,size)
    label SET collapses through functions.chem.select_cofactor — the
    singleton fast path, discard-'N', single-subgroup pick, and sorted
    '/'-join branches all occur in the data. One hash aggregation; the
    resolution itself is pure array algebra inside codegen."""
    from procoggraph_spark.functions.chem import select_cofactor

    p = t(spark, sf_dir, "part")
    cls = (
        F.when(F.col("p_type") == "SMALL", F.lit("Coenzyme"))
        .when(F.col("p_type") == "LARGE", F.lit("Prosthetic Group"))
        .when(F.col("p_type") == "MEDIUM", F.lit("Siderophore"))
        .when(F.col("p_type") == "PROMO", F.lit("Cofactor"))
        .otherwise(F.lit("N"))
    )
    return (
        p.select("p_brand", "p_size", cls.alias("cls"))
        .groupBy("p_brand", "p_size")
        .agg(F.collect_set("cls").alias("s"), F.count("*").alias("n_parts"))
        .select(
            "p_brand",
            "p_size",
            select_cofactor(F.col("s")).alias("cofactor_class"),
            "n_parts",
        )
    )
