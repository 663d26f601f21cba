"""Graph-analytics query family over the star schema (SURVEY M5 /
BASELINE.json "GraphX for analytics queries" north star).

Each entry builds a graph from the TPC-H-ish tables and runs one of the
DataFrame-native algorithms in `graph/algorithms.py`, with an exact
DuckDB oracle: triangle counts are integers (exact across engines);
PageRank's oracle unrolls its fixed iterations as CTEs in the textbook
1/n form while the engine iterates on n·rank, so the doubles may differ
in the last bits and the two agree after ROUND(...,6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.graph.algorithms import pagerank, triangle_count
from procoggraph_spark.queries.common import q, t

# --- PageRank over the customer→supplier purchase graph -------------------
# Directed edge c→s: customer c ordered from supplier s. Node ids are
# prefixed ('c'/'s') so customer 5 and supplier 5 stay distinct vertices.
# 3 power iterations, damping 0.85. The oracle keeps the textbook
# (1.0 - 0.85)/n + 0.85*Σ per round as an independent check of the
# engine's n·rank iteration; they agree after ROUND(rank, 6).

_PAGERANK_SQL = """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderkey < 30000
),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
c1 AS (SELECT e.dst AS id, SUM(r.rank / o.od) AS s
       FROM e JOIN r0 r ON e.src = r.id JOIN outdeg o ON e.src = o.src
       GROUP BY e.dst),
r1 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c1.s, 0.0) AS rank
       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.id = c1.id),
c2 AS (SELECT e.dst AS id, SUM(r.rank / o.od) AS s
       FROM e JOIN r1 r ON e.src = r.id JOIN outdeg o ON e.src = o.src
       GROUP BY e.dst),
r2 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c2.s, 0.0) AS rank
       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.id = c2.id),
c3 AS (SELECT e.dst AS id, SUM(r.rank / o.od) AS s
       FROM e JOIN r2 r ON e.src = r.id JOIN outdeg o ON e.src = o.src
       GROUP BY e.dst),
r3 AS (SELECT nodes.id, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c3.s, 0.0) AS rank
       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.id = c3.id)
SELECT id, ROUND(rank, 6) AS rank FROM r3
"""


@q("graph_pagerank", _PAGERANK_SQL)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the built graph's edge list (DataFrame-native Pregel loop, model-free)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 30000)
    l = t(spark, sf_dir, "lineitem")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(edges, damping=0.85, iterations=3)
    return ranks.select("id", F.round("rank", 6).alias("rank"))


# --- Triangle counting over the supplier co-occurrence graph --------------
# Undirected edge (s1, s2): both suppliers appear in the same order.
# Counts are exact integers — hash-safe across engines.

_TRIANGLE_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  WHERE a.l_orderkey < 5000 AND b.l_orderkey < 5000
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
),
corners AS (
  SELECT x AS id FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT id, COUNT(*) AS n_triangles FROM corners GROUP BY id
"""


@q("graph_triangle_count", _TRIANGLE_SQL)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting by oriented edge join (each triangle counted once)."""
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 5000)
    a = l.select("l_orderkey", F.col("l_suppkey").alias("_sa"))
    b = l.select("l_orderkey", F.col("l_suppkey").alias("_sb"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("_sa") < F.col("_sb"))
        .select(F.col("_sa").alias("src"), F.col("_sb").alias("dst"))
        .distinct()
    )
    return triangle_count(edges)


# --- BFS shortest-path distances (k_hop generalization) -------------------
# Undirected supplier co-occurrence graph; min-hop distance from the
# lowest supplier id within 3 hops. Oracle: bounded-depth recursive CTE
# with MIN(dist) — exact integers.

_BFS_SQL = """
WITH e0 AS (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  WHERE a.l_orderkey < 5000 AND b.l_orderkey < 5000
),
sym AS (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL SELECT b, a FROM e0
),
seed AS (SELECT MIN(a) AS s FROM e0),
walk AS (
  WITH RECURSIVE w(id, dist) AS (
    SELECT s, 0 FROM seed
    UNION ALL
    SELECT sym.dst, w.dist + 1
    FROM w JOIN sym ON sym.src = w.id
    WHERE w.dist < 3
  )
  SELECT id, MIN(dist) AS hops FROM w GROUP BY id
)
SELECT id, hops FROM walk
"""


@q("graph_bfs_distances", _BFS_SQL)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances via iterative frontier joins."""
    from procoggraph_spark.graph.algorithms import k_hop_neighborhood

    l = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 5000)
    a = l.select("l_orderkey", F.col("l_suppkey").alias("_sa"))
    b = l.select("l_orderkey", F.col("l_suppkey").alias("_sb"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("_sa") < F.col("_sb"))
        .select(F.col("_sa").alias("src"), F.col("_sb").alias("dst"))
        .distinct()
    )
    start = edges.agg(F.min("src").alias("id"))
    return k_hop_neighborhood(edges, start, k=3).select(
        "id", F.col("hops").cast("long").alias("hops")
    )


# --- proteinChain pipeline shape over the star schema ---------------------
# Drives the ACTUAL chain builders (pipeline/build_graph.py:
# build_protein_chain_nodes + build_chain_edges, the Spark re-expression
# of produce_neo4j_files.py:125-150,523-548) on a part-table projection:
# entry=p_brand, chain asym=p_size, ecList=the p_type tokens. The oracle
# replays the same dedup→explode→sentinel-filter→two-level-rollup chain.

_CHAIN_ROLLUP_SQL = """
WITH cc AS (
  -- a chain with no entry id is malformed input: dead-lettered, never
  -- a NULL-entry rollup group (dirty-star fuzz contract)
  SELECT p_brand AS pdb_id, CAST(p_size AS VARCHAR) AS asym,
         string_split(p_type, ' ') AS ecl
  FROM part WHERE p_brand IS NOT NULL
),
chains AS (
  SELECT DISTINCT pdb_id, pdb_id || '_' || asym AS chain FROM cc
),
ec_edges AS (
  SELECT DISTINCT chain, ec FROM (
    SELECT pdb_id || '_' || asym AS chain, UNNEST(ecl) AS ec FROM cc
  ) WHERE ec NOT IN ('?', '')
)
SELECT chains.pdb_id AS entry,
       COUNT(DISTINCT chains.chain) AS n_chains,
       COUNT(DISTINCT ec_edges.ec) AS n_ecs
FROM chains JOIN ec_edges ON chains.chain = ec_edges.chain
GROUP BY chains.pdb_id
"""


@q("chain_ec_rollup", _CHAIN_ROLLUP_SQL)
def chain_ec_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProteinChain EC rollup with updatedEC/partialEC provenance flags (the reference's chain annotation shape)."""
    from procoggraph_spark.pipeline.build_graph import (
        build_chain_edges,
        build_protein_chain_nodes,
    )

    cc = t(spark, sf_dir, "part").filter(F.col("p_brand").isNotNull()).select(
        F.col("p_brand").alias("pdb_id"),
        F.concat(F.col("p_size").cast("string"), F.lit("_1")).alias(
            "assembly_chain_id_protein"
        ),
        F.col("p_partkey").cast("string").alias("domain_accession"),
        F.split("p_type", " ").alias("ecList"),
    ).localCheckpoint(eager=False)  # two builder consumers, one scan
    pcs = build_protein_chain_nodes(cc)
    edges = build_chain_edges(cc, pcs)
    chains = pcs.select("pdbEntry", "pdbProteinChain").distinct()
    return (
        chains.join(
            edges["IS_IN_EC"],
            chains.pdbProteinChain == edges["IS_IN_EC"].src,
        )
        .groupBy(F.col("pdbEntry").alias("entry"))
        .agg(
            F.countDistinct("pdbProteinChain").alias("n_chains"),
            F.countDistinct("ecID").alias("n_ecs"),
        )
    )


# --- classification-hierarchy walk over the star schema -------------------
# Drives build_classification_hierarchy + q11_domain_hierarchy_walk (the
# parameterized CATH/SCOP/SCOP2/Pfam family, produce_neo4j_files.py:
# 288-361) on a part-table projection: domain=p_partkey, dotted
# accession=p_type.brandnum.size — a 3-level G3DSA-shaped chain.

_HIER_WALK_SQL = r"""
WITH doms AS (
  -- a domain whose dotted accession is incomplete (missing type or
  -- brand component) cannot be placed in the 3-level hierarchy:
  -- dead-lettered on both engines (dirty-star fuzz contract; DuckDB's
  -- split_part('' on NULL) would otherwise fabricate a '.' node)
  SELECT CAST(p_partkey AS VARCHAR) AS dom,
         p_type || '.' || regexp_extract(p_brand, '#(\d+)', 1) || '.' ||
             CAST(p_size AS VARCHAR) AS acc
  FROM part WHERE p_type IS NOT NULL AND p_brand IS NOT NULL
)
SELECT split_part(acc, '.', 1) AS cath_class,
       split_part(acc, '.', 1) || '.' || split_part(acc, '.', 2)
           AS cath_architecture,
       acc AS cath_topology,
       'CATH ' || acc AS topology_description,
       COUNT(DISTINCT dom) AS n_domains
FROM doms
GROUP BY 1, 2, 3, 4
"""


@q("hier_topology_walk", _HIER_WALK_SQL)
def hier_topology_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives build_classification_hierarchy WITH a level_names table
    (the cath-names decoration path, `produce_neo4j_files.py:288-361`):
    the walk result carries the topology node's description, proving
    names land on hierarchy nodes through the builder."""
    from procoggraph_spark.graph.model import DOMAIN_KINDS, ProCogGraph
    from procoggraph_spark.graph.queries import q11_domain_hierarchy_walk
    from procoggraph_spark.pipeline.build_graph import (
        build_classification_hierarchy,
    )

    domains = (
        t(spark, sf_dir, "part")
        # incomplete accessions are dead-lettered, matching the oracle
        # (concat_ws would silently SKIP a NULL component and fabricate
        # a 2-part accession the hierarchy builder then drops)
        .filter(F.col("p_type").isNotNull() & F.col("p_brand").isNotNull())
        .select(
            F.col("p_partkey").cast("string").alias("domain"),
            F.concat_ws(
                ".",
                F.col("p_type"),
                F.regexp_extract("p_brand", r"#(\d+)", 1),
                F.col("p_size").cast("string"),
            ).alias("groupAccession"),
        )
        # the builder fans this frame out into every hierarchy level's
        # node/edge derivation (5 part scans in the final plan without
        # intervention); materialize the projection once per execution
        .localCheckpoint(eager=False)
    )
    parts = F.split("groupAccession", r"\.")
    names = (
        domains.select(
            F.explode(
                F.array(
                    *[F.array_join(F.slice(parts, 1, n), ".") for n in (1, 2, 3)]
                )
            ).alias("accession")
        )
        .distinct()
        .withColumn("description", F.concat(F.lit("CATH "), F.col("accession")))
    )
    built = build_classification_hierarchy(
        domains, DOMAIN_KINDS["G3DSA"], level_names=names
    )
    g = ProCogGraph(edges={k: v for k, v in built.items() if k.startswith("IS_IN")})
    walk = q11_domain_hierarchy_walk(g, domain_kind="G3DSA")
    topo = built["cathTopology"]
    return walk.join(F.broadcast(topo), "cathTopology").select(
        F.col("cathClass").alias("cath_class"),
        F.col("cathArchitecture").alias("cath_architecture"),
        F.col("cathTopology").alias("cath_topology"),
        F.col("description").alias("topology_description"),
        "n_domains",
    )
