"""Whole-graph analytics (SURVEY M5 / BASELINE.json north star).

BASELINE.json calls for GraphX for the analytics tier. GraphX is
JVM-only (no Python binding) and GraphFrames jars aren't in this
container, so the same vertex/edge algorithms are implemented as
DataFrame iteration — the identical Pregel-style message-passing shape
GraphX runs, expressed as joins, which Catalyst/AQE optimizes per
round.

Algorithms: degree statistics, hash-min connected components (Pregel
equivalent), label propagation, k-hop neighborhood expansion, PageRank
(fixed-iteration power method), and triangle counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def edge_list(edges: dict[str, DataFrame]) -> DataFrame:
    """Union every relationship table into a typed (src, dst, rel)
    string edge list — the engine's vertex/edge view of the graph."""
    parts = []
    specs = {
        "IS_IN_PDB": ("src", "dst"),
        "IS_IN_PROTEIN_CHAIN": ("src", "dst"),
        "INTERACTS_WITH_LIGAND": ("domain", "uniqueID"),
        "HAS_SIMILARITY": ("uniqueID", "cognateLigand"),
        "DESCRIBED_BY": ("uniqueID", "ligandEntityID"),
    }
    for rel, (s, d) in specs.items():
        if rel in edges:
            parts.append(
                edges[rel].select(
                    F.col(s).cast("string").alias("src"),
                    F.col(d).cast("string").alias("dst"),
                    F.lit(rel).alias("rel"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex in/out/total degree. One shuffle per direction, then
    an outer merge — the GraphX degrees() equivalent."""
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_deg.join(in_deg, "id", "full_outer")
        .fillna(0, ["out_degree", "in_degree"])
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def _undirected(edges: DataFrame) -> DataFrame:
    """Both directions of every edge as (src, dst): the symmetric
    message graph of the undirected algorithms."""
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def connected_components(
    edges: DataFrame, *, max_iter: int = 20
) -> DataFrame:
    """Hash-min connected components (the Pregel formulation GraphX
    runs): every vertex repeatedly adopts the min component id among
    itself and its neighbors, to fixpoint.

    Scale: each round is one shuffle on vertex id; rounds ≤ graph
    diameter. `localCheckpoint` truncates the growing lineage so round
    N doesn't replan rounds 1..N-1 (the standard iterative-algorithm
    discipline on Spark).
    """
    sym = _undirected(edges)
    comp = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        # neighbor minimum in one pass
        msgs = (
            sym.join(comp, sym.src == comp.id)
            .select(F.col("dst").alias("id"), F.col("component"))
            .groupBy("id")
            .agg(F.min("component").alias("_nbr_min"))
        )
        # a vertex changes exactly when a neighbor's id undercuts its
        # own, so the fixpoint test reads the flag, not a join against
        # the previous state
        comp = (
            comp.join(msgs, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("_nbr_min", F.col("component"))
                ).alias("component"),
                (F.col("_nbr_min") < F.col("component")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        if comp.filter("_changed").limit(1).count() == 0:
            break
    return comp.select("id", "component")


def label_propagation(
    edges: DataFrame, seeds: DataFrame, *, max_iter: int = 5
) -> DataFrame:
    """Semi-supervised label spread: seeded vertices keep their label;
    others adopt the most frequent neighbor label each round (ties →
    lexicographically smallest, deterministic). seeds: (id, label)."""
    sym = _undirected(edges)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .join(seeds.withColumn("_seeded", F.lit(True)), "id", "left")
    )
    for _ in range(max_iter):
        votes = (
            sym.join(labels.filter(F.col("label").isNotNull()), sym.src == F.col("id"))
            .groupBy(F.col("dst").alias("vid"), "label")
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy("vid").orderBy(F.desc("n"), F.asc("label"))
        best = (
            votes.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col("vid").alias("id"), F.col("label").alias("_new"))
        )
        labels = (
            labels.join(best, "id", "left")
            .select(
                "id",
                F.when(F.col("_seeded"), F.col("label"))
                .otherwise(F.coalesce("_new", "label"))
                .alias("label"),
                "_seeded",
            )
            .localCheckpoint(eager=True)
        )
    return labels.select("id", "label")


def pagerank(
    edges: DataFrame, *, damping: float = 0.85, iterations: int = 3
) -> DataFrame:
    """Fixed-iteration PageRank by power iteration (the GraphX
    staticPageRank equivalent), fully declarative — no driver-side
    collect.

    Per round: rank/outdegree flows along each edge, contributions sum
    per target, `(1-d)/n + d·Σ` re-ranks. Dangling vertices keep the
    teleport term only (simplified model, standard for fixed-iteration
    variants). That model is linear in 1/n, so the rounds run on n·rank
    (seed 1, teleport `1-d`) and the vertex count — a broadcast 1-row
    aggregate over the node set — enters once, in the final division.

    Plan-growth discipline:

    - Each round references the previous state exactly once; a second
      reference doubles the lineage per round (2^k subtree copies).
    - The outdegree-carrying edge list feeds every round and the node
      set, so it is materialized once with a lazy localCheckpoint;
      otherwise the caller's edge derivation (typically a join +
      distinct) re-executes per round.
    - The re-rank is folded into the next round's contribution: n·rank
      is a pure function of the previous contribution sums, so a round
      is one left join of the edge list against them plus one groupBy.
      The outdegree window already partitions the edge list on src and
      the sums are partitioned on id, so the join adds no Exchange: one
      shuffle per round. Only the final select joins the node set,
      giving contribution-less vertices their teleport rank.

    Output: (id, rank). Ranks are doubles — round before hash-comparing
    across engines.
    """
    e = edges.select("src", "dst")
    e2 = e.withColumn(
        "_outdeg", F.count("*").over(Window.partitionBy("src"))
    ).localCheckpoint(eager=False)
    nodes = e2.select(F.explode(F.array("src", "dst")).alias("id")).distinct()
    n1 = F.broadcast(nodes.agg(F.count("*").alias("_n")))
    # every vertex starts at the uniform n·rank 1
    n_rank = F.lit(1.0)
    sums = None
    for _ in range(iterations):
        out_edges = e2 if sums is None else e2.join(sums, e2.src == sums.id, "left")
        sums = (
            out_edges.select(
                F.col("dst").alias("_dst"), (n_rank / F.col("_outdeg")).alias("_c")
            )
            .groupBy(F.col("_dst").alias("id"))
            .agg(F.sum("_c").alias("_s"))
        )
        n_rank = (1.0 - damping) + damping * F.coalesce("_s", F.lit(0.0))
    ranked = nodes if sums is None else nodes.join(sums, "id", "left")
    return ranked.crossJoin(n1).select("id", (n_rank / F.col("_n")).alias("rank"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over the undirected simple graph.

    Canonicalize each edge to (a < b) and count closures with two
    equi-joins: (a,b) ⋈ (b,c) ⋈ (a,c) enumerates every triangle exactly
    once with a < b < c — the standard distributed formulation (each
    join is an equi-join; no cross product, so candidate work scales
    with Σ deg², not |V|²). Output: (id, n_triangles), vertices in ≥1
    triangle only; integers, so exact across engines.

    The canonical edge list feeds all three join legs, so it is
    materialized once (lazy localCheckpoint — the iterative-lineage
    discipline): a self-join re-executes shared lineage per side, and
    the caller's edge derivation is typically itself a join+distinct.
    Corners expand in-row (explode of the 3-array) instead of a 3-way
    union of the triangle frame, which re-executed the two-join
    triangle enumeration three times — same multiset, one pass.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    corners = tri.select(
        F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("id")
    )
    return corners.groupBy("id").agg(F.count("*").alias("n_triangles"))


def k_hop_neighborhood(
    edges: DataFrame, start_ids: DataFrame, *, k: int = 2
) -> DataFrame:
    """All vertices within k undirected hops of the start set — the Q15
    subgraph-extraction primitive generalized. start_ids: (id)."""
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    frontier = start_ids.select(F.col("id")).distinct().withColumn("hops", F.lit(0))
    seen = frontier
    for depth in range(1, k + 1):
        nxt = (
            sym.join(frontier, sym.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(seen.select("id"), "id", "left_anti")
            .withColumn("hops", F.lit(depth))
        )
        seen = seen.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return seen
