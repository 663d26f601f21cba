"""Graph analytics layer: degrees, connected components, label
propagation, k-hop — on a fixture graph with known structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from procoggraph_spark.graph.algorithms import (
    connected_components,
    degrees,
    edge_list,
    k_hop_neighborhood,
    label_propagation,
)


@pytest.fixture(scope="module")
def edges(spark):
    """Two components: {a,b,c,d} chain + {x,y} pair."""
    return spark.createDataFrame(
        [("a", "b", "R"), ("b", "c", "R"), ("c", "d", "R"), ("x", "y", "R")],
        "src string, dst string, rel string",
    )


def test_degrees(edges):
    d = {r["id"]: r for r in degrees(edges).collect()}
    assert d["a"]["out_degree"] == 1 and d["a"]["in_degree"] == 0
    assert d["b"]["degree"] == 2
    assert d["d"]["in_degree"] == 1 and d["d"]["out_degree"] == 0


def test_connected_components(edges):
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["a"] != comp["x"]


def test_label_propagation(spark, edges):
    seeds = spark.createDataFrame([("a", "L1"), ("x", "L2")], "id string, label string")
    labels = {r["id"]: r["label"] for r in label_propagation(edges, seeds).collect()}
    assert labels["d"] == "L1"  # reached through the chain
    assert labels["y"] == "L2"
    assert labels["a"] == "L1"  # seed kept


def test_k_hop(spark, edges):
    start = spark.createDataFrame([("a",)], "id string")
    got = {r["id"]: r["hops"] for r in k_hop_neighborhood(edges, start, k=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_edge_list_from_graph(spark):
    from procoggraph_spark.operators.ec import resolve_transfers
    from procoggraph_spark.pipeline.build_graph import build_graph
    from tests import fixtures

    cc, parity, cognate, ec = fixtures.graph_inputs(spark)
    g = build_graph(cc, parity, cognate)
    el = edge_list(g.edges)
    rels = {r["rel"] for r in el.select("rel").distinct().collect()}
    assert {"IS_IN_PDB", "INTERACTS_WITH_LIGAND", "HAS_SIMILARITY", "DESCRIBED_BY"} <= rels
    # a bound entity and its cognate land in one component (graph is connected
    # through shared pdb/cognate vertices)
    comp = connected_components(el)
    c_map = {r["id"]: r["component"] for r in comp.collect()}
    assert c_map["1abc_bm1_A"] == c_map["101"]


def test_pagerank_star_graph(spark):
    """Hub-and-spoke: a->b, a->c, b->a, c->a. Symmetric b/c must tie;
    a (pointed at by both) must outrank them; total mass stays ~1 on a
    graph with no dangling vertices."""
    from procoggraph_spark.graph.algorithms import pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")], "src string, dst string"
    )
    r = {row["id"]: row["rank"] for row in pagerank(e, iterations=10).collect()}
    assert r["b"] == r["c"]
    assert r["a"] > r["b"]
    assert abs(sum(r.values()) - 1.0) < 1e-9


def test_pagerank_dangling_teleport_only(spark):
    """b has no out-edges; c gets only the teleport term. With no
    iterations every vertex keeps the uniform seed 1/n."""
    from procoggraph_spark.graph.algorithms import pagerank

    e = spark.createDataFrame([("a", "b"), ("c", "a")], "src string, dst string")
    r = {row["id"]: row["rank"] for row in pagerank(e, iterations=3).collect()}
    assert r["c"] == pytest.approx((1 - 0.85) / 3)
    assert r["b"] > r["c"]
    r0 = {row["id"]: row["rank"] for row in pagerank(e, iterations=0).collect()}
    assert r0 == {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}


def test_triangle_count_golden(spark):
    """K3 {a,b,c} plus pendant d: each K3 vertex in exactly 1 triangle,
    d in none (absent from output). Edge direction/duplicates must not
    matter."""
    from procoggraph_spark.graph.algorithms import triangle_count

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "d")],
        "src string, dst string",
    )
    out = {row["id"]: row["n_triangles"] for row in triangle_count(e).collect()}
    assert out == {"a": 1, "b": 1, "c": 1}


def test_triangle_count_two_triangles_shared_edge(spark):
    """{a,b,c} and {a,b,d} share edge (a,b): a,b in 2 triangles; c,d in 1."""
    from procoggraph_spark.graph.algorithms import triangle_count

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("b", "d"), ("a", "d")],
        "src string, dst string",
    )
    out = {row["id"]: row["n_triangles"] for row in triangle_count(e).collect()}
    assert out == {"a": 2, "b": 2, "c": 1, "d": 1}
