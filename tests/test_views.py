"""Interactive view-state operators (views.py) — the drawing-diagram
data paths: triplet mapping, sampled view, edge diagrams."""

import pytest
from pyspark.sql import functions as F

from lynxkite_spark.graph import Graph
from lynxkite_spark.operators.views import (
    bucketed_edge_diagram,
    edges_for_vertices,
    sampled_edge_diagram,
    sampled_view,
    triplet_mapping,
)


@pytest.fixture(scope="module")
def g(spark):
    # 0→1, 0→2, 1→2, 2→3, 3→0, plus a duplicate 0→1 multi-edge and an
    # isolated vertex 4
    edges = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 2), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    vertices = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "id long, x double"
    )
    return Graph(vertices=vertices, edges=edges)


def test_triplet_mapping_degrees_and_isolated(g):
    rows = {r["id"]: r for r in triplet_mapping(g).collect()}
    assert len(rows) == 5
    # out-degrees: 0→{1,1,2}=3, 1→{2}=1, 2→{3}=1, 3→{0}=1, 4 isolated
    assert [len(rows[i]["src_edges"]) for i in range(5)] == [3, 1, 1, 1, 0]
    # in-degrees: 0←{3}=1, 1←{0,0}=2, 2←{0,1}=2, 3←{2}=1, 4 isolated
    assert [len(rows[i]["dst_edges"]) for i in range(5)] == [1, 2, 2, 1, 0]
    # edge ids are distinct across the whole bundle (multi-edge safe)
    all_ids = [e for r in rows.values() for e in r["src_edges"]]
    assert len(set(all_ids)) == len(all_ids) == 6
    # and the incoming arrays reference the same id universe
    assert set(e for r in rows.values() for e in r["dst_edges"]) == set(all_ids)


def test_triplet_mapping_deterministic_across_parallelism(g):
    a = triplet_mapping(g)
    b = triplet_mapping(
        Graph(vertices=g.vertices.repartition(7), edges=g.edges.repartition(5))
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_triplet_mapping_sample_size(g):
    rows = triplet_mapping(g, sample_size=3).collect()
    assert sum(len(r["src_edges"]) for r in rows) == 3
    assert sum(len(r["dst_edges"]) for r in rows) == 3


def test_edges_for_vertices_incident_set(g):
    # vertex 3 touches 2→3 and 3→0 only
    out = edges_for_vertices(g, [3]).collect()
    assert sorted((r["src"], r["dst"]) for r in out) == [(2, 3), (3, 0)]
    # budget aborts like the reference's maxNumEdges → None
    with pytest.raises(ValueError, match="max_edges"):
        edges_for_vertices(g, [0, 1, 2, 3], max_edges=2)


def test_edges_for_vertices_over_budget_releases_cache(g, spark):
    """The over-budget abort leaves no persisted incident table behind."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="max_edges"):
        edges_for_vertices(g, [0, 1, 2, 3], max_edges=2)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_sampled_view_filter_and_indices(g):
    sv, idx = sampled_view(g.vertices, [4, 2, 0, 99], filter_expr="x <= 2.0")
    # 99 absent, 4 filtered out (x=4.0), survivors sorted
    assert sv == [0, 2]
    assert idx == {0: 0, 2: 1}


def test_sampled_edge_diagram_counts(g):
    _, idx = sampled_view(g.vertices, [0, 1, 2])
    d = {(r["src_idx"], r["dst_idx"]): r["count"]
         for r in sampled_edge_diagram(g, idx).collect()}
    # within {0,1,2}: 0→1 ×2, 0→2, 1→2 — 2→3/3→0 leave the view
    assert d == {(0, 1): 2, (0, 2): 1, (1, 2): 1}


def test_sampled_edge_diagram_plan_broadcasts(g):
    _, idx = sampled_view(g.vertices, [0, 1, 2])
    plan = sampled_edge_diagram(g, idx)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bucketed_edge_diagram_marginals(g, spark):
    # 2 x-buckets over x∈[0,4]: {0,1}→bucket0, {2,3,4}→bucket1 (y==x)
    d = bucketed_edge_diagram(g, "x", "x", x_buckets=2, y_buckets=2)
    rows = {(r["src_x"], r["dst_x"]): r["count"] for r in d.collect()}
    # edges by bucket pair: 0→1×2,0→2,1→2,2→3,3→0 →
    #   (0,0): the two 0→1 copies; (0,1): 0→2 and 1→2; (1,1): 2→3; (1,0): 3→0
    assert rows == {(0, 0): 2, (0, 1): 2, (1, 1): 1, (1, 0): 1}
    # total count equals |E|
    assert d.agg(F.sum("count")).first()[0] == g.edges.count()
