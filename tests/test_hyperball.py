"""HyperBall HLL sketches vs exact BFS, and the scalar metrics."""

import math

import pytest
from pyspark.sql import functions as F

from lynxkite_spark.graph import Graph
from lynxkite_spark.operators.centrality import (
    _reached,
    harmonic_centrality,
)
from lynxkite_spark.operators.hyperball import (
    average_distance_approx,
    effective_diameter,
    harmonic_centrality_approx,
    hyperball,
    neighborhood_function,
)
from lynxkite_spark.operators.scalars import approx_diameter, degree_assortativity


def _er_graph(spark, n=200, seed=3, prob_mod=17):
    """Deterministic pseudo-random sparse digraph on n vertices."""
    v = spark.range(n).select(F.col("id"))
    e = (
        v.alias("a")
        .crossJoin(v.alias("b"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .where(F.pmod(F.xxhash64("src", "dst", F.lit(seed)), F.lit(prob_mod)) == 0)
        .withColumn("weight", F.lit(1.0))
    )
    return Graph(vertices=v, edges=e)


def test_hyperball_sizes_track_exact_ball_sizes(spark):
    g = _er_graph(spark)
    exact = {
        r["v"]: r["n"]
        for r in _reached(g, 2).groupBy("v").agg(F.count("*").alias("n")).collect()
    }
    hb = {r["id"]: r["size"] for r in hyperball(g, 2, log2m=8).collect()}
    assert set(hb) == set(exact)
    rel_errs = [abs(hb[k] - exact[k]) / exact[k] for k in exact]
    assert sum(rel_errs) / len(rel_errs) < 0.1  # m=256 → ~6.5% std error
    assert max(rel_errs) < 0.35
    # aggregate neighborhood function within 5%
    assert abs(sum(hb.values()) - sum(exact.values())) / sum(exact.values()) < 0.05


def test_hyperball_harmonic_tracks_exact(spark):
    g = _er_graph(spark)
    exact = {r["id"]: r["harmonic"] for r in harmonic_centrality(g, 2).collect()}
    approx = {
        r["id"]: r["harmonic"]
        for r in harmonic_centrality_approx(g, 2, log2m=8).collect()
    }
    tot_e, tot_a = sum(exact.values()), sum(approx.values())
    assert abs(tot_a - tot_e) / tot_e < 0.1
    # per-vertex: sane range and mostly close
    close = sum(
        1
        for k in exact
        if exact[k] == 0 or abs(approx[k] - exact[k]) / max(exact[k], 1.0) < 0.3
    )
    assert close > 0.9 * len(exact)


def test_hyperball_restores_codegen_when_wide_loop_raises(spark, monkeypatch):
    """The wide loop runs with whole-stage codegen off; a round that
    raises must still hand the session its previous setting back."""
    from lynxkite_spark.operators import hyperball as hb

    real = hb._estimates_wide
    seen = []

    def failing(state, log2m):
        seen.append(spark.conf.get("spark.sql.codegen.wholeStage"))
        if len(seen) > 1:  # the first call seeds the state before the loop
            raise RuntimeError("round failed")
        return real(state, log2m)

    monkeypatch.setattr(hb, "_estimates_wide", failing)
    before = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    with pytest.raises(RuntimeError, match="round failed"):
        hb.hyperball(_er_graph(spark, n=40), 2, log2m=4)
    assert seen[-1] == "false"  # it did fail inside the codegen-off loop
    assert spark.conf.get("spark.sql.codegen.wholeStage", "true") == before


def test_hyperball_portable_hash_path(spark):
    g = _er_graph(spark, n=80)
    a = {r["id"]: r["size"] for r in hyperball(g, 2, log2m=8).collect()}
    b = {
        r["id"]: r["size"]
        for r in hyperball(g, 2, log2m=8, hash_fn="portable").collect()
    }
    # different hash → different sketch noise, same scale of answers
    ra = sum(a.values())
    rb = sum(b.values())
    assert abs(ra - rb) / ra < 0.15


def test_neighborhood_function_monotone_and_effective_diameter(spark):
    # directed path 0→1→…→11: N(t) grows by (n - t) each round
    n = 12
    v = spark.range(n).select("id")
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    g = Graph(vertices=v, edges=e)
    nf = {r["t"]: r["nf"] for r in neighborhood_function(g, 11, log2m=8).collect()}
    assert all(nf[t] >= nf[t - 1] - 1e-9 for t in range(1, 12))
    ed = effective_diameter(g, q=0.9, max_distance=11, log2m=8)
    assert 4.0 < ed <= 11.0
    assert approx_diameter(g, max_rounds=14) >= 9


def test_degree_assortativity_matches_numpy(spark):
    import numpy as np

    g = _er_graph(spark, n=60, prob_mod=5)
    r = degree_assortativity(g).first()["assortativity"]
    # reference computation over the symmetric simple edge list
    e = g.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    rows = sym.collect()
    deg = {}
    for row in rows:
        deg[row["src"]] = deg.get(row["src"], 0) + 1
    xs = np.array([deg[row["src"]] for row in rows], dtype=float)
    ys = np.array([deg[row["dst"]] for row in rows], dtype=float)
    expected = np.corrcoef(xs, ys)[0, 1]
    assert r == pytest.approx(expected, abs=1e-9)


def test_degree_assortativity_star_is_minus_one(spark):
    n = 8
    v = spark.range(n).select("id")
    e = spark.createDataFrame(
        [(0, i, 1.0) for i in range(1, n)], "src long, dst long, weight double"
    )
    r = degree_assortativity(Graph(vertices=v, edges=e)).first()["assortativity"]
    assert r == pytest.approx(-1.0, abs=1e-12)


def test_betweenness_exact_when_all_roots(spark):
    """k >= n makes sampled Brandes exact — compare to the pure-Python
    oracle on a deterministic random graph."""
    from lynxkite_spark.operators.betweenness import betweenness_centrality
    from tests.oracles import brandes_oracle

    g = _er_graph(spark, n=40, prob_mod=5)
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(g, k=40, max_depth=12).collect()
    }
    vs = [r["id"] for r in g.vertices.collect()]
    es = [(r["src"], r["dst"]) for r in g.edges.collect()]
    expected = brandes_oracle(vs, es)
    assert set(got) == set(expected)
    for v in vs:
        assert got[v] == pytest.approx(expected[v], abs=1e-6), v


def test_betweenness_sampled_correlates(spark):
    """k < n: the estimate must rank hubs like the exact values."""
    from lynxkite_spark.operators.betweenness import betweenness_centrality
    from tests.oracles import brandes_oracle

    g = _er_graph(spark, n=80, prob_mod=6)
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(g, k=20, max_depth=12).collect()
    }
    vs = [r["id"] for r in g.vertices.collect()]
    es = [(r["src"], r["dst"]) for r in g.edges.collect()]
    expected = brandes_oracle(vs, es)
    top_exact = {v for v, _ in sorted(expected.items(), key=lambda t: -t[1])[:10]}
    top_est = {v for v, _ in sorted(got.items(), key=lambda t: -t[1])[:10]}
    assert len(top_exact & top_est) >= 5


def test_closeness_exact_when_all_roots(spark):
    from lynxkite_spark.operators.betweenness import closeness_centrality
    from tests.oracles import closeness_oracle

    g = _er_graph(spark, n=40, prob_mod=5)
    got = {
        r["id"]: r["closeness"]
        for r in closeness_centrality(g, k=40, max_depth=12).collect()
    }
    vs = [r["id"] for r in g.vertices.collect()]
    es = [(r["src"], r["dst"]) for r in g.edges.collect()]
    expected = closeness_oracle(vs, es)
    for v in vs:
        assert got[v] == pytest.approx(expected[v], abs=1e-9), v


def test_kpath_centrality_deterministic_and_sane(spark):
    from lynxkite_spark.operators.kpath import kpath_centrality

    # path graph: middle vertices get visited more than endpoints
    n = 9
    v = spark.range(n).select("id")
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    g = Graph(vertices=v, edges=e)
    a = {r["id"]: r["kpath"] for r in kpath_centrality(g, k=4, walks_per_vertex=2).collect()}
    b = {r["id"]: r["kpath"] for r in kpath_centrality(g, k=4, walks_per_vertex=2).collect()}
    assert a == b  # value-derived randomness: identical runs
    assert sum(a.values()) > 0
    mid = sum(a[i] for i in range(3, 6))
    ends = a[0] + a[n - 1]
    assert mid > ends
    # portable hash path also runs and is deterministic
    c = {
        r["id"]: r["kpath"]
        for r in kpath_centrality(g, k=4, walks_per_vertex=2, hash_fn="portable").collect()
    }
    assert set(c) == set(a) and sum(c.values()) > 0


def test_approx_embeddedness_tracks_exact(spark):
    from lynxkite_spark.operators.clustering import embeddedness
    from lynxkite_spark.operators.hyperball import approx_embeddedness

    g = _er_graph(spark, n=120, prob_mod=6)
    exact = {
        (r["src"], r["dst"]): r["embeddedness"] for r in embeddedness(g).collect()
    }
    approx = {
        (r["src"], r["dst"]): r["embeddedness"]
        for r in approx_embeddedness(g, log2m=8).collect()
    }
    assert set(approx) == set(exact)
    tot_e = sum(exact.values())
    tot_a = sum(approx.values())
    assert tot_e > 0
    assert abs(tot_a - tot_e) / tot_e < 0.25  # inclusion-exclusion noise
    # errors per edge stay bounded relative to neighborhood size
    big = [k for k, v in exact.items() if v >= 3]
    close = sum(1 for k in big if abs(approx[k] - exact[k]) <= max(2.5, 0.6 * exact[k]))
    assert close >= 0.8 * max(len(big), 1)


def test_approx_clustering_tracks_exact(spark):
    from lynxkite_spark.operators.clustering import clustering_coefficient
    from lynxkite_spark.operators.hyperball import approx_clustering_coefficient

    g = _er_graph(spark, n=120, prob_mod=6)
    exact = {
        r["id"]: r["clustering_coefficient"]
        for r in clustering_coefficient(g).collect()
    }
    approx = {
        r["id"]: r["clustering_coefficient"]
        for r in approx_clustering_coefficient(g, log2m=8).collect()
    }
    assert set(approx) == set(exact)
    n = len(exact)
    mean_e = sum(exact.values()) / n
    mean_a = sum(approx.values()) / n
    assert abs(mean_a - mean_e) < 0.15
    assert all(0.0 <= v <= 1.0 for v in approx.values())
