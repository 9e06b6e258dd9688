"""Neighborhood function: exact vs HyperBall, saturation, effective
diameter semantics."""

import pyspark.sql.functions as F

from graphblast_spark.algorithms.anf import (
    effective_diameter,
    hyperball,
    neighborhood_function_exact,
)
from graphblast_spark.matrix import Graph
from graphblast_spark.sources.tpch_graphs import ordseq_graph

SF_DIR = "/root/testdata/sf0.001"


def _path_graph(spark, n):
    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, val double"
    )
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    return Graph.build(e, vertices=v)


def test_exact_on_path(spark):
    # path 0→1→2→3: N(0)=4, N(1)=4+3, N(2)=+2, N(3)=+1 → 4,7,9,10
    nf = {r.t: r.n_pairs for r in
          neighborhood_function_exact(_path_graph(spark, 4), max_t=3).collect()}
    assert nf == {0: 4, 1: 7, 2: 9, 3: 10}


def test_hyperball_within_hll_error_of_exact(spark):
    g = ordseq_graph(spark, SF_DIR)
    ex = {r.t: r.n_pairs for r in
          neighborhood_function_exact(g, max_t=8).collect()}
    hb = {r.t: r.n_pairs for r in hyperball(g, max_t=8).collect()}
    for t, n in ex.items():
        assert t in hb
        assert abs(hb[t] - n) / n < 0.05, (t, hb[t], n)


def test_hyperball_monotone_and_saturates(spark):
    nf = sorted((r.t, r.n_pairs) for r in
                hyperball(_path_graph(spark, 4), max_t=10).collect())
    vals = [n for _, n in nf]
    assert vals == sorted(vals)
    # path diameter is 3: must stop early (saturation), not run 10 rounds
    assert nf[-1][0] <= 5
    assert vals[-1] == vals[-2]  # final round confirmed saturation


def test_hyperball_empty_graph(spark):
    """No vertices: the observed estimate sum is the empty sum, 0."""
    from graphblast_spark.algorithms.anf import harmonic_centrality_hyperball

    g = Graph.build(
        spark.createDataFrame([], "src long, dst long"), vertices=spark.range(0)
    )
    assert sorted(tuple(r) for r in hyperball(g, max_t=4).collect()) == [(0, 0.0), (1, 0.0)]
    assert harmonic_centrality_hyperball(g, max_t=4).collect() == []


def test_effective_diameter_interpolates(spark):
    nf = neighborhood_function_exact(_path_graph(spark, 4), max_t=3)
    d = effective_diameter(nf, q=0.9)
    # target 9.0 pairs is hit exactly at t=2 → eff diameter 2.0
    assert abs(d - 2.0) < 1e-9
    assert effective_diameter(nf, q=1.0) == 3.0


def test_harmonic_hyperball_on_path(spark):
    from graphblast_spark.algorithms.anf import harmonic_centrality_hyperball

    # path 0→1→2→3 (out-harmonic): h(0)=1+1/2+1/3, h(1)=1+1/2, h(2)=1, h(3)=0
    h = {r.id: r.harmonic for r in
         harmonic_centrality_hyperball(_path_graph(spark, 4), max_t=5).collect()}
    # tiny cardinalities → HLL exact mode → values exact
    assert abs(h[0] - (1 + 0.5 + 1 / 3)) < 1e-6
    assert abs(h[1] - 1.5) < 1e-6
    assert abs(h[2] - 1.0) < 1e-6
    assert h[3] == 0.0


def test_harmonic_hyperball_vs_exact_msbfs(spark):
    import pyspark.sql.functions as F

    from graphblast_spark.algorithms.anf import harmonic_centrality_hyperball
    from graphblast_spark.algorithms.diameter import multi_source_bfs

    g = ordseq_graph(spark, SF_DIR)
    exact = {
        r.root: r.h
        for r in multi_source_bfs(g, g.vertices.select("id"))
        .filter(F.col("depth") >= 1)
        .groupBy("root")
        .agg(F.sum(1.0 / F.col("depth")).alias("h"))
        .collect()
    }
    approx = {r.id: r.harmonic for r in
              harmonic_centrality_hyperball(g, max_t=16).collect()}
    checked = 0
    for v, hx in exact.items():
        if hx >= 1.0:  # skip near-zero scores where rel error is meaningless
            assert abs(approx[v] - hx) / hx < 0.2, (v, approx[v], hx)
            checked += 1
    assert checked > 50
