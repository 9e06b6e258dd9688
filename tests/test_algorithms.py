"""End-to-end algorithm tests vs numpy oracles (reference pattern:
every example binary verifies against SimpleReference*, SURVEY §5.2).
PR compared allclose 1e-6 in float64 (north rule tightens the
reference's 1e-3 float32 tolerance); CC/LP compared as exact
partitions; TC exact integer."""

from __future__ import annotations

import numpy as np
import pytest

from graphblast_spark.algorithms import (
    bfs,
    connected_components,
    label_propagation_majority,
    label_propagation_min,
    pagerank,
    sssp,
    triangle_count,
)
from graphblast_spark.descriptor import Descriptor, MxvMode
from graphblast_spark.sources.fixtures import FIXTURES
from graphblast_spark.sources.mtx import fixture_graph
from tests.oracles import (
    bfs_oracle,
    cc_oracle,
    majority_lp_oracle,
    pagerank_oracle,
    sssp_oracle,
    tc_oracle,
)


def _sym_fixture_edges(name):
    fx = FIXTURES[name]
    edges = [(s, d, v) for s, d, v in fx["edges"]]
    if fx["symmetric"]:
        edges = edges + [(d, s, v) for s, d, v in edges]
    return fx["n"], edges


@pytest.mark.parametrize("name", ["test_pr", "test_bc", "chesapeake", "small"])
def test_pagerank_allclose_1e6(spark, name):
    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name)
    got = pagerank(g, eps=1e-8)
    vec = np.zeros(n)
    for r in got.collect():
        vec[r["id"]] = r["val"]
    expect = pagerank_oracle(n, edges, eps=1e-8)
    assert np.allclose(vec, expect, atol=1e-6), np.abs(vec - expect).max()
    g.unpersist()


def test_pagerank_dangling_teleport_only(spark):
    # 'small' has 2000 vertices, 170 sym edges: most vertices isolated.
    # Isolated vertices must appear with (1-α)/n + nothing (SURVEY §7.3.5).
    g = fixture_graph(spark, "small")
    got = {r["id"]: r["val"] for r in pagerank(g, fixed_iters=3).collect()}
    assert len(got) == 2000
    n, edges = _sym_fixture_edges("small")
    linked = {s for s, d, v in edges} | {d for s, d, v in edges}
    isolated = set(range(2000)) - linked
    tele = 0.15 / 2000
    some = list(isolated)[:5]
    for i in some:
        assert got[i] == pytest.approx(tele, rel=1e-12)
    g.unpersist()


@pytest.mark.parametrize("name", ["test_cc", "chesapeake", "small", "test_mesh"])
def test_cc_exact_partition(spark, name):
    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name)
    got = np.zeros(n, dtype=np.int64)
    for r in connected_components(g).collect():
        got[r["id"]] = r["component"]
    expect = cc_oracle(n, edges)
    assert (got == expect).all()
    # structural verifier (test_cc.hpp:58-95): edge endpoints share labels
    for s, d, _ in edges:
        assert got[s] == got[d]
    g.unpersist()


def test_lp_min_equals_cc(spark):
    n, edges = _sym_fixture_edges("test_cc")
    g = fixture_graph(spark, "test_cc")
    lp = {r["id"]: r["label"] for r in label_propagation_min(g).collect()}
    expect = cc_oracle(n, edges)
    assert all(lp[i] == expect[i] for i in range(n))
    g.unpersist()


@pytest.mark.parametrize("name,iters", [("test_cc", 3), ("chesapeake", 4), ("test_mis", 5)])
def test_lp_majority_vs_oracle(spark, name, iters):
    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name)
    got = {r["id"]: r["label"] for r in label_propagation_majority(g, iters=iters).collect()}
    expect = majority_lp_oracle(n, edges, iters)
    assert all(got[i] == expect[i] for i in range(n)), [
        (i, got[i], expect[i]) for i in range(n) if got[i] != expect[i]
    ]
    g.unpersist()


@pytest.mark.parametrize("name", ["test_mesh", "test_mis", "chesapeake", "test_cc", "blockmodel_50"])
def test_triangle_count_exact(spark, name):
    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name, directed=2)
    expect = tc_oracle(n, edges)
    assert triangle_count(g, orient="degree") == expect
    assert triangle_count(g, orient="id") == expect
    g.unpersist()


MODES = pytest.mark.parametrize("mode", list(MxvMode), ids=lambda m: m.name)


@MODES
@pytest.mark.parametrize("name,source", [("test_bc", 0), ("chesapeake", 3), ("test_cc", 0)])
def test_bfs_depths(spark, name, source, mode):
    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name)
    depths = bfs(g, source=source, desc=Descriptor(mxv_mode=mode))
    got = {r["id"]: r["depth"] for r in depths.collect()}
    expect = bfs_oracle(n, edges, source)
    for i in range(n):
        if expect[i] >= 0:
            assert got.get(i) == expect[i]
        else:
            assert i not in got
    g.unpersist()


@MODES
def test_sssp_vs_dijkstra(spark, mode):
    n, edges = _sym_fixture_edges("blockmodel_50")
    g = fixture_graph(spark, "blockmodel_50")
    dist = sssp(g, source=0, desc=Descriptor(mxv_mode=mode))
    got = {r["id"]: r["dist"] for r in dist.collect()}
    expect = sssp_oracle(n, edges, 0)
    for i in range(n):
        if np.isfinite(expect[i]):
            assert got.get(i) == pytest.approx(expect[i])
        else:
            assert i not in got
    g.unpersist()


def test_triangle_count_approx_unbiased_shape(spark):
    """DOULION estimate: k=1 is exact; k>1 is deterministic, scales by
    k**3, and lands within a loose band of the exact count on a
    triangle-dense fixture; k<1 rejected."""
    import pytest as _pytest

    from graphblast_spark.algorithms import triangle_count, triangle_count_approx

    g = fixture_graph(spark, "chesapeake")
    exact = triangle_count(g)
    assert triangle_count_approx(g, k=1) == exact
    est = triangle_count_approx(g, k=2)
    assert est == triangle_count_approx(g, k=2)  # deterministic
    assert est % 8 == 0  # integer sample count × k³
    assert 0 <= est <= 8 * exact  # sample can hold at most all triangles
    with _pytest.raises(ValueError):
        triangle_count_approx(g, k=0)
    g.unpersist()
