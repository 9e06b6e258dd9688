"""``Graph.undirected()`` — the one cached undirected view: its edge
set, its memoisation and release, its physical plan, and that no
consumer leaves a cache entry behind once the graph is released."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphblast_spark.algorithms import (
    connected_components,
    degree_histogram,
    graph_coloring_mis,
    k_core,
    label_propagation_majority,
    local_clustering_coefficient,
    maximal_matching,
    mis,
    triangle_count,
    truss_decomposition,
)
from graphblast_spark.algorithms.linkpred import link_prediction_scores
from graphblast_spark.matrix import Graph
from graphblast_spark.sources.mtx import fixture_graph

# directed input: reciprocal pair 0<->1, duplicate 1->2, self-loop 2->2
RAW = [(0, 1), (1, 0), (1, 2), (1, 2), (2, 2), (3, 1), (4, 3), (2, 4)]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _exchanges(plan) -> list[str]:
    """Exchange nodes of a physical plan, not descending into cached
    relations (an InMemoryTableScan is a leaf); AQE plans are read
    through their input plan."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _exchanges(plan.inputPlan())
    out = [plan.simpleString(100)] if "Exchange" in name else []
    kids = plan.children()
    for i in range(kids.size()):
        out += _exchanges(kids.apply(i))
    return out


@pytest.fixture()
def raw_graph(spark):
    e = spark.createDataFrame([(a, b, 1.0) for a, b in RAW], "src long, dst long, val double")
    g = Graph.build(e, drop_self_loops=False, dedup=False)
    yield g
    g.unpersist()


def test_view_is_the_symmetrised_edge_set(raw_graph):
    got = [tuple(r) for r in raw_graph.undirected().collect()]
    assert len(got) == len(set(got))
    assert set(got) == {(u, v) for a, b in RAW if a != b for u, v in ((a, b), (b, a))}


def test_canonical_filter_equals_least_greatest_set(raw_graph):
    e = raw_graph.edges.filter(F.col("src") != F.col("dst"))
    old = e.select(F.least("src", "dst"), F.greatest("src", "dst")).distinct()
    new = raw_graph.undirected().filter(F.col("src") < F.col("dst"))
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_view_is_memoised_and_released(raw_graph):
    v = raw_graph.undirected()
    assert raw_graph.undirected() is v
    assert v.storageLevel.useMemory
    raw_graph.unpersist()
    assert not v.storageLevel.useMemory


def test_view_plan_one_exchange_and_local_degree(raw_graph):
    v = raw_graph.undirected()
    build = _exchanges(v._jdf.queryExecution().optimizedPlan().cachedPlan())
    assert len(build) == 1 and "hashpartitioning(dst" in build[0], build
    deg = v.groupBy("dst").agg(F.count(F.lit(1)))
    deg.collect()
    assert _exchanges(deg._jdf.queryExecution().executedPlan()) == []


CONSUMERS = {
    "cc": lambda g: connected_components(g).collect(),
    "lp_majority": lambda g: label_propagation_majority(g, iters=2).collect(),
    "k_core": lambda g: k_core(g, k=2).collect(),
    "mis": lambda g: mis(g).collect(),
    "tc": lambda g: triangle_count(g),
    "linkpred": lambda g: link_prediction_scores(g).collect(),
    "degree_histogram_und": lambda g: degree_histogram(g, "und").collect(),
    "maximal_matching": lambda g: maximal_matching(g).collect(),
    "lcc": lambda g: local_clustering_coefficient(g).collect(),
    # builds one throwaway residual graph (and view) per color
    "graph_coloring_mis": lambda g: graph_coloring_mis(g).collect(),
    "truss_decomposition": lambda g: truss_decomposition(g).collect(),
}


@pytest.mark.parametrize("name", sorted(CONSUMERS))
def test_consumer_leaves_no_cache_entry(spark, name):
    # earlier modules may leave persisted fixtures behind
    spark.catalog.clearCache()
    g = fixture_graph(spark, "chesapeake")  # 39 vertices
    CONSUMERS[name](g)
    g.unpersist()
    assert _cache_empty(spark)
