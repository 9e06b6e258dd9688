"""Driver contract for the spark-graft builder (PySpark target).

Every operator family from SURVEY.md §2 gets a ``queries()`` entry and
(where SQL-expressible) an ``oracle_sql()`` DuckDB equivalent. The
test graphs are derived deterministically from the driver's TPC-H-ish
parquet (see graphblast_spark/sources/tpch_graphs.py) so both engines
compute over identical inputs:

- co-purchase graph (symmetric, hubs, triangles) — lineitem self-join;
- part→supplier bipartite digraph (dangling vertices) — PR semantics.

Iterative algorithms are run for a FIXED superstep count and verified
against recursive-CTE oracles; floats are rounded to 6 decimals on BOTH
sides (float64 noise ≪ 1e-6, SURVEY §7.3.1).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphblast_spark import Descriptor, Graph
from graphblast_spark.algorithms import (
    bfs,
    connected_components,
    graph_coloring,
    graph_coloring_jp,
    label_propagation_majority,
    label_propagation_min,
    lgc,
    mis,
    multi_source_bfs,
    pagerank,
    sssp,
    triangle_count,
)
from graphblast_spark.algorithms.tc import common_neighbors_per_edge
from graphblast_spark.functions.dedup import (
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_signature,
    near_duplicate_clusters,
    ngram_jaccard_pairs,
    simhash64,
)
from graphblast_spark.functions.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    embedding_dedup_clusters,
    ivf_topk,
)
from graphblast_spark.functions.text import add_fingerprint, add_lang_id, add_quality, add_token_count
from graphblast_spark.operators import ewise_add, ewise_mult, mxm, vxm
from graphblast_spark.sources.tpch_graphs import (
    SQL_COPURCHASE_EDGES,
    SQL_COPURCHASE_VERTICES,
    SQL_ORDSEQ_EDGES,
    SQL_PARTSUPP_EDGES,
    SQL_PARTSUPP_VERTICES,
    copurchase_edges,
    copurchase_graph,
    partsupp_graph,
)

# ----------------------------------------------------------------------
# Shared helpers
# ----------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the test corpus is one parquet file → one input partition; spread
    # it so document pipelines use the full core count (a production
    # corpus arrives in thousands of files and skips this)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _u_mod7(g: Graph) -> DataFrame:
    """Deterministic dense test vector u(id) = (id % 7) + 1."""
    return g.vertices.select("id", ((F.col("id") % 7) + 1).cast("double").alias("val"))


def _weighted(g: Graph) -> Graph:
    """Edge values ((src+dst) % 10) as double — a deterministic non-unit
    value pattern both engines can reproduce."""
    return Graph(
        edges=g.edges.withColumn("val", ((F.col("src") + F.col("dst")) % 10).cast("double")),
        vertices=g.vertices, n=g.n, nvals=g.nvals,
    )


# ----------------------------------------------------------------------
# Spark queries
# ----------------------------------------------------------------------

def q_g_build(spark, sf_dir):
    return copurchase_edges(spark, sf_dir).select("src", "dst", "val")


def q_g_degrees(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return g.edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )


def q_g_vecmat_spmv(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    out = vxm(_u_mod7(g), g, "PlusMultiplies", u_nvals=g.n)
    return out.select("id", F.round("val", 6).alias("val"))


def q_g_vecmat_kernel(spark, sf_dir):
    # the mapInArrow dense-pull kernel path (operators/kernel.py) —
    # same semantics as g_vecmat_spmv, different physical plan
    from graphblast_spark.operators import vxm_arrow

    g = copurchase_graph(spark, sf_dir)
    out = vxm_arrow(_u_mod7(g), g, "PlusMultiplies")
    return out.select("id", F.round("val", 6).alias("val"))


def q_g_accum_vxm(spark, sf_dir):
    # first-class GraphBLAS merge-on-write: w accum(+)= u·A
    # (reference operations.hpp:14-19; exercised by lgc.hpp:126-128)
    g = copurchase_graph(spark, sf_dir)
    w_old = g.vertices.filter(F.col("id") % 2 == 0).select(
        "id", ((F.col("id") % 5) + 100).cast("double").alias("val")
    )
    out = vxm(_u_mod7(g), g, "PlusMultiplies", u_nvals=g.n, accum="plus", w=w_old)
    return out.select("id", F.round("val", 6).alias("val"))


def q_g_vecmat_minplus(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    u = g.vertices.select("id", (F.col("id") % 100).cast("double").alias("val"))
    return vxm(u, g, "MinimumPlus", u_nvals=g.n).select("id", F.round("val", 6).alias("val"))


def q_g_vecmat_masked(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    mask = g.vertices.filter(F.col("id") % 3 == 0)
    out = vxm(_u_mod7(g), g, "PlusMultiplies", mask=mask,
              desc=Descriptor(mask_complement=True), u_nvals=g.n)
    return out.select("id", F.round("val", 6).alias("val"))


def _uv_vectors(g: Graph):
    u = g.vertices.filter(F.col("id") % 2 == 0).select(
        "id", ((F.col("id") % 5) + 1).cast("double").alias("val"))
    v = g.vertices.filter(F.col("id") % 3 == 0).select(
        "id", ((F.col("id") % 7) + 2).cast("double").alias("val"))
    return u, v


def q_g_ewise_mult(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    u, v = _uv_vectors(g)
    return ewise_mult(u, v, "PlusMultiplies").select("id", F.round("val", 6).alias("val"))


def q_g_ewise_add(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    u, v = _uv_vectors(g)
    return ewise_add(u, v, "PlusMultiplies").select("id", F.round("val", 6).alias("val"))


def q_g_reduce_rowwise(spark, sf_dir):
    g = _weighted(copurchase_graph(spark, sf_dir))
    return g.edges.groupBy(F.col("src").alias("id")).agg(
        F.round(F.sum("val"), 6).alias("val")
    )


def q_g_reduce_scalar(spark, sf_dir):
    g = _weighted(copurchase_graph(spark, sf_dir))
    return g.edges.agg(F.round(F.sum("val"), 6).alias("total"))


def q_g_tril(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return g.tril().edges.select("src", "dst")


def q_g_transpose(spark, sf_dir):
    g = partsupp_graph(spark, sf_dir)
    return g.transpose().edges.select("src", "dst")


def q_g_tc(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    n_tri = triangle_count(g, orient="degree")
    return spark.createDataFrame([(int(n_tri),)], "n_triangles long")


def q_g_tc_approx(spark, sf_dir):
    """DOULION approximate triangle count (algorithms/tc.py
    triangle_count_approx, Tsourakakis 2009) at k=3 — deterministic
    hash edge-sampling makes the estimate a pure function of the
    input, so the oracle replays it exactly: sample, count the
    sample's triangles, scale by k³. The scale path for the quartet's
    DRAM-bound exact join (BENCH.md 2026-08-19)."""
    from graphblast_spark.algorithms import triangle_count_approx

    g = copurchase_graph(spark, sf_dir)
    est = triangle_count_approx(g, k=3)
    return spark.createDataFrame([(int(est),)], "tri_estimate long")


def q_g_matching(spark, sf_dir):
    """Maximal matching (algorithms/matching.py — the LAGraph
    MaximalMatching analog) at the contract form: TWO deterministic
    mutual-min rounds on the copurchase graph (hash edge priorities,
    a vertex matches iff both endpoints pick the same min edge).
    Full convergence (validity + maximality) is pytest-pinned
    (tests/test_matching.py); the oracle replays both rounds with
    per-vertex row_number argmins and NOT-IN removals."""
    from graphblast_spark.algorithms import maximal_matching

    g = copurchase_graph(spark, sf_dir)
    return maximal_matching(g, fixed_rounds=2).select("a", "b")


def q_g_common_neighbors(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return common_neighbors_per_edge(g).select("src", "dst", F.col("common").cast("long").alias("common"))


def q_g_trace(spark, sf_dir):
    g = _weighted(copurchase_graph(spark, sf_dir))
    return g.edges.agg(F.round(F.sum(F.col("val") * F.col("val")), 6).alias("trace"))


def q_g_pagerank(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    pr = pagerank(g, fixed_iters=10)
    return pr.select("id", F.round("val", 6).alias("pagerank"))


def q_g_pagerank_weighted(spark, sf_dir):
    """Weighted PageRank: transition mass α·val/out-strength with a
    deterministic per-edge weight derived from (src, dst) — the kernel
    the domain-rollup graph needs (its edge val counts aggregated page
    links; cli.py domain-pr runs this variant)."""
    from graphblast_spark.matrix import Graph

    e = copurchase_edges(spark, sf_dir).select(
        "src", "dst",
        (((F.col("src") * 7 + F.col("dst")) % 5 + 1).cast("double")).alias("val"),
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    g = Graph.build(e, vertices=li.select(F.col("l_partkey").alias("id")).distinct())
    pr = pagerank(g, fixed_iters=10, weighted=True)
    return pr.select("id", F.round("val", 6).alias("pagerank"))


def q_g_pagerank_dangling(spark, sf_dir):
    g = partsupp_graph(spark, sf_dir)
    pr = pagerank(g, fixed_iters=10)
    return pr.select("id", F.round("val", 6).alias("pagerank"))


def q_g_cc(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return connected_components(g).select("id", "component")


def q_g_cc_incremental(spark, sf_dir):
    """Incremental FastSV CC (algorithms/cc.py
    incremental_connected_components): cold-run on a deterministic ~6/7
    edge subset, then warm-start on the FULL graph from those labels
    (old labels as init + virtual star edges). Appends only merge
    components, so the warm fixpoint must be byte-identical to the full
    graph's cold fixpoint — the oracle is g_cc's recursive CTE."""
    from graphblast_spark.algorithms import incremental_connected_components
    from graphblast_spark.matrix import Graph

    g = copurchase_graph(spark, sf_dir)
    sub = g.edges.filter((F.col("src") + F.col("dst")) % 7 != 0)
    g0 = Graph.build(sub, vertices=g.vertices)
    prev = connected_components(g0).localCheckpoint(eager=True)
    g0.unpersist()
    return incremental_connected_components(g, prev).select("id", "component")


def q_g_scc(spark, sf_dir):
    """Strongly connected components (coloring/FW-BW-trim family) on
    the directed order-sequence graph — the one fixture with real
    cycle structure (444 SCCs incl. a 526-vertex core at sf0.01).
    Oracle: transitive-closure recursive CTE, scc_id = min mutually-
    reachable id."""
    from graphblast_spark.algorithms.scc import strongly_connected_components
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    return strongly_connected_components(g).select("id", "scc_id")


def q_g_bowtie(spark, sf_dir):
    """Broder bowtie decomposition of the directed order-sequence
    graph: per-vertex CORE / IN / OUT / OTHER classification around
    the largest SCC."""
    from graphblast_spark.algorithms.scc import bowtie_decomposition
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    return bowtie_decomposition(g).select("id", "component")


def q_g_edge_support(spark, sf_dir):
    """Per-edge triangle support on the copurchase graph — the single-
    pass building block of k-truss peeling (algorithms/ktruss.py; the
    full peel is pytest-pinned against a driver-side python oracle,
    tests/test_ktruss.py, since iterative re-aggregation is not
    SQL-expressible)."""
    from graphblast_spark.algorithms.ktruss import edge_triangle_support

    g = copurchase_graph(spark, sf_dir)
    return edge_triangle_support(g).select("a", "b", "support")


def q_g_condensation(spark, sf_dir):
    """Condensation DAG of the order-sequence graph: SCCs contracted,
    parallel edges aggregated (algorithms/scc.py condensation)."""
    from graphblast_spark.algorithms.scc import condensation
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    return condensation(g).select("src_scc", "dst_scc", "n_edges")


def q_g_lp_majority(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return label_propagation_majority(g, iters=5).select("id", "label")


def q_g_lp_min(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return label_propagation_min(g).select("id", "label")


def q_g_modularity(spark, sf_dir):
    """Directed modularity contributions of the 2-iteration majority-
    vote LP partition on the co-purchase graph (42 communities at
    sf0.01 → nontrivial per-community terms; more iterations collapse
    the dense co-purchase graph to one label and the min-label variant
    converges to the giant component — both 1-row contracts) —
    algorithms/lp.py community_modularity; the oracle replays the
    lp_majority recursive CTE plus the two label joins."""
    from graphblast_spark.algorithms import community_modularity

    g = copurchase_graph(spark, sf_dir)
    labels = label_propagation_majority(g, iters=2)
    # `+ 0.0` on both sides neutralizes IEEE -0.0 (DuckDB's round() emits
    # it for tiny negative contributions; the driver's string canon sees
    # "-0.0" != "0.0" even though the multisets compare equal)
    return community_modularity(g, labels).select(
        "label", "within_weight", "out_strength", "in_strength",
        (F.col("contribution") + F.lit(0.0)).alias("contribution"),
    )


def q_g_degree_hist(spark, sf_dir):
    from graphblast_spark.algorithms import degree_histogram

    g = copurchase_graph(spark, sf_dir)
    return degree_histogram(g, direction="out").select("degree", "n_vertices")


def q_g_reciprocity(spark, sf_dir):
    """On the ordseq graph — genuinely directed (the copurchase graph
    is symmetric by construction and would pin the trivial 1.0)."""
    from graphblast_spark.algorithms import reciprocity
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    return reciprocity(g).select("n_edges", "n_reciprocal", "reciprocity")


def q_g_assortativity(spark, sf_dir):
    from graphblast_spark.algorithms import degree_assortativity

    g = copurchase_graph(spark, sf_dir)
    return degree_assortativity(g).select("assortativity")


def q_g_lcc(spark, sf_dir):
    from graphblast_spark.algorithms import local_clustering_coefficient

    g = copurchase_graph(spark, sf_dir)
    return local_clustering_coefficient(g).select("id", "triangles", "lcc")


def _min_part(spark, sf_dir) -> int:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
        F.min("l_partkey")
    ).first()[0]


def q_g_mis(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return mis(g, fixed_rounds=10).select("id", F.col("in_mis").cast("long").alias("in_mis"))


def q_g_coloring(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return graph_coloring(g, fixed_rounds=4).select(
        "id", F.col("color").cast("long").alias("color")
    )


def q_g_apply_vxm(spark, sf_dir):
    from graphblast_spark.operators import apply_vxm

    g = copurchase_graph(spark, sf_dir)
    out = apply_vxm(
        _u_mod7(g), g, unary=lambda c: c * 2 + 1, sr="PlusMultiplies", u_nvals=g.n
    )
    return out.select("id", F.round("val", 6).alias("val"))


def q_g_assign_masked(spark, sf_dir):
    from graphblast_spark.operators import assign_masked_constant

    g = copurchase_graph(spark, sf_dir)
    mask = g.vertices.filter(F.col("id") % 5 == 0)
    out = assign_masked_constant(_u_mod7(g), mask, 99.0)
    return out.select("id", F.round("val", 6).alias("val"))


def q_g_scatter(spark, sf_dir):
    from graphblast_spark.operators import scatter_constant

    g = copurchase_graph(spark, sf_dir)
    u = g.vertices.select("id", (F.col("id") % 11).cast("long").alias("val"))
    return scatter_constant(u, 1.0).select(
        "id", F.round("val", 6).alias("val")
    )


def q_g_extract_subvector(spark, sf_dir):
    from graphblast_spark.operators import extract_subvector

    g = copurchase_graph(spark, sf_dir)
    ids = g.vertices.filter(F.col("id") % 4 == 0)
    return extract_subvector(_u_mod7(g), ids).select(
        "id", F.round("val", 6).alias("val")
    )


def q_g_extract_submatrix(spark, sf_dir):
    from graphblast_spark.operators import extract_submatrix

    g = copurchase_graph(spark, sf_dir)
    rows = g.vertices.filter(F.col("id") % 5 == 0)
    cols = g.vertices.filter(F.col("id") % 3 == 0)
    return extract_submatrix(g, rows, cols).select("src", "dst", "val")


def q_g_linkpred(spark, sf_dir):
    from graphblast_spark.algorithms import link_prediction_scores

    g = copurchase_graph(spark, sf_dir)
    return link_prediction_scores(g)


def q_g_count_unique(spark, sf_dir):
    from graphblast_spark.operators import count_unique

    g = copurchase_graph(spark, sf_dir)
    u = g.vertices.select("id", (F.col("id") % 100).alias("val"))
    n = count_unique(u)
    return spark.createDataFrame([(int(n),)], "n_unique long")


def q_g_ewise_mult_mv(spark, sf_dir):
    from graphblast_spark.operators import ewise_mult_matrix_vector

    g = _weighted(copurchase_graph(spark, sf_dir))
    out = ewise_mult_matrix_vector(g, _u_mod7(g), "PlusMultiplies", axis="row")
    return out.select("src", "dst", F.round("val", 6).alias("val"))


def q_g_reduce_vec_scalar(spark, sf_dir):
    from graphblast_spark.operators import reduce_vector_to_scalar

    g = copurchase_graph(spark, sf_dir)
    v = reduce_vector_to_scalar(_u_mod7(g), "Plus")
    return spark.createDataFrame([(round(float(v), 6),)], "total double")


def q_g_ewise_mult_scalar(spark, sf_dir):
    from graphblast_spark.operators import ewise_mult_scalar

    g = copurchase_graph(spark, sf_dir)
    return ewise_mult_scalar(_u_mod7(g), 2.5).select(
        "id", F.round("val", 6).alias("val")
    )


def q_g_apply_unary(spark, sf_dir):
    from graphblast_spark.operators import apply_unary

    g = copurchase_graph(spark, sf_dir)
    out = apply_unary(_u_mod7(g), lambda v: v * v + 1.0)
    return out.select("id", F.round("val", 6).alias("val"))


def q_g_set_element(spark, sf_dir):
    from graphblast_spark.operators import set_element

    g = copurchase_graph(spark, sf_dir)
    idx = _min_part(spark, sf_dir)
    return set_element(_u_mod7(g), idx, 42.0).select(
        "id", F.round("val", 6).alias("val")
    )


def q_g_assign_indexed(spark, sf_dir):
    from graphblast_spark.operators import assign_indexed

    g = copurchase_graph(spark, sf_dir)
    w = _u_mod7(g)
    # w[i+1] = u[i] for i % 36 == 0 (i in both the index and u slices;
    # targets i+1 are injective → no collision resolution in play)
    indices = g.vertices.filter(F.col("id") % 9 == 0).select(
        "id", (F.col("id") + 1).cast("double").alias("val")
    )
    u = g.vertices.filter(F.col("id") % 4 == 0).select(
        "id", ((F.col("id") % 5) + 10).cast("double").alias("val")
    )
    return assign_indexed(w, u, indices).select(
        "id", F.round("val", 6).alias("val")
    )


def q_g_assign_scatter(spark, sf_dir):
    from graphblast_spark.operators import assign_scatter

    g = copurchase_graph(spark, sf_dir)
    updates = g.vertices.filter(F.col("id") % 6 == 0).select(
        F.col("id").alias("target"), ((F.col("id") % 3) + 0.5).cast("double").alias("val")
    )
    return assign_scatter(_u_mod7(g), updates).select(
        "id", F.round("val", 6).alias("val")
    )


def q_g_ewise_add_mat(spark, sf_dir):
    from graphblast_spark.operators import ewise_add_matrix

    g = _weighted(copurchase_graph(spark, sf_dir))
    b = g.edges.filter(F.col("src") > F.col("dst")).withColumn("val", F.lit(2.0))
    out = ewise_add_matrix(g, b, "PlusMultiplies")
    return out.select("src", "dst", F.round("val", 6).alias("val"))


def q_g_mxm_2hop(spark, sf_dir):
    # general (unmasked) SpGEMM: 2-hop path counts from a deterministic
    # source slice (src % 50 == 0) — restricting A's rows keeps the
    # contract output bounded while exercising the full A·B join+agg
    g = copurchase_graph(spark, sf_dir)
    sub = Graph(
        edges=g.edges.filter(F.col("src") % 50 == 0),
        vertices=g.vertices, n=g.n, nvals=-1,
    )
    return mxm(sub, g, "PlusMultiplies").select(
        "src", "dst", F.round("val", 6).alias("n_paths")
    )


def q_g_coloring_spec(spark, sf_dir):
    from graphblast_spark.algorithms import graph_coloring_spec

    g = copurchase_graph(spark, sf_dir)
    return graph_coloring_spec(g, palette=8, fixed_rounds=2).select(
        "id", F.col("color").cast("long").alias("color")
    )


def q_g_coloring_jp(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    return graph_coloring_jp(g, fixed_rounds=3).select(
        "id", F.col("color").cast("long").alias("color")
    )


def q_e_cosine_neardup(spark, sf_dir):
    # IVF-bucketed near-dup pairs (8 deterministic cells); threshold
    # 0.3 because the synthetic embeddings are near-orthogonal (max
    # pairwise cosine ≈ 0.5) — the plan shape is what's under test
    return cosine_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.3, n_cells=8, quantizer="firstn"
    ).select("a", "b", "cos")


def q_e_dedup_clusters(spark, sf_dir):
    # cosine near-dup pairs closed under CC (same cells/threshold as
    # e_cosine_neardup so the oracle shares its CTEs)
    return embedding_dedup_clusters(
        _emb(spark, sf_dir), threshold=0.3, n_cells=8, quantizer="firstn"
    ).select("vec_id", "cluster_id", "is_canonical")


def q_g_lgc(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    src = _min_part(spark, sf_dir)
    return lgc(g, source=src, alpha=0.15, eps=1e-6, fixed_iters=4).select(
        "id", F.round("p", 6).alias("p")
    )


def _assets(spark, sf_dir):
    """Deterministic multimodal asset table derived from documents:
    payload = utf-8 text bytes (an opaque binary stand-in both engines
    can derive identically)."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(8).alias("width"), F.lit(8).alias("height"),
        F.lit(0).alias("sample_rate"),
    )


def q_m_frame_sample(spark, sf_dir):
    from graphblast_spark.functions.multimodal import frame_sample

    # frames are emitted hex-encoded (string): the driver's canonicalizer
    # sorts column values and binary/bytearray cells are unsortable in
    # pandas — hex is stable, sortable, and byte-faithful on both engines
    return frame_sample(_assets(spark, sf_dir), every_n=4).select(
        "asset_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.hex("frame").alias("frame"),
    )


def q_m_decode_stats(spark, sf_dir):
    from graphblast_spark.functions.multimodal import decode_stats

    return decode_stats(_assets(spark, sf_dir)).select(
        "asset_id", "kind", F.round("mean_px", 6).alias("mean_px"),
        F.round("std_px", 6).alias("std_px"),
    )


def q_m_resize(spark, sf_dir):
    from graphblast_spark.functions.multimodal import resize_image

    return resize_image(_assets(spark, sf_dir), out_w=3, out_h=3)


def q_m_byte_hist(spark, sf_dir):
    from graphblast_spark.functions.multimodal import byte_histogram

    # contract rows carry only scalar columns (driver's pandas canon
    # cannot hash list cells) — join the histogram into a CSV string
    return byte_histogram(_assets(spark, sf_dir)).select(
        "asset_id", F.array_join("hist", ",").alias("hist")
    )


def q_g_msbfs(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    srcs = g.vertices.orderBy("id").limit(4)
    return multi_source_bfs(g, srcs).select("root", "id", "depth")


def q_g_hits(spark, sf_dir):
    from graphblast_spark.algorithms import hits

    # directed bipartite part→supplier graph: parts are pure hubs,
    # suppliers pure authorities — the structure HITS separates
    g = partsupp_graph(spark, sf_dir)
    return hits(g, fixed_iters=3).select(
        "id", F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def q_g_betweenness(spark, sf_dir):
    from graphblast_spark.algorithms import betweenness_centrality

    # depth-bounded batched Brandes from the first 4 roots — the
    # Brandes-Pich sampled form; depth bound 2 is pinned on BOTH sides
    g = copurchase_graph(spark, sf_dir)
    srcs = g.vertices.orderBy("id").limit(4)
    return betweenness_centrality(g, sources=srcs, max_depth=2).select(
        "id", F.round("bc", 6).alias("bc")
    )


def q_g_ppr(spark, sf_dir):
    from graphblast_spark.algorithms import personalized_pagerank

    g = copurchase_graph(spark, sf_dir)
    seeds = g.vertices.orderBy("id").limit(4)
    return personalized_pagerank(g, seeds, fixed_iters=10).select(
        "id", F.round("val", 6).alias("ppr")
    )


def q_g_anf(spark, sf_dir):
    """Exact neighborhood function N(t) (Σ ball sizes, t=0..6) from a
    FIXED 64-root sample of the directed order-sequence graph — the
    root-capped contract form (state O(64·|V|): runnable at 100×,
    unlike the all-pairs sum — VERDICT r3 task 10). The all-roots
    exact twin remains the pytest oracle of the HyperBall sketch
    (tests/test_anf.py)."""
    from graphblast_spark.algorithms.anf import neighborhood_function_exact
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    roots = g.vertices.orderBy("id").limit(64).select("id")
    return neighborhood_function_exact(g, max_t=6, roots=roots)


def q_g_harmonic(spark, sf_dir):
    """Exact out-harmonic centrality (distance-capped at 8) for a FIXED
    64-root sample of the directed order-sequence graph — root-capped
    contract form (state O(64·|V|), runnable at 100×). The all-vertex
    answer at scale is harmonic_centrality_hyperball (algorithms/
    anf.py), pytest-pinned against the exact form within HLL error."""
    from graphblast_spark.algorithms.diameter import multi_source_bfs
    from graphblast_spark.descriptor import DEFAULT_DESC
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    roots = g.vertices.orderBy("id").limit(64).select("id")
    h = (
        multi_source_bfs(g, roots, desc=DEFAULT_DESC.with_(max_niter=8))
        .filter(F.col("depth") >= 1)
        .groupBy(F.col("root").alias("id"))
        .agg(F.sum(1.0 / F.col("depth")).alias("h"))
    )
    return (
        roots.join(h, "id", "left")
        .select("id", F.round(F.coalesce("h", F.lit(0.0)), 6).alias("harmonic"))
    )


def q_g_spam_mass(spark, sf_dir):
    """TrustRank + relative spam mass (Gyöngyi et al. 2004/2006) on
    the copurchase graph with the 4 lowest-id vertices as the trusted
    core — the web-spam pair of power iterations sharing one
    pagerank_prep."""
    from graphblast_spark.algorithms.pagerank import spam_mass

    g = copurchase_graph(spark, sf_dir)
    seeds = g.vertices.orderBy("id").limit(4)
    return spam_mass(g, seeds, fixed_iters=10).select(
        "id",
        F.round("pr", 6).alias("pr"),
        F.round("trust", 6).alias("trust"),
        F.round("spam_mass", 6).alias("spam_mass"),
    )


def q_g_kcore(spark, sf_dir):
    from graphblast_spark.algorithms import k_core

    g = copurchase_graph(spark, sf_dir)
    return k_core(g, k=64, fixed_rounds=2).select(
        "id", F.col("in_core").cast("long").alias("in_core")
    )


def q_g_coreness(spark, sf_dir):
    """Full core decomposition (per-vertex coreness) via the h-index
    iteration (algorithms/kcore.py core_decomposition), pinned at a
    FIXED 3 rounds — deterministic and unrolled-SQL-replayable (the
    lp_majority posture); convergence-to-exact-coreness is pytest-
    pinned against a python peel oracle (tests/test_coreness.py)."""
    from graphblast_spark.algorithms import core_decomposition

    g = copurchase_graph(spark, sf_dir)
    return core_decomposition(g, fixed_rounds=3).select("id", "coreness")


def q_g_salsa(spark, sf_dir):
    """SALSA degree-normalized hubs/authorities (Lempel-Moran 2000,
    algorithms/salsa.py) on the directed order-sequence graph — the
    fixture with real cycle/hub structure; 3 dual half-steps with L1
    normalization, unrolled-SQL oracle (the g_hits posture)."""
    from graphblast_spark.algorithms import salsa
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    return salsa(g, fixed_iters=3).select(
        "id", F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def q_g_salsa_seeded(spark, sf_dir):
    """Query-dependent SALSA (Lempel-Moran §6): initial hub mass on
    the 4 lowest-id vertices only — authority as seen from that seed
    neighborhood; 3 half-steps, same unrolled-SQL oracle family."""
    from graphblast_spark.algorithms import salsa
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    seeds = g.vertices.orderBy("id").limit(4).select("id")
    # floor(x*1e6+0.5)/1e6, not F.round: the 1/4-mass seed init yields
    # dyadic values landing EXACTLY on the .5 boundary at 6 digits,
    # where Spark (HALF_UP) and DuckDB (half-even) disagree; floor over
    # the identical IEEE expression is bit-deterministic in both.
    def r6(c):
        return F.floor(F.col(c) * 1e6 + 0.5 + 1e-6) / 1e6

    return salsa(g, fixed_iters=3, seeds=seeds).select(
        "id", r6("hub").alias("hub"), r6("authority").alias("authority"),
    )


def q_g_katz(spark, sf_dir):
    """Katz centrality (algorithms/katz.py): x ← beta + alpha·Aᵀx at a
    FIXED 3 iterations on the directed order-sequence graph — the
    attenuated-walk-count ranker completing the PageRank/HITS/SALSA
    link-analysis family; oracle is the unrolled-CTE affine recurrence."""
    from graphblast_spark.algorithms import katz_centrality
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    return katz_centrality(g, alpha=0.05, beta=1.0, fixed_iters=3).select(
        "id", F.round("katz", 6).alias("katz")
    )


def q_g_eigenvector(spark, sf_dir):
    """Eigenvector centrality (algorithms/katz.py): L2-normalized
    power iteration x ← Aᵀx/‖Aᵀx‖ at a FIXED 4 iterations on the
    directed order-sequence graph — the undamped principal-eigenvector
    limit of the katz/pagerank family; oracle is the unrolled-CTE
    recurrence with one norm CTE per step."""
    from graphblast_spark.algorithms import eigenvector_centrality
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    return eigenvector_centrality(g, fixed_iters=4).select(
        "id", F.round("eigen", 6).alias("eigen")
    )


def q_g_louvain(spark, sf_dir):
    """Louvain community detection (algorithms/louvain.py) at the
    contract form — ONE level, TWO gated synchronous local-move
    rounds on the directed order-sequence graph (parity + Grappolo
    singleton gates make the parallel moves deterministic). The
    multi-level contraction path and modularity convergence are
    pytest-pinned (tests/test_louvain.py); oracle is the unrolled
    CTE replay of both move rounds' gain arithmetic."""
    from graphblast_spark.algorithms import louvain
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g = ordseq_graph(spark, sf_dir)
    return louvain(g, levels=1, move_rounds=2)


def q_g_trussness(spark, sf_dir):
    """Full truss decomposition (per-edge trussness) via the edge
    h-index iteration (algorithms/ktruss.py truss_decomposition),
    pinned at a FIXED 2 rounds — deterministic and unrolled-SQL-
    replayable; convergence-to-exact-trussness is pytest-pinned
    against a python peel oracle (tests/test_ktruss.py)."""
    from graphblast_spark.algorithms import truss_decomposition

    g = copurchase_graph(spark, sf_dir)
    return truss_decomposition(g, fixed_rounds=2).select("a", "b", "trussness")


def q_g_transitivity(spark, sf_dir):
    """Global clustering coefficient 3·T/W (algorithms/stats.py
    global_transitivity) — the scalar companion of g_lcc."""
    from graphblast_spark.algorithms import global_transitivity

    g = copurchase_graph(spark, sf_dir)
    return global_transitivity(g)


def q_g_closeness(spark, sf_dir):
    from graphblast_spark.algorithms import closeness_centrality

    g = copurchase_graph(spark, sf_dir)
    srcs = g.vertices.orderBy("id").limit(4)
    return closeness_centrality(g, sources=srcs.select("id")).select(
        "id", F.round("closeness", 6).alias("closeness")
    )


def q_g_diameter(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    srcs = g.vertices.orderBy("id").limit(4)
    visited = multi_source_bfs(g, srcs)
    return visited.agg(F.max("depth").cast("long").alias("diameter"))


def q_g_random_walks(spark, sf_dir):
    from graphblast_spark.algorithms.walks import random_walks

    g = copurchase_graph(spark, sf_dir)
    return random_walks(g, n_roots=48, walk_length=6).select("walk_id", "step", "id")


def q_g_node2vec(spark, sf_dir):
    """node2vec second-order biased walks (algorithms/walks.py
    node2vec_walks, Grover & Leskovec 2016) at p=2, q=0.5 (depth-
    seeking), 32 roots × 4 steps on the copurchase graph. The bias
    weights are integer-quantized (360360/p etc) and the pick is an
    exact-int64 first-prefix-crossing scan, so the oracle replays the
    walks bit-for-bit with a window prefix-sum + edge-existence
    EXISTS per unrolled step."""
    from graphblast_spark.algorithms.walks import node2vec_walks

    g = copurchase_graph(spark, sf_dir)
    return node2vec_walks(
        g, n_roots=32, walk_length=4, p=2.0, q=0.5
    ).select("walk_id", "step", "id")


def q_g_mst(spark, sf_dir):
    """Borůvka minimum spanning forest (algorithms/mst.py) run to FULL
    convergence on a graph whose MSF is known in closed form: a
    weight-1 chain over the sorted part ids plus the copurchase edges
    at weight 5 — every w=5 edge closes a cycle, so the unique MSF is
    exactly the chain. The engine must genuinely run the multi-round
    min-edge-selection + CC-union loop (a chain contracts in O(log V)
    rounds); general weighted correctness vs a python Kruskal replay
    is pytest-pinned (tests/test_mst.py)."""
    from pyspark.sql.window import Window

    from graphblast_spark.algorithms import minimum_spanning_forest
    from graphblast_spark.sources.tpch_graphs import copurchase_graph

    cg = copurchase_graph(spark, sf_dir)
    ids = cg.vertices.select("id")
    chain = (
        ids.withColumn("nxt", F.lead("id").over(Window.orderBy("id")))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("id").alias("src"), F.col("nxt").alias("dst"),
                F.lit(1.0).alias("val"))
    )
    extra = cg.edges.select("src", "dst", F.lit(5.0).alias("val"))
    # dedup=False: 111 (src,dst) pairs exist in BOTH the w=1 chain and
    # the w=5 extras at sf0.01; Graph.build's dropDuplicates keeps an
    # arbitrary one, while the algorithm's _canonical_weighted
    # min-collapses parallel edges deterministically (w=1 wins, the
    # oracle's assumption) — so conflicts must reach the algorithm.
    g = Graph.build(chain.unionByName(extra), vertices=ids,
                    dedup=False, drop_self_loops=False)
    out = minimum_spanning_forest(g)
    g.unpersist()
    return out.select("a", "b", "w")


def q_g_nbr_sample(spark, sf_dir):
    from graphblast_spark.algorithms.walks import neighborhood_sample

    g = copurchase_graph(spark, sf_dir)
    return neighborhood_sample(g, n_roots=32, fanouts=(3, 2)).select(
        "root", "layer", "id"
    )


def q_g_bfs(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    src = _min_part(spark, sf_dir)
    return bfs(g, source=src).select("id", "depth")


def q_g_sssp(spark, sf_dir):
    g = copurchase_graph(spark, sf_dir)
    gw = Graph(
        edges=g.edges.withColumn(
            "val", (((F.col("src") + F.col("dst")) % 10) + 1).cast("double")
        ),
        vertices=g.vertices, n=g.n, nvals=g.nvals,
    )
    src = _min_part(spark, sf_dir)
    return sssp(gw, source=src).select("id", F.round("dist", 6).alias("dist"))


# --- documents / training-data ops -------------------------------------

def q_d_token_count(spark, sf_dir):
    return add_token_count(_docs(spark, sf_dir)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_subwords").cast("long").alias("n_subwords"),
    )


def q_d_quality(spark, sf_dir):
    return add_quality(_docs(spark, sf_dir)).select(
        "doc_id", "punct_ratio", "stopword_ratio", "quality"
    )


def q_d_lang_id(spark, sf_dir):
    return add_lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def q_d_fingerprint(spark, sf_dir):
    return add_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fp_md5", "fp_rolling")


def q_d_repetition(spark, sf_dir):
    from graphblast_spark.functions.text import add_repetition_signals

    # the synthetic docs are single-line; splice deterministic line
    # breaks (literal replace of two frequent words — identical
    # non-overlapping left-to-right semantics in Spark and DuckDB) so
    # the duplicate-line signals are non-trivial
    txt = F.col("text")
    for w in (" table ", " value ", " query ", " a "):
        txt = F.replace(txt, F.lit(w), F.lit("\n"))
    docs = _docs(spark, sf_dir).withColumn("text", txt)
    return add_repetition_signals(docs).select(
        "doc_id", "dup_line_frac", "dup_line_char_frac",
        "dup_2gram_frac", "dup_3gram_frac", "dup_4gram_frac",
    )


def q_d_top_ngram(spark, sf_dir):
    from graphblast_spark.functions.text import top_ngram_char_frac

    return top_ngram_char_frac(_docs(spark, sf_dir), n=2).select(
        "doc_id", "top_ngram", "top_ngram_char_frac"
    )


def q_d_hash_split(spark, sf_dir):
    from graphblast_spark.functions.sampling import hash_split

    return hash_split(_docs(spark, sf_dir)).select("doc_id", "split")


def q_d_stratified(spark, sf_dir):
    from graphblast_spark.functions.sampling import stratified_sample

    # uneven per-source rates; sources outside the dict are dropped
    return stratified_sample(
        _docs(spark, sf_dir),
        fractions={"src0": 1.0, "src1": 0.5, "src5": 0.2},
    ).select("doc_id", "source")


def q_d_contamination(spark, sf_dir):
    from graphblast_spark.functions.sampling import ngram_contamination

    docs = _docs(spark, sf_dir)
    # deterministic stand-in benchmark: every 97th doc (n=4 because the
    # synthetic vocab is tiny — real pipelines use 8-13 word grams)
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    return ngram_contamination(
        docs.where(F.col("doc_id") % 97 != 0), eval_docs, n=4
    ).select("doc_id", "n_grams", "n_contaminated", "contaminated_frac")


def _synth_order_urls(spark, sf_dir):
    """Deterministic messy urls from the orders table — mixed-case
    host, default port, tracking + unsorted params, fragment — so the
    url canonicalizer has real work and DuckDB can build the identical
    input (no url column exists in the driver's tables)."""
    return spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("order_id"),
        F.concat(
            F.lit("HTTP://Site"), (F.col("o_custkey") % 37).cast("string"),
            F.lit(".Example.COM:80/Order/"), F.col("o_orderkey").cast("string"),
            F.lit("?utm_source=x&b="), (F.col("o_orderkey") % 5).cast("string"),
            F.lit("&a=1#frag"),
        ).alias("url"),
    )


def q_d_url_normalize(spark, sf_dir):
    from graphblast_spark.functions.urls import normalize_url, url_host, url_site

    u = _synth_order_urls(spark, sf_dir)
    return u.select(
        "order_id",
        normalize_url(F.col("url")).alias("url_norm"),
        url_host(F.col("url")).alias("host"),
        url_site(F.col("url")).alias("site"),
    )


def q_d_pii_redact(spark, sf_dir):
    """PII redaction (email → ipv4 → phone sequential passes) over
    documents salted with deterministic synthetic PII — the driver's
    documents are clean word-soup, so the contact block is derived from
    doc_id (DuckDB rebuilds the identical input). Kind mix varies by
    doc_id so the counts aren't constant: email on doc_id%3>0, phone on
    even doc_id, one IPv4 always."""
    from graphblast_spark.functions.pii import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    dirty = F.concat(
        F.col("text"),
        F.when(
            d % 3 > 0,
            F.concat(
                F.lit(" contact user"), s(d), F.lit("@mail"), s(d % 7),
                F.lit(".example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit(" tel +1 (555) 01"), F.lpad(s(d % 100), 2, "0")
            ),
        ).otherwise(F.lit("")),
        F.lit(" host 10."), s(d % 4), F.lit(".0."), s(d % 250),
    )
    out = redact_pii(docs.select("doc_id", dirty.alias("text")))
    return out.select(
        "doc_id", "n_pii_email", "n_pii_ipv4", "n_pii_phone", "n_pii",
        "text_redacted",
    )


def q_d_domain_graph(spark, sf_dir):
    from graphblast_spark.functions.urls import domain_edges

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.concat(
            F.lit("https://s"), (F.col("l_suppkey") % 23).cast("string"),
            F.lit(".Shop.Example:443/x"),
        ).alias("src_url"),
        F.concat(
            F.lit("https://p"), (F.col("l_partkey") % 31).cast("string"),
            F.lit(".cdn.example/y/"), F.col("l_orderkey").cast("string"),
        ).alias("dst_url"),
    )
    return domain_edges(li, by="host").select(
        "src_domain", "dst_domain", F.col("val").alias("n_links")
    )


def q_d_span_dedup(spark, sf_dir):
    """Verbatim-span dedup tier (Lee et al. 2022): per-doc duplicated-
    span profile over disjoint 3-token windows (the synthetic docs are
    single-line, so token windows stand in for paragraphs; the
    machinery is span-source-agnostic — functions/dedup.py
    span_dedup_stats / paragraph_spans)."""
    from graphblast_spark.functions.dedup import span_dedup_stats

    return span_dedup_stats(_docs(spark, sf_dir), span_tokens=3).select(
        "doc_id", "n_spans", "n_dup_spans", "dup_span_frac"
    )


def q_d_anchor_agg(spark, sf_dir):
    """Anchor-text extraction + per-target aggregation
    (sources/distill.py extract_anchors / anchor_summary) over html
    synthesized from orders — two anchors per page, 200 shared targets,
    varied anchor terms; DuckDB rebuilds the identical html and replays
    the regexes."""
    from graphblast_spark.sources.distill import anchor_summary, extract_anchors

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = lambda c: c.cast("string")  # noqa: E731
    ok, ck = F.col("o_orderkey"), F.col("o_custkey")
    html = F.concat(
        F.lit('<p>x</p><li><a href="http://t'), s(ok % 200),
        F.lit('.example.com/">order '), s(ok % 50), F.lit("</a></li>"),
        F.lit('<li><a href="http://t'), s((ok * 7) % 200),
        F.lit('.example.com/">ref '), s(ok % 31), F.lit("</a></li>"),
    )
    pages = o.select(
        F.concat(
            F.lit("http://site"), s(ck % 37), F.lit(".example.com/o/"), s(ok)
        ).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    return anchor_summary(extract_anchors(pages))


def q_d_boilerplate(spark, sf_dir):
    """CCNet-style boilerplate tier: paragraph spans recurring across
    >= 25 DISTINCT documents are stripped and the doc rebuilt. The
    synthetic docs are single-paragraph, so each gets a deterministic
    footer paragraph: two shared variants (real boilerplate, ~167 docs
    each) and a per-doc unique one (must be kept)."""
    from graphblast_spark.functions.dedup import paragraph_spans, remove_boilerplate

    d = F.col("doc_id")
    footer = (
        F.when(d % 3 == 0, F.lit("copyright example corp all rights reserved"))
        .when(d % 3 == 1, F.lit("subscribe to our newsletter for updates"))
        .otherwise(F.concat(F.lit("contact page "), d.cast("string")))
    )
    dirty = _docs(spark, sf_dir).select(
        "doc_id", F.concat_ws("\n", F.col("text"), footer).alias("text")
    )
    return remove_boilerplate(dirty, min_docs=25, spans=paragraph_spans(dirty))


def q_d_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing map (functions/
    packing.py pack_sequences): within each of 8 id-mod shards the
    documents' whitespace tokens are concatenated in doc_id order and
    cut every 64 tokens; one row per (doc × sequence) overlap. All-
    integer output — exact hash oracle via window cumsum +
    generate_series in DuckDB."""
    from graphblast_spark.functions.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=64, n_shards=8)


def q_d_packing_stats(spark, sf_dir):
    """Per-shard packing summary (functions/packing.py packing_stats):
    sequence count, boundary-crossing docs, trailing-sequence fill
    ratio for the same 64-token / 8-shard layout."""
    from graphblast_spark.functions.packing import packing_stats

    return packing_stats(_docs(spark, sf_dir), seq_len=64, n_shards=8)


def q_d_clean_corpus(spark, sf_dir):
    """The composed curation pipeline (functions/pipeline.py) end to
    end: docs 5+ are the corpus, docs 0-4 the benchmark to
    decontaminate against; near-dup tier = simhash (the SQL-replayable
    composition — the LSH+CC tier is pinned by pytest)."""
    from graphblast_spark.functions.pipeline import clean_corpus

    docs = _docs(spark, sf_dir)
    return clean_corpus(
        docs.filter(F.col("doc_id") >= 5),
        eval_docs=docs.filter(F.col("doc_id") < 5),
        keep_langs=("en", "und"),
        min_quality=0.5,
        max_dup_2gram_frac=0.5,
        near_dup="simhash",
        span_tokens=3,
        max_dup_span_frac=0.5,
        contamination_n=5,
    ).select("doc_id", "keep", "reject_reason", "split")


def q_d_exact_dedup(spark, sf_dir):
    return exact_duplicate_groups(_docs(spark, sf_dir)).select(
        "fp_md5", "n_dups", "canonical_id"
    )


def q_d_minhash_lsh(spark, sf_dir):
    sigs = minhash_signature(_docs(spark, sf_dir), k=8)
    return lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)


def q_d_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sigs = minhash_signature(docs, k=8)
    pairs = lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    return ngram_jaccard_pairs(docs, pairs, threshold=0.2)


def q_d_simhash(spark, sf_dir):
    return simhash64(_docs(spark, sf_dir), bits=60)


def q_d_simhash_hamming(spark, sf_dir):
    # Manku/Jain/Sarma WWW'07 tier: banded pigeonhole self-join finds
    # every fingerprint pair within Hamming distance 3, exactly.
    from graphblast_spark.functions.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(_docs(spark, sf_dir), bits=60, max_hamming=3)


def q_d_dedup_clusters(spark, sf_dir):
    # full pipeline: minhash → LSH → jaccard verify → CC over the
    # dup-pair graph (near-duplication isn't transitive; clusters are)
    return near_duplicate_clusters(_docs(spark, sf_dir)).select(
        "doc_id", "cluster_id", "is_canonical"
    )


def q_e_knn_cosine(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.orderBy("vec_id").limit(10)
    return brute_force_topk(emb, queries, k=5)


def q_e_ivf_knn(spark, sf_dir):
    # Deterministic IVF (centroids = first 8 vectors by id, rounded-
    # cosine cell ranking) — fully reproduced by the SQL oracle.
    emb = _emb(spark, sf_dir)
    queries = emb.orderBy("vec_id").limit(10)
    return ivf_topk(emb, queries, k=5, n_cells=8, nprobe=4, quantizer="firstn")


def q_events_window(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


def q_events_sessions(spark, sf_dir):
    from graphblast_spark.streaming.sessions import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(ev, gap_minutes=60)


def q_events_user_stats(spark, sf_dir):
    from graphblast_spark.streaming.state import running_user_stats_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return running_user_stats_batch(ev)


def q_lineitem_agg(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


# ----------------------------------------------------------------------
# Driver API
# ----------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: PageRank over the co-purchase graph at sf0.001."""
    return q_g_pagerank(spark, "/root/testdata/sf0.001")


def _stale_first(reg: dict, root: str | None = None) -> dict:
    """Reorder the contract-query registry stale-first so the driver's
    bounded per-round sweep (50 queries, registry order) re-attests
    every query within two rounds. Sort key per query: (its latest
    attested status is a pass, its latest attested round, original
    order) — so failing and never-attested queries come first, then
    passes by oldest attestation. A pass means ``rows_match``,
    ``schema_match`` and ``hash_match`` all true and no ``err``.
    Reads the ``CORRECTNESS_r*.json`` artifacts in ``root`` (default:
    this file's directory); with none present the order is unchanged.
    (VERDICT r3 process defect #4: 24 queries had never had a driver
    row and 2 stale r1 FAILs sat unre-attested after they were fixed.)"""
    import glob
    import json

    root = root or os.path.dirname(os.path.abspath(__file__))
    last: dict[str, tuple[int, bool]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
            with open(path) as fh:
                data = json.load(fh)
        except Exception:
            continue
        rows = data.get("queries", data) if isinstance(data, dict) else {}
        for k, row in rows.items():
            if rnd >= last.get(k, (-1, False))[0]:
                ok = isinstance(row, dict) and row.get("err") is None and all(
                    row.get(f) is True for f in ("rows_match", "schema_match", "hash_match")
                )
                last[k] = (rnd, ok)
    names = list(reg)

    def key(i):
        rnd, ok = last.get(names[i], (-1, False))
        return ok, rnd, i

    return {names[i]: reg[names[i]] for i in sorted(range(len(names)), key=key)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _stale_first({
        "g_build": q_g_build,
        "g_degrees": q_g_degrees,
        "g_vecmat_spmv": q_g_vecmat_spmv,
        "g_vecmat_kernel": q_g_vecmat_kernel,
        "g_accum_vxm": q_g_accum_vxm,
        "g_vecmat_minplus": q_g_vecmat_minplus,
        "g_vecmat_masked": q_g_vecmat_masked,
        "g_ewise_mult": q_g_ewise_mult,
        "g_ewise_add": q_g_ewise_add,
        "g_reduce_rowwise": q_g_reduce_rowwise,
        "g_reduce_scalar": q_g_reduce_scalar,
        "g_tril": q_g_tril,
        "g_transpose": q_g_transpose,
        "g_tc": q_g_tc,
        "g_tc_approx": q_g_tc_approx,
        "g_matching": q_g_matching,
        "g_common_neighbors": q_g_common_neighbors,
        "g_trace": q_g_trace,
        "g_pagerank": q_g_pagerank,
        "g_pagerank_weighted": q_g_pagerank_weighted,
        "g_pagerank_dangling": q_g_pagerank_dangling,
        "g_cc": q_g_cc,
        "g_cc_incremental": q_g_cc_incremental,
        "g_scc": q_g_scc,
        "g_bowtie": q_g_bowtie,
        "g_condensation": q_g_condensation,
        "g_edge_support": q_g_edge_support,
        "g_lp_majority": q_g_lp_majority,
        "g_lp_min": q_g_lp_min,
        "g_modularity": q_g_modularity,
        "g_degree_hist": q_g_degree_hist,
        "g_reciprocity": q_g_reciprocity,
        "g_assortativity": q_g_assortativity,
        "g_lcc": q_g_lcc,
        "g_bfs": q_g_bfs,
        "g_sssp": q_g_sssp,
        "g_mis": q_g_mis,
        "g_coloring": q_g_coloring,
        "g_coloring_jp": q_g_coloring_jp,
        "g_coloring_spec": q_g_coloring_spec,
        "g_mxm_2hop": q_g_mxm_2hop,
        "g_ewise_add_mat": q_g_ewise_add_mat,
        "g_ewise_mult_scalar": q_g_ewise_mult_scalar,
        "g_apply_unary": q_g_apply_unary,
        "g_set_element": q_g_set_element,
        "g_assign_indexed": q_g_assign_indexed,
        "g_assign_scatter": q_g_assign_scatter,
        "g_apply_vxm": q_g_apply_vxm,
        "g_assign_masked": q_g_assign_masked,
        "g_scatter": q_g_scatter,
        "g_extract_subvector": q_g_extract_subvector,
        "g_extract_submatrix": q_g_extract_submatrix,
        "g_linkpred": q_g_linkpred,
        "g_count_unique": q_g_count_unique,
        "g_ewise_mult_mv": q_g_ewise_mult_mv,
        "g_reduce_vec_scalar": q_g_reduce_vec_scalar,
        "g_lgc": q_g_lgc,
        "g_random_walks": q_g_random_walks,
        "g_nbr_sample": q_g_nbr_sample,
        "g_msbfs": q_g_msbfs,
        "g_diameter": q_g_diameter,
        "g_closeness": q_g_closeness,
        "g_kcore": q_g_kcore,
        "g_coreness": q_g_coreness,
        "g_trussness": q_g_trussness,
        "g_transitivity": q_g_transitivity,
        "g_hits": q_g_hits,
        "g_salsa": q_g_salsa,
        "g_salsa_seeded": q_g_salsa_seeded,
        "g_katz": q_g_katz,
        "g_eigenvector": q_g_eigenvector,
        "g_louvain": q_g_louvain,
        "g_node2vec": q_g_node2vec,
        "g_mst": q_g_mst,
        "g_betweenness": q_g_betweenness,
        "g_ppr": q_g_ppr,
        "g_spam_mass": q_g_spam_mass,
        "g_anf": q_g_anf,
        "g_harmonic": q_g_harmonic,
        "d_token_count": q_d_token_count,
        "d_quality": q_d_quality,
        "d_lang_id": q_d_lang_id,
        "d_fingerprint": q_d_fingerprint,
        "d_repetition": q_d_repetition,
        "d_top_ngram": q_d_top_ngram,
        "d_hash_split": q_d_hash_split,
        "d_stratified": q_d_stratified,
        "d_contamination": q_d_contamination,
        "d_url_normalize": q_d_url_normalize,
        "d_pii_redact": q_d_pii_redact,
        "d_domain_graph": q_d_domain_graph,
        "d_span_dedup": q_d_span_dedup,
        "d_boilerplate": q_d_boilerplate,
        "d_anchor_agg": q_d_anchor_agg,
        "d_clean_corpus": q_d_clean_corpus,
        "d_pack_sequences": q_d_pack_sequences,
        "d_packing_stats": q_d_packing_stats,
        "d_exact_dedup": q_d_exact_dedup,
        "d_minhash_lsh": q_d_minhash_lsh,
        "d_jaccard": q_d_jaccard,
        "d_simhash": q_d_simhash,
        "d_simhash_hamming": q_d_simhash_hamming,
        "d_dedup_clusters": q_d_dedup_clusters,
        "e_knn_cosine": q_e_knn_cosine,
        "e_ivf_knn": q_e_ivf_knn,
        "e_cosine_neardup": q_e_cosine_neardup,
        "e_dedup_clusters": q_e_dedup_clusters,
        "m_frame_sample": q_m_frame_sample,
        "m_decode_stats": q_m_decode_stats,
        "m_byte_hist": q_m_byte_hist,
        "m_resize": q_m_resize,
        "q_events_window": q_events_window,
        "q_events_user_stats": q_events_user_stats,
        "q_events_sessions": q_events_sessions,
        "q_lineitem_agg": q_lineitem_agg,
    })


# ----------------------------------------------------------------------
# DuckDB oracles
# ----------------------------------------------------------------------

_EDGES = f"edges AS ({SQL_COPURCHASE_EDGES})"
_VERTICES = f"vertices AS ({SQL_COPURCHASE_VERTICES})"
_PS_EDGES = f"ps_edges AS ({SQL_PARTSUPP_EDGES})"
_PS_VERTICES = f"ps_vertices AS ({SQL_PARTSUPP_VERTICES})"

# Tokenizer/shingle CTEs shared by the documents oracles (must stay in
# lockstep with functions/text.py tokens() and functions/dedup.py shingles()).
_TOKS = r"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
)"""
_SHINGLES = """
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(generate_series(1, len(t)-2),
                               i -> array_to_string(t[i:i+2], ' '))
           ELSE [array_to_string(t, ' ')] END) AS s
  FROM toks
)"""


def _sql_minhash_sig(k: int = 8) -> str:
    """Mirror of functions/dedup.py minhash_signature: base hash =
    first-60-md5-bits mod P, then k affine permutations (a_j·h+b_j)%P
    with minhash_params coefficients."""
    from graphblast_spark.functions.dedup import MINHASH_P, minhash_params

    mins = ",\n    ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {MINHASH_P}))"
        for a, b in minhash_params(k)
    )
    return (
        "hsx AS (\n  SELECT doc_id, list_transform(s, x -> "
        f"CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % {MINHASH_P}) AS hs FROM sh\n),\n"
        f"sig AS (\n  SELECT doc_id, [{mins}] AS sg FROM hsx\n)"
    )


def _sql_lsh_pairs(bands: int = 4, rows: int = 2) -> str:
    band_rows = ", ".join(f"({b})" for b in range(bands))
    return f"""
banded AS (
  SELECT doc_id, b.band AS band,
         array_to_string(sg[b.band*{rows}+1 : b.band*{rows}+{rows}], ',') AS bkey
  FROM sig, (VALUES {band_rows}) b(band)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM banded l JOIN banded r ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
)"""


def _sql_simhash(bits: int = 60) -> str:
    votes = "\n      + ".join(
        f"CASE WHEN coalesce(list_sum(list_transform(hs, "
        f"h -> CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE -1 END)), 0) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""
WITH {_TOKS},
th AS (
  SELECT doc_id,
         list_transform(list_distinct(t),
                        x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs
  FROM toks
)
SELECT doc_id, ({votes}) AS simhash FROM th
"""


def _sql_simhash_hamming(bits: int = 60, max_hamming: int = 3) -> str:
    """Replay of dedup.py simhash_hamming_pairs: same fingerprints as
    _sql_simhash, banded into max_hamming+1 contiguous bit slices, a
    per-band self-join (the pigeonhole probe), bit_count(xor) verify."""
    nbands = max_hamming + 1
    w = bits // nbands
    widths = [w] * (nbands - 1) + [bits - w * (nbands - 1)]
    band_case = " ".join(
        f"WHEN {i} THEN (simhash >> {w * i}) & {(1 << wd) - 1}"
        for i, wd in enumerate(widths)
    )
    votes = "\n      + ".join(
        f"CASE WHEN coalesce(list_sum(list_transform(hs, "
        f"h -> CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE -1 END)), 0) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""
WITH {_TOKS},
th AS (
  SELECT doc_id,
         list_transform(list_distinct(t),
                        x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs
  FROM toks
),
sh AS (SELECT doc_id, ({votes}) AS simhash FROM th),
bd AS (
  SELECT doc_id, simhash, i AS band,
         CASE i {band_case} END AS bval
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {nbands - 1})) AS i)
)
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
FROM bd l JOIN bd r
  ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
"""


def _sql_clean_corpus() -> str:
    """Replay of functions/pipeline.py clean_corpus with the contract
    config (docs 5+ vs eval docs 0-4, simhash near-dup tier): the full
    stage chain — lang/quality/char-weighted-repetition signals, then
    exact → simhash → span dedup and 5-gram decontamination each over
    the previous stage's survivors — as one CTE cascade."""
    votes = "\n          + ".join(
        f"CASE WHEN coalesce(list_sum(list_transform(hs, "
        f"h -> CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE -1 END)), 0) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(60)
    )
    return rf"""
    WITH docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id >= 5),
    tk AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t,
             list_sort(list_filter(string_split(text, chr(10)), x -> x <> '')) AS l
      FROM docs0
    ),
    sig AS (
      SELECT doc_id, text, t, l,
        CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')))
                  / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio,
        CASE WHEN len(t) > 0
             THEN len(list_filter(t, x -> x IN ('the','and','of','to','is')))
                  / CAST(len(t) AS DOUBLE) ELSE 0.0 END AS stop_ratio,
        len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS en,
        len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS de,
        len(list_filter(t, x -> x IN ('le','la','et','les','est'))) AS fr,
        list_sort(CASE WHEN len(t) >= 2 THEN list_transform(
          generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1]) ELSE [] END) AS g2
      FROM tk
    ),
    sig2 AS (
      SELECT doc_id, text, t, l, g2,
        round(least(len(t) / CAST(100.0 AS DOUBLE), 1.0) * 0.4
              + (1.0 - least(punct_ratio * 4, 1.0)) * 0.3
              + least(stop_ratio * 4, 1.0) * 0.3, 6) AS quality,
        CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
             WHEN de >= fr AND de > 0 THEN 'de'
             WHEN fr > 0 THEN 'fr' ELSE 'und' END AS lang_pred,
        list_filter(list_transform(generate_series(1, len(g2)),
          i -> CASE WHEN (i > 1 AND g2[i] = g2[i-1]) OR (i < len(g2) AND g2[i] = g2[i+1])
               THEN g2[i] END), x -> x IS NOT NULL) AS d2
      FROM sig
    ),
    r1 AS (
      SELECT doc_id, text, t,
        CASE WHEN lang_pred NOT IN ('en','und') THEN 'lang'
             WHEN quality < 0.5 THEN 'quality'
             WHEN (CASE WHEN len(l) > 0 THEN round(
                     len(list_filter(list_transform(generate_series(1, len(l)),
                       i -> CASE WHEN (i > 1 AND l[i] = l[i-1])
                                   OR (i < len(l) AND l[i] = l[i+1])
                            THEN l[i] END), x -> x IS NOT NULL))
                     / CAST(len(l) AS DOUBLE), 6)
                   ELSE 0.0 END) > 0.3
               OR (CASE WHEN coalesce(list_sum(list_transform(g2, x -> length(x))), 0) > 0
                   THEN round(coalesce(list_sum(list_transform(d2, x -> length(x))), 0)
                        / CAST(list_sum(list_transform(g2, x -> length(x))) AS DOUBLE), 6)
                   ELSE 0.0 END) > 0.5 THEN 'repetition'
        END AS reason
      FROM sig2
    ),
    ex AS (SELECT doc_id, md5(text) AS fp FROM r1 WHERE reason IS NULL),
    exc AS (SELECT fp, min(doc_id) AS c FROM ex GROUP BY fp),
    r2 AS (
      SELECT r1.doc_id, r1.text, r1.t,
        coalesce(r1.reason, CASE WHEN ex.doc_id IS NOT NULL AND ex.doc_id <> exc.c
                            THEN 'exact_dup' END) AS reason
      FROM r1 LEFT JOIN ex ON r1.doc_id = ex.doc_id LEFT JOIN exc ON ex.fp = exc.fp
    ),
    th AS (
      SELECT doc_id, list_transform(list_distinct(t),
             x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs
      FROM r2 WHERE reason IS NULL
    ),
    sh AS (SELECT doc_id, ({votes}) AS simhash FROM th),
    shc AS (SELECT simhash, min(doc_id) AS c FROM sh GROUP BY simhash),
    r3 AS (
      SELECT r2.doc_id, r2.text, r2.t,
        coalesce(r2.reason, CASE WHEN sh.doc_id IS NOT NULL AND sh.doc_id <> shc.c
                            THEN 'near_dup' END) AS reason
      FROM r2 LEFT JOIN sh ON r2.doc_id = sh.doc_id
              LEFT JOIN shc ON sh.simhash = shc.simhash
    ),
    w AS (
      SELECT doc_id, CASE WHEN len(t) >= 3 THEN list_transform(
               generate_series(1, len(t)-2, 3), i -> array_to_string(t[i:i+2], ' '))
             WHEN len(t) > 0 THEN [array_to_string(t, ' ')] ELSE [] END AS ws
      FROM r3 WHERE reason IS NULL
    ),
    occ0 AS (SELECT doc_id, unnest(ws) AS span FROM w),
    occ AS (SELECT doc_id, md5(span) AS h, length(span) AS c FROM occ0),
    cnt AS (SELECT h, count(*) AS n FROM occ GROUP BY h),
    pd AS (
      SELECT occ.doc_id AS doc_id,
             sum(c) AS tc, sum(CASE WHEN n >= 2 THEN c ELSE 0 END) AS dc
      FROM occ JOIN cnt ON occ.h = cnt.h GROUP BY occ.doc_id
    ),
    r4 AS (
      SELECT r3.doc_id, r3.t,
        coalesce(r3.reason, CASE WHEN pd.doc_id IS NOT NULL AND
          round(CASE WHEN coalesce(pd.tc, 0) > 0
                THEN pd.dc / CAST(pd.tc AS DOUBLE) ELSE 0.0 END, 6) > 0.5
          THEN 'span_dup' END) AS reason
      FROM r3 LEFT JOIN pd ON r3.doc_id = pd.doc_id
    ),
    ev AS (
      SELECT DISTINCT gram FROM (
        SELECT unnest(CASE WHEN len(t) >= 5 THEN list_transform(
          generate_series(1, len(t)-4), i -> array_to_string(t[i:i+4], ' '))
          ELSE [] END) AS gram
        FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
              FROM documents WHERE doc_id < 5)
      )
    ),
    dg AS (
      SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN list_transform(
        generate_series(1, len(t)-4), i -> array_to_string(t[i:i+4], ' '))
        ELSE [] END) AS gram
      FROM r4 WHERE reason IS NULL
    ),
    hit AS (SELECT DISTINCT dg.doc_id FROM dg JOIN ev ON dg.gram = ev.gram),
    r5 AS (
      SELECT r4.doc_id,
        coalesce(r4.reason,
                 CASE WHEN hit.doc_id IS NOT NULL THEN 'contaminated' END) AS reason
      FROM r4 LEFT JOIN hit ON r4.doc_id = hit.doc_id
    )
    SELECT doc_id,
           reason IS NULL AS keep,
           reason AS reject_reason,
           CASE WHEN reason IS NULL THEN
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 1000000 < 900000 THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 1000000 < 950000 THEN 'val'
                  ELSE 'test' END
           END AS split
    FROM r5"""


_SQL_QUALITY = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct
  FROM documents
), r AS (
  SELECT doc_id,
         len(t) AS n_tok,
         len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS n_stop,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS DOUBLE) / len(t) ELSE 0.0 END AS stop_ratio
  FROM base
)
SELECT doc_id,
       round(punct_ratio, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round(least(n_tok / CAST(100.0 AS DOUBLE), 1.0) * 0.4
             + (1.0 - least(punct_ratio * 4, 1.0)) * 0.3
             + least(stop_ratio * 4, 1.0) * 0.3, 6) AS quality
FROM r
"""

_SQL_LANG = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), s AS (
  SELECT doc_id,
         len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS en,
         len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS de,
         len(list_filter(t, x -> x IN ('le','la','et','les','est'))) AS fr
  FROM base
)
SELECT doc_id,
       CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
            WHEN de >= fr AND de > 0 THEN 'de'
            WHEN fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM s
"""

_SQL_COSINE = """
round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 6)
"""


# LCG weight shared by the MIS / coloring oracles (must stay in lockstep
# with graphblast_spark/algorithms/mis.py lcg_weight — an injective map on
# the Mersenne prime 2^31−1, so no ties).
_SQL_LCG_W = "(id * 1103515245 + 12345) % 2147483647 + 1"

# Materialized variants for the unrolled iterative oracles: DuckDB
# inlines plain CTEs, so a 10-round unrolling would rescan the lineitem
# self-join ~20× and exhaust file handles.
_EDGES_MAT = f"edges AS MATERIALIZED ({SQL_COPURCHASE_EDGES})"
_VERTICES_MAT = f"vertices AS MATERIALIZED ({SQL_COPURCHASE_VERTICES})"


def _sql_mis(rounds: int = 10) -> str:
    """Luby MIS (mis.hpp:23-141 loop) unrolled to a fixed round count —
    identical rounds to the Spark side's ``mis(fixed_rounds=rounds)``."""
    parts = [
        f"w0 AS MATERIALIZED (SELECT id, {_SQL_LCG_W} AS w FROM vertices)",
        "cand0 AS MATERIALIZED (SELECT id, w FROM w0)",
        "mis0 AS MATERIALIZED (SELECT id FROM vertices WHERE 1=0)",
    ]
    for k in range(rounds):
        parts += [
            f"m{k} AS MATERIALIZED (SELECT e.dst AS id, max(c.w) AS m FROM edges e "
            f"JOIN cand{k} c ON e.src = c.id GROUP BY e.dst)",
            f"win{k} AS MATERIALIZED (SELECT c.id FROM cand{k} c LEFT JOIN m{k} ON c.id = m{k}.id "
            f"WHERE m{k}.m IS NULL OR c.w > m{k}.m)",
            f"mis{k + 1} AS MATERIALIZED (SELECT id FROM mis{k} UNION ALL SELECT id FROM win{k})",
            f"nbr{k} AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM edges e "
            f"JOIN win{k} wk ON e.src = wk.id)",
            f"cand{k + 1} AS MATERIALIZED (SELECT c.id, c.w FROM cand{k} c "
            f"LEFT JOIN win{k} w2 ON c.id = w2.id "
            f"LEFT JOIN nbr{k} nb ON c.id = nb.id "
            f"WHERE w2.id IS NULL AND nb.id IS NULL)",
        ]
    return (
        f"WITH {_EDGES_MAT}, {_VERTICES_MAT},\n" + ",\n".join(parts) +
        f"\nSELECT v.id, CAST(CASE WHEN mm.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_mis"
        f"\nFROM vertices v LEFT JOIN mis{rounds} mm ON v.id = mm.id"
    )


def _sql_coloring(rounds: int = 4) -> str:
    """Greedy-IS coloring (gc.hpp:16-150) unrolled; color = 1-based
    round, 0 = still uncolored after ``rounds``."""
    parts = [
        f"w0 AS MATERIALIZED (SELECT id, {_SQL_LCG_W} AS w FROM vertices)",
        "cand0 AS MATERIALIZED (SELECT id, w FROM w0)",
        "col0 AS MATERIALIZED (SELECT id, 0 AS color FROM vertices WHERE 1=0)",
    ]
    for k in range(rounds):
        parts += [
            f"m{k} AS MATERIALIZED (SELECT e.dst AS id, max(c.w) AS m FROM edges e "
            f"JOIN cand{k} c ON e.src = c.id GROUP BY e.dst)",
            f"win{k} AS MATERIALIZED (SELECT c.id FROM cand{k} c LEFT JOIN m{k} ON c.id = m{k}.id "
            f"WHERE m{k}.m IS NULL OR c.w > m{k}.m)",
            f"col{k + 1} AS MATERIALIZED (SELECT id, color FROM col{k} "
            f"UNION ALL SELECT id, {k + 1} AS color FROM win{k})",
            f"cand{k + 1} AS MATERIALIZED (SELECT c.id, c.w FROM cand{k} c "
            f"LEFT JOIN win{k} w2 ON c.id = w2.id WHERE w2.id IS NULL)",
        ]
    return (
        f"WITH {_EDGES_MAT}, {_VERTICES_MAT},\n" + ",\n".join(parts) +
        f"\nSELECT v.id, CAST(coalesce(cc.color, 0) AS BIGINT) AS color"
        f"\nFROM vertices v LEFT JOIN col{rounds} cc ON v.id = cc.id"
    )


def _sql_coloring_jp(rounds: int = 3) -> str:
    """Jones-Plassmann coloring (gc.hpp:160-406 loop) unrolled: same
    winner rule as the IS variant, but a winner takes the smallest
    color absent from its already-colored neighborhood (min over
    {1..|used|+1} ∖ used) instead of the round number."""
    parts = [
        f"w0 AS MATERIALIZED (SELECT id, {_SQL_LCG_W} AS w FROM vertices)",
        "cand0 AS MATERIALIZED (SELECT id, w FROM w0)",
        "col0 AS MATERIALIZED (SELECT id, 0 AS color FROM vertices WHERE 1=0)",
    ]
    for k in range(rounds):
        parts += [
            f"m{k} AS MATERIALIZED (SELECT e.dst AS id, max(c.w) AS m FROM edges e "
            f"JOIN cand{k} c ON e.src = c.id GROUP BY e.dst)",
            f"win{k} AS MATERIALIZED (SELECT c.id FROM cand{k} c LEFT JOIN m{k} ON c.id = m{k}.id "
            f"WHERE m{k}.m IS NULL OR c.w > m{k}.m)",
            f"nc{k} AS MATERIALIZED (SELECT w.id, list(DISTINCT cc.color) AS used "
            f"FROM win{k} w JOIN edges e ON e.dst = w.id "
            f"JOIN col{k} cc ON cc.id = e.src GROUP BY w.id)",
            f"asg{k} AS MATERIALIZED (SELECT w.id, CAST(coalesce("
            f"list_min(list_filter(generate_series(1, len(n.used) + 1), "
            f"x -> NOT list_contains(n.used, x))), 1) AS INT) AS color "
            f"FROM win{k} w LEFT JOIN nc{k} n ON w.id = n.id)",
            f"col{k + 1} AS MATERIALIZED (SELECT id, color FROM col{k} "
            f"UNION ALL SELECT id, color FROM asg{k})",
            f"cand{k + 1} AS MATERIALIZED (SELECT c.id, c.w FROM cand{k} c "
            f"LEFT JOIN win{k} w2 ON c.id = w2.id WHERE w2.id IS NULL)",
        ]
    return (
        f"WITH {_EDGES_MAT}, {_VERTICES_MAT},\n" + ",\n".join(parts) +
        f"\nSELECT v.id, CAST(coalesce(cc.color, 0) AS BIGINT) AS color"
        f"\nFROM vertices v LEFT JOIN col{rounds} cc ON v.id = cc.id"
    )


def _sql_hits(iters: int = 3) -> str:
    """HITS dual power iteration unrolled (algorithms/hits.py): per
    iteration authority = L1-normalized in-link hub sum, then hub =
    L1-normalized out-link authority sum, density restored over the
    full vertex universe."""
    parts = [
        "h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) / "
        "(SELECT count(*) FROM ps_vertices) AS v FROM ps_vertices)",
    ]
    for k in range(iters):
        parts += [
            f"ra{k} AS MATERIALIZED (SELECT pv.id, coalesce(s.c, CAST(0.0 AS DOUBLE)) AS c "
            f"FROM ps_vertices pv LEFT JOIN (SELECT e.dst AS id, sum(h.v) AS c "
            f"FROM ps_edges e JOIN h{k} h ON e.src = h.id GROUP BY e.dst) s ON pv.id = s.id)",
            f"a{k + 1} AS MATERIALIZED (SELECT id, c / (SELECT sum(c) FROM ra{k}) AS v FROM ra{k})",
            f"rh{k} AS MATERIALIZED (SELECT pv.id, coalesce(s.c, CAST(0.0 AS DOUBLE)) AS c "
            f"FROM ps_vertices pv LEFT JOIN (SELECT e.src AS id, sum(a.v) AS c "
            f"FROM ps_edges e JOIN a{k + 1} a ON e.dst = a.id GROUP BY e.src) s ON pv.id = s.id)",
            f"h{k + 1} AS MATERIALIZED (SELECT id, c / (SELECT sum(c) FROM rh{k}) AS v FROM rh{k})",
        ]
    return (
        f"WITH {_PS_EDGES}, {_PS_VERTICES},\n" + ",\n".join(parts) +
        f"\nSELECT h.id, round(h.v, 6) AS hub, round(a.v, 6) AS authority"
        f"\nFROM h{iters} h JOIN a{iters} a ON h.id = a.id"
    )


def _sql_salsa(iters: int = 3, seed_limit: int | None = None) -> str:
    """SALSA dual power iteration unrolled (algorithms/salsa.py): like
    _sql_hits but each contribution is degree-normalized — multiplied
    by (1.0 / deg) rather than divided, matching the Spark side's
    precomputed edge weight bit-for-bit (x/d and x*(1/d) differ in the
    last ulp); runs on the directed order-sequence graph. With
    ``seed_limit`` the initial hub mass is 1/k on the k lowest-id
    vertices (query-dependent SALSA, the q_g_salsa_seeded contract)."""
    if seed_limit is None:
        h0 = ("h0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) / "
              "(SELECT count(*) FROM ov) AS v FROM ov)")
        seed_cte = []
    else:
        seed_cte = [
            f"sd AS MATERIALIZED (SELECT id FROM ov ORDER BY id LIMIT {seed_limit})",
        ]
        h0 = ("h0 AS MATERIALIZED (SELECT v.id, CASE WHEN s.id IS NOT NULL "
              "THEN CAST(1.0 AS DOUBLE) / (SELECT count(*) FROM sd) "
              "ELSE CAST(0.0 AS DOUBLE) END AS v "
              "FROM ov v LEFT JOIN sd s ON v.id = s.id)")
    parts = [
        "ov AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM oe UNION ALL SELECT dst FROM oe))",
        "odeg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM oe GROUP BY src)",
        "ideg AS MATERIALIZED (SELECT dst AS id, count(*) AS d FROM oe GROUP BY dst)",
        *seed_cte,
        h0,
    ]
    for k in range(iters):
        parts += [
            f"ra{k} AS MATERIALIZED (SELECT v.id, coalesce(s.c, CAST(0.0 AS DOUBLE)) AS c "
            f"FROM ov v LEFT JOIN (SELECT e.dst AS id, "
            f"sum(h.v * (CAST(1.0 AS DOUBLE) / od.d)) AS c "
            f"FROM oe e JOIN h{k} h ON e.src = h.id "
            f"JOIN odeg od ON e.src = od.id GROUP BY e.dst) s ON v.id = s.id)",
            f"a{k + 1} AS MATERIALIZED (SELECT id, c / (SELECT sum(c) FROM ra{k}) AS v FROM ra{k})",
            f"rh{k} AS MATERIALIZED (SELECT v.id, coalesce(s.c, CAST(0.0 AS DOUBLE)) AS c "
            f"FROM ov v LEFT JOIN (SELECT e.src AS id, "
            f"sum(a.v * (CAST(1.0 AS DOUBLE) / idg.d)) AS c "
            f"FROM oe e JOIN a{k + 1} a ON e.dst = a.id "
            f"JOIN ideg idg ON e.dst = idg.id GROUP BY e.src) s ON v.id = s.id)",
            f"h{k + 1} AS MATERIALIZED (SELECT id, c / (SELECT sum(c) FROM rh{k}) AS v FROM rh{k})",
        ]
    # Seeded variant rounds via floor(x*1e6+0.5)/1e6 — the dyadic seed
    # masses land exactly on .5 at 6 digits where round() semantics
    # (HALF_UP vs half-even) differ between Spark and DuckDB.
    r6 = ("floor({0} * 1e6 + 0.5 + 1e-6) / 1e6" if seed_limit is not None
          else "round({0}, 6)")
    return (
        f"WITH oe AS MATERIALIZED ({SQL_ORDSEQ_EDGES}),\n" + ",\n".join(parts) +
        f"\nSELECT h.id AS id, {r6.format('h.v')} AS hub, "
        f"{r6.format('a.v')} AS authority"
        f"\nFROM h{iters} h JOIN a{iters} a ON h.id = a.id"
    )


def _sql_katz(iters: int = 3, alpha: float = 0.05, beta: float = 1.0) -> str:
    """Katz affine recurrence unrolled (algorithms/katz.py): k_{t+1} =
    beta + alpha·Σ in-link k_t, k_0 = beta, on the directed
    order-sequence graph."""
    parts = [
        "ov AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM oe UNION ALL SELECT dst FROM oe))",
        f"k0 AS MATERIALIZED (SELECT id, CAST({beta} AS DOUBLE) AS v FROM ov)",
    ]
    for t in range(iters):
        parts.append(
            f"k{t + 1} AS MATERIALIZED (SELECT v.id, CAST({beta} AS DOUBLE) + "
            f"CAST({alpha} AS DOUBLE) * coalesce(s.c, CAST(0.0 AS DOUBLE)) AS v "
            f"FROM ov v LEFT JOIN (SELECT e.dst AS id, sum(x.v) AS c "
            f"FROM oe e JOIN k{t} x ON e.src = x.id GROUP BY e.dst) s "
            f"ON v.id = s.id)"
        )
    return (
        f"WITH oe AS MATERIALIZED ({SQL_ORDSEQ_EDGES}),\n" + ",\n".join(parts) +
        f"\nSELECT id, round(v, 6) AS katz FROM k{iters}"
    )


def _sql_louvain_round(prev: str, t: int) -> str:
    """CTEs for one gated Louvain local-move round (algorithms/
    louvain.py _move_round) from community table ``prev`` → c{t+1}:
    Σtot/size per community, k(v→c) neighbor-weight aggregate, the
    stay-vs-argmax gain comparison with parity and singleton-swap
    gates. Arithmetic is exact (integer-valued float64 products
    < 2^53, one correctly-rounded division per score), so the
    argmax tie-break (score DESC, c ASC) replays bit-for-bit."""
    n = t + 1
    return f"""
s{n} AS MATERIALIZED (
  SELECT c.comm, sum(d.deg) AS tot, count(*) AS sz
  FROM {prev} c JOIN deg d USING (id) GROUP BY c.comm),
k{n} AS MATERIALIZED (
  SELECT s.src AS id, c.comm AS c, sum(s.w) AS k
  FROM sym s JOIN {prev} c ON s.dst = c.id GROUP BY s.src, c.comm),
stay{n} AS MATERIALIZED (
  SELECT c.id, c.comm AS cur, d.deg, st.sz AS sz_cur,
         coalesce(k.k, CAST(0.0 AS DOUBLE))
           - d.deg * (st.tot - d.deg) / m2.m2 AS stay_score
  FROM {prev} c JOIN deg d USING (id)
  JOIN s{n} st ON st.comm = c.comm
  LEFT JOIN k{n} k ON k.id = c.id AND k.c = c.comm
  CROSS JOIN m2),
best{n} AS MATERIALIZED (
  SELECT id, c, sz_tgt, score FROM (
    SELECT k.id, k.c, st.sz AS sz_tgt,
           k.k - y.deg * st.tot / m2.m2 AS score,
           row_number() OVER (PARTITION BY k.id
             ORDER BY (k.k - y.deg * st.tot / m2.m2) DESC, k.c ASC) AS rn
    FROM k{n} k JOIN stay{n} y USING (id)
    JOIN s{n} st ON st.comm = k.c CROSS JOIN m2
    WHERE k.c <> y.cur)
  WHERE rn = 1),
c{n} AS MATERIALIZED (
  SELECT y.id,
    CASE WHEN b.id IS NOT NULL AND y.id % 2 = {t % 2}
              AND b.score > y.stay_score
              AND NOT (y.sz_cur = 1 AND b.sz_tgt = 1 AND b.c > y.cur)
         THEN b.c ELSE y.cur END AS comm
  FROM stay{n} y LEFT JOIN best{n} b USING (id))"""


def _sql_louvain(rounds: int = 2) -> str:
    """Single-level Louvain contract replay: canonical undirected
    weights, degrees, then ``rounds`` unrolled gated move rounds."""
    parts = [
        "und AS MATERIALIZED (SELECT least(src, dst) AS a, "
        "greatest(src, dst) AS b, sum(CAST(1.0 AS DOUBLE)) AS w "
        "FROM oe GROUP BY 1, 2)",
        "sym AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM und "
        "UNION ALL SELECT b, a, w FROM und)",
        "deg AS MATERIALIZED (SELECT src AS id, sum(w) AS deg FROM sym "
        "GROUP BY src)",
        "m2 AS MATERIALIZED (SELECT sum(deg) AS m2 FROM deg)",
        "c0 AS MATERIALIZED (SELECT id, id AS comm FROM deg)",
    ]
    for t in range(rounds):
        parts.append(_sql_louvain_round(f"c{t}", t).strip().lstrip())
    return (
        f"WITH oe AS MATERIALIZED ({SQL_ORDSEQ_EDGES}),\n" + ",\n".join(parts) +
        f"\nSELECT id, comm AS community FROM c{rounds}"
    )


def _sql_matching(rounds: int = 2) -> str:
    """Mutual-min matching replay (algorithms/matching.py): per round,
    per-vertex argmin over incident live edges by (h, a, b) via
    row_number, mutual-agreement join, NOT-IN removal of matched
    endpoints. Exact integer arithmetic throughout."""
    parts = ["l0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges WHERE src < dst)"]
    for t in range(rounds):
        parts.append(
            f"p{t} AS MATERIALIZED (SELECT a, b, "
            f"(a * 31 + b * 10007) % 999983 AS h FROM l{t})"
        )
        parts.append(
            f"ch{t} AS MATERIALIZED (SELECT v, h, a, b FROM ("
            f"SELECT v, h, a, b, row_number() OVER (PARTITION BY v "
            f"ORDER BY h, a, b) AS rn FROM ("
            f"SELECT a AS v, h, a, b FROM p{t} "
            f"UNION ALL SELECT b, h, a, b FROM p{t})) WHERE rn = 1)"
        )
        parts.append(
            f"m{t} AS MATERIALIZED (SELECT p.a, p.b FROM p{t} p "
            f"JOIN ch{t} x ON x.v = p.a AND x.h = p.h AND x.a = p.a AND x.b = p.b "
            f"JOIN ch{t} y ON y.v = p.b AND y.h = p.h AND y.a = p.a AND y.b = p.b)"
        )
        parts.append(
            f"mv{t} AS MATERIALIZED (SELECT a AS v FROM m{t} "
            f"UNION ALL SELECT b FROM m{t})"
        )
        parts.append(
            f"l{t + 1} AS MATERIALIZED (SELECT a, b FROM l{t} "
            f"WHERE a NOT IN (SELECT v FROM mv{t}) "
            f"AND b NOT IN (SELECT v FROM mv{t}))"
        )
    sel = "\nUNION ALL ".join(f"SELECT a, b FROM m{t}" for t in range(rounds))
    return f"WITH {_EDGES},\n" + ",\n".join(parts) + "\n" + sel


def _sql_node2vec(
    steps: int = 4, p: float = 2.0, q: float = 0.5, n_roots: int = 32
) -> str:
    """node2vec biased-walk replay (algorithms/walks.py
    node2vec_walks): per unrolled step, candidate weights via the
    quantized return/common/outward CASE (common = directed edge-
    existence EXISTS on prev→dst), dst-ascending window prefix-sum,
    and the first-crossing pick cum > rr AND cum - wt <= rr with
    rr the two-draw step hash mod Σweights — exact int64 end to end."""
    from graphblast_spark.algorithms.walks import (
        _A_ID, _A_STEP, _A_WALK, _MOD, _N2V_OFFSET, _n2v_weights,
    )

    wr, wc, wo = _n2v_weights(p, q)
    parts = [
        "ranked AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx, "
        "count(*) OVER (PARTITION BY src) AS deg FROM edges)",
        f"roots AS (SELECT id FROM vertices ORDER BY id LIMIT {n_roots})",
        "s0 AS (SELECT id AS walk_id, CAST(NULL AS BIGINT) AS prev, id FROM roots)",
        f"s1 AS (SELECT w.walk_id, w.id AS prev, r.dst AS id "
        f"FROM s0 w JOIN ranked r ON r.src = w.id "
        f"AND r.idx = ((w.walk_id*{_A_WALK} + w.id*{_A_ID}) % {_MOD}) % r.deg)",
    ]
    for t in range(1, steps):
        parts.append(
            f"c{t} AS (SELECT w.walk_id, w.prev, w.id, r.dst, r.idx, "
            f"CASE WHEN r.dst = w.prev THEN {wr} "
            f"WHEN EXISTS (SELECT 1 FROM edges e2 WHERE e2.src = w.prev "
            f"AND e2.dst = r.dst) THEN {wc} ELSE {wo} END AS wt "
            f"FROM s{t} w JOIN ranked r ON r.src = w.id)"
        )
        parts.append(
            f"p{t} AS (SELECT *, sum(wt) OVER (PARTITION BY walk_id "
            f"ORDER BY idx ROWS UNBOUNDED PRECEDING) AS cum, "
            f"sum(wt) OVER (PARTITION BY walk_id) AS tot FROM c{t})"
        )
        parts.append(
            f"q{t} AS (SELECT *, "
            f"(((walk_id*{_A_WALK} + {t}*{_A_STEP} + id*{_A_ID}) % {_MOD}) "
            f"* {_MOD} + ((walk_id*{_A_WALK} "
            f"+ CAST({t + _N2V_OFFSET} AS BIGINT)*{_A_STEP} "
            f"+ id*{_A_ID}) % {_MOD})) % tot AS rr FROM p{t})"
        )
        parts.append(
            f"s{t + 1} AS (SELECT walk_id, id AS prev, dst AS id "
            f"FROM q{t} WHERE cum > rr AND cum - wt <= rr)"
        )
    sel = "\nUNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS BIGINT) AS step, id FROM s{t}"
        for t in range(steps + 1)
    )
    return f"WITH {_EDGES}, {_VERTICES},\n" + ",\n".join(parts) + "\n" + sel


def _sql_eigenvector(iters: int = 4) -> str:
    """L2-normalized power iteration unrolled (algorithms/katz.py
    eigenvector_centrality): y = Aᵀx, x = y/‖y‖₂ (0 if the vector
    collapsed), x_0 = 1, on the directed order-sequence graph."""
    parts = [
        "ov AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM oe UNION ALL SELECT dst FROM oe))",
        "x0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS v FROM ov)",
    ]
    for t in range(iters):
        parts.append(
            f"y{t + 1} AS MATERIALIZED (SELECT v.id, "
            f"coalesce(s.c, CAST(0.0 AS DOUBLE)) AS v "
            f"FROM ov v LEFT JOIN (SELECT e.dst AS id, sum(x.v) AS c "
            f"FROM oe e JOIN x{t} x ON e.src = x.id GROUP BY e.dst) s "
            f"ON v.id = s.id)"
        )
        parts.append(
            f"n{t + 1} AS MATERIALIZED (SELECT sqrt(sum(v * v)) AS nm FROM y{t + 1})"
        )
        parts.append(
            f"x{t + 1} AS MATERIALIZED (SELECT y.id, "
            f"CASE WHEN n.nm > 0 THEN y.v / n.nm ELSE CAST(0.0 AS DOUBLE) END AS v "
            f"FROM y{t + 1} y CROSS JOIN n{t + 1} n)"
        )
    return (
        f"WITH oe AS MATERIALIZED ({SQL_ORDSEQ_EDGES}),\n" + ",\n".join(parts) +
        f"\nSELECT id, round(v, 6) AS eigen FROM x{iters}"
    )


def _sql_pack_sequences(seq_len: int = 64, n_shards: int = 8) -> str:
    """Concat-and-chunk packing map replay (functions/packing.py):
    per-shard window cumsum for stream offsets, generate_series over
    the sequence indices each doc touches. All-integer arithmetic."""
    L = int(seq_len)
    return f"""
WITH d AS (
  SELECT doc_id, doc_id % {int(n_shards)} AS shard,
         len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
  FROM documents
),
w AS (
  SELECT doc_id, shard, tok,
         CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - tok AS BIGINT) AS s
  FROM d WHERE tok > 0
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(u.q AS BIGINT) AS seq_idx,
       doc_id,
       CAST(greatest(s, u.q * {L}) - s AS BIGINT) AS doc_offset,
       CAST(greatest(s, u.q * {L}) - u.q * {L} AS BIGINT) AS seq_offset,
       CAST(least(s + tok, (u.q + 1) * {L}) - greatest(s, u.q * {L}) AS BIGINT) AS n_tokens
FROM w, unnest(generate_series(s // {L}, (s + tok - 1) // {L})) AS u(q)
"""


def _sql_packing_stats(seq_len: int = 64, n_shards: int = 8) -> str:
    base = _sql_pack_sequences(seq_len, n_shards)
    return f"""
WITH packed AS ({base}),
per_doc AS (
  SELECT shard, doc_id, sum(n_tokens) AS tok, count(*) AS n_slices
  FROM packed GROUP BY shard, doc_id
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens,
       CAST(ceil(sum(tok) / CAST({float(seq_len)} AS DOUBLE)) AS BIGINT) AS n_seqs,
       CAST(sum(CASE WHEN n_slices > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
       round(sum(tok) / (ceil(sum(tok) / CAST({float(seq_len)} AS DOUBLE))
             * CAST({float(seq_len)} AS DOUBLE)), 6) AS fill_ratio
FROM per_doc GROUP BY shard
"""


def _sql_coreness(rounds: int = 3) -> str:
    """h-index core-decomposition iteration unrolled to a fixed round
    count (algorithms/kcore.py core_decomposition) — per round: capped
    neighbor values, per-(id,val) counts, descending cumulative sum,
    h = max(least(val, cum)). No ties inside the window (val is the
    group key), so the default RANGE frame replays Spark exactly."""
    parts = [
        "adj AS MATERIALIZED (SELECT DISTINCT src AS u, dst AS v FROM edges "
        "WHERE src <> dst UNION SELECT dst, src FROM edges WHERE src <> dst)",
        "c0 AS MATERIALIZED (SELECT vv.id, CAST(coalesce(dd.d, 0) AS BIGINT) AS c "
        "FROM vertices vv LEFT JOIN "
        "(SELECT u AS id, count(*) AS d FROM adj GROUP BY u) dd ON vv.id = dd.id)",
    ]
    for k in range(rounds):
        parts += [
            f"cnt{k} AS MATERIALIZED (SELECT adj.u AS id, least(cs.c, cd.c) AS val, "
            f"count(*) AS n FROM adj JOIN c{k} cd ON adj.v = cd.id "
            f"JOIN c{k} cs ON adj.u = cs.id GROUP BY adj.u, least(cs.c, cd.c))",
            f"h{k} AS MATERIALIZED (SELECT id, max(least(val, cum)) AS h FROM "
            f"(SELECT id, val, sum(n) OVER (PARTITION BY id ORDER BY val DESC) AS cum "
            f"FROM cnt{k}) GROUP BY id)",
            f"c{k + 1} AS MATERIALIZED (SELECT c.id, CAST(coalesce(h.h, 0) AS BIGINT) AS c "
            f"FROM c{k} c LEFT JOIN h{k} h ON c.id = h.id)",
        ]
    return (
        f"WITH {_EDGES_MAT}, {_VERTICES_MAT},\n" + ",\n".join(parts) +
        f"\nSELECT id, c AS coreness FROM c{rounds}"
    )


def _sql_trussness(rounds: int = 2) -> str:
    """Edge h-index truss-decomposition iteration unrolled
    (algorithms/ktruss.py truss_decomposition): triangle-edge incidence
    built once (3 rows per triangle via common-neighbor join), then per
    round capped partner-min values, per-edge counts, descending
    cumulative sum, h = max(least(val, cum)); trussness = t + 2."""
    parts = [
        "low AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges WHERE src < dst)",
        "nb AS MATERIALIZED (SELECT a AS id, b AS n FROM low "
        "UNION ALL SELECT b, a FROM low)",
        "tri AS MATERIALIZED (SELECT e.a AS ea, e.b AS eb, "
        "least(e.a, n1.n) AS xa, greatest(e.a, n1.n) AS xb, "
        "least(e.b, n1.n) AS ya, greatest(e.b, n1.n) AS yb "
        "FROM low e JOIN nb n1 ON n1.id = e.a "
        "JOIN nb n2 ON n2.id = e.b AND n2.n = n1.n)",
        "t0 AS MATERIALIZED (SELECT l.a, l.b, CAST(coalesce(s.c, 0) AS BIGINT) AS t "
        "FROM low l LEFT JOIN (SELECT ea, eb, count(*) AS c FROM tri "
        "GROUP BY ea, eb) s ON l.a = s.ea AND l.b = s.eb)",
    ]
    for k in range(rounds):
        parts += [
            f"cnt{k} AS MATERIALIZED (SELECT tri.ea, tri.eb, "
            f"least(te.t, least(t1.t, t2.t)) AS val, count(*) AS n "
            f"FROM tri JOIN t{k} t1 ON tri.xa = t1.a AND tri.xb = t1.b "
            f"JOIN t{k} t2 ON tri.ya = t2.a AND tri.yb = t2.b "
            f"JOIN t{k} te ON tri.ea = te.a AND tri.eb = te.b "
            f"GROUP BY tri.ea, tri.eb, least(te.t, least(t1.t, t2.t)))",
            f"h{k} AS MATERIALIZED (SELECT ea, eb, max(least(val, cum)) AS h FROM "
            f"(SELECT ea, eb, val, sum(n) OVER (PARTITION BY ea, eb "
            f"ORDER BY val DESC) AS cum FROM cnt{k}) GROUP BY ea, eb)",
            f"t{k + 1} AS MATERIALIZED (SELECT l.a, l.b, "
            f"CAST(coalesce(h.h, 0) AS BIGINT) AS t FROM t{k} l "
            f"LEFT JOIN h{k} h ON l.a = h.ea AND l.b = h.eb)",
        ]
    return (
        f"WITH {_EDGES_MAT},\n" + ",\n".join(parts) +
        f"\nSELECT a, b, CAST(t + 2 AS BIGINT) AS trussness FROM t{rounds}"
    )


def _sql_coloring_spec(rounds: int = 2, palette: int = 8) -> str:
    """Speculative hash coloring (csrcolor analog, operations.hpp:816-826)
    unrolled: initial color = LCG weight mod palette + 1; per round the
    min-key endpoint of each monochrome edge recolors to the smallest
    color absent from its whole neighborhood. Combined key wk = w·2³¹+id
    (injective on the reference's int32 Index domain). The copurchase
    edge table is symmetric by construction, so it IS the adjacency."""
    parts = [
        f"col0 AS MATERIALIZED (SELECT id, CAST(({_SQL_LCG_W}) % {palette} + 1 AS INT) AS c, "
        f"({_SQL_LCG_W}) * 2147483648 + id AS wk FROM vertices)",
    ]
    for k in range(rounds):
        parts += [
            f"mnb{k} AS MATERIALIZED (SELECT d.id AS id, min(s.wk) AS mnb "
            f"FROM edges e JOIN col{k} s ON e.src = s.id JOIN col{k} d ON e.dst = d.id "
            f"WHERE s.c = d.c GROUP BY d.id)",
            f"mov{k} AS MATERIALIZED (SELECT c.id FROM col{k} c "
            f"JOIN mnb{k} m ON c.id = m.id WHERE c.wk < m.mnb)",
            f"used{k} AS MATERIALIZED (SELECT mv.id, list(DISTINCT s.c) AS u "
            f"FROM mov{k} mv JOIN edges e ON e.dst = mv.id "
            f"JOIN col{k} s ON s.id = e.src GROUP BY mv.id)",
            f"new{k} AS MATERIALIZED (SELECT mv.id, CAST(coalesce(list_min(list_filter("
            f"generate_series(1, len(u.u) + 1), x -> NOT list_contains(u.u, x))), 1) AS INT) AS c "
            f"FROM mov{k} mv LEFT JOIN used{k} u ON mv.id = u.id)",
            f"col{k + 1} AS MATERIALIZED (SELECT c.id, coalesce(n.c, c.c) AS c, c.wk "
            f"FROM col{k} c LEFT JOIN new{k} n ON c.id = n.id)",
        ]
    return (
        f"WITH {_EDGES_MAT}, {_VERTICES_MAT},\n" + ",\n".join(parts) +
        f"\nSELECT id, CAST(c AS BIGINT) AS color FROM col{rounds}"
    )


def _sql_lgc(iters: int = 4, alpha: float = 0.15, eps: float = 1e-6) -> str:
    """ACL push (lgc.hpp:106-134) unrolled to a fixed superstep count,
    float64 throughout, matching ``lgc(fixed_iters=iters)``."""
    half = "CAST((1.0 - {a})/2.0 AS DOUBLE)".format(a=alpha)
    parts = [
        "deg AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS DOUBLE) AS d FROM edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT (SELECT min(l_partkey) FROM lineitem) AS id, CAST(1.0 AS DOUBLE) AS r)",
        "p0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS p WHERE 1=0)",
    ]
    for k in range(iters):
        parts += [
            f"f{k} AS MATERIALIZED (SELECT r.id, r.r, coalesce(g.d, CAST(0.0 AS DOUBLE)) AS d "
            f"FROM r{k} r LEFT JOIN deg g ON r.id = g.id "
            f"WHERE r.r > coalesce(g.d, CAST(0.0 AS DOUBLE)) * CAST({eps} AS DOUBLE))",
            f"p{k + 1} AS MATERIALIZED (SELECT coalesce(p.id, f.id) AS id, "
            f"coalesce(p.p, CAST(0.0 AS DOUBLE)) + CAST({alpha} AS DOUBLE) * coalesce(f.r, CAST(0.0 AS DOUBLE)) AS p "
            f"FROM p{k} p FULL JOIN f{k} f ON p.id = f.id)",
            f"push{k} AS MATERIALIZED (SELECT id, {half} * r / d AS r2 FROM f{k} WHERE d > 0)",
            f"spread{k} AS MATERIALIZED (SELECT e.dst AS id, sum(ps.r2 * CAST(1.0 AS DOUBLE)) AS dr "
            f"FROM edges e JOIN push{k} ps ON e.src = ps.id GROUP BY e.dst)",
            f"rk{k} AS MATERIALIZED (SELECT r.id, r.r FROM r{k} r LEFT JOIN f{k} f ON r.id = f.id "
            f"WHERE f.id IS NULL UNION ALL SELECT id, {half} * r AS r FROM f{k})",
            f"r{k + 1} AS MATERIALIZED (SELECT coalesce(a.id, s.id) AS id, "
            f"coalesce(a.r, CAST(0.0 AS DOUBLE)) + coalesce(s.dr, CAST(0.0 AS DOUBLE)) AS r "
            f"FROM rk{k} a FULL JOIN spread{k} s ON a.id = s.id)",
        ]
    return (
        f"WITH {_EDGES_MAT},\n" + ",\n".join(parts) +
        f"\nSELECT id, round(p, 6) AS p FROM p{iters} WHERE p > 0"
    )


def _sql_resize(w: int = 8, h: int = 8, out_w: int = 3, out_h: int = 3) -> str:
    """Lockstep mirror of functions/multimodal.py resize_image over the
    _assets derivation (payload = utf-8 text, fake decode = md5 tile):
    output pixel (Y,X) = digest[((Y·h//out_h)·w + X·w//out_w) % 16]."""
    ys = [(y * h) // out_h for y in range(out_h)]
    xs = [(x * w) // out_w for x in range(out_w)]
    idxs = [(y * w + x) % 16 for y in ys for x in xs]
    parts = " || ".join(f"upper(substr(m, {i * 2 + 1}, 2))" for i in idxs)
    return f"""
        WITH px AS (SELECT doc_id AS asset_id, md5(text) AS m FROM documents)
        SELECT asset_id, CAST({out_w} AS INT) AS rw, CAST({out_h} AS INT) AS rh,
               ({parts}) AS pixels
        FROM px"""


def _sql_betweenness(depth: int = 2, n_roots: int = 4) -> str:
    """Depth-bounded batched Brandes (algorithms/bc.py) unrolled:
    forward sigma levels l0..lD (anti-join mask per level), backward
    delta sweep dD..d0, ordered-pair convention, roots = first
    ``n_roots`` vertex ids — identical bound and roots to the Spark
    side's ``betweenness_centrality(sources, max_depth=depth)``."""
    parts = [
        f"l0 AS MATERIALIZED (SELECT id AS root, id, CAST(1.0 AS DOUBLE) AS sigma "
        f"FROM (SELECT id FROM vertices ORDER BY id LIMIT {n_roots}))",
        "sp0 AS MATERIALIZED (SELECT root, id FROM l0)",
    ]
    for k in range(depth):
        parts += [
            f"l{k + 1} AS MATERIALIZED (SELECT f.root, e.dst AS id, sum(f.sigma) AS sigma "
            f"FROM l{k} f JOIN edges e ON f.id = e.src "
            f"LEFT JOIN sp{k} p ON p.root = f.root AND p.id = e.dst "
            f"WHERE p.id IS NULL GROUP BY f.root, e.dst)",
            f"sp{k + 1} AS MATERIALIZED (SELECT root, id FROM sp{k} "
            f"UNION ALL SELECT root, id FROM l{k + 1})",
        ]
    parts.append(
        f"d{depth} AS MATERIALIZED (SELECT root, id, CAST(0.0 AS DOUBLE) AS delta FROM l{depth})"
    )
    for k in range(depth - 1, -1, -1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT f.root, f.id, "
            f"coalesce(sum(f.sigma / t.sigma * (1.0 + t.delta)), CAST(0.0 AS DOUBLE)) AS delta "
            f"FROM l{k} f "
            f"LEFT JOIN edges e ON f.id = e.src "
            f"LEFT JOIN (SELECT n.root, n.id, n.sigma, dd.delta FROM l{k + 1} n "
            f"JOIN d{k + 1} dd ON dd.root = n.root AND dd.id = n.id) t "
            f"ON t.root = f.root AND t.id = e.dst "
            f"GROUP BY f.root, f.id)"
        )
    all_d = " UNION ALL ".join(f"SELECT root, id, delta FROM d{k}" for k in range(depth + 1))
    return (
        f"WITH {_EDGES_MAT}, {_VERTICES_MAT},\n" + ",\n".join(parts) +
        f",\nalldelta AS ({all_d}),"
        f"\nagg AS (SELECT id, sum(delta) AS bc FROM alldelta WHERE id <> root GROUP BY id)"
        f"\nSELECT v.id, round(coalesce(agg.bc, CAST(0.0 AS DOUBLE)), 6) AS bc"
        f"\nFROM vertices v LEFT JOIN agg ON v.id = agg.id"
    )


_SQL_MSBFS_BODY = """
srcs AS (SELECT id FROM vertices ORDER BY id LIMIT 4),
b(root, id, depth) AS (
  SELECT id, id, 0 FROM srcs
  UNION
  SELECT b.root, e.dst, b.depth + 1
  FROM b JOIN edges e ON b.id = e.src AND b.depth < 50
),
lv AS (SELECT root, id, CAST(min(depth) AS BIGINT) AS depth FROM b GROUP BY root, id)
"""


def oracle_sql() -> dict[str, str]:
    n_expr = "(SELECT CAST(count(*) AS DOUBLE) FROM vertices)"
    sql = {
        "g_build": f"WITH {_EDGES} SELECT src, dst, CAST(1.0 AS DOUBLE) AS val FROM edges",
        "g_degrees": f"WITH {_EDGES} SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src",
        "g_vecmat_spmv": f"""
            WITH {_EDGES}
            SELECT dst AS id, round(sum(CAST((src % 7) + 1 AS DOUBLE) * 1.0), 6) AS val
            FROM edges GROUP BY dst""",
        "g_vecmat_kernel": f"""
            WITH {_EDGES}
            SELECT dst AS id, round(sum(CAST((src % 7) + 1 AS DOUBLE) * 1.0), 6) AS val
            FROM edges GROUP BY dst""",
        "g_accum_vxm": f"""
            WITH {_EDGES}, {_VERTICES},
            t AS (
              SELECT dst AS id, sum(CAST((src % 7) + 1 AS DOUBLE) * 1.0) AS val
              FROM edges GROUP BY dst),
            w AS (
              SELECT id, CAST((id % 5) + 100 AS DOUBLE) AS val
              FROM vertices WHERE id % 2 = 0)
            SELECT coalesce(w.id, t.id) AS id,
                   round(CASE WHEN w.val IS NOT NULL AND t.val IS NOT NULL
                              THEN w.val + t.val
                              ELSE coalesce(t.val, w.val) END, 6) AS val
            FROM w FULL OUTER JOIN t ON w.id = t.id""",
        "g_vecmat_minplus": f"""
            WITH {_EDGES}
            SELECT dst AS id, round(min(CAST(src % 100 AS DOUBLE) + 1.0), 6) AS val
            FROM edges GROUP BY dst""",
        "g_vecmat_masked": f"""
            WITH {_EDGES}
            SELECT dst AS id, round(sum(CAST((src % 7) + 1 AS DOUBLE) * 1.0), 6) AS val
            FROM edges WHERE dst % 3 <> 0 GROUP BY dst""",
        "g_ewise_mult": f"""
            WITH {_VERTICES},
            u AS (SELECT id, CAST((id % 5) + 1 AS DOUBLE) AS val FROM vertices WHERE id % 2 = 0),
            v AS (SELECT id, CAST((id % 7) + 2 AS DOUBLE) AS val FROM vertices WHERE id % 3 = 0)
            SELECT u.id AS id, round(u.val * v.val, 6) AS val FROM u JOIN v ON u.id = v.id""",
        "g_ewise_add": f"""
            WITH {_VERTICES},
            u AS (SELECT id, CAST((id % 5) + 1 AS DOUBLE) AS val FROM vertices WHERE id % 2 = 0),
            v AS (SELECT id, CAST((id % 7) + 2 AS DOUBLE) AS val FROM vertices WHERE id % 3 = 0)
            SELECT coalesce(u.id, v.id) AS id,
                   round(coalesce(u.val, 0.0) + coalesce(v.val, 0.0), 6) AS val
            FROM u FULL OUTER JOIN v ON u.id = v.id""",
        "g_reduce_rowwise": f"""
            WITH {_EDGES}
            SELECT src AS id, round(sum(CAST((src + dst) % 10 AS DOUBLE)), 6) AS val
            FROM edges GROUP BY src""",
        "g_reduce_scalar": f"""
            WITH {_EDGES}
            SELECT round(sum(CAST((src + dst) % 10 AS DOUBLE)), 6) AS total FROM edges""",
        "g_tril": f"WITH {_EDGES} SELECT src, dst FROM edges WHERE src > dst",
        "g_transpose": f"WITH {_PS_EDGES} SELECT dst AS src, src AS dst FROM ps_edges",
        "g_tc": f"""
            WITH {_EDGES},
            low AS (SELECT src, dst FROM edges WHERE src < dst)
            SELECT count(*) AS n_triangles
            FROM low e1 JOIN low e2 ON e1.dst = e2.src
                 JOIN low e3 ON e3.src = e1.src AND e3.dst = e2.dst""",
        # DuckDB >= 0.10: older releases reject the '0x…' hex-string
        # → BIGINT cast this keep-rule replay relies on.
        "g_tc_approx": f"""
            WITH {_EDGES},
            low AS (SELECT src, dst FROM edges WHERE src < dst
                    AND CAST('0x' || substr(md5(src || '_' || dst), 1, 8)
                             AS BIGINT) % 3 = 0)
            SELECT count(*) * 27 AS tri_estimate
            FROM low e1 JOIN low e2 ON e1.dst = e2.src
                 JOIN low e3 ON e3.src = e1.src AND e3.dst = e2.dst""",
        "g_common_neighbors": f"""
            WITH {_EDGES},
            low AS (SELECT src, dst FROM edges WHERE src < dst)
            SELECT e.src AS src, e.dst AS dst, count(*) AS common
            FROM low e
            JOIN edges n1 ON n1.src = e.src
            JOIN edges n2 ON n2.src = e.dst AND n2.dst = n1.dst
            GROUP BY e.src, e.dst""",
        "g_trace": f"""
            WITH {_EDGES}
            SELECT round(sum(CAST((src + dst) % 10 AS DOUBLE) * CAST((src + dst) % 10 AS DOUBLE)), 6) AS trace
            FROM edges""",
        "g_pagerank": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},
            outdeg AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
            ew AS (
              SELECT e.src, e.dst, CAST(0.85 AS DOUBLE) / o.c AS w
              FROM edges e JOIN outdeg o ON e.src = o.id
              UNION ALL
              SELECT id, id, CAST(0.0 AS DOUBLE) FROM vertices
            ),
            pr(iter, id, val) AS (
              SELECT 0, id, CAST(1.0 AS DOUBLE) / {n_expr} FROM vertices
              UNION ALL
              SELECT p.iter + 1, e.dst, CAST(0.15 AS DOUBLE) / {n_expr} + sum(e.w * p.val)
              FROM pr p JOIN ew e ON p.id = e.src
              WHERE p.iter < 10
              GROUP BY p.iter, e.dst
            )
            SELECT id, round(val, 6) AS pagerank FROM pr WHERE iter = 10""",
        "g_pagerank_weighted": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},
            we AS (
              SELECT src, dst,
                     CAST((src * 7 + dst) % 5 + 1 AS DOUBLE) AS v
              FROM edges
            ),
            st AS (SELECT src AS id, sum(v) AS s FROM we GROUP BY src),
            ew AS (
              SELECT w.src, w.dst, CAST(0.85 AS DOUBLE) * w.v / st.s AS w
              FROM we w JOIN st ON w.src = st.id
              UNION ALL
              SELECT id, id, CAST(0.0 AS DOUBLE) FROM vertices
            ),
            pr(iter, id, val) AS (
              SELECT 0, id, CAST(1.0 AS DOUBLE) / {n_expr} FROM vertices
              UNION ALL
              SELECT p.iter + 1, e.dst, CAST(0.15 AS DOUBLE) / {n_expr} + sum(e.w * p.val)
              FROM pr p JOIN ew e ON p.id = e.src
              WHERE p.iter < 10
              GROUP BY p.iter, e.dst
            )
            SELECT id, round(val, 6) AS pagerank FROM pr WHERE iter = 10""",
        "g_pagerank_dangling": f"""
            WITH RECURSIVE {_PS_EDGES}, {_PS_VERTICES},
            outdeg AS (SELECT src AS id, count(*) AS c FROM ps_edges GROUP BY src),
            ew AS (
              SELECT e.src, e.dst, CAST(0.85 AS DOUBLE) / o.c AS w
              FROM ps_edges e JOIN outdeg o ON e.src = o.id
              UNION ALL
              SELECT id, id, CAST(0.0 AS DOUBLE) FROM ps_vertices
            ),
            pr(iter, id, val) AS (
              SELECT 0, id, CAST(1.0 AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM ps_vertices) FROM ps_vertices
              UNION ALL
              SELECT p.iter + 1, e.dst,
                     CAST(0.15 AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM ps_vertices) + sum(e.w * p.val)
              FROM pr p JOIN ew e ON p.id = e.src
              WHERE p.iter < 10
              GROUP BY p.iter, e.dst
            )
            SELECT id, round(val, 6) AS pagerank FROM pr WHERE iter = 10""",
        "g_scc": f"""
            WITH RECURSIVE oe AS ({SQL_ORDSEQ_EDGES}),
            ov AS (SELECT DISTINCT id FROM (SELECT src AS id FROM oe UNION ALL SELECT dst FROM oe)),
            r(s, d) AS (
              SELECT src, dst FROM oe
              UNION
              SELECT r.s, e.dst FROM r JOIN oe e ON r.d = e.src
            )
            SELECT v.id AS id,
                   coalesce((SELECT min(r1.d)
                             FROM r r1 JOIN r r2 ON r2.s = r1.d AND r2.d = r1.s
                             WHERE r1.s = v.id AND r1.d < v.id), v.id) AS scc_id
            FROM ov v""",
        "g_bowtie": f"""
            WITH RECURSIVE oe AS ({SQL_ORDSEQ_EDGES}),
            ov AS (SELECT DISTINCT id FROM (SELECT src AS id FROM oe UNION ALL SELECT dst FROM oe)),
            r(s, d) AS (
              SELECT src, dst FROM oe
              UNION
              SELECT r.s, e.dst FROM r JOIN oe e ON r.d = e.src
            ),
            scc AS (
              SELECT v.id,
                     coalesce((SELECT min(r1.d)
                               FROM r r1 JOIN r r2 ON r2.s = r1.d AND r2.d = r1.s
                               WHERE r1.s = v.id AND r1.d < v.id), v.id) AS scc_id
              FROM ov v
            ),
            core AS (
              SELECT scc_id FROM scc GROUP BY scc_id
              ORDER BY count(*) DESC, scc_id LIMIT 1
            ),
            cv AS (SELECT id FROM scc WHERE scc_id = (SELECT scc_id FROM core))
            SELECT s.id AS id,
                   CASE WHEN s.scc_id = (SELECT scc_id FROM core) THEN 'CORE'
                        WHEN EXISTS (SELECT 1 FROM r JOIN cv ON r.d = cv.id
                                     WHERE r.s = s.id) THEN 'IN'
                        WHEN EXISTS (SELECT 1 FROM r JOIN cv ON r.s = cv.id
                                     WHERE r.d = s.id) THEN 'OUT'
                        ELSE 'OTHER' END AS component
            FROM scc s""",
        "g_edge_support": f"""
            WITH {_EDGES},
            und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM edges WHERE src <> dst
            ),
            nbr AS (
              SELECT a AS v, b AS n FROM und
              UNION ALL
              SELECT b AS v, a AS n FROM und
            ),
            sup AS (
              SELECT u.a, u.b, count(*) AS c
              FROM und u
              JOIN nbr x ON x.v = u.a
              JOIN nbr y ON y.v = u.b AND y.n = x.n
              GROUP BY u.a, u.b
            )
            SELECT u.a AS a, u.b AS b,
                   CAST(coalesce(s.c, 0) AS INTEGER) AS support
            FROM und u LEFT JOIN sup s ON u.a = s.a AND u.b = s.b""",
        "g_condensation": f"""
            WITH RECURSIVE oe AS ({SQL_ORDSEQ_EDGES}),
            ov AS (SELECT DISTINCT id FROM
                   (SELECT src AS id FROM oe UNION ALL SELECT dst FROM oe)),
            r(s, d) AS (
              SELECT src, dst FROM oe
              UNION
              SELECT r.s, e.dst FROM r JOIN oe e ON r.d = e.src
            ),
            scc AS (
              SELECT v.id,
                     coalesce((SELECT min(r1.d)
                               FROM r r1 JOIN r r2 ON r2.s = r1.d AND r2.d = r1.s
                               WHERE r1.s = v.id AND r1.d < v.id), v.id) AS scc_id
              FROM ov v
            )
            SELECT sm.scc_id AS src_scc, dm.scc_id AS dst_scc,
                   count(*) AS n_edges
            FROM oe JOIN scc sm ON oe.src = sm.id
                    JOIN scc dm ON oe.dst = dm.id
            WHERE sm.scc_id <> dm.scc_id
            GROUP BY sm.scc_id, dm.scc_id""",
        "g_cc": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},
            ea AS (
              SELECT src, dst FROM edges
              UNION ALL
              SELECT id, id FROM vertices
            ),
            lbl(iter, id, l) AS (
              SELECT 0, id, id FROM vertices
              UNION ALL
              SELECT p.iter + 1, e.src, min(p.l)
              FROM lbl p JOIN ea e ON p.id = e.dst
              WHERE p.iter < 40
              GROUP BY p.iter, e.src
            )
            SELECT id, l AS component FROM lbl WHERE iter = 40""",
        "g_lp_min": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},
            ea AS (
              SELECT src, dst FROM edges
              UNION ALL
              SELECT id, id FROM vertices
            ),
            lbl(iter, id, l) AS (
              SELECT 0, id, id FROM vertices
              UNION ALL
              SELECT p.iter + 1, e.src, min(p.l)
              FROM lbl p JOIN ea e ON p.id = e.dst
              WHERE p.iter < 40
              GROUP BY p.iter, e.src
            )
            SELECT id, l AS label FROM lbl WHERE iter = 40""",
        "g_modularity": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},
            ew AS (
              SELECT src, dst, 1 AS w FROM edges
              UNION ALL
              SELECT id, id, 0 FROM vertices
            ),
            lp(iter, id, lbl) AS (
              SELECT 0, id, id FROM vertices
              UNION ALL
              SELECT iter + 1, id, arg_max(lbl, cnt * 100000000 - lbl)
              FROM (
                SELECT p.iter AS iter, e.src AS id, p.lbl AS lbl, sum(e.w) AS cnt
                FROM lp p JOIN ew e ON p.id = e.dst
                GROUP BY p.iter, e.src, p.lbl
              )
              WHERE iter < 2
              GROUP BY iter, id
            ),
            labels AS (SELECT id, lbl AS label FROM lp WHERE iter = 2),
            m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM edges),
            je AS (
              SELECT la.label AS lab_s, lb.label AS lab_d
              FROM edges e
              JOIN labels la ON e.src = la.id
              JOIN labels lb ON e.dst = lb.id
            ),
            outs AS (
              SELECT lab_s AS label,
                     CAST(count(*) AS DOUBLE) AS out_strength,
                     CAST(sum(CASE WHEN lab_s = lab_d THEN 1 ELSE 0 END) AS DOUBLE) AS w
              FROM je GROUP BY lab_s
            ),
            ins AS (
              SELECT lab_d AS label, CAST(count(*) AS DOUBLE) AS in_strength
              FROM je GROUP BY lab_d
            )
            SELECT l.label,
                   coalesce(o.w, 0.0) AS within_weight,
                   coalesce(o.out_strength, 0.0) AS out_strength,
                   coalesce(i.in_strength, 0.0) AS in_strength,
                   round(coalesce(o.w, 0.0) / m.m
                         - coalesce(o.out_strength, 0.0) * coalesce(i.in_strength, 0.0)
                           / (m.m * m.m), 6) + 0.0 AS contribution
            FROM (SELECT DISTINCT label FROM labels) l
            LEFT JOIN outs o USING (label)
            LEFT JOIN ins i USING (label)
            CROSS JOIN m""",
        "g_degree_hist": f"""
            WITH {_EDGES}, {_VERTICES},
            deg AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY src)
            SELECT coalesce(d.degree, 0) AS degree, count(*) AS n_vertices
            FROM vertices v LEFT JOIN deg d ON v.id = d.id
            GROUP BY 1""",
        "g_reciprocity": f"""
            WITH oe AS ({SQL_ORDSEQ_EDGES}),
            n AS (SELECT count(*) AS n_edges FROM oe),
            r AS (
              SELECT count(*) AS n_reciprocal FROM oe e
              WHERE EXISTS (
                SELECT 1 FROM oe x WHERE x.src = e.dst AND x.dst = e.src
              )
            )
            SELECT n.n_edges, r.n_reciprocal,
                   CASE WHEN n.n_edges > 0
                        THEN round(r.n_reciprocal / CAST(n.n_edges AS DOUBLE), 6)
                        ELSE 0.0 END AS reciprocity
            FROM n CROSS JOIN r""",
        "g_assortativity": f"""
            WITH {_EDGES},
            und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM edges WHERE src <> dst
            ),
            bo AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
            deg AS (SELECT a AS id, count(*) AS d FROM bo GROUP BY a)
            SELECT round(corr(da.d, db.d), 6) AS assortativity
            FROM bo JOIN deg da ON bo.a = da.id JOIN deg db ON bo.b = db.id""",
        "g_lcc": f"""
            WITH {_EDGES}, {_VERTICES},
            und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM edges WHERE src <> dst
            ),
            deg AS (
              SELECT id, count(*) AS d FROM (
                SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und
              ) GROUP BY id
            ),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM und e1
              JOIN und e2 ON e2.a = e1.b
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ),
            cr AS (
              SELECT x AS id FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri
            ),
            pv AS (SELECT id, count(*) AS triangles FROM cr GROUP BY id)
            SELECT v.id,
                   coalesce(pv.triangles, 0) AS triangles,
                   CASE WHEN coalesce(deg.d, 0) >= 2
                        THEN round(2.0 * coalesce(pv.triangles, 0)
                                   / (deg.d * (deg.d - 1)), 6)
                        ELSE 0.0 END AS lcc
            FROM vertices v
            LEFT JOIN pv ON v.id = pv.id
            LEFT JOIN deg ON v.id = deg.id""",
        "g_lp_majority": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},
            ew AS (
              SELECT src, dst, 1 AS w FROM edges
              UNION ALL
              SELECT id, id, 0 FROM vertices
            ),
            lp(iter, id, lbl) AS (
              SELECT 0, id, id FROM vertices
              UNION ALL
              SELECT iter + 1, id, arg_max(lbl, cnt * 100000000 - lbl)
              FROM (
                SELECT p.iter AS iter, e.src AS id, p.lbl AS lbl, sum(e.w) AS cnt
                FROM lp p JOIN ew e ON p.id = e.dst
                GROUP BY p.iter, e.src, p.lbl
              )
              WHERE iter < 5
              GROUP BY iter, id
            )
            SELECT id, lbl AS label FROM lp WHERE iter = 5""",
        "g_bfs": f"""
            WITH RECURSIVE {_EDGES},
            b(id, depth) AS (
              SELECT (SELECT min(l_partkey) FROM lineitem), 0
              UNION
              SELECT e.dst, b.depth + 1
              FROM b JOIN edges e ON b.id = e.src AND b.depth < 50
            )
            SELECT id, CAST(min(depth) AS BIGINT) AS depth FROM b GROUP BY id""",
        "g_sssp": f"""
            WITH RECURSIVE {_EDGES},
            ew AS (SELECT src, dst, CAST((src + dst) % 10 + 1 AS DOUBLE) AS w FROM edges),
            d(iter, id, dist) AS (
              SELECT 0, (SELECT min(l_partkey) FROM lineitem), CAST(0.0 AS DOUBLE)
              UNION ALL
              SELECT p.iter + 1, e.dst, min(p.dist + e.w)
              FROM d p JOIN ew e ON p.id = e.src
              WHERE p.iter < 30
              GROUP BY p.iter, e.dst
            )
            SELECT id, round(min(dist), 6) AS dist FROM d GROUP BY id""",
        # frame_sample: every-4th 16-byte slice of the utf-8 payload
        # (functions/multimodal.py frame_sample, frame_bytes=16). The
        # synthetic documents are pure ASCII (verified), so byte slices
        # == char slices and DuckDB can slice the VARCHAR then encode.
        "m_frame_sample": """
            WITH ex AS (
              SELECT doc_id AS asset_id, text,
                     unnest(generate_series(0, CAST(length(text) // 16 AS INT) - 1, 4)) AS i
              FROM documents WHERE length(text) >= 16
            )
            SELECT asset_id, CAST(i AS BIGINT) AS frame_idx,
                   hex(substring(text, CAST(i AS INT) * 16 + 1, 16)) AS frame
            FROM ex""",
        # decode_stats: the fake decoder's pixels are the 16 md5 digest
        # bytes of the utf-8 payload (functions/multimodal.py); moments
        # are computed with the identical float64 op order (sum/16,
        # sumsq/16 - mean², sqrt), so the doubles are bit-identical.
        "m_decode_stats": """
            WITH px AS (
              SELECT doc_id AS asset_id, 'image' AS kind,
                     list_transform(generate_series(0, 15),
                                    i -> CAST('0x' || substr(md5(text), i*2+1, 2) AS BIGINT)) AS b
              FROM documents
            ), mo AS (
              SELECT asset_id, kind,
                     list_sum(b) / 16.0 AS mean_px,
                     list_sum(list_transform(b, x -> x * x)) / 16.0 AS msq
              FROM px
            )
            SELECT asset_id, kind, round(mean_px, 6) AS mean_px,
                   round(sqrt(msq - mean_px * mean_px), 6) AS std_px
            FROM mo""",
        "g_mis": _sql_mis(10),
        "g_coloring": _sql_coloring(4),
        "g_coloring_jp": _sql_coloring_jp(3),
        "g_coloring_spec": _sql_coloring_spec(2, 8),
        "g_hits": _sql_hits(3),
        "g_salsa": _sql_salsa(3),
        "g_salsa_seeded": _sql_salsa(3, seed_limit=4),
        "g_katz": _sql_katz(3),
        "g_eigenvector": _sql_eigenvector(4),
        "g_louvain": _sql_louvain(2),
        "g_node2vec": _sql_node2vec(4),
        "g_matching": _sql_matching(2),
        # MSF of chain(w=1) ∪ copurchase(w=5) = the chain, by the
        # cycle property: ground truth in closed form (q_g_mst docstring)
        "g_mst": """
            WITH v AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
            pairs AS (SELECT id AS a, lead(id) OVER (ORDER BY id) AS b FROM v)
            SELECT a, b, CAST(1.0 AS DOUBLE) AS w FROM pairs WHERE b IS NOT NULL""",
        "g_coreness": _sql_coreness(3),
        "g_trussness": _sql_trussness(2),
        "g_transitivity": f"""
            WITH {_EDGES},
            low AS (SELECT src, dst FROM edges WHERE src < dst),
            tri AS (SELECT count(*) AS t
                    FROM low e1 JOIN low e2 ON e1.dst = e2.src
                         JOIN low e3 ON e3.src = e1.src AND e3.dst = e2.dst),
            deg AS (SELECT id, count(*) AS d FROM
                    (SELECT src AS id FROM low UNION ALL SELECT dst FROM low)
                    GROUP BY id),
            w AS (SELECT CAST(coalesce(sum(d * (d - 1)), 0) / 2 AS BIGINT) AS w FROM deg)
            SELECT tri.t AS n_triangles, w.w AS n_wedges,
                   CASE WHEN w.w > 0 THEN round(3.0 * tri.t / w.w, 6)
                        ELSE CAST(0.0 AS DOUBLE) END AS transitivity
            FROM tri, w""",
        "g_betweenness": _sql_betweenness(depth=2, n_roots=4),
        "g_ppr": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},
            outdeg AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
            ew AS (
              SELECT e.src, e.dst, CAST(0.85 AS DOUBLE) / o.c AS w
              FROM edges e JOIN outdeg o ON e.src = o.id
              UNION ALL
              SELECT id, id, CAST(0.0 AS DOUBLE) FROM vertices
            ),
            seeds AS (SELECT id FROM vertices ORDER BY id LIMIT 4),
            pr(iter, id, val) AS (
              SELECT 0, v.id, CASE WHEN s.id IS NOT NULL
                     THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
              FROM vertices v LEFT JOIN seeds s ON v.id = s.id
              UNION ALL
              SELECT p.iter + 1, e.dst,
                     (CASE WHEN s.id IS NOT NULL THEN CAST(0.15 AS DOUBLE) / 4
                      ELSE CAST(0.0 AS DOUBLE) END) + sum(e.w * p.val)
              FROM pr p JOIN ew e ON p.id = e.src
              LEFT JOIN seeds s ON e.dst = s.id
              WHERE p.iter < 10
              GROUP BY p.iter, e.dst, s.id
            )
            SELECT id, round(val, 6) AS ppr FROM pr WHERE iter = 10""",
        "g_anf": f"""
            WITH RECURSIVE oe AS ({SQL_ORDSEQ_EDGES}),
            ov AS (SELECT DISTINCT id FROM
                   (SELECT src AS id FROM oe UNION ALL SELECT dst FROM oe)),
            roots AS (SELECT id FROM ov ORDER BY id LIMIT 64),
            w(s, v, t) AS (
              SELECT id, id, 0 FROM roots
              UNION
              SELECT w.s, e.dst, w.t + 1 FROM w JOIN oe e ON w.v = e.src
              WHERE w.t < 6
            ),
            dist AS (SELECT s, v, min(t) AS d FROM w GROUP BY s, v),
            grid AS (SELECT unnest(generate_series(0, 6)) AS t)
            SELECT CAST(g.t AS INTEGER) AS t, count(*) AS n_pairs
            FROM grid g JOIN dist ON dist.d <= g.t
            GROUP BY g.t""",
        "g_harmonic": f"""
            WITH RECURSIVE oe AS ({SQL_ORDSEQ_EDGES}),
            ov AS (SELECT DISTINCT id FROM
                   (SELECT src AS id FROM oe UNION ALL SELECT dst FROM oe)),
            roots AS (SELECT id FROM ov ORDER BY id LIMIT 64),
            w(s, v, t) AS (
              SELECT id, id, 0 FROM roots
              UNION
              SELECT w.s, e.dst, w.t + 1 FROM w JOIN oe e ON w.v = e.src
              WHERE w.t < 8
            ),
            dist AS (
              SELECT s, v, min(t) AS d FROM w GROUP BY s, v HAVING min(t) >= 1
            ),
            h AS (
              SELECT s AS id, sum(1.0 / CAST(d AS DOUBLE)) AS h
              FROM dist GROUP BY s
            )
            SELECT r.id AS id, round(coalesce(h.h, 0.0), 6) AS harmonic
            FROM roots r LEFT JOIN h ON r.id = h.id""",
        "g_spam_mass": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},
            outdeg AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
            ew AS (
              SELECT e.src, e.dst, CAST(0.85 AS DOUBLE) / o.c AS w
              FROM edges e JOIN outdeg o ON e.src = o.id
              UNION ALL
              SELECT id, id, CAST(0.0 AS DOUBLE) FROM vertices
            ),
            seeds AS (SELECT id FROM vertices ORDER BY id LIMIT 4),
            pr(iter, id, val) AS (
              SELECT 0, id, CAST(1.0 AS DOUBLE) / {n_expr} FROM vertices
              UNION ALL
              SELECT p.iter + 1, e.dst, CAST(0.15 AS DOUBLE) / {n_expr} + sum(e.w * p.val)
              FROM pr p JOIN ew e ON p.id = e.src
              WHERE p.iter < 10
              GROUP BY p.iter, e.dst
            ),
            tr(iter, id, val) AS (
              SELECT 0, v.id, CASE WHEN s.id IS NOT NULL
                     THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
              FROM vertices v LEFT JOIN seeds s ON v.id = s.id
              UNION ALL
              SELECT t.iter + 1, e.dst,
                     (CASE WHEN s.id IS NOT NULL THEN CAST(0.15 AS DOUBLE) / 4
                      ELSE CAST(0.0 AS DOUBLE) END) + sum(e.w * t.val)
              FROM tr t JOIN ew e ON t.id = e.src
              LEFT JOIN seeds s ON e.dst = s.id
              WHERE t.iter < 10
              GROUP BY t.iter, e.dst, s.id
            )
            SELECT p.id AS id, round(p.val, 6) AS pr, round(t.val, 6) AS trust,
                   round(CASE WHEN p.val > 0
                         THEN (p.val - t.val) / p.val
                         ELSE CAST(0.0 AS DOUBLE) END, 6) AS spam_mass
            FROM (SELECT id, val FROM pr WHERE iter = 10) p
            JOIN (SELECT id, val FROM tr WHERE iter = 10) t ON p.id = t.id""",
        "g_ewise_mult_scalar": f"""
            WITH {_VERTICES}
            SELECT id, round(CAST((id % 7) + 1 AS DOUBLE) * CAST(2.5 AS DOUBLE), 6) AS val
            FROM vertices""",
        "g_apply_unary": f"""
            WITH {_VERTICES}
            SELECT id, round(CAST((id % 7) + 1 AS DOUBLE) * CAST((id % 7) + 1 AS DOUBLE) + 1.0, 6) AS val
            FROM vertices""",
        "g_set_element": f"""
            WITH {_VERTICES}
            SELECT id, round(CASE WHEN id = (SELECT min(l_partkey) FROM lineitem)
                                  THEN CAST(42.0 AS DOUBLE)
                                  ELSE CAST((id % 7) + 1 AS DOUBLE) END, 6) AS val
            FROM vertices""",
        "g_assign_indexed": f"""
            WITH {_VERTICES},
            up AS (SELECT id + 1 AS tid, CAST((id % 5) + 10 AS DOUBLE) AS nv
                   FROM vertices WHERE id % 9 = 0 AND id % 4 = 0)
            SELECT v.id, round(coalesce(up.nv, CAST((v.id % 7) + 1 AS DOUBLE)), 6) AS val
            FROM vertices v LEFT JOIN up ON v.id = up.tid""",
        "g_assign_scatter": f"""
            WITH {_VERTICES},
            up AS (SELECT id AS target, CAST((id % 3) + 0.5 AS DOUBLE) AS v
                   FROM vertices WHERE id % 6 = 0)
            SELECT v.id, round(coalesce(up.v, CAST((v.id % 7) + 1 AS DOUBLE)), 6) AS val
            FROM vertices v LEFT JOIN up ON v.id = up.target""",
        "g_ewise_add_mat": f"""
            WITH {_EDGES},
            a AS (SELECT src, dst, CAST((src + dst) % 10 AS DOUBLE) AS v FROM edges),
            b AS (SELECT src, dst, CAST(2.0 AS DOUBLE) AS v FROM edges WHERE src > dst)
            SELECT coalesce(a.src, b.src) AS src, coalesce(a.dst, b.dst) AS dst,
                   round(coalesce(a.v, CAST(0.0 AS DOUBLE)) + coalesce(b.v, CAST(0.0 AS DOUBLE)), 6) AS val
            FROM a FULL OUTER JOIN b ON a.src = b.src AND a.dst = b.dst""",
        # resize: NN-resample of the 8×8 fake-decoded tile to 3×3 —
        # source pixel (y,x) = md5-digest byte (y*8+x) % 16; the index
        # list below is computed by the SAME formula as resize_image
        "m_resize": _sql_resize(),
        "m_byte_hist": """
            WITH codes AS (
              SELECT doc_id AS asset_id,
                     list_transform(range(1, length(text) + 1),
                                    i -> ord(substr(text, CAST(i AS INT), 1))) AS cs
              FROM documents
            )
            SELECT asset_id,
                   array_to_string(list_transform(range(0, 16),
                                  j -> CAST(len(list_filter(cs, c -> c % 16 = j)) AS BIGINT)), ',') AS hist
            FROM codes""",
        "g_apply_vxm": f"""
            WITH {_EDGES}
            SELECT dst AS id,
                   round(sum((CAST((src % 7) + 1 AS DOUBLE) * 2 + 1) * CAST(1.0 AS DOUBLE)), 6) AS val
            FROM edges GROUP BY dst""",
        "g_assign_masked": f"""
            WITH {_VERTICES}
            SELECT id, round(CASE WHEN id % 5 = 0 THEN CAST(99.0 AS DOUBLE)
                                  ELSE CAST((id % 7) + 1 AS DOUBLE) END, 6) AS val
            FROM vertices""",
        "g_scatter": f"""
            WITH {_VERTICES}
            SELECT DISTINCT id % 11 AS id, CAST(1.0 AS DOUBLE) AS val FROM vertices""",
        "g_extract_subvector": f"""
            WITH {_VERTICES}
            SELECT id, round(CAST((id % 7) + 1 AS DOUBLE), 6) AS val
            FROM vertices WHERE id % 4 = 0""",
        "g_count_unique": f"""
            WITH {_VERTICES}
            SELECT count(DISTINCT id % 100) AS n_unique FROM vertices""",
        "g_extract_submatrix": f"""
            WITH {_EDGES}
            SELECT src, dst, CAST(1.0 AS DOUBLE) AS val
            FROM edges WHERE src % 5 = 0 AND dst % 3 = 0""",
        "g_linkpred": f"""
            WITH {_EDGES},
            low AS (SELECT src, dst FROM edges WHERE src < dst),
            deg AS (SELECT src AS id, count(*) AS d FROM edges GROUP BY src),
            cn AS (
              SELECT e.src, e.dst, n1.dst AS w
              FROM low e
              JOIN edges n1 ON n1.src = e.src
              JOIN edges n2 ON n2.src = e.dst AND n2.dst = n1.dst
            ),
            agg AS (
              SELECT cn.src, cn.dst, count(*) AS common,
                     sum(1.0 / ln(dw.d)) AS aa
              FROM cn JOIN deg dw ON dw.id = cn.w
              GROUP BY cn.src, cn.dst
            )
            SELECT a.src, a.dst, a.common,
                   round(CAST(a.common AS DOUBLE) / (da.d + db.d - a.common), 6) AS jaccard,
                   round(a.aa, 6) AS adamic_adar
            FROM agg a
            JOIN deg da ON da.id = a.src
            JOIN deg db ON db.id = a.dst""",
        "g_ewise_mult_mv": f"""
            WITH {_EDGES}
            SELECT src, dst,
                   round(CAST((src + dst) % 10 AS DOUBLE) * CAST((src % 7) + 1 AS DOUBLE), 6) AS val
            FROM edges""",
        "g_reduce_vec_scalar": f"""
            WITH {_VERTICES}
            SELECT round(sum(CAST((id % 7) + 1 AS DOUBLE)), 6) AS total FROM vertices""",
        "g_mxm_2hop": f"""
            WITH {_EDGES}
            SELECT e1.src AS src, e2.dst AS dst,
                   round(CAST(count(*) AS DOUBLE), 6) AS n_paths
            FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
            WHERE e1.src % 50 = 0
            GROUP BY e1.src, e2.dst""",
        "g_lgc": _sql_lgc(4),
        # replay of walks.py's pure-hash step rule: from v at step t, walk w
        # moves to the (hash mod deg)-th neighbor in sorted-dst order.
        "g_random_walks": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},
            ranked AS (
              SELECT src, dst,
                     row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
                     count(*) OVER (PARTITION BY src) AS deg
              FROM edges
            ),
            roots AS (SELECT id FROM vertices ORDER BY id LIMIT 48),
            w(walk_id, step, id) AS (
              SELECT id, CAST(0 AS BIGINT), id FROM roots
              UNION ALL
              SELECT w.walk_id, w.step + 1, r.dst
              FROM w JOIN ranked r ON r.src = w.id
               AND r.idx = ((w.walk_id * 1000003 + w.step * 10007 + w.id * 31) % 999983) % r.deg
              WHERE w.step < 6
            )
            SELECT walk_id, step, id FROM w""",
        # layered fanout sample: rank neighbors by the (src,dst) hash with
        # dst tiebreak, take the top fanouts[t] per layer-t vertex, dedup
        # per (root, layer).
        "g_nbr_sample": f"""
            WITH {_EDGES}, {_VERTICES},
            ranked AS (
              SELECT src, dst, row_number() OVER (
                PARTITION BY src
                ORDER BY (src * 1000003 + dst * 10007) % 999983, dst) AS rk
              FROM edges
            ),
            roots AS (SELECT id FROM vertices ORDER BY id LIMIT 32),
            l0 AS (SELECT id AS root, id FROM roots),
            l1 AS (SELECT DISTINCT l0.root, r.dst AS id
                   FROM l0 JOIN ranked r ON r.src = l0.id AND r.rk <= 3),
            l2 AS (SELECT DISTINCT l1.root, r.dst AS id
                   FROM l1 JOIN ranked r ON r.src = l1.id AND r.rk <= 2)
            SELECT root, CAST(0 AS BIGINT) AS layer, id FROM l0
            UNION ALL SELECT root, CAST(1 AS BIGINT), id FROM l1
            UNION ALL SELECT root, CAST(2 AS BIGINT), id FROM l2""",
        "g_msbfs": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},{_SQL_MSBFS_BODY}
            SELECT root, id, depth FROM lv""",
        "g_diameter": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},{_SQL_MSBFS_BODY}
            SELECT CAST(max(depth) AS BIGINT) AS diameter FROM lv""",
        "g_closeness": f"""
            WITH RECURSIVE {_EDGES}, {_VERTICES},{_SQL_MSBFS_BODY}
            SELECT root AS id, round(sum(CAST(1.0 AS DOUBLE) / depth), 6) AS closeness
            FROM lv WHERE depth > 0 GROUP BY root""",
        # k-core peel unrolled 2 rounds (k=64); the symmetric copurchase
        # edge table IS the adjacency, degree = count within survivors
        "g_kcore": f"""
            WITH {_EDGES_MAT}, {_VERTICES_MAT},
            r0 AS MATERIALIZED (SELECT id FROM vertices),
            d0 AS MATERIALIZED (SELECT e.src AS id, count(*) AS c FROM edges e
              JOIN r0 a ON e.src = a.id JOIN r0 b ON e.dst = b.id GROUP BY e.src),
            r1 AS MATERIALIZED (SELECT r.id FROM r0 r JOIN d0 d ON r.id = d.id WHERE d.c >= 64),
            d1 AS MATERIALIZED (SELECT e.src AS id, count(*) AS c FROM edges e
              JOIN r1 a ON e.src = a.id JOIN r1 b ON e.dst = b.id GROUP BY e.src),
            r2 AS MATERIALIZED (SELECT r.id FROM r1 r JOIN d1 d ON r.id = d.id WHERE d.c >= 64)
            SELECT v.id, CAST(CASE WHEN rr.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_core
            FROM vertices v LEFT JOIN r2 rr ON v.id = rr.id""",
        "d_token_count": rf"""
            WITH {_TOKS},
            bpe AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS b
              FROM documents
            )
            SELECT toks.doc_id AS doc_id,
                   CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(len(b) AS BIGINT) AS n_subwords
            FROM toks JOIN bpe ON toks.doc_id = bpe.doc_id""",
        "d_quality": _SQL_QUALITY,
        "d_lang_id": _SQL_LANG,
        # min over shingle md5s is distinct-insensitive, so the deduped
        # shingle CTE reproduces add_fingerprint's non-deduped min exactly.
        "d_fingerprint": f"""
            WITH {_TOKS}, {_SHINGLES}
            SELECT sh.doc_id AS doc_id, md5(d.text) AS fp_md5,
                   list_min(list_transform(sh.s, x -> md5(x))) AS fp_rolling
            FROM sh JOIN documents d ON d.doc_id = sh.doc_id""",
        # replay of sampling.py hash_bucket: first 8 md5 hex chars of
        # the key string → int, mod 1e6, cumulative split thresholds
        "d_hash_split": """
            SELECT doc_id,
                   CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 1000000 < 900000 THEN 'train'
                        WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                             % 1000000 < 950000 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""",
        "d_stratified": """
            WITH b AS (
              SELECT doc_id, source,
                     CAST('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                     % 1000000 AS bkt
              FROM documents
            )
            SELECT doc_id, source FROM b
            WHERE (source = 'src0' AND bkt < 1000000)
               OR (source = 'src1' AND bkt < 500000)
               OR (source = 'src5' AND bkt < 200000)""",
        # replay of ngram_contamination(n=4): corpus 4-grams left-semi
        # joined to the distinct 4-grams of the doc_id%97=0 eval slice
        "d_contamination": r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
              FROM documents
            ),
            eg AS (
              SELECT DISTINCT unnest(CASE WHEN len(t) >= 4 THEN list_transform(
                generate_series(1, len(t)-3), i -> array_to_string(t[i:i+3], ' '))
              ELSE [] END) AS gram
              FROM toks WHERE doc_id % 97 = 0
            ),
            dg AS (
              SELECT doc_id, unnest(CASE WHEN len(t) >= 4 THEN list_transform(
                generate_series(1, len(t)-3), i -> array_to_string(t[i:i+3], ' '))
              ELSE [NULL] END) AS gram
              FROM toks WHERE doc_id % 97 <> 0
            ),
            hits AS (
              SELECT d.doc_id, count(*) AS n_contaminated
              FROM dg d JOIN eg e ON d.gram = e.gram GROUP BY d.doc_id
            ),
            per AS (SELECT doc_id, count(gram) AS n_grams FROM dg GROUP BY doc_id)
            SELECT p.doc_id, p.n_grams,
                   coalesce(h.n_contaminated, 0) AS n_contaminated,
                   round(CASE WHEN p.n_grams > 0
                         THEN coalesce(h.n_contaminated, 0) / CAST(p.n_grams AS DOUBLE)
                         ELSE 0.0 END, 6) AS contaminated_frac
            FROM per p LEFT JOIN hits h ON p.doc_id = h.doc_id""",
        # replay of add_repetition_signals over the same line-break
        # splice: sorted-array neighbor flags for dup lines AND dup
        # grams; gram fractions are CHARACTER-weighted (chars in
        # occurrences of repeated gram values / chars in all gram
        # occurrences — text.py add_repetition_signals)
        "d_repetition": r"""
            WITH base AS (
              SELECT doc_id,
                     replace(replace(replace(replace(text,
                       ' table ', chr(10)), ' value ', chr(10)),
                       ' query ', chr(10)), ' a ', chr(10)) AS text
              FROM documents
            ),
            ls AS (
              SELECT doc_id,
                     list_sort(list_filter(string_split(text, chr(10)), x -> x <> '')) AS l,
                     list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
              FROM base
            ),
            fl AS (
              SELECT doc_id, l, t,
                     list_filter(
                       list_transform(generate_series(1, len(l)),
                         i -> CASE WHEN (i > 1 AND l[i] = l[i-1])
                                     OR (i < len(l) AND l[i] = l[i+1])
                              THEN l[i] END),
                       x -> x IS NOT NULL) AS dl
              FROM ls
            ),
            gr AS (
              SELECT doc_id, l, dl,
                     list_sort(CASE WHEN len(t) >= 2 THEN list_transform(
                       generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])
                     ELSE [] END) AS g2,
                     list_sort(CASE WHEN len(t) >= 3 THEN list_transform(
                       generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                     ELSE [] END) AS g3,
                     list_sort(CASE WHEN len(t) >= 4 THEN list_transform(
                       generate_series(1, len(t)-3),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
                     ELSE [] END) AS g4
              FROM fl
            ),
            du AS (
              SELECT doc_id, l, dl,
                     list_filter(list_transform(generate_series(1, len(g2)),
                       i -> CASE WHEN (i > 1 AND g2[i] = g2[i-1])
                                   OR (i < len(g2) AND g2[i] = g2[i+1])
                            THEN g2[i] END), x -> x IS NOT NULL) AS d2, g2,
                     list_filter(list_transform(generate_series(1, len(g3)),
                       i -> CASE WHEN (i > 1 AND g3[i] = g3[i-1])
                                   OR (i < len(g3) AND g3[i] = g3[i+1])
                            THEN g3[i] END), x -> x IS NOT NULL) AS d3, g3,
                     list_filter(list_transform(generate_series(1, len(g4)),
                       i -> CASE WHEN (i > 1 AND g4[i] = g4[i-1])
                                   OR (i < len(g4) AND g4[i] = g4[i+1])
                            THEN g4[i] END), x -> x IS NOT NULL) AS d4, g4
              FROM gr
            )
            SELECT doc_id,
                   round(CASE WHEN len(l) > 0
                         THEN len(dl) / CAST(len(l) AS DOUBLE) ELSE 0.0 END, 6) AS dup_line_frac,
                   round(CASE WHEN list_sum(list_transform(l, x -> length(x))) > 0
                         THEN coalesce(list_sum(list_transform(dl, x -> length(x))), 0)
                              / CAST(list_sum(list_transform(l, x -> length(x))) AS DOUBLE)
                         ELSE 0.0 END, 6) AS dup_line_char_frac,
                   round(CASE WHEN coalesce(list_sum(list_transform(g2, x -> length(x))), 0) > 0
                         THEN coalesce(list_sum(list_transform(d2, x -> length(x))), 0)
                              / CAST(list_sum(list_transform(g2, x -> length(x))) AS DOUBLE)
                         ELSE 0.0 END, 6) AS dup_2gram_frac,
                   round(CASE WHEN coalesce(list_sum(list_transform(g3, x -> length(x))), 0) > 0
                         THEN coalesce(list_sum(list_transform(d3, x -> length(x))), 0)
                              / CAST(list_sum(list_transform(g3, x -> length(x))) AS DOUBLE)
                         ELSE 0.0 END, 6) AS dup_3gram_frac,
                   round(CASE WHEN coalesce(list_sum(list_transform(g4, x -> length(x))), 0) > 0
                         THEN coalesce(list_sum(list_transform(d4, x -> length(x))), 0)
                              / CAST(list_sum(list_transform(g4, x -> length(x))) AS DOUBLE)
                         ELSE 0.0 END, 6) AS dup_4gram_frac
            FROM du""",
        # replay of top_ngram_char_frac: count per (doc, bigram), rank
        # by count desc / gram asc, keep the winner (text.py:173-210)
        "d_top_ngram": f"""
            WITH {_TOKS},
            g AS (
              SELECT toks.doc_id AS doc_id, length(d.text) AS n_chars,
                     unnest(CASE WHEN len(t) >= 2 THEN list_transform(
                       generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])
                     ELSE [] END) AS gram
              FROM toks JOIN documents d ON d.doc_id = toks.doc_id
            ),
            c AS (SELECT doc_id, n_chars, gram, count(*) AS c FROM g GROUP BY ALL),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn FROM c)
            SELECT doc_id, gram AS top_ngram,
                   round(CASE WHEN n_chars > 0
                         THEN c * length(gram) / CAST(n_chars AS DOUBLE)
                         ELSE 0.0 END, 6) AS top_ngram_char_frac
            FROM r WHERE rn = 1""",
        # replay of functions/urls.py normalize_url rules 1-4 + host/site
        # extraction over the same orders-synthesized messy urls
        "d_url_normalize": r"""
            WITH u0 AS (
              SELECT o_orderkey AS order_id,
                     'HTTP://Site' || (o_custkey % 37) || '.Example.COM:80/Order/'
                       || o_orderkey || '?utm_source=x&b=' || (o_orderkey % 5)
                       || '&a=1#frag' AS url
              FROM orders
            ),
            s1 AS (SELECT order_id, url, regexp_replace(url, '#.*$', '') AS u FROM u0),
            s2 AS (SELECT order_id, url, u,
                          regexp_extract(u, '^([^/?]*//[^/?]*)', 1) AS pre0 FROM s1),
            s3 AS (SELECT order_id, url, u, lower(pre0) AS prel,
                          substring(u, length(pre0) + 1) AS rest FROM s2),
            s4 AS (SELECT order_id, url, rest,
                          CASE WHEN starts_with(prel, 'http://')
                               THEN regexp_replace(prel, ':80$', '')
                               WHEN starts_with(prel, 'https://')
                               THEN regexp_replace(prel, ':443$', '')
                               ELSE prel END AS pre
                   FROM s3),
            s5 AS (SELECT order_id, url, pre,
                          regexp_replace(rest, '\?.*$', '') AS path,
                          CASE WHEN contains(rest, '?')
                               THEN regexp_replace(rest, '^[^?]*\?', '')
                               ELSE '' END AS q
                   FROM s4),
            s6 AS (SELECT order_id, url, pre, path,
                          array_to_string(list_sort(list_filter(string_split(q, '&'),
                            p -> p <> '' AND NOT regexp_matches(p,
                              '^(utm_[a-z]*|fbclid|gclid|msclkid|ref)='))), '&') AS q2
                   FROM s5),
            h AS (SELECT order_id, url, pre, path, q2,
                         regexp_replace(regexp_replace(
                           lower(regexp_extract(url, '^[^/?]*//([^/?]*)', 1)),
                           '^.*@', ''), ':[0-9]+$', '') AS host
                  FROM s6)
            SELECT order_id,
                   pre || path || CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS url_norm,
                   host,
                   CASE WHEN len(string_split(host, '.')) >= 2
                        THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                        ELSE host END AS site
            FROM h""",
        # replay of functions/urls.py domain_edges(by="host") over the
        # lineitem-synthesized url pairs
        "d_pii_redact": r"""
            WITH dirty AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 > 0
                          THEN ' contact user' || doc_id || '@mail'
                               || (doc_id % 7) || '.example.com'
                          ELSE '' END
                     || CASE WHEN doc_id % 2 = 0
                          THEN ' tel +1 (555) 01'
                               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                          ELSE '' END
                     || ' host 10.' || (doc_id % 4) || '.0.' || (doc_id % 250)
                     AS t
              FROM documents
            ),
            p1 AS (
              SELECT doc_id,
                     len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                     regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t
              FROM dirty
            ),
            p2 AS (
              SELECT doc_id, n_email,
                     len(regexp_extract_all(t,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
                     regexp_replace(t,
                       '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t
              FROM p1
            ),
            p3 AS (
              SELECT doc_id, n_email, n_ipv4,
                     len(regexp_extract_all(t,
                       '\+?[0-9][0-9() -]{6,}[0-9]')) AS n_phone,
                     regexp_replace(t,
                       '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS t
              FROM p2
            )
            SELECT doc_id,
                   CAST(n_email AS INTEGER) AS n_pii_email,
                   CAST(n_ipv4 AS INTEGER) AS n_pii_ipv4,
                   CAST(n_phone AS INTEGER) AS n_pii_phone,
                   CAST(n_email + n_ipv4 + n_phone AS INTEGER) AS n_pii,
                   t AS text_redacted
            FROM p3
        """,
        "d_domain_graph": r"""
            WITH p AS (
              SELECT 'https://s' || (l_suppkey % 23) || '.Shop.Example:443/x' AS src_url,
                     'https://p' || (l_partkey % 31) || '.cdn.example/y/'
                       || l_orderkey AS dst_url
              FROM lineitem
            ),
            d AS (SELECT
                    regexp_replace(regexp_replace(
                      lower(regexp_extract(src_url, '^[^/?]*//([^/?]*)', 1)),
                      '^.*@', ''), ':[0-9]+$', '') AS src_domain,
                    regexp_replace(regexp_replace(
                      lower(regexp_extract(dst_url, '^[^/?]*//([^/?]*)', 1)),
                      '^.*@', ''), ':[0-9]+$', '') AS dst_domain
                  FROM p)
            SELECT src_domain, dst_domain, CAST(count(*) AS DOUBLE) AS n_links
            FROM d WHERE src_domain <> dst_domain
            GROUP BY src_domain, dst_domain""",
        # the composed curation pipeline (chained-CTE replay of every
        # stage over the previous stage's survivors)
        "d_clean_corpus": _sql_clean_corpus(),
        "d_pack_sequences": _sql_pack_sequences(64, 8),
        "d_packing_stats": _sql_packing_stats(64, 8),
        # replay of span_dedup_stats over disjoint 3-token windows:
        # corpus-wide md5-count per span, char-weighted per-doc dup
        # fraction (functions/dedup.py span_dedup_stats)
        "d_span_dedup": f"""
            WITH {_TOKS},
            w AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3 THEN list_transform(
                            generate_series(1, len(t)-2, 3),
                            i -> array_to_string(t[i:i+2], ' '))
                          WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                          ELSE [] END AS ws
              FROM toks
            ),
            occ0 AS (SELECT doc_id, unnest(ws) AS span FROM w),
            occ AS (SELECT doc_id, md5(span) AS h, length(span) AS c FROM occ0),
            cnt AS (SELECT h, count(*) AS n FROM occ GROUP BY h),
            pd AS (
              SELECT occ.doc_id AS doc_id, count(*) AS n_spans,
                     CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                     sum(c) AS tc,
                     sum(CASE WHEN n >= 2 THEN c ELSE 0 END) AS dc
              FROM occ JOIN cnt ON occ.h = cnt.h GROUP BY occ.doc_id
            )
            SELECT d.doc_id AS doc_id,
                   coalesce(n_spans, 0) AS n_spans,
                   coalesce(n_dup, 0) AS n_dup_spans,
                   round(CASE WHEN coalesce(tc, 0) > 0
                         THEN dc / CAST(tc AS DOUBLE) ELSE 0.0 END, 6) AS dup_span_frac
            FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""",
        "d_anchor_agg": r"""
            WITH pages AS (
              SELECT 'http://site' || (o_custkey % 37) || '.example.com/o/'
                       || o_orderkey AS src_url,
                     '<p>x</p><li><a href="http://t' || (o_orderkey % 200)
                       || '.example.com/">order ' || (o_orderkey % 50)
                       || '</a></li>'
                       || '<li><a href="http://t' || ((o_orderkey * 7) % 200)
                       || '.example.com/">ref ' || (o_orderkey % 31)
                       || '</a></li>' AS html
              FROM orders
            ),
            tags AS (
              SELECT src_url,
                     unnest(regexp_extract_all(html,
                       '<a href="[^"]*">[^<]*</a>')) AS tag
              FROM pages
            ),
            an AS (
              SELECT src_url,
                     regexp_extract(tag, 'href="([^"]*)"', 1) AS dst_url,
                     regexp_extract(tag, '>([^<]*)</a>', 1) AS anchor
              FROM tags
            ),
            tot AS (
              SELECT dst_url, count(*) AS n_inlinks,
                     count(DISTINCT src_url) AS n_src
              FROM an GROUP BY dst_url
            ),
            pc AS (
              SELECT dst_url, anchor, count(*) AS c
              FROM an GROUP BY dst_url, anchor
            ),
            top AS (
              SELECT dst_url, first(anchor ORDER BY c DESC, anchor) AS top_anchor
              FROM pc GROUP BY dst_url
            )
            SELECT t.dst_url AS dst_url, t.n_inlinks AS n_inlinks,
                   CAST(t.n_src AS BIGINT) AS n_src, p.top_anchor AS top_anchor
            FROM tot t JOIN top p ON t.dst_url = p.dst_url""",
        "d_boilerplate": r"""
            WITH dirty AS (
              SELECT doc_id,
                     text || chr(10) ||
                     CASE WHEN doc_id % 3 = 0
                            THEN 'copyright example corp all rights reserved'
                          WHEN doc_id % 3 = 1
                            THEN 'subscribe to our newsletter for updates'
                          ELSE 'contact page ' || doc_id END AS t
              FROM documents
            ),
            paras AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(string_split_regex(t, '\n+'), p -> trim(p)),
                       p -> length(p) >= 1) AS ps
              FROM dirty
            ),
            occ AS (
              SELECT doc_id, unnest(ps) AS span,
                     unnest(generate_series(1, len(ps))) AS pos
              FROM paras
            ),
            occ2 AS (
              SELECT doc_id, pos, span, md5(span) AS h, length(span) AS c
              FROM occ
            ),
            cnt AS (SELECT h, count(DISTINCT doc_id) AS nd FROM occ2 GROUP BY h),
            fl AS (
              SELECT o.doc_id, o.pos, o.span, o.c, (cnt.nd >= 25) AS b
              FROM occ2 o JOIN cnt ON o.h = cnt.h
            ),
            pd AS (
              SELECT doc_id, count(*) AS n_spans,
                     sum(CASE WHEN b THEN 1 ELSE 0 END) AS n_boiler,
                     sum(c) AS tc,
                     sum(CASE WHEN b THEN c ELSE 0 END) AS bc,
                     string_agg(CASE WHEN NOT b THEN span END, ' ' ORDER BY pos) AS clean
              FROM fl GROUP BY doc_id
            )
            SELECT d.doc_id AS doc_id,
                   CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
                   CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler_spans,
                   round(CASE WHEN coalesce(tc, 0) > 0
                         THEN bc / CAST(tc AS DOUBLE) ELSE 0.0 END, 6)
                     AS boiler_char_frac,
                   coalesce(clean, '') AS text_clean
            FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""",
        "d_exact_dedup": """
            SELECT md5(text) AS fp_md5, count(*) AS n_dups, min(doc_id) AS canonical_id
            FROM documents GROUP BY md5(text) HAVING count(*) >= 2""",
        "d_minhash_lsh": f"""
            WITH {_TOKS}, {_SHINGLES}, {_sql_minhash_sig(8)}, {_sql_lsh_pairs(4, 2)}
            SELECT a, b FROM cand""",
        "d_jaccard": f"""
            WITH {_TOKS}, {_SHINGLES}, {_sql_minhash_sig(8)}, {_sql_lsh_pairs(4, 2)}
            SELECT c.a AS a, c.b AS b,
                   round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                         / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
            FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
            WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.2""",
        "d_simhash": _sql_simhash(60),
        "d_simhash_hamming": _sql_simhash_hamming(60, 3),
        # pipeline: same CTEs as d_jaccard, then min-label CC to fixpoint
        # over verified pairs (symmetric + self edges); 20 unrolled
        # rounds ≫ any LSH cluster's diameter at test scale. The filter
        # is on the ROUNDED jaccard — lockstep with ngram_jaccard_pairs,
        # which rounds before thresholding.
        "d_dedup_clusters": f"""
            WITH RECURSIVE {_TOKS}, {_SHINGLES}, {_sql_minhash_sig(8)}, {_sql_lsh_pairs(4, 2)},
            ver AS (
              SELECT c.a, c.b
              FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
              WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                    / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6)
                    >= CAST(0.2 AS DOUBLE)
            ),
            ea AS (
              SELECT a AS src, b AS dst FROM ver
              UNION ALL SELECT b AS src, a AS dst FROM ver
              UNION ALL SELECT doc_id AS src, doc_id AS dst FROM documents
            ),
            lbl(iter, id, l) AS (
              SELECT 0, doc_id, doc_id FROM documents
              UNION ALL
              SELECT p.iter + 1, e.src, min(p.l)
              FROM lbl p JOIN ea e ON p.id = e.dst
              WHERE p.iter < 20
              GROUP BY p.iter, e.src
            )
            SELECT id AS doc_id, l AS cluster_id, (id = l) AS is_canonical
            FROM lbl WHERE iter = 20""",
        "e_knn_cosine": f"""
            WITH q AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 10),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_SQL_COSINE} AS cos
              FROM q, embeddings c
              WHERE q.vec_id <> c.vec_id
            )
            SELECT query_id, neighbor_id, cos FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
              FROM scored
            ) WHERE rn <= 5""",
        "e_ivf_knn": f"""
            WITH cent AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding AS centroid
              FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            qs AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 10),
            assigned AS MATERIALIZED (
              SELECT vec_id AS neighbor_id, embedding AS cemb, cell FROM (
                SELECT q.vec_id, q.embedding, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                                          ORDER BY {_SQL_COSINE.replace('c.embedding', 'c.centroid')} DESC, c.cell) AS rn
                FROM embeddings q, cent c
              ) WHERE rn <= 1
            ),
            probes AS MATERIALIZED (
              SELECT vec_id AS query_id, embedding AS qemb, cell FROM (
                SELECT q.vec_id, q.embedding, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                                          ORDER BY {_SQL_COSINE.replace('c.embedding', 'c.centroid')} DESC, c.cell) AS rn
                FROM qs q, cent c
              ) WHERE rn <= 4
            ),
            scored AS (
              SELECT DISTINCT p.query_id, a.neighbor_id,
                     {_SQL_COSINE.replace('q.embedding', 'p.qemb').replace('c.embedding', 'a.cemb')} AS cos
              FROM probes p JOIN assigned a ON p.cell = a.cell
              WHERE p.query_id <> a.neighbor_id
            )
            SELECT query_id, neighbor_id, cos FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
              FROM scored
            ) WHERE rn <= 5""",
        "e_cosine_neardup": f"""
            WITH cent AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding AS centroid
              FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            assigned AS MATERIALIZED (
              SELECT vec_id, embedding, cell FROM (
                SELECT q.vec_id, q.embedding, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                                          ORDER BY {_SQL_COSINE.replace('c.embedding', 'c.centroid')} DESC, c.cell) AS rn
                FROM embeddings q, cent c
              ) WHERE rn <= 1
            )
            SELECT x.vec_id AS a, y.vec_id AS b,
                   {_SQL_COSINE.replace('q.embedding', 'x.embedding').replace('c.embedding', 'y.embedding')} AS cos
            FROM assigned x JOIN assigned y ON x.cell = y.cell AND x.vec_id < y.vec_id
            WHERE {_SQL_COSINE.replace('q.embedding', 'x.embedding').replace('c.embedding', 'y.embedding')} >= CAST(0.3 AS DOUBLE)""",
        # e_cosine_neardup's cell-assignment + pair CTEs, closed under
        # min-label CC (symmetric + self edges, 20 unrolled rounds ≫
        # any near-dup cluster diameter at test scale)
        "e_dedup_clusters": f"""
            WITH RECURSIVE cent AS MATERIALIZED (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding AS centroid
              FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
            ),
            assigned AS MATERIALIZED (
              SELECT vec_id, embedding, cell FROM (
                SELECT q.vec_id, q.embedding, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                                          ORDER BY {_SQL_COSINE.replace('c.embedding', 'c.centroid')} DESC, c.cell) AS rn
                FROM embeddings q, cent c
              ) WHERE rn <= 1
            ),
            ver AS MATERIALIZED (
              SELECT x.vec_id AS a, y.vec_id AS b
              FROM assigned x JOIN assigned y ON x.cell = y.cell AND x.vec_id < y.vec_id
              WHERE {_SQL_COSINE.replace('q.embedding', 'x.embedding').replace('c.embedding', 'y.embedding')} >= CAST(0.3 AS DOUBLE)
            ),
            ea AS (
              SELECT a AS src, b AS dst FROM ver
              UNION ALL SELECT b AS src, a AS dst FROM ver
              UNION ALL SELECT vec_id AS src, vec_id AS dst FROM embeddings
            ),
            lbl(iter, id, l) AS (
              SELECT 0, vec_id, vec_id FROM embeddings
              UNION ALL
              SELECT p.iter + 1, e.src, min(p.l)
              FROM lbl p JOIN ea e ON p.id = e.dst
              WHERE p.iter < 20
              GROUP BY p.iter, e.src
            )
            SELECT id AS vec_id, l AS cluster_id, (id = l) AS is_canonical
            FROM lbl WHERE iter = 20""",
        "q_events_window": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n, round(sum(value), 6) AS total
            FROM events GROUP BY 1, 2""",
        "q_events_sessions": """
            WITH o AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id) > 3600
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            ), s AS (
              SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_id
              FROM o
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS start_ts, max(ts) AS end_ts,
                   round(sum(value), 6) AS total_value
            FROM s GROUP BY user_id, session_id""",
        "q_events_user_stats": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 6) AS total_value, max(ts) AS last_ts
            FROM events GROUP BY user_id""",
        "q_lineitem_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 6) AS sum_qty,
                   round(sum(l_extendedprice), 6) AS sum_price,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    }
    # The incremental warm start must land on the cold fixpoint exactly
    # (appends only merge components) — same oracle as the cold row.
    sql["g_cc_incremental"] = sql["g_cc"]
    return sql
