"""Triangle count — oriented wedge join (the masked-SpGEMM query).

Reference: graphblas/algorithm/tc.hpp:15-54 — tril(A), then
B⟨L⟩ = L ⊕.⊗ Lᵀ masked SpGEMM, then Σ B; CPU oracle is
sorted-adjacency-list intersection (test_tc.hpp:14-84). Input is
symmetrized (run_tc.sh:17 --directed 2).

Spark formulation: orient each undirected edge by a total order, then

    triangles = |{(u,v),(v,w),(u,w)} ⊆ oriented|

via a two-join plan — the wedge join (oriented ⋈ oriented on v) plus
the closing semi-join. Each triangle appears exactly once.

Orientation choice matters enormously at scale (power-law web graphs):
- ``orient="id"`` is the reference's tril (row > col), which leaves
  hub vertices with huge out-lists → wedge explosion;
- ``orient="degree"`` (default) orients low-degree → high-degree, the
  standard skew-killer: every vertex's oriented out-degree is
  O(sqrt(|E|)), so the wedge join's fan-out is bounded. Count is
  identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph


def degree_oriented(g: Graph) -> DataFrame:
    """(u, v): every undirected edge once, oriented from the smaller
    (degree, id) endpoint to the larger — out-lists are O(√|E|)."""
    und = g.undirected()
    deg = und.groupBy("dst").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("dst").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("dst").alias("b"), F.col("deg").alias("deg_b"))
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    canon = und.filter(F.col("src") < F.col("dst")).toDF("a", "b")
    return canon.join(da, "a").join(db, "b").select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def triangle_count(g: Graph, orient: str = "degree", method: str = "arrays") -> int:
    """Exact triangle count of the undirected view of ``g``.

    ``method="arrays"`` (default): group oriented out-neighbors into
    sorted lists, join each oriented edge with both endpoints' lists and
    sum ``size(array_intersect)`` — the reference CPU oracle's
    sorted-list-intersection (test_tc.hpp:14-84) vectorized; it shuffles
    |E| rows + adjacency lists instead of materializing the wedge set
    (measured 25% faster at 2.4M edges, and the shuffle volume is
    O(|E|·√|E|) worst-case vs the wedge set's same bound with a larger
    constant). ``method="wedge"``: the explicit wedge join + closing
    semi-join (the masked-SpGEMM shape, kernels/spgemm.hpp:30-78)."""
    if orient == "degree":
        oriented = degree_oriented(g)
    else:  # "id": reference tril semantics (operations.hpp:867-886)
        oriented = g.undirected().filter(F.col("src") < F.col("dst")).toDF("u", "v")

    oriented = oriented.persist()
    if method == "arrays":
        # Downcast neighbor ids to int32 when the vertex universe
        # allows: every edge row carries its endpoints' neighbor
        # arrays through the v-side shuffle, so element width is the
        # single biggest byte knob of the whole query (measured 17%
        # off the RMAT-21 join stage — BENCH.md round 4; the stage is
        # DRAM-bound, so saved bytes are saved wall). One cheap max
        # aggregate over the persisted oriented table decides.
        max_id = oriented.agg(F.max(F.greatest("u", "v"))).first()[0]
        nbr_col = (
            F.col("v").cast("int")
            if max_id is not None and max_id < (1 << 31) - 1
            else F.col("v")
        )
        adj = oriented.select("u", nbr_col.alias("vv")).groupBy("u").agg(
            F.sort_array(F.collect_list("vv")).alias("nbrs")
        ).persist()
        au = adj.select(F.col("u"), F.col("nbrs").alias("nu"))
        av = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
        n_tri = (
            oriented.join(au, "u").join(av, "v")
            .select(F.size(F.array_intersect("nu", "nv")).alias("c"))
            .agg(F.sum("c")).first()[0] or 0
        )
        adj.unpersist()
    else:  # "wedge"
        e1 = oriented.select(F.col("u").alias("w_u"), F.col("v").alias("w_v"))
        e2 = oriented.select(F.col("u").alias("w_v2"), F.col("v").alias("w_w"))
        wedges = e1.join(e2, on=F.col("w_v") == F.col("w_v2")).select(
            F.col("w_u").alias("u"), F.col("w_w").alias("v")
        )
        # closing semi-join: the masked-SpGEMM mask (tc.hpp:38) — count
        # wedges whose (u,w) is itself an oriented edge.
        n_tri = wedges.join(oriented, on=["u", "v"], how="left_semi").count()
    oriented.unpersist()
    return int(n_tri)


def triangle_count_approx(
    g: Graph, k: int = 4, orient: str = "degree", method: str = "arrays"
) -> int:
    """DOULION approximate triangle count (Tsourakakis et al., KDD
    2009): keep each undirected edge with probability 1/k, count
    triangles of the sparsified graph exactly, scale by k³. Expected
    value is the true count; relative error concentrates as
    O(k^1.5/√T). This is the 100-TB scale path for triangle counting
    — the exact join shuffles O(|E|·√|E|) array bytes (the measured
    DRAM-bound stage, BENCH.md 2026-08-19), the sparsified run
    shuffles 1/k of the rows and 1/k of the array mass per row, so
    the dominant stage shrinks ~k² while the estimate stays unbiased.

    Sampling is a pure hash of the canonical edge — the engine's
    determinism contract (walks.py posture): identical estimate on
    any cluster size, any partitioning, and in the SQL oracle:
    keep (a,b) iff the first 8 hex digits of md5("a_b") mod k == 0.

    The hash must NOT be a linear form in (a, b): DOULION's
    unbiasedness needs the three edges of a triangle sampled
    (near-)independently, and any h(a,b) = αa + βb has its three
    triangle forms summing to α(a+b) + β(b+c) + ... — a fixed linear
    relation, so mod small k the third edge's survival is correlated
    with the first two (measured: a 31a+10007b hash overestimated
    RMAT-16 triangles by 1.66× at k=4; md5 measured 3.4% off).
    """
    if k < 1:
        raise ValueError(f"sampling factor k must be >= 1; got {k!r}")
    if k == 1:
        return triangle_count(g, orient=orient, method=method)
    und = g.undirected().filter(F.col("src") < F.col("dst")).toDF("a", "b")
    edge_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "_",
                    F.col("a").cast("string"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    kept = und.filter(F.pmod(edge_hash, F.lit(k)) == 0).withColumn(
        "val", F.lit(1.0)
    )
    sub = Graph.build(
        kept.select(F.col("a").alias("src"), F.col("b").alias("dst"), "val"),
        drop_self_loops=False, dedup=False,
    )
    t = triangle_count(sub, orient=orient, method=method)
    sub.unpersist()
    return int(t) * k ** 3


def common_neighbors_per_edge(g: Graph):
    """B⟨A⟩ = A ⊕.⊗ Aᵀ restricted to edges — per-edge common-neighbor
    count (the masked SpGEMM output before the final reduce,
    tc.hpp:38-41). Returns (src, dst, common) for canonical (src<dst)
    undirected edges with ≥1 common neighbor."""
    adj = g.undirected()
    n1 = adj.select("src", F.col("dst").alias("n1"))
    n2 = adj.select(F.col("src").alias("dst"), F.col("dst").alias("n2"))
    return (
        adj.filter(F.col("src") < F.col("dst"))
        .join(n1, "src")
        .join(n2, "dst")
        .filter(F.col("n1") == F.col("n2"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("common"))
    )
