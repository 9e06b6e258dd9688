"""Graph-shape statistics — the metrics a web-graph operator reads
before (and after) every crawl cycle: degree histogram, reciprocity,
degree assortativity, per-vertex local clustering coefficient.

The reference exposes only nrows/nnz (Matrix::nvals, matrix.hpp) —
these are beyond-reference, but they are the standard published
web-graph measurements (Broder et al. 2000 report all four families
for the Common Crawl ancestor graphs) and each is a one-or-two-pass
DataFrame aggregation, so they cost nothing to keep next to the
algorithms that need them (degree stats already drive vecmat's
auto-salting).

Scale notes (10^12-edge posture):
- ``degree_histogram``: two map-side-combining aggregates (id → deg,
  deg → count); the second groupBy's key cardinality is the number of
  DISTINCT degrees — thousands, not |V|.
- ``reciprocity``: one self-join of the edge table on the swapped key
  (src,dst)=(dst,src) — a semi-join, so nothing materializes beyond
  the match count; both sides are the same pinned layout.
- ``degree_assortativity``: degree join (the PageRank-superstep
  pattern) + a single F.corr aggregate; no shuffle beyond the joins.
- ``local_clustering_coefficient``: the oriented low→high-degree
  adjacency from tc.py (out-lists bounded O(√|E|), the wedge-explosion
  killer), array_intersect per oriented edge, triangle credit exploded
  back to all three corners — output rows bounded by 3·#triangles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.algorithms.tc import degree_oriented, triangle_count
from graphblast_spark.matrix import Graph


def degree_histogram(g: Graph, direction: str = "out") -> DataFrame:
    """(degree long, n_vertices long) — distribution of out-/in-/
    undirected degree over ALL vertices (degree-0 vertices included:
    a histogram that silently drops isolated vertices misreports the
    crawl frontier)."""
    if direction == "out":
        key = "src"
        deg_edges = g.edges.select(F.col(key).alias("id"))
    elif direction == "in":
        deg_edges = g.edges.select(F.col("dst").alias("id"))
    elif direction == "und":
        deg_edges = g.undirected().select(F.col("dst").alias("id"))
    else:
        raise ValueError(f"direction must be 'out', 'in', or 'und'; got {direction!r}")
    deg = deg_edges.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    dense = g.vertices.join(deg, "id", "left").select(
        F.coalesce("degree", F.lit(0)).alias("degree")
    )
    return dense.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))


def reciprocity(g: Graph) -> DataFrame:
    """1-row (n_edges long, n_reciprocal long, reciprocity double):
    the fraction of directed edges whose reverse edge also exists
    (Garlaschelli-Loffredo r; 1.0 on a symmetrized graph). Self-loops
    are already dropped by Graph.build."""
    e = g.edges.select("src", "dst")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_rec = e.join(rev, ["src", "dst"], "left_semi").count()
    n = g.nvals
    return (
        g.edges.sparkSession.createDataFrame(
            [(n, n_rec)], "n_edges long, n_reciprocal long"
        )
        # F.round (HALF_UP) so the value replays exactly in SQL oracles
        .select(
            "n_edges",
            "n_reciprocal",
            F.when(
                F.col("n_edges") > 0,
                F.round(F.col("n_reciprocal") / F.col("n_edges"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("reciprocity"),
        )
    )


def degree_assortativity(g: Graph) -> DataFrame:
    """1-row (assortativity double): Pearson correlation of the
    undirected degrees at the two endpoints of every undirected edge,
    both orientations counted (Newman 2002's r). Negative on web-like
    graphs (hubs link to leaves)."""
    both = g.undirected().toDF("a", "b")
    deg = both.groupBy(F.col("b").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("id").alias("b"), F.col("d").alias("dy"))
    return (
        both.join(da, "a").join(db, "b")
        .agg(F.round(F.corr("dx", "dy"), 6).alias("assortativity"))
    )


def global_transitivity(g: Graph) -> DataFrame:
    """1-row (n_triangles long, n_wedges long, transitivity double):
    the global clustering coefficient 3·T / W of the undirected view,
    where W = Σ_v d(v)·(d(v)−1)/2 is the open+closed wedge count
    (Newman's transitivity; the scalar companion of the per-vertex
    ``local_clustering_coefficient``). One triangle count (tc.py's
    degree-oriented intersection) + one two-level degree aggregate —
    no new join shapes; 0.0 on a wedge-free graph."""
    tri = triangle_count(g, orient="degree")
    deg = g.undirected().groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    # Σ d(d−1) summed exactly as decimal(38,0) (a 10^8-degree hub's
    # d² overflows float64's 2^53 integer range), halved driver-side
    wedges = int(
        deg.agg(
            F.sum((F.col("d") * (F.col("d") - 1)).cast("decimal(38,0)")).alias("w")
        ).first()[0]
        or 0
    ) // 2
    return (
        g.edges.sparkSession.createDataFrame(
            [(tri, wedges)], "n_triangles long, n_wedges long"
        ).select(
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
        )
    )


def local_clustering_coefficient(g: Graph) -> DataFrame:
    """(id long, triangles long, lcc double) dense over all vertices:
    lcc(v) = 2·T(v) / (d(v)·(d(v)−1)) on the undirected view, 0.0 for
    degree < 2 (Watts-Strogatz). Uses tc.py's degree-oriented
    sorted-adjacency intersection, crediting each triangle to all
    three corners."""
    deg = g.undirected().groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    oriented = degree_oriented(g).persist()
    adj = oriented.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("nbrs")
    )
    au = adj.select("u", F.col("nbrs").alias("nu"))
    av = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
    tri_e = (
        oriented.join(au, "u").join(av, "v")
        .select("u", "v", F.array_intersect("nu", "nv").alias("ws"))
        .filter(F.size("ws") > 0)
        .persist()
    )
    credits = (
        tri_e.select(F.col("u").alias("id"), F.size("ws").cast("long").alias("t"))
        .unionByName(
            tri_e.select(F.col("v").alias("id"), F.size("ws").cast("long").alias("t"))
        )
        .unionByName(
            tri_e.select(F.explode("ws").alias("id"), F.lit(1).cast("long").alias("t"))
        )
    )
    per_v = credits.groupBy("id").agg(F.sum("t").alias("triangles"))
    out = (
        g.vertices.join(per_v, "id", "left")
        .join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.coalesce("d", F.lit(0)) >= 2,
                F.round(
                    2.0 * F.coalesce("triangles", F.lit(0))
                    / (F.col("d") * (F.col("d") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )
    # materialize before releasing the persists: the cache manager
    # holds them until unpersist, the context cleaner never frees them
    out = out.localCheckpoint(eager=True)
    tri_e.unpersist()
    oriented.unpersist()
    return out
