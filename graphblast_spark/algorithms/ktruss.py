"""k-truss decomposition — edge-level cohesion by support peeling.

k-core (kcore.py) peels VERTICES by degree; the k-truss (Cohen 2008,
"Trusses: cohesive subgraphs for social network analysis") peels EDGES
by triangle support: the k-truss is the maximal subgraph in which every
edge participates in at least k-2 triangles *within the subgraph*. It
is the standard community-core / spam-link filter one tier stronger
than k-core (every k-truss is a (k-1)-core, not vice versa).

Reference scope: the reference ships triangle counting (tc.hpp) but no
truss; this reuses tc.py's sorted-adjacency-intersection shape
(test_tc.hpp:14-84's CPU oracle, vectorized) per peel round.

Plan shape per round (the whole round is 3 shuffles + 1 action):
adjacency rebuild = one groupBy(id) with sort_array(collect_list) —
per-vertex arrays bounded by current degree; support = two vertex-keyed
hash joins + size(array_intersect) — shuffle volume O(Σ deg(u)+deg(v)
per edge) like tc; the filter is free. Rounds = peel depth (small on
power-law graphs: most edges die in the first rounds). Hub caveat: a
10^7-degree hub's adjacency array is one fat row — same trade tc.py
makes; at that scale orient-and-batch or switch to the wedge-join
support (mxm_masked) per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner


def _support(und: DataFrame) -> DataFrame:
    """(a, b, support) per canonical undirected edge: the number of
    common neighbors of a and b inside ``und``."""
    nbrs = und.select(F.col("a").alias("id"), F.col("b").alias("n")).unionByName(
        und.select(F.col("b").alias("id"), F.col("a").alias("n"))
    )
    adj = nbrs.groupBy("id").agg(F.sort_array(F.collect_list("n")).alias("nbrs"))
    aa = adj.select(F.col("id").alias("a"), F.col("nbrs").alias("na"))
    ab = adj.select(F.col("id").alias("b"), F.col("nbrs").alias("nb"))
    return (
        und.join(aa, "a")
        .join(ab, "b")
        .select(
            "a", "b",
            F.size(F.array_intersect("na", "nb")).alias("support"),
        )
    )


def edge_triangle_support(g: Graph) -> DataFrame:
    """Triangle support of every undirected edge of ``g``:
    (a, b, support) with a < b — the single-pass building block of the
    truss peel (and a useful signal on its own: support-0 edges are
    bridges/noise, high-support edges are community cores)."""
    return _support(g.undirected().filter(F.col("src") < F.col("dst")).toDF("a", "b"))


def k_truss(
    g: Graph,
    k: int = 3,
    runner: SuperstepRunner | None = None,
    max_rounds: int = 1000,
) -> DataFrame:
    """Edges of the k-truss of the undirected view of ``g``:
    (a, b, support) with a < b and support = the edge's triangle count
    WITHIN the truss (≥ k-2 by definition; empty result if no edge
    survives). Peeling converges because the edge set shrinks
    monotonically."""
    if k < 2:
        raise ValueError("k-truss needs k >= 2 (k=2 is the full graph)")
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    und = g.undirected().filter(F.col("src") < F.col("dst")).toDF("a", "b")
    keep = F.col("support") >= k - 2
    peel = Observed(edges=F.count_if(keep), gone=F.count_if(~keep))

    def step(s, it, sc):
        sup = _support(s["edges"].select("a", "b"))
        return {"edges": peel.on(sup).filter(keep)}

    def converged(sc):
        o = peel.get()
        return {"edges": o["edges"]}, o["gone"] == 0 or o["edges"] == 0

    state, scalars, done = runner.iterate(
        lambda: {"edges": und}, step, iters=max_rounds, converged=converged
    )
    if not done:
        # A pathological peel can remove one edge per round; silently
        # returning the empty frame here would misreport a non-empty
        # truss as empty. Fail loudly instead.
        raise RuntimeError(
            f"k_truss did not converge within max_rounds={max_rounds} "
            f"({scalars.get('edges', 'all')} edges still unsettled); raise max_rounds"
        )
    return state["edges"]


def truss_decomposition(
    g: Graph,
    runner: SuperstepRunner | None = None,
    fixed_rounds: int | None = None,
    max_rounds: int = 1000,
) -> DataFrame:
    """Per-edge trussness (the max k with the edge in the k-truss) of
    the undirected view — the edge companion of kcore.py's
    core_decomposition, via the same distributed h-index iteration
    (Sariyüce-Seshadhri-Pinar WWW'17 local nucleus decomposition):
    start at t(e) = support(e) and repeat
    t'(e) = H({min(t(e), t(e1), t(e2)) : {e,e1,e2} a triangle on e})
    until the fixpoint, which is exactly trussness(e) − 2. t is
    non-increasing and always ≥ trussness−2, so "no t(e) moved", counted
    by the round's own action, is an exact convergence test; the
    min(·, t(e)) cap never changes H but bounds the per-edge
    distinct-value spread (core_decomposition's argument).

    The triangle-edge incidence is materialized ONCE (3 rows per
    triangle: each edge's view of the triangle names its two partner
    edges), built from tc.py's degree-bounded sorted-adjacency
    intersection — after that every round is three two-column hash
    joins of the incidence against the t table, one map-side-combining
    (edge, val) count, and one bounded per-edge window cum-sum; round
    count is the peel depth's logarithm-ish, NOT k_max × depth like a
    level-by-level peel, which is what makes the decomposition
    feasible where running k_truss per k is not.

    Returns (a long, b long, trussness long) per canonical (a < b)
    undirected edge; triangle-free edges hold trussness 2 (every edge
    is trivially in the 2-truss). With ``fixed_rounds`` the
    deterministic partially-converged state is returned (unrolled-SQL
    oracle contract). Consistency with :func:`k_truss`:
    edge ∈ k_truss(k) ⟺ trussness ≥ k (pytest-pinned).
    """
    from pyspark.sql import Window

    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    nbrs = g.undirected().toDF("n", "id")
    und = nbrs.filter(F.col("n") < F.col("id")).toDF("a", "b")

    # Triangle-edge incidence: for edge (a,b) and each common neighbor
    # w, the two partner edges of triangle {a,b,w} in canonical form.
    adj = nbrs.groupBy("id").agg(F.sort_array(F.collect_list("n")).alias("nbrs"))
    aa = adj.select(F.col("id").alias("a"), F.col("nbrs").alias("na"))
    ab = adj.select(F.col("id").alias("b"), F.col("nbrs").alias("nb"))
    tri = (
        und.join(aa, "a").join(ab, "b")
        .select("a", "b", F.explode(F.array_intersect("na", "nb")).alias("w"))
        .select(
            F.col("a").alias("ea"), F.col("b").alias("eb"),
            F.least("a", "w").alias("xa"), F.greatest("a", "w").alias("xb"),
            F.least("b", "w").alias("ya"), F.greatest("b", "w").alias("yb"),
        )
        .persist()
    )
    tri.count()

    def init():
        sup = tri.groupBy(
            F.col("ea").alias("a"), F.col("eb").alias("b")
        ).agg(F.count(F.lit(1)).cast("long").alias("t"))
        return {
            "t": und.join(sup, ["a", "b"], "left").select(
                "a", "b", F.coalesce("t", F.lit(0).cast("long")).alias("t")
            )
        }

    w = Window.partitionBy("ea", "eb").orderBy(F.col("val").desc())
    moved = Observed(n=F.count_if(F.col("t") != F.col("old")))

    def step(s, it, sc):
        t = s["t"]
        te = t.select(F.col("a").alias("ea"), F.col("b").alias("eb"),
                      F.col("t").alias("tself"))
        tx = t.select(F.col("a").alias("xa"), F.col("b").alias("xb"),
                      F.col("t").alias("t1"))
        ty = t.select(F.col("a").alias("ya"), F.col("b").alias("yb"),
                      F.col("t").alias("t2"))
        cnt = (
            tri.join(tx, ["xa", "xb"]).join(ty, ["ya", "yb"]).join(te, ["ea", "eb"])
            .groupBy("ea", "eb",
                     F.least("tself", F.least("t1", "t2")).alias("val"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        h = (
            cnt.withColumn("cum", F.sum("n").over(w))
            .groupBy("ea", "eb")
            .agg(F.max(F.least(F.col("val"), F.col("cum"))).alias("h"))
            .select(F.col("ea").alias("a"), F.col("eb").alias("b"), "h")
        )
        # t holds every edge of und, so it carries the old value along
        return {"t": moved.on(t.join(h, ["a", "b"], "left").select(
            "a", "b", F.col("t").alias("old"),
            F.coalesce("h", F.lit(0)).cast("long").alias("t"),
        )).select("a", "b", "t")}

    def converged(sc):
        n = moved.get()["n"]
        return {"moved": n}, n == 0

    state, _, done = runner.iterate(
        init, step,
        iters=fixed_rounds if fixed_rounds is not None else max_rounds,
        converged=None if fixed_rounds is not None else converged,
    )
    if fixed_rounds is None and not done:
        raise RuntimeError(
            f"truss_decomposition did not converge within "
            f"max_rounds={max_rounds} h-index rounds; raise "
            f"max_rounds"
        )
    t = state["t"]

    tri.unpersist()
    return t.select("a", "b", (F.col("t") + F.lit(2)).cast("long").alias("trussness"))
