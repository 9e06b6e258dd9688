"""k-core membership (iterative degree peeling) and full core
decomposition (per-vertex coreness via distributed h-index iteration).

Beyond the reference's algorithm set (it ships none), but a staple of
web-graph analytics (core extraction separates the densely-linked web
core from pendant/spam periphery) and expressible in exactly the
engine's superstep vocabulary: each round is one degree reduction
(groupBy) plus one filter — the same join shapes as CC, so the scale
properties carry over unchanged.

Semantics: the k-core is the maximal subgraph in which every vertex
has (undirected) degree ≥ k within the subgraph. Peeling — repeatedly
deleting vertices of degree < k — reaches it deterministically
regardless of order; the round count is bounded by the peel depth
(tiny on power-law graphs, where most periphery leaves in the first
rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner


def k_core(
    g: Graph,
    k: int = 2,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Returns (id long, in_core int): 1 iff the vertex survives in the
    k-core. Runs on :meth:`Graph.undirected` (both orientations count
    toward degree, each neighbour once, self-loops never). With
    ``fixed_rounds`` the deterministic partially-peeled state is
    returned (for unrolled-SQL oracle comparison); convergence is the
    default."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    adj = g.undirected()
    d = F.coalesce(F.col("d"), F.lit(0))
    peel = Observed(n=F.count_if(d >= k), gone=F.count_if(d < k))  # survivors, peeled

    def init():
        return {"remaining": g.vertices.select("id")}

    def step(s, it, sc):
        remaining = s["remaining"]
        # degree within the remaining-induced subgraph
        live = (
            adj.join(remaining.withColumnRenamed("id", "src"), on="src", how="left_semi")
            .join(remaining.withColumnRenamed("id", "dst"), on="dst", how="left_semi")
        )
        deg = live.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
        return {"remaining": (
            peel.on(remaining.join(deg, on="id", how="left"))
            .filter(d >= k)
            .select("id")
        )}

    def converged(sc):
        o = peel.get()
        return {"n": o["n"]}, o["gone"] == 0 or o["n"] == 0

    max_rounds = fixed_rounds if fixed_rounds is not None else desc.max_niter
    remaining = runner.iterate(init, step, iters=max_rounds, converged=converged)[0]["remaining"]

    return g.vertices.join(
        remaining.withColumn("in_core", F.lit(1)), on="id", how="left"
    ).select("id", F.coalesce("in_core", F.lit(0)).alias("in_core"))


def core_decomposition(
    g: Graph,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Per-vertex coreness (the max k with the vertex in the k-core) of
    the undirected view, via the distributed h-index iteration
    (Montresor-De Pellegrini-Miorandi 2011 / Lü et al. 2016): start at
    c(v) = deg(v) and repeat c'(v) = H({min(c(w), c(v)) : w ∈ N(v)})
    until the fixpoint, where H is the h-index (max t with ≥ t
    neighbors of value ≥ t). c is non-increasing, always ≥ coreness,
    and the fixpoint is exactly coreness — so "no c(v) moved", counted
    by the round's own action, is an exact convergence test. The min(·, c(v))
    cap never changes H (all uncapped values ≥ c(v) are ≥ H) but keeps
    the per-vertex distinct-value spread bounded by c(v), which after
    round 1 is ≤ H(deg of neighbors) — the power-law hub's value list
    collapses from deg(hub) to O(√|E|)-ish immediately.

    Per round: two hash joins (neighbor + own value), one map-side-
    combining (id, val) count, one bounded per-id window cum-sum —
    group size = distinct capped values ≤ c(v), NOT deg(v), so the
    window sort is skew-safe at web scale.

    Returns (id long, coreness long), 0 for isolated vertices. With
    ``fixed_rounds`` the deterministic partially-converged state is
    returned (the unrolled-SQL oracle contract, lp.py's posture);
    convergence is the default. Relates to ``k_core``:
    in_core(k) = 1 ⟺ coreness ≥ k (pytest-pinned).
    """
    from pyspark.sql import Window

    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    # the undirected view, laid out on its dst (here b)
    adj = g.undirected().toDF("a", "b")

    def init():
        deg = adj.groupBy(F.col("b").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        return {
            "core": g.vertices.join(deg, "id", "left").select(
                "id", F.coalesce("c", F.lit(0).cast("long")).alias("c")
            )
        }

    w = Window.partitionBy("id").orderBy(F.col("val").desc())
    moved = Observed(n=F.count_if(F.col("c") != F.col("old")))

    def step(s, it, sc):
        core = s["core"]
        cd = core.select(F.col("id").alias("b"), F.col("c").alias("cb"))
        cs = core.select(F.col("id").alias("a"), F.col("c").alias("ca"))
        cnt = (
            adj.join(cd, "b").join(cs, "a")
            .groupBy(F.col("a").alias("id"),
                     F.least("cb", "ca").alias("val"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        h = (
            cnt.withColumn("cum", F.sum("n").over(w))
            .groupBy("id")
            .agg(F.max(F.least(F.col("val"), F.col("cum"))).alias("h"))
        )
        return {"core": moved.on(core.join(h, "id", "left").select(
            "id",
            F.col("c").alias("old"),
            F.coalesce("h", F.lit(0)).cast("long").alias("c"),
        )).select("id", "c")}

    def converged(sc):
        n = moved.get()["n"]
        return {"moved": n}, n == 0

    state, _, done = runner.iterate(
        init, step,
        iters=fixed_rounds if fixed_rounds is not None else desc.max_niter,
        converged=None if fixed_rounds is not None else converged,
    )
    if fixed_rounds is None and not done:
        raise RuntimeError(
            f"core_decomposition did not converge within "
            f"max_niter={desc.max_niter} h-index rounds; raise "
            f"desc.max_niter (rounds needed is graph-dependent, "
            f"typically O(peel depth))"
        )
    return state["core"].select("id", F.col("c").alias("coreness"))
