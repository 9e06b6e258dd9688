"""SSSP — frontier-based Bellman-Ford over the MinimumPlus semiring.

Reference: graphblas/algorithm/sssp.hpp:15-103 — MinPlus vxm from the
active frontier, improvement mask (PlusLess), deactivating unimproved
vertices; CPU oracle is Dijkstra (test_sssp.hpp:15-79) — both reach
the same fixpoint on non-negative weights.

Spark per round: relax only out of vertices whose distance improved
last round (the sparse frontier) with vxm over MinimumPlus — vxm picks
push or pull from the frontier size — min-combine against current
distances, count improvements as the convergence scalar, observed by the
superstep's own truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.operators.vecmat import vxm
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner, truncate_plan


def sssp(
    g: Graph,
    source: int = 0,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, dist double) for reachable vertices."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    def init():
        s = spark.range(1).select(
            F.lit(source).cast("long").alias("id"), F.lit(0.0).alias("dist")
        )
        return {"dist": s, "frontier": s}

    improved_n = Observed(n=F.count(F.lit(1)))  # counted by the truncation

    def step(s, it, sc):
        # MinPlus relax: candidate(dst) = min over frontier (dist + w)
        cand = vxm(
            s["frontier"].withColumnRenamed("dist", "val"), g, "MinimumPlus",
            desc=desc, u_nvals=sc.get("improved_n", 1),
        ).withColumnRenamed("val", "cand")
        # improvement mask (sssp.hpp:72-73 PlusLess): keep strictly-better
        joined = cand.join(s["dist"], on="id", how="left")
        new_frontier = improved_n.on(joined.filter(
            F.col("dist").isNull() | (F.col("cand") < F.col("dist"))
        ).select("id", F.col("cand").alias("dist"))).transform(truncate_plan)
        # merge: min(dist, cand) over the union of structures
        return {
            "dist": s["dist"].unionByName(new_frontier).groupBy("id").agg(F.min("dist").alias("dist")),
            "frontier": new_frontier,
        }

    def converged(sc):
        n = improved_n.get()["n"]
        return {"improved_n": n}, n == 0

    state, _, _ = runner.iterate(init, step, iters=desc.max_niter, converged=converged)
    return state["dist"]
