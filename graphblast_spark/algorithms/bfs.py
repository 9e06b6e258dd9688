"""BFS — direction-optimized frontier expansion.

Reference: graphblas/algorithm/bfs.hpp:14-89 — LogicalOrAnd vxm with a
complemented visited-mask, marking depth via masked assign; CPU oracle
test_bfs.hpp:11-61 (source default 0, unreachable = -1 analog: the
oracle leaves them at n, we return no row — callers fill).

Spark per level: next = vxm(frontier with val = depth+1, A,
MinimumFirst) under the complemented visited mask — every frontier
vertex carries the same depth, so the min is that depth, and the mask
is vxm's anti-join (GrB_SCMP, types.hpp:44-78 → left_anti, SURVEY
§2.7). Direction is vxm's: the frontier is broadcast while small
(push) and shuffle-hash joined once it grows past the descriptor's
density threshold (pull) — the reference's --mxvmode optimization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.operators.vecmat import vxm
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner, truncate_plan


def bfs(
    g: Graph,
    source: int = 0,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, depth long) for vertices reachable from
    ``source`` (source itself at depth 0). Unreached vertices have no
    row (sparse result, reference leaves them unvisited)."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    def init():
        src_df = spark.range(1).select(
            F.lit(source).cast("long").alias("id"), F.lit(0).cast("long").alias("depth")
        )
        return {"depths": src_df, "frontier": src_df}

    visit = desc.with_(mask_complement=True)  # complemented visited mask
    frontier_n = Observed(n=F.count(F.lit(1)))  # counted by the truncation

    def step(s, it, sc):
        # depth from the frontier's, not a per-superstep literal (one
        # compiled class per value)
        f = s["frontier"].select("id", (F.col("depth") + 1).alias("val"))
        nxt = frontier_n.on(vxm(
            f, g, "MinimumFirst", mask=s["depths"], desc=visit,
            u_nvals=sc.get("frontier_n", 1),
        ).withColumnRenamed("val", "depth")).transform(truncate_plan)
        return {"depths": s["depths"].unionByName(nxt), "frontier": nxt}

    def converged(sc):
        n = frontier_n.get()["n"]
        return {"frontier_n": n}, n == 0

    state, _, _ = runner.iterate(init, step, iters=desc.max_niter, converged=converged)
    return state["depths"]
