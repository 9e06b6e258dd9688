"""BFS — direction-optimized frontier expansion.

Reference: graphblas/algorithm/bfs.hpp:14-89 — LogicalOrAnd vxm with a
complemented visited-mask, marking depth via masked assign; CPU oracle
test_bfs.hpp:11-61 (source default 0, unreachable = -1 analog: the
oracle leaves them at n, we return no row — callers fill).

Spark per level: next = (frontier ⋈ edges on src → dst, distinct)
anti-join visited. The anti-join IS the complement mask
(GrB_SCMP, types.hpp:44-78 → left_anti, SURVEY §2.7) and the
distinct-instead-of-agg IS the early-exit/sort-elision path
(kernels/spmv.hpp:33-51). The frontier is broadcast while small
(push), falling back to shuffle join when it grows past the
switchpoint (pull) — the reference's --mxvmode 0 direction optimization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor, MxvMode
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import SuperstepRunner, truncate_plan


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

    def step(s, it, sc):
        frontier_n = sc.get("frontier_n", 1)
        push = (
            desc.mxv_mode == MxvMode.PUSHONLY
            or (desc.mxv_mode == MxvMode.PUSHPULL and frontier_n / max(g.n, 1) <= desc.switchpoint)
        )
        f = F.broadcast(s["frontier"]) if push else s["frontier"]
        nxt = (
            g.edges.join(f, on=g.edges["src"] == f["id"], how="inner")
            # depth from the frontier's, not a per-superstep literal
            # (one compiled class per value)
            .select(g.edges["dst"].alias("id"), (f["depth"] + 1).alias("depth"))
            .distinct()
            .join(s["depths"], on="id", how="left_anti")  # complemented visited mask
            .transform(truncate_plan)
        )
        return {"depths": s["depths"].unionByName(nxt), "frontier": nxt}

    def converged(new, old, sc):
        n = new["frontier"].count()
        return {"frontier_n": n}, n == 0

    state, _, _ = runner.iterate(init, step, iters=desc.max_niter, converged=converged)
    return state["depths"]
