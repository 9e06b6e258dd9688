"""Local graph clustering — Andersen-Chung-Lang PPR push, batched.

Reference: graphblas/algorithm/lgc.hpp:14-163. Per-iteration math (the
reference's own op comments, lgc.hpp:106-134), with d = out-degrees
and frontier f = {v : r(v) > d(v)·ε}:

    p  = p + α · r            on f           (lgc.hpp:106-112)
    r  = (1−α)/2 · r          on f           (lgc.hpp:114-116)
    r2 = r / d                on f           (lgc.hpp:118-124)
    r  = r + Aᵀ · r2                         (lgc.hpp:126-128, mxv accum)
    f  = {v : r(v) > d(v)·ε}                 (lgc.hpp:130-134, PlusGreater)

until the frontier empties or max_niter. All float64, deterministic.

Spark mapping: p and r are sparse vertex vectors (only touched rows);
r carries each row's degree d, joined from the precomputed degree
vector once when the row is made (lgc.hpp:50-55), so the frontier is a
filter and its size an observed count of the superstep's own action;
the spread is one vecmat join+sum per superstep with the frontier
broadcast while small (push — exactly the ACL access pattern: work
proportional to the frontier's edge boundary, not |E|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.operators.vecmat import vxm
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner


def lgc(
    g: Graph,
    source: int = 0,
    alpha: float = 0.15,
    eps: float = 1e-6,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
    fixed_iters: int | None = None,
) -> DataFrame:
    """Personalized-PageRank vector around ``source``; returns
    (id long, p double) for vertices with p > 0 (the local cluster
    scores — sparse by construction). ``alpha`` follows the reference
    CLI default GrB-style teleport (example/glgc.cu)."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    deg = g.out_degrees().persist()  # (id, val) — lgc.hpp:24-26 reduce

    def with_d(r: DataFrame) -> DataFrame:
        # isolated/dangling vertices have no deg row → d = 0, so any
        # r > 0 is frontier but has no edges to push along; matches the
        # reference's dense d = 0
        return r.join(deg, on="id", how="left").select(
            "id", "r", F.coalesce(F.col("val"), F.lit(0.0)).alias("d")
        )

    is_frontier = F.col("r") > F.col("d") * F.lit(eps)
    # frontier size (reduce succ, lgc.hpp:137), counted by the action
    # that materialises r
    succ = Observed(succ=F.count_if(is_frontier))

    def init():
        r0 = spark.range(1).select(
            F.lit(source).cast("long").alias("id"), F.lit(1.0).alias("r")
        )
        p0 = spark.createDataFrame([], "id long, p double")
        return {"p": p0, "r": succ.on(with_d(r0))}

    def step(s, it, sc):
        p, r = s["p"], s["r"]
        f = r.filter(is_frontier)
        # the previous superstep's observed frontier size, or init's
        n_f = sc["succ"] if "succ" in sc else succ.get()["succ"]
        if n_f == 0:
            return None

        # p += α·r on frontier (outer-merge: off-frontier p kept)
        p = (
            p.join(f.select("id", "r"), on="id", how="full")
            .select(
                "id",
                (F.coalesce("p", F.lit(0.0))
                 + F.lit(alpha) * F.coalesce("r", F.lit(0.0))).alias("p"),
            )
        )

        # halved residual on frontier; r2 = r/d on frontier
        f_push = f.filter(F.col("d") > 0).select(
            "id", (F.lit((1.0 - alpha) / 2.0) * F.col("r") / F.col("d")).alias("val")
        )

        # r ⟵ (old r with frontier rows halved) accum(+)= Aᵀ·r2 —
        # the reference's accum-mxv (lgc.hpp:126-128), first-class:
        # vxm picks push or pull from the frontier size u_nvals and
        # folds accum="plus" into its one aggregate (no merge join).
        r_kept = r.join(f.select("id"), on="id", how="left_anti")
        r_half = f.select("id", (F.lit((1.0 - alpha) / 2.0) * F.col("r")).alias("r"))
        r_base = r_kept.select("id", "r").unionByName(r_half).select("id", F.col("r").alias("val"))
        r = vxm(
            f_push, g, "PlusMultiplies", desc=desc, u_nvals=n_f,
            accum="plus", w=r_base,
        ).select("id", F.col("val").alias("r"))
        return {"p": p, "r": succ.on(with_d(r))}

    def converged(sc):
        n_f = succ.get()["succ"]
        return {"succ": n_f}, n_f == 0

    niter = fixed_iters if fixed_iters is not None else desc.max_niter
    p = runner.iterate(init, step, iters=niter, converged=converged)[0]["p"]

    deg.unpersist()
    return p.filter(F.col("p") > 0)
