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
the frontier test is a join against the precomputed d·ε vector
(lgc.hpp:50-55); the spread is one vecmat join+sum per superstep with
the frontier broadcast while small (push — exactly the ACL access
pattern: work proportional to the frontier's edge boundary, not |E|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.operators.vecmat import vxm
from graphblast_spark.runtime.superstep import SuperstepRunner


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

    def init():
        r0 = spark.range(1).select(
            F.lit(source).cast("long").alias("id"), F.lit(1.0).alias("r")
        )
        p0 = spark.createDataFrame([], "id long, p double")
        return {"p": p0, "r": r0}

    def frontier(r: DataFrame) -> DataFrame:
        # classify r rows: frontier = r > d·eps (isolated/dangling
        # sources have no deg row → treat d as 0 → any r>0 is frontier
        # but has no edges to push along; matches reference dense-d=0)
        rd = r.join(deg, on="id", how="left").select(
            "id", "r", F.coalesce(F.col("val"), F.lit(0.0)).alias("d")
        )
        return rd.filter(F.col("r") > F.col("d") * F.lit(eps))

    def step(s, it, sc):
        p, r = s["p"], s["r"]
        f = frontier(r)
        # frontier size = the previous superstep's convergence scalar
        # (reduce succ, lgc.hpp:137); counted here only on a fresh start
        n_f = sc["succ"] if "succ" in sc else f.count()
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
        r_base = r_kept.unionByName(r_half).select("id", F.col("r").alias("val"))
        r = vxm(
            f_push, g, "PlusMultiplies", desc=desc, u_nvals=n_f,
            accum="plus", w=r_base,
        ).select("id", F.col("val").alias("r"))
        return {"p": p, "r": r}

    def converged(new, old, sc):
        n_f = frontier(new["r"]).count()
        return {"succ": n_f}, n_f == 0

    niter = fixed_iters if fixed_iters is not None else desc.max_niter
    p = runner.iterate(init, step, iters=niter, converged=converged)[0]["p"]

    deg.unpersist()
    return p.filter(F.col("p") > 0)
