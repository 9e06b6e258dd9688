"""HITS (hubs & authorities) — dual power iteration.

Beyond the reference's algorithm set, but the other canonical web
link-analysis algorithm next to PageRank (Kleinberg 1999), and a pure
composition of the engine's operators: each half-step is one vecmat
(authority = ``vxm`` of the hubs over in-links, hub = ``mxv`` of the new
authorities over out-links).

Semantics (deterministic, oracle-replayable):

    a'(v) = Σ_{(u→v)∈E} h(u)        (authority = sum of in-link hubs)
    h'(u) = Σ_{(u→v)∈E} a'(v)       (hub = sum of out-link authorities)
    normalize each by its L1 sum    (sum-normalization keeps the
                                     arithmetic rational — exactly
                                     replayable in SQL float64, unlike
                                     the classic L2 sqrt)

Vertices with no in-links (out-links) hold authority (hub) 0 — dense
output over the full vertex universe.

Physical plan (:func:`hub_authority`, shared with salsa.py): per
iteration ``vxm(hub, A, PlusFirst)`` then ``mxv(authority, A,
PlusSecond)``, each one join plus ONE aggregate with a zeros vector
folded in (``accum="plus"``, the density restore). The L1 total is a
one-row frame broadcast onto the vector, not a literal, so every
superstep reuses the same generated code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.operators.vecmat import mxv, vxm
from graphblast_spark.runtime.superstep import SuperstepRunner, truncate_plan


def _l1_normalize(y: DataFrame) -> DataFrame:
    """y / Σ y, with the total as data: a one-row aggregate broadcast
    onto the truncated vector (a zero or empty total divides by 1)."""
    y = y.transform(truncate_plan)  # read twice: by the total and the division
    tot = y.agg(F.sum("val").alias("t"))
    t = F.when(F.col("t") != 0.0, F.col("t")).otherwise(F.lit(1.0))
    return y.crossJoin(F.broadcast(tot)).select("id", (F.col("val") / t).alias("val"))


def hub_authority(
    fwd: Graph,
    bwd: Graph,
    auth_sr: str,
    hub_sr: str,
    fixed_iters: int,
    runner: SuperstepRunner | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The loop HITS and SALSA share: authority = L1(vxm(hub, ``fwd``,
    ``auth_sr``)), then hub = L1(mxv(authority, ``bwd``, ``hub_sr``)),
    from the uniform vector — or 1/|seeds| on ``seeds`` (id), 0
    elsewhere. Returns (id long, hub double, authority double)."""
    spark = fwd.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)
    zeros = fwd.vertices.select("id", F.lit(0.0).alias("val"))

    def init():
        if seeds is None:
            u0 = fwd.vertices.select("id", F.lit(1.0 / fwd.n).alias("val"))
        else:
            sd = seeds.select("id").distinct()
            k = sd.count()
            if k == 0:
                raise ValueError("seeds must be non-empty when given")
            u0 = fwd.vertices.join(
                sd.withColumn("s", F.lit(1.0 / k)), "id", "left"
            ).select("id", F.coalesce("s", F.lit(0.0)).alias("val"))
        return {"hub": u0, "authority": u0}

    def step(s, it, sc):
        # authority is truncated here: the hub half-step reads it
        authority = _l1_normalize(
            vxm(s["hub"], fwd, auth_sr, u_nvals=fwd.n, accum="plus", w=zeros)
        ).transform(truncate_plan)
        hub = _l1_normalize(
            mxv(authority, bwd, hub_sr, u_nvals=bwd.n, accum="plus", w=zeros)
        )
        return {"hub": hub, "authority": authority}

    state, _, _ = runner.iterate(init, step, iters=fixed_iters)
    hub, authority = state["hub"], state["authority"]
    return (
        hub.withColumnRenamed("val", "hub")
        .join(authority.withColumnRenamed("val", "authority"), on="id", how="outer")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def hits(
    g: Graph,
    fixed_iters: int = 5,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, hub double, authority double) after
    ``fixed_iters`` dual half-steps with L1 normalization."""
    return hub_authority(g, g, "PlusFirst", "PlusSecond", fixed_iters, runner)
