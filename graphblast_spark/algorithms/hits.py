"""HITS (hubs & authorities) — dual power iteration.

Beyond the reference's algorithm set, but the other canonical web
link-analysis algorithm next to PageRank (Kleinberg 1999), and a pure
composition of the engine's existing verbs: each half-step is one
vecmat (authority pulls over in-links, hub pulls over out-links), so
the physical plan per iteration is two of the PageRank join+agg
shapes over the same persisted edge table — nothing new to tune.

Semantics (deterministic, oracle-replayable):

    a'(v) = Σ_{(u→v)∈E} h(u)        (authority = sum of in-link hubs)
    h'(u) = Σ_{(u→v)∈E} a'(v)       (hub = sum of out-link authorities)
    normalize each by its L1 sum    (sum-normalization keeps the
                                     arithmetic rational — exactly
                                     replayable in SQL float64, unlike
                                     the classic L2 sqrt)

Vertices with no in-links (out-links) hold authority (hub) 0 — dense
output over the full vertex universe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import SuperstepRunner, truncate_plan


def hits(
    g: Graph,
    fixed_iters: int = 5,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, hub double, authority double) after
    ``fixed_iters`` dual half-steps with L1 normalization."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)
    n = g.n

    edges = g.edges.select("src", "dst")
    zeros = g.vertices.select("id", F.lit(0.0).alias("z"))

    def init():
        u0 = g.vertices.select("id", F.lit(1.0 / n).alias("val"))
        return {"hub": u0, "authority": u0}

    def _pull(vec: DataFrame, in_key: str, out_key: str) -> DataFrame:
        """One vecmat half-step + density restore (union-before-agg,
        one shuffle — the pagerank.py pattern)."""
        v = vec.hint("shuffle_hash")
        contribs = edges.join(v, on=edges[in_key] == v["id"], how="inner").select(
            edges[out_key].alias("id"), F.col("val").alias("c")
        )
        return (
            contribs.unionByName(zeros.select("id", F.col("z").alias("c")))
            .groupBy("id")
            .agg(F.sum("c").alias("val"))
        )

    def _l1_normalize(vec: DataFrame) -> DataFrame:
        total = vec.agg(F.sum("val")).first()[0] or 1.0
        return vec.select("id", (F.col("val") / F.lit(float(total))).alias("val"))

    def step(s, it, sc):
        # authority is truncated here: the hub half-step reads it twice
        authority = _l1_normalize(_pull(s["hub"], "src", "dst")).transform(truncate_plan)
        return {"hub": _l1_normalize(_pull(authority, "dst", "src")), "authority": authority}

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
