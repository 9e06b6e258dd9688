"""SALSA (Stochastic Approach for Link-Structure Analysis) —
degree-normalized hubs & authorities (Lempel-Moran WWW 2000).

Beyond the reference's algorithm set, but the third canonical web
link-ranking algorithm next to PageRank and HITS, and the one of the
three actually deployed for social/web recommendation at scale
(Twitter's Who-To-Follow runs personalized SALSA). Structurally it is
HITS with each contribution divided by the contributing vertex's
degree — the random-walk (stochastic) transition instead of the raw
adjacency — which damps the tight-knit-community (TKC) inflation HITS
suffers on spam clusters: exactly the property a Common-Crawl-scale
ranking tier wants.

Semantics (deterministic, oracle-replayable — hits.py's posture):

    a'(v) = Σ_{(u→v)∈E} h(u) / outdeg(u)    then L1-normalize
    h'(u) = Σ_{(u→v)∈E} a'(v) / indeg(v)    then L1-normalize

The degree divisions are folded into TWO weighted edge tables built
once before the loop (w_fwd = 1/outdeg(src), w_bwd = 1/indeg(dst)) so
the physical plan per iteration is exactly two PageRank-shaped
join+agg supersteps over persisted pinned edges — nothing new to tune,
and the auto-salting / shuffle-hash posture of vecmat carries over.
The L1 normalization per half-step makes the fixed-iteration state
deterministic (SALSA's stationary vector is only defined per connected
component; the power-iteration form with explicit normalization is the
replayable contract, like lp_majority's fixed-superstep posture).

Vertices with no in-links (out-links) hold authority (hub) 0 — dense
output over the full vertex universe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import SuperstepRunner, truncate_plan


def salsa(
    g: Graph,
    fixed_iters: int = 5,
    runner: SuperstepRunner | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Returns (id long, hub double, authority double) after
    ``fixed_iters`` dual degree-normalized half-steps with L1
    normalization.

    ``seeds`` (an (id) frame) switches to query-dependent SALSA
    (Lempel-Moran §6; the shape Twitter's Who-To-Follow personalizes):
    the initial hub mass is 1/|seeds| on the seed set and 0 elsewhere,
    so scores measure link-structure authority AS SEEN FROM the seeds'
    neighborhood rather than globally — mass diffuses outward through
    the stochastic half-steps exactly like the global variant, and the
    L1 normalization keeps the fixed-iteration state deterministic."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)
    n = g.n

    e = g.edges.select("src", "dst")
    odeg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    ideg = e.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    # weighted transition tables, built once (pagerank_prep's posture)
    ew_fwd = e.join(odeg, on=e["src"] == odeg["id"]).select(
        "src", "dst", (F.lit(1.0) / F.col("d")).alias("w")
    ).persist()
    ew_bwd = e.join(ideg, on=e["dst"] == ideg["id"]).select(
        "src", "dst", (F.lit(1.0) / F.col("d")).alias("w")
    ).persist()
    ew_fwd.count(), ew_bwd.count()
    zeros = g.vertices.select("id", F.lit(0.0).alias("z"))

    def init():
        if seeds is None:
            u0 = g.vertices.select("id", F.lit(1.0 / n).alias("val"))
        else:
            sd = seeds.select("id").distinct()
            k = sd.count()
            if k == 0:
                raise ValueError("salsa seeds must be non-empty when given")
            u0 = g.vertices.join(
                sd.withColumn("s", F.lit(1.0 / k)), "id", "left"
            ).select("id", F.coalesce("s", F.lit(0.0)).alias("val"))
        return {"hub": u0, "authority": u0}

    def _pull(edges: DataFrame, vec: DataFrame, in_key: str, out_key: str) -> DataFrame:
        """One weighted vecmat half-step + density restore (union-
        before-agg, one shuffle — the pagerank.py pattern)."""
        v = vec.hint("shuffle_hash")
        contribs = edges.join(v, on=edges[in_key] == v["id"], how="inner").select(
            edges[out_key].alias("id"), (F.col("w") * F.col("val")).alias("c")
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
        authority = _l1_normalize(_pull(ew_fwd, s["hub"], "src", "dst")).transform(truncate_plan)
        return {"hub": _l1_normalize(_pull(ew_bwd, authority, "dst", "src")), "authority": authority}

    state, _, _ = runner.iterate(init, step, iters=fixed_iters)
    hub, authority = state["hub"], state["authority"]
    out = (
        hub.withColumnRenamed("val", "hub")
        .join(authority.withColumnRenamed("val", "authority"), on="id", how="outer")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )
    ew_fwd.unpersist(), ew_bwd.unpersist()
    return out
