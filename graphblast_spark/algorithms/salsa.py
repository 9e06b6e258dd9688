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

Physical plan: the degree divisions are folded into TWO weighted edge
tables built once before the loop (val = 1/outdeg(src) forward,
1/indeg(dst) backward), each wrapped as a :class:`Graph`, and the loop
is HITS's own (hits.py :func:`hub_authority`) over them with
PlusMultiplies: per iteration ``vxm`` of the hubs over the forward view
and ``mxv`` of the authorities over the backward one, each a join plus
one aggregate with the zeros folded in — the operator layer's
direction choice, shuffle-hash pull and auto-salting apply unchanged.
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

from graphblast_spark.algorithms.hits import hub_authority
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import SuperstepRunner


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
    e = g.edges.select("src", "dst")
    odeg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    ideg = e.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    # weighted transition tables, built once (pagerank_prep's posture)
    ew_fwd = e.join(odeg, on=e["src"] == odeg["id"]).select(
        "src", "dst", (F.lit(1.0) / F.col("d")).alias("val")
    ).persist()
    ew_bwd = e.join(ideg, on=e["dst"] == ideg["id"]).select(
        "src", "dst", (F.lit(1.0) / F.col("d")).alias("val")
    ).persist()
    ew_fwd.count(), ew_bwd.count()

    views = [Graph(edges=ew, vertices=g.vertices, n=g.n, nvals=g.nvals)
             for ew in (ew_fwd, ew_bwd)]
    out = hub_authority(*views, "PlusMultiplies", "PlusMultiplies",
                        fixed_iters, runner, seeds)
    ew_fwd.unpersist(), ew_bwd.unpersist()
    return out
