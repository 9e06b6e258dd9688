"""Katz centrality — attenuated path-count power iteration.

Beyond the reference's algorithm set but the third canonical link-
analysis ranker next to PageRank and HITS (Katz 1953; the alpha-
attenuated walk-count family PageRank generalizes): it completes the
engine's web-ranking tier and is a pure composition of existing verbs
— each iteration is ONE ``vxm`` over the persisted edge table (the
pagerank.py physical plan) plus an affine map that Catalyst fuses into
the aggregate's projection.

Semantics (deterministic, fixed-iteration, oracle-replayable):

    x_0(v)     = beta
    x_{t+1}(v) = beta + alpha * Σ_{(u→v)∈E} x_t(u)

i.e. truncated Σ_k alpha^k · (#paths of length k into v) scaled by
beta. No normalization — Katz is well-defined unnormalized for
alpha < 1/λ_max, and a FIXED iteration count keeps the arithmetic a
finite rational expression DuckDB replays in float64 (the engine's
standard contract-oracle posture, like hits.py/salsa.py). Vertices
with no in-links hold exactly beta at every step — the output is
dense over the full vertex universe.

Physical plan per step: one PageRank iteration's —
``vxm(x, A, PlusFirst, accum="plus", w=zeros)``, the join on src and
ONE aggregate on dst (map-side partial sums absorb hub fan-in) with
the zeros folded in, which keeps the output dense. The vector is the
full vertex set, so vxm takes its shuffle-hash pull path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.operators.vecmat import vxm
from graphblast_spark.runtime.superstep import SuperstepRunner, truncate_plan


def katz_centrality(
    g: Graph,
    alpha: float = 0.05,
    beta: float = 1.0,
    fixed_iters: int = 5,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, katz double) after ``fixed_iters`` steps of
    x ← beta + alpha·Aᵀx from x = beta.

    ``alpha`` must satisfy alpha < 1/λ_max(A) for the infinite series
    to converge; with a fixed iteration count any alpha yields a
    deterministic finite result, but large alpha makes the scores
    meaningless (pure largest-eigenvector direction), so values ≥ 1
    are rejected as certainly wrong.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"katz alpha must be in (0, 1); got {alpha!r}")
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    zeros = g.vertices.select("id", F.lit(0.0).alias("val"))

    def init():
        return {"x": g.vertices.select("id", F.lit(float(beta)).alias("val"))}

    def step(s, it, sc):
        y = vxm(s["x"], g, "PlusFirst", u_nvals=g.n, accum="plus", w=zeros)
        return {"x": y.select(
            "id", (F.lit(float(beta)) + F.lit(float(alpha)) * F.col("val")).alias("val")
        )}

    x = runner.iterate(init, step, iters=fixed_iters)[0]["x"]
    return x.select("id", F.col("val").alias("katz"))


def eigenvector_centrality(
    g: Graph,
    fixed_iters: int = 10,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, eigen double): L2-normalized power iteration
    x ← Aᵀx / ‖Aᵀx‖₂ from the all-ones vector — the undamped limit of
    the Katz/PageRank family (the principal in-eigenvector direction;
    Bonacich 1972). Completes the engine's centrality tier next to
    katz/pagerank/hits/salsa.

    Deterministic and oracle-replayable: a FIXED iteration count makes
    the result a finite float64 expression an unrolled-CTE SQL oracle
    replays (the hits.py/salsa.py posture). Vertices with no in-links
    hold exactly 0 after the first step; if an iteration collapses to
    the zero vector (possible on a DAG once all walks die out) the
    normalization guard keeps it at exact zeros instead of NaN, which
    is also the fixpoint the infinite series converges to there.

    Scale: per step ONE shuffle — katz's ``vxm`` (join on src + one
    aggregate on dst, zeros folded in), plus a single-row L2-norm
    aggregate broadcast back onto the result (BroadcastNestedLoopJoin
    of one row; no second shuffle of the vertex table).
    """
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    zeros = g.vertices.select("id", F.lit(0.0).alias("val"))

    def init():
        return {"x": g.vertices.select("id", F.lit(1.0).alias("val"))}

    def step(s, it, sc):
        # truncate the un-normalized vector BEFORE the norm: both
        # the 1-row norm aggregate and the normalization read y, and
        # without materialization each would re-execute the |E|-row
        # join+agg (ReuseExchange is best-effort under AQE)
        y = vxm(s["x"], g, "PlusFirst", u_nvals=g.n, accum="plus",
                w=zeros).transform(truncate_plan)
        nrm = y.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm"))
        return {"x": y.crossJoin(F.broadcast(nrm)).select(
            "id",
            F.when(F.col("nrm") > 0.0, F.col("val") / F.col("nrm"))
            .otherwise(F.lit(0.0))
            .alias("val"),
        )}

    x = runner.iterate(init, step, iters=fixed_iters)[0]["x"]
    return x.select("id", F.col("val").alias("eigen"))
