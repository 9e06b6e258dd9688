"""Maximal matching — deterministic parallel mutual-min rounds.

The LAGraph ecosystem ships MaximalMatching as a core GraphBLAS
algorithm (LAGraph_MaximalMatching: random-priority edge selection +
mutual agreement, the Israeli–Itai shape); the reference
gunrock/graphblast has no matching, so this closes the engine's one
remaining gap against the GraphBLAS algorithm canon (BFS/PR/CC/SSSP/
TC/BC/MIS/coloring/CDLP/LCC are all present).

Round semantics (deterministic — hash priorities instead of RNG, the
walks.py posture):

1. every live edge (a, b), a < b, gets priority
   h = (a·31 + b·10007) mod 999983, totally ordered by (h, a, b);
2. every vertex selects its MINIMUM-priority incident live edge
   (one struct-min hash aggregate over the two-directional view);
3. an edge joins the matching iff BOTH endpoints selected it —
   mutual agreement makes the per-round additions a valid matching
   by construction (a vertex selects exactly one edge);
4. all edges touching newly matched vertices are removed (two
   anti-joins); repeat until no live edges.

The globally minimum live edge is always mutual, so every round
matches ≥ 1 edge and the loop terminates; with hashed priorities the
expected round count is O(log |E|) (Israeli & Itai 1986). The
accumulated matching and the live-edge set are both checkpointed
state — a resume keeps prior rounds' matches (the mst.py lesson).

Scale shape per round: one union + struct-min hash aggregate
(map-side partials absorb hub fan-in), one two-sided mutual join on
the vertex key, two anti-joins — all vertex- or edge-sized hash
shuffles under a scaled width; no windows, no collect: the live-edge
truncation observes the count that decides the next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.algorithms.walks import _A_ID, _A_STEP, _MOD
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner, loop_width, truncate_plan


def _edge_struct():
    # canonical-edge hash: shared constants with walks.py (_A_ID=31,
    # _A_STEP=10007, _MOD=999983) — one source of truth for the SQL
    # oracles that replay the same formula
    return F.struct(
        F.pmod(F.col("a") * F.lit(_A_ID) + F.col("b") * F.lit(_A_STEP),
               F.lit(_MOD)).alias("h"),
        F.col("a").alias("ea"),
        F.col("b").alias("eb"),
    )


def maximal_matching(
    g: Graph,
    runner: SuperstepRunner | None = None,
    max_rounds: int = 64,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Returns (a long, b long), a < b: a maximal matching of the
    undirected view of ``g`` — no two rows share a vertex, and every
    non-matched edge touches a matched vertex. Deterministic (hash
    priorities). ``fixed_rounds`` runs exactly that many rounds and
    returns the (valid, possibly not yet maximal) partial matching —
    the SQL-oracle contract form; the default runs to the empty live
    set and raises if ``max_rounds`` is exhausted."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    und0 = g.undirected().filter(F.col("src") < F.col("dst")).toDF("a", "b")
    n_und = und0.count()
    if n_und == 0:
        return und0
    width = loop_width(spark, n_und)
    live_n = Observed(n=F.count(F.lit(1)))  # counted by the live edges' truncation

    def init():
        return {
            "live": und0,
            "matched": und0.limit(0).select("a", "b"),
        }

    def step(s, it, sc):
        live, matched = s["live"], s["matched"]
        pe = live.select("a", "b", _edge_struct().alias("e"))
        choice = (
            pe.select(F.col("a").alias("v"), "e")
            .unionByName(pe.select(F.col("b").alias("v"), "e"))
            .groupBy("v")
            .agg(F.min("e").alias("pick"))
        )
        ca = choice.select(F.col("v").alias("a"), F.col("pick").alias("pa"))
        cb = choice.select(F.col("v").alias("b"), F.col("pick").alias("pb"))
        mutual = (
            pe.join(ca.hint("shuffle_hash"), "a")
            .join(cb.hint("shuffle_hash"), "b")
            .filter((F.col("pa") == F.col("e")) & (F.col("pb") == F.col("e")))
            .select("a", "b")
            .transform(truncate_plan)
        )
        mva = (
            mutual.select(F.col("a").alias("va"))
            .unionByName(mutual.select(F.col("b").alias("va")))
        )
        mvb = mva.select(F.col("va").alias("vb"))
        return {
            "live": live_n.on(
                live.join(mva.hint("shuffle_hash"),
                          F.col("a") == F.col("va"), "left_anti")
                .join(mvb.hint("shuffle_hash"),
                      F.col("b") == F.col("vb"), "left_anti")
            ),
            "matched": matched.unionByName(mutual),
        }

    def converged(sc):
        # also under fixed_rounds: no live edge left ends the rounds
        n = live_n.get()["n"]
        return {"live": n}, n == 0

    state, _, done = runner.iterate(
        init, step,
        iters=fixed_rounds if fixed_rounds is not None else max_rounds,
        converged=converged, width=width,
    )
    if fixed_rounds is None and not done:
        raise RuntimeError(
            f"maximal_matching did not converge within "
            f"max_rounds={max_rounds}"
        )
    return state["matched"]
