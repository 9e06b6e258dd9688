"""Borůvka minimum spanning forest — component-parallel min-edge
selection + union rounds.

Beyond the reference's algorithm set (gunrock/graphblast ships no MST;
Gunrock proper does, and the GraphBLAS literature treats Borůvka as
the canonical semiring-friendly MST — each round is a MinimumSecond-
style reduction over cross edges followed by a CC-style union). Here
each round is three DataFrame verbs:

1. **Cross edges** — join the component labels onto both endpoints of
   the canonical undirected edge table, keep ``ca != cb``. Zero cross
   edges ⟺ the forest is complete (one scalar count per round).
2. **Min-edge per component** — each component selects its minimum
   incident cross edge, deterministic tie-break by struct
   ``(w, a, b)`` (an aggregated struct-min: hash agg with map-side
   partial combine, no window). The classic two-components-select-
   the-same-edge case is a plain ``distinct``.
3. **Union** — the selected (ca, cb) pairs form a component-level
   graph with ≤ one edge per component; the new labels are its
   connected components, computed by the engine's own verified
   FastSV :func:`~graphblast_spark.algorithms.cc.connected_components`
   (min-label hook + pointer jump) — Borůvka's union-find expressed
   as the already-plan-audited CC superstep, on a frame that is
   component-sized, not vertex-sized.

Components at least halve every round → ≤ log2(V) rounds; each round
shuffles the edge table twice (the two label joins) plus the
component-sized CC. Determinism: the tie-break makes the forest a
pure function of the input, so a python Kruskal replay pins full
convergence in pytest and round 1 is SQL-oracle-replayable
(per-component argmin is a window-free GROUP BY in the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner, loop_width, truncate_plan


def _canonical_weighted(edges: DataFrame) -> DataFrame:
    """(src,dst,val) directed → (a,b,w) with a < b, w = MIN weight of
    any parallel edge in either direction; self-loops dropped (they
    can never join components)."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("val").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )


def minimum_spanning_forest(
    g: Graph,
    runner: SuperstepRunner | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Returns the minimum spanning forest of the undirected view of
    ``g`` as (a long, b long, w double), a < b — |V| − #components
    rows. Deterministic: parallel edges collapse to their min weight
    and every per-component selection tie-breaks by (w, a, b)."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)
    from graphblast_spark.algorithms.cc import connected_components

    und = _canonical_weighted(g.edges).persist()
    width = loop_width(spark, max(und.count(), 1))
    picked = Observed(n=F.count(F.lit(1)))  # counted by the selection's truncation

    def init():
        return {
            "comp": und.select(F.col("a").alias("id"))
            .unionByName(und.select(F.col("b").alias("id")))
            .distinct()
            .select("id", F.col("id").alias("comp")),
            # the accumulated forest is checkpointed state: a resume
            # that rebuilt it from scratch would silently drop every
            # edge selected before the interruption
            "forest": und.limit(0).select("a", "b", "w"),
        }

    def step(s, it, sc):
        comp, forest = s["comp"], s["forest"]
        la = comp.select(F.col("id").alias("a"), F.col("comp").alias("ca"))
        lb = comp.select(F.col("id").alias("b"), F.col("comp").alias("cb"))
        cross = (
            und.join(la.hint("shuffle_hash"), "a")
            .join(lb.hint("shuffle_hash"), "b")
            .filter(F.col("ca") != F.col("cb"))
            .persist()
        )
        # each side's component nominates the edge; min by (w,a,b).
        # ca/cb ride as trailing struct fields (the (w,a,b) prefix
        # alone decides the min, so the tie-break is unchanged) so
        # pair_edges below is a pure projection instead of two
        # more label joins per round.
        sel = picked.on(
            cross.select(F.col("ca").alias("c"), "w", "a", "b", "ca", "cb")
            .unionByName(
                cross.select(F.col("cb").alias("c"), "w", "a", "b", "ca", "cb")
            )
            .groupBy("c")
            .agg(F.min(F.struct("w", "a", "b", "ca", "cb")).alias("e"))
            .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"),
                    F.col("e.w").alias("w"),
                    F.col("e.ca").alias("ca"), F.col("e.cb").alias("cb"))
            .distinct()
        ).transform(truncate_plan)
        cross.unpersist()
        if picked.get()["n"] == 0:  # no crossing edge left: the forest is spanning
            return None
        # union step: CC over the selected component-pair graph
        pair_edges = sel.select(
            F.col("ca").alias("src"), F.col("cb").alias("dst"),
            F.lit(1.0).alias("val"),
        )
        cg = Graph.build(pair_edges, symmetrize=True)
        merged = connected_components(cg)  # (id=old comp, component=new)
        cg.unpersist()
        return {
            "comp": (
                comp.join(
                    merged.select(F.col("id").alias("comp"),
                                  F.col("component").alias("nc")).hint("shuffle_hash"),
                    "comp", "left",
                )
                .select("id", F.coalesce("nc", "comp").alias("comp"))
            ),
            "forest": forest.unionByName(sel.select("a", "b", "w")),
        }

    try:
        state, _, done = runner.iterate(init, step, iters=max_rounds, width=width)
        if not done:
            raise RuntimeError(
                f"minimum_spanning_forest did not converge within "
                f"max_rounds={max_rounds}"
            )
    finally:
        und.unpersist()
    return state["forest"].distinct()
