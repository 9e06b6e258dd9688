"""Louvain community detection — parallel modularity-maximizing local
moves + graph contraction (Blondel et al. 2008; parallel move gating
after Grappolo, Lu/Halappanavar/Kalyanaraman 2015).

The reference ships no community detection (SURVEY §2.9 — its closest
verb is the LGC seeded cut); the north rule's label propagation gives
a partition but no objective. This is the engine's partition
*optimizer*: it maximizes the same Newman modularity Q that
``algorithms/lp.py community_modularity`` scores, so the two compose
into a tune-and-measure loop.

Semantics (deterministic, synchronous, oracle-replayable):

- The directed weighted edge table is canonicalized to an undirected
  multigraph: w(u,v) = Σ of both directions' weights; self-loops (which
  appear after contraction) carry 2·w into the degree but never into
  move gains — the textbook Louvain accounting.
- A *move round* t evaluates, for every vertex v with current
  community cur, the modularity gain of joining each neighboring
  community c:  score(v,c) = k(v→c) − deg(v)·Σtot'(c)/2m, where
  Σtot'(c) excludes v itself when c = cur. v adopts the argmax
  (ties → smallest community id) when it strictly beats staying, BUT
  synchronous all-vertex moves oscillate (2-cycles on symmetric
  structure), so two deterministic gates serialize conflicting moves:
  (1) parity — only vertices with id % 2 == t % 2 may move in round t
  (the coloring-gate degenerate case), and (2) the Grappolo singleton
  rule — a singleton vertex may only join another singleton with a
  SMALLER label, which breaks pairwise swap cycles at level start.
- A *level* runs ``move_rounds`` rounds (early exit after two
  consecutive zero-move rounds — one is not a fixpoint witness under
  parity gating), then CONTRACTS: communities become vertices,
  inter-community weights sum, intra-community weight becomes the
  contracted vertex's self-loop. Community labels are always vertex
  ids of the level, so the final (id, community) labels are stable
  original-vertex ids.

Scale: every move round is four hash shuffles of vertex-or-edge-sized
frames — stot (groupBy comm), k(v→c) (the vecmat join+agg, map-side
partials on (v, c) absorb hub fan-in exactly like lp.py's vote
shape), the candidate⋈stot join on c, and the decision join on id.
No windows, no collect (the round's own action counts its movers: one
action per superstep), no per-vertex sequential
scan — the classic sequential Louvain is inherently serial; this is
the standard synchronous-parallel reformulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import (
    Observed,
    SuperstepRunner,
    child_runner,
    loop_width,
    truncate_plan,
)


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    """(src,dst,val) directed → (a,b,w) with a ≤ b, both directions
    summed. Self-loops (a = b) are preserved — contraction creates
    them and their weight belongs in the degree."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("val").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )


def _move_round(
    sym: DataFrame,
    deg: DataFrame,
    comm: DataFrame,
    m2: float,
    parity: int,
) -> DataFrame:
    """One gated synchronous local-move round. ``sym`` is the
    self-loop-free symmetrized neighbor view (src, dst, w); ``deg``
    is (id, deg) including 2·self-loop; ``comm`` is (id, comm).
    Returns (id, cur, comm): the old and the new community meet on
    the round's last join, where the caller counts the movers."""
    curd = comm.join(deg, "id")  # (id, comm, deg)
    stot = (
        curd.groupBy("comm")
        .agg(F.sum("deg").alias("tot"), F.count(F.lit(1)).alias("sz"))
    )
    cd = comm.select(F.col("id").alias("nbr"), F.col("comm").alias("c"))
    kvc = (
        sym.join(cd.hint("shuffle_hash"), sym["dst"] == cd["nbr"])
        .groupBy(sym["src"].alias("id"), "c")
        .agg(F.sum("w").alias("k"))
    )
    # Stay score: k(v→cur) − deg·(Σtot(cur) − deg)/2m. The k(v→cur)
    # row may be absent (no neighbor in own community) → 0.
    kcur = kvc.select(
        F.col("id").alias("kid"), F.col("c").alias("kc"),
        F.col("k").alias("k_cur"),
    )
    stay = (
        curd.select(
            "id", F.col("comm").alias("cur"), "deg"
        )
        .join(stot.withColumnRenamed("comm", "cur"), "cur")
        .withColumnRenamed("tot", "tot_cur")
        .withColumnRenamed("sz", "sz_cur")
        .join(
            kcur,
            (F.col("id") == F.col("kid")) & (F.col("cur") == F.col("kc")),
            "left",
        )
        .select(
            "id", "cur", "deg", "sz_cur",
            (
                F.coalesce("k_cur", F.lit(0.0))
                - F.col("deg") * (F.col("tot_cur") - F.col("deg")) / F.lit(m2)
            ).alias("stay_score"),
        )
    )
    cand = (
        kvc.join(stay.hint("shuffle_hash"), "id")
        .filter(F.col("c") != F.col("cur"))
        .join(stot.withColumnRenamed("comm", "c"), "c")
        .select(
            "id",
            F.struct(
                (F.col("k") - F.col("deg") * F.col("tot") / F.lit(m2)).alias("s"),
                (-F.col("c")).alias("nc"),
                F.col("sz").alias("sz_tgt"),
            ).alias("cnd"),
        )
        .groupBy("id")
        .agg(F.max("cnd").alias("b"))
    )
    gate = F.col("id") % 2 == F.lit(parity)
    singleton_swap = (
        (F.col("sz_cur") == 1) & (F.col("b.sz_tgt") == 1)
        & (-F.col("b.nc") > F.col("cur"))
    )
    return (
        stay.join(cand, "id", "left")
        .select(
            "id", "cur",
            F.when(
                F.col("b").isNotNull()
                & gate
                & (F.col("b.s") > F.col("stay_score"))
                & ~singleton_swap,
                -F.col("b.nc"),
            )
            .otherwise(F.col("cur"))
            .alias("comm"),
        )
    )


def louvain(
    g: Graph,
    levels: int = 3,
    move_rounds: int = 4,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, community long): the Louvain partition after
    up to ``levels`` contraction levels of ``move_rounds`` gated
    synchronous local-move rounds each. Deterministic — a FIXED
    (levels, move_rounds) makes the result an exact finite expression
    (all-integer-valued float64 arithmetic plus one correctly-rounded
    division per score), so an unrolled SQL oracle replays it
    bit-for-bit. Community labels are original vertex ids."""
    if levels < 1:
        raise ValueError(f"levels must be >= 1; got {levels!r}")
    if move_rounds < 1:
        raise ValueError(f"move_rounds must be >= 1; got {move_rounds!r}")
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    und = _canonical_undirected(g.edges).persist()
    n_edges = und.count()  # a contracted level's is observed
    mapping = g.vertices.select("id", F.col("id").alias("community"))
    movers = Observed(n=F.count_if(F.col("comm") != F.col("cur")))
    contracted_n = Observed(n=F.count(F.lit(1)))

    for lvl in range(levels):
        # Clamp the level's shuffle width to its actual state size
        # (sym = 2|E| rows) — at sandbox scale the 4-shuffle move
        # round otherwise schedules hundreds of near-empty tasks per
        # superstep (the scc.py lesson); a no-op at real data volumes.
        width = loop_width(spark, 2 * n_edges)
        nondiag = und.filter(F.col("a") != F.col("b"))
        sym = (
            nondiag.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
            .unionByName(
                nondiag.select(
                    F.col("b").alias("src"), F.col("a").alias("dst"), "w"
                )
            )
            .persist()
        )
        deg = (
            sym.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("d1"))
            .unionByName(
                und.filter(F.col("a") == F.col("b")).select(
                    F.col("a").alias("id"), (F.lit(2.0) * F.col("w")).alias("d1")
                )
            )
            .groupBy("id")
            .agg(F.sum("d1").alias("deg"))
            .repartition(width, "id")
            .persist()
        )
        m2 = float(deg.agg(F.sum("deg")).first()[0] or 0.0)
        if m2 <= 0.0:  # no edge (or no weight) left
            und.unpersist(); sym.unpersist(); deg.unpersist()
            break

        def step(s, it, sc):
            moved = _move_round(sym, deg, s["comm"], m2, it % 2)
            return {"comm": movers.on(moved).select("id", "comm")}

        def converged(sc):
            n = movers.get()["n"]
            # level_moved and the zero-move streak ride in the scalars,
            # so a resumed run takes the same stop and contraction
            # decisions as an uninterrupted one
            streak = sc.get("zero_streak", 0) + 1 if n == 0 else 0
            return {
                "movers": n,
                "level_moved": sc.get("level_moved", 0) + n,
                "zero_streak": streak,
            }, streak >= 2

        state, scalars, _ = child_runner(runner, spark, f"level{lvl}").iterate(
            lambda: {"comm": deg.select("id", F.col("id").alias("comm"))},
            step, iters=move_rounds, converged=converged, width=width,
        )
        cm = state["comm"].select(F.col("id").alias("v"), F.col("comm").alias("cv"))
        # LEFT join + coalesce: isolated vertices (in g.vertices
        # but no edges, hence absent from deg/comm) keep their own
        # singleton community instead of dropping out of the output
        mapping = (
            mapping.join(cm, mapping["community"] == cm["v"], "left")
            .select(
                "id",
                F.coalesce("cv", F.col("community")).alias("community"),
            )
            .transform(truncate_plan)
        )
        # Contract only when another level will consume it: at the
        # final level (or a zero-move fixpoint, where coarser
        # levels cannot move either) the contracted graph is dead
        # work.
        contracted = None
        if lvl < levels - 1 and scalars.get("level_moved", 0) > 0:
            contracted = contracted_n.on(
                und.join(cm.withColumnRenamed("v", "a").withColumnRenamed("cv", "ca"), "a")
                .join(cm.withColumnRenamed("v", "b").withColumnRenamed("cv", "cb"), "b")
                .select(
                    F.least("ca", "cb").alias("a"),
                    F.greatest("ca", "cb").alias("b"),
                    "w",
                )
                .groupBy("a", "b")
                .agg(F.sum("w").alias("w"))
            ).transform(truncate_plan)
        und.unpersist(); sym.unpersist(); deg.unpersist()
        if contracted is None:
            break
        und, n_edges = contracted.persist(), contracted_n.get()["n"]

    return mapping
