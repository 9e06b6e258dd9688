"""Greedy independent-set graph coloring.

Reference: graphblas/algorithm/gc.hpp:16-150 (the IS variant — the
reference also ships MIS-based and Jones-Plassmann variants plus a
cuSPARSE csrcolor binding, gc.hpp:160-406 / operations.hpp:816-826;
all share this loop shape):

  per round k = 1, 2, …:
    m = vxm(MaximumMultiplies, w, A)     # max uncolored-neighbor weight
    f = (w > m)                          # local maxima (GreaterPlus)
    colors⟨f⟩ = k                        # assign round number as color
    w⟨f⟩ = 0                             # winners leave the uncolored set
  until no uncolored vertices remain.

Winners of one round are pairwise non-adjacent (two adjacent vertices
cannot both exceed the other's weight), so every color class is an
independent set — a proper coloring. Unlike MIS, losers' neighbors
REMAIN candidates for the next round.

Weights are the same deterministic LCG bijection as :mod:`.mis` (no
ties), so the coloring is unique and reproducible in the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.algorithms.mis import lcg_weight, local_maxima, mis
from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner, truncate_plan


def _smallest_free(used: str):
    """Smallest color ≥ 1 absent from the ``used`` color set (null →
    1): min over {1..|used|+1} ∖ used — gc.hpp's forbidden-array scan
    reframed as an array expression over a small set."""
    return F.coalesce(
        F.array_min(
            F.array_except(
                F.sequence(F.lit(1), F.coalesce(F.size(used), F.lit(0)) + 1),
                F.coalesce(used, F.array().cast("array<int>")),
            )
        ),
        F.lit(1),
    ).cast("int")


def graph_coloring(
    g: Graph,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Returns (id long, color int) for EVERY vertex; colors are
    1-based round numbers (gc.hpp:123 assigns ``iter``). With
    ``fixed_rounds``, still-uncolored vertices get color 0 (matching
    an identically-unrolled SQL oracle)."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    adj = g.undirected()

    def init():
        # every candidate carries this round's colour: data, not a
        # per-round literal (which would compile afresh each round)
        cand = g.vertices.select(
            "id", lcg_weight(F.col("id")).alias("w"), F.lit(1).alias("color")
        )
        colored = spark.createDataFrame([], "id long, color int")
        return {"cand": cand, "colored": colored}

    def step(s, it, sc):
        # local (weight, id) maxima of the uncolored (see mis.py),
        # with their colour
        winners, n_won = local_maxima(adj, s["cand"])
        if n_won == 0:
            return None
        return {
            "cand": s["cand"].join(winners, on="id", how="left_anti")
            .withColumn("color", F.col("color") + 1),
            "colored": s["colored"].unionByName(winners),
        }

    max_rounds = fixed_rounds if fixed_rounds is not None else desc.max_niter
    colored = runner.iterate(init, step, iters=max_rounds)[0]["colored"]

    return g.vertices.join(colored, on="id", how="left").select(
        "id", F.coalesce("color", F.lit(0)).alias("color")
    )


def graph_coloring_mis(
    g: Graph,
    desc: Descriptor = DEFAULT_DESC,
    max_colors: int | None = None,
) -> DataFrame:
    """MIS-based coloring (reference gc.hpp:160-238 ``gcMis``): repeat —
    compute a maximal independent set of the residual graph, color it
    with the next color, remove it — until no vertices remain.

    Each color class is a full MIS (not just one winner round), so this
    typically needs the fewest color ROUNDS of the three variants, at
    the cost of a nested loop (a full Luby MIS per color). Returns
    (id long, color int), colors 1-based; with ``max_colors`` the sweep
    stops early and leftover vertices report color 0.

    Scale shape: the residual graph shrinks geometrically (each MIS
    plus its neighborhood leaves), so the total work is a small constant
    times one MIS of the full graph; the residual edge view is a
    semi-join filter, re-persisted per color round."""
    spark = g.edges.sparkSession
    limit = max_colors if max_colors is not None else desc.max_niter
    colored = spark.createDataFrame([], "id long, color int")
    remaining = g.vertices.select("id")
    edges = g.edges
    n_left = g.n
    left = Observed(n=F.count(F.lit(1)))  # counted by the remainder's truncation
    for k in range(1, limit + 1):
        if n_left == 0:
            break
        sub = Graph(edges=edges, vertices=remaining, n=n_left, nvals=-1)
        in_set = mis(sub, desc=desc).filter(F.col("in_mis") == 1).select("id")
        in_set = in_set.transform(truncate_plan)
        sub.unpersist()  # the residual graph's undirected view
        colored = colored.unionByName(in_set.withColumn("color", F.lit(k)))
        remaining = left.on(remaining.join(in_set, "id", "left_anti")).transform(truncate_plan)
        n_left = left.get()["n"]
        # residual edge view: both endpoints still uncolored
        r_src = remaining.select(F.col("id").alias("src"))
        r_dst = remaining.select(F.col("id").alias("dst"))
        edges = (
            g.edges.join(r_src, on="src", how="left_semi")
            .join(r_dst, on="dst", how="left_semi")
        )
    return g.vertices.join(colored, on="id", how="left").select(
        "id", F.coalesce("color", F.lit(0)).alias("color")
    )


def graph_coloring_spec(
    g: Graph,
    palette: int = 8,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Speculative hash coloring + iterative conflict repair — the
    engine's analog of the reference's cuSPARSE ``csrcolor`` binding
    (operations.hpp:816-826, used by ggc_cusparse.cu): EVERY vertex
    guesses a color up front (LCG weight mod ``palette``), then rounds
    of deterministic repair fix the conflicts. Unlike IS/JP (one
    independent set per round), the whole graph is colored from round
    zero and only the conflicted fraction does any further work — the
    fewest-rounds variant when the palette is generous.

    Per round: (1) conflict edges = adjacent equal colors; (2) movers =
    conflicted vertices whose combined key (w·2³¹+id, injective for the
    reference's int32 Index domain, types.hpp:18) is SMALLER than every
    equal-color neighbor's — so two adjacent same-color vertices never
    both move; (3) each mover takes the smallest color absent from its
    whole current neighborhood (may exceed ``palette`` — the palette
    grows as needed). Movers with disjoint old colors can collide on a
    new color and re-conflict next round; repair iterates to zero
    conflicts (``desc.max_niter`` bounds it). With ``fixed_rounds`` the
    deterministic intermediate state is returned as-is — possibly still
    conflicted — for oracle comparison; properness is only guaranteed
    at convergence.

    Returns (id long, color int), colors 1-based, every vertex colored."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    adj = g.undirected()
    moving = Observed(n=F.count(F.lit(1)))  # counted by the movers' truncation

    def init():
        w = lcg_weight(F.col("id"))
        return {
            "colors": g.vertices.select(
                "id",
                (w % palette + 1).cast("int").alias("color"),
                (w * F.lit(1 << 31) + F.col("id")).alias("wk"),
            )
        }

    def step(s, it, sc):
        colors = s["colors"]
        c_nbr = colors.select(
            F.col("id").alias("src"), F.col("color").alias("ncolor"),
            F.col("wk").alias("nwk"),
        )
        # min equal-color-neighbor key per conflicted vertex
        mnb = (
            adj.join(c_nbr, on="src")
            .join(
                colors.select(F.col("id").alias("dst"), "color", "wk"),
                on="dst",
            )
            .filter(F.col("ncolor") == F.col("color"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("nwk").alias("mnb"))
        )
        movers = moving.on(
            colors.join(mnb, on="id")
            .filter(F.col("wk") < F.col("mnb"))
            .select("id")
        ).transform(truncate_plan)
        if moving.get()["n"] == 0:
            return None
        used = (
            adj.join(movers.withColumnRenamed("id", "dst"), on="dst", how="left_semi")
            .join(c_nbr.select("src", "ncolor"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.collect_set("ncolor").alias("used"))
        )
        newc = movers.join(used, on="id", how="left").select(
            "id", _smallest_free("used").alias("newcolor"),
        )
        return {"colors": (
            colors.join(newc, on="id", how="left")
            .select(
                "id",
                F.coalesce("newcolor", "color").alias("color"),
                "wk",
            )
        )}

    max_rounds = fixed_rounds if fixed_rounds is not None else desc.max_niter
    colors = runner.iterate(init, step, iters=max_rounds)[0]["colors"]

    return colors.select("id", "color")


def graph_coloring_jp(
    g: Graph,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Jones-Plassmann coloring (reference gc.hpp:160-406 — the variant
    used in practice on big graphs).

    Same winner rule as the IS variant (local (weight, id) maxima among
    the still-uncolored), but a winner takes the SMALLEST color absent
    from its already-colored neighborhood instead of the round number —
    typically far fewer colors at the same round count. Winners of one
    round are pairwise non-adjacent (at most one of two adjacent
    candidates can be the local max), and each avoids all previously
    assigned neighbor colors, so the coloring is proper by induction.

    Scale shape per round: the same neighbor-max join as IS plus one
    used-colors aggregate — ``collect_set(color)`` per winner, whose
    size is bounded by the colors-so-far count (small), with map-side
    dedup absorbing hub fan-in. Returns (id long, color int); with
    ``fixed_rounds`` still-uncolored vertices report color 0."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    adj = g.undirected()

    def init():
        cand = g.vertices.select("id", lcg_weight(F.col("id")).alias("w"))
        colored = spark.createDataFrame([], "id long, color int")
        return {"cand": cand, "colored": colored}

    def step(s, it, sc):
        cand, colored = s["cand"], s["colored"]
        winners, n_won = local_maxima(adj, cand)
        if n_won == 0:
            return None
        # smallest color not used by already-colored neighbors
        cl = colored.select(F.col("id").alias("nid"), "color")
        used = (
            adj.join(winners, on=adj["dst"] == winners["id"], how="left_semi")
            .join(cl, on=F.col("src") == F.col("nid"), how="inner")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.collect_set("color").alias("used"))
        )
        assigned = winners.join(used, on="id", how="left").select(
            "id", _smallest_free("used").alias("color"),
        )
        return {
            "cand": cand.join(winners, on="id", how="left_anti"),
            "colored": colored.unionByName(assigned),
        }

    max_rounds = fixed_rounds if fixed_rounds is not None else desc.max_niter
    colored = runner.iterate(init, step, iters=max_rounds)[0]["colored"]

    return g.vertices.join(colored, on="id", how="left").select(
        "id", F.coalesce("color", F.lit(0)).alias("color")
    )
