"""Approximate neighborhood function — HyperBall on Spark HLL sketches.

The neighborhood function N(t) = Σ_v |B(v, t)| (ball sizes: how many
(source, vertex) pairs lie within distance t, self included) is the
standard whole-graph distance summary — effective diameter, average
distance, connectivity mass all read off it. Computing it exactly is
all-pairs BFS (O(|V|·|E|)); the published scale path is ANF (Palmer,
Gibbons, Faloutsos KDD 2002) / HyperBall (Boldi & Vigna, "In-Core
Computation of Geometric Centralities with HyperBall", 2013-14), which
replaces each vertex's reach-set with a mergeable cardinality sketch
and iterates ``counter(v) ∪= counter(u) for u ∈ out(v)`` — exactly a
semiring-style gather where the "sum" is sketch-union.

Spark-first formulation: the per-vertex counter is a Datasketches HLL
sketch column (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate`` — JVM aggregates, Tungsten-managed, no Python
in the loop); one superstep = the same union-before-agg shape
pagerank uses (neighbor sketches + own sketch → one hash aggregate),
so the hot loop is one shuffle of |V| sketch rows per round against
src-pinned persisted edges. N(t) per round is an exact decimal sum of
estimates that the round's own action observes — the monotone
convergence witness (N stops growing ⇔ every ball saturated ⇔ t
reached the diameter).

At 10^12 vertices the exact variant is impossible and HyperBall is the
point: state is |V| × (2^lg_k bytes), unions are associative (map-side
partial aggregation absorbs hub fan-in — no salting needed), and the
result is a T-row table.

The exact variant (MSBFS over every vertex, depth-capped) exists for
oracle checking and for small graphs; the pytest tier pins HyperBall
to within HLL error of exact on the same fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner, loop_width


def _estimate_sum(est) -> Observed:
    """Σ ``est`` (a bigint HLL estimate), observed by the action that
    materialises the counters: a ``decimal(38,0)`` sum, as cc.py sums
    labels, is exact in any partial-merge order up to 10^38."""
    return Observed(total=F.sum(est.cast("decimal(38,0)")), rows=F.count(F.lit(1)))


def _total(ob: Observed) -> float:
    m = ob.get()
    if m["total"] is None and m["rows"]:  # decimal overflow with ANSI mode off
        raise ArithmeticError("HyperBall estimate sum overflowed decimal(38,0)")
    return float(m["total"] or 0)  # no vertices: the empty sum


def _ball_union(e: DataFrame, counters: DataFrame) -> DataFrame:
    """(id, sk): each vertex's sketch unioned with its out-neighbours'
    — the neighbour-sketch gather (src-pinned edges, shuffle-hash
    probe) and the own sketches in ONE hash aggregate."""
    cs = counters.hint("shuffle_hash")
    return (
        e.join(cs, e["dst"] == cs["id"], "inner")
        .select(e["src"].alias("id"), cs["sk"].alias("sk"))
        .unionByName(counters.select("id", "sk"))
        .groupBy("id")
        .agg(F.hll_union_agg("sk", F.lit(True)).alias("sk"))
    )


def neighborhood_function_exact(
    g: Graph,
    max_t: int = 8,
    runner: SuperstepRunner | None = None,
    roots: DataFrame | None = None,
) -> DataFrame:
    """Exact N(t) for t = 0..max_t via depth-capped multi-source BFS
    from EVERY vertex (root batching inherited from multi_source_bfs),
    or from ``roots`` (a (id) DataFrame) only — the root-capped form
    whose state is O(|roots|·|V|) instead of all-pairs: a fixed root
    sample stays runnable at any corpus scale. Returns (t int,
    n_pairs long), n_pairs = Σ_root |B(root, t)| including the self
    pair. The all-roots form is small/medium graphs only; the scale
    path for the FULL sum is :func:`hyperball`."""
    from graphblast_spark.algorithms.diameter import multi_source_bfs

    spark = g.edges.sparkSession
    visited = multi_source_bfs(
        g, roots if roots is not None else g.vertices.select("id"),
        desc=DEFAULT_DESC.with_(max_niter=max_t), runner=runner,
    )
    per_depth = visited.groupBy("depth").agg(F.count(F.lit(1)).alias("c"))
    grid = spark.range(0, max_t + 1).select(F.col("id").cast("int").alias("t"))
    return (
        grid.join(per_depth, per_depth["depth"] <= grid["t"], "inner")
        .groupBy("t")
        .agg(F.sum("c").alias("n_pairs"))
        .select("t", "n_pairs")
    )


def hyperball(
    g: Graph,
    max_t: int = 16,
    lg_config_k: int = 12,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """HyperBall: approximate N(t) for t = 0..max_t (stops early once
    N(t) saturates — every ball closed). Returns (t int, n_pairs
    double) — n_pairs is the summed HLL estimate (relative error
    ≈ 1.04/√2^lg_config_k, ~1.6% at the default lg_k=12).

    Per round: neighbor-sketch gather (src-pinned persisted edges,
    shuffle-hash probe) unioned with own sketches in ONE hash
    aggregate, whose truncation also observes Σ estimate. State: |V|
    sketch rows, lineage truncated each round."""
    spark = g.edges.sparkSession
    width = loop_width(spark, g.edges.count())
    e = g.edges.select("src", "dst").repartition(width, "src").persist()
    e.count()
    if runner is None:
        runner = SuperstepRunner(spark)

    # N(0) is observed by init's truncation, N(t) by superstep t's
    n_0 = _estimate_sum(F.hll_sketch_estimate("sk"))
    n_t = _estimate_sum(F.hll_sketch_estimate("sk"))

    def init():
        return {"counters": n_0.on(g.vertices.groupBy("id").agg(
            F.hll_sketch_agg("id", F.lit(lg_config_k)).alias("sk")))}

    def step(s, it, sc):
        return {"counters": n_t.on(_ball_union(e, s["counters"]))}

    def converged(sc):
        # N(0..t) rides in the scalars, so a resumed run keeps the series
        series = sc.get("n_pairs") or [_total(n_0)]
        n = _total(n_t)
        return {"n_pairs": series + [n]}, n == series[-1]  # balls stopped growing

    sc = runner.iterate(init, step, iters=max_t, converged=converged, width=width)[1]
    e.unpersist()
    rows = list(enumerate(sc.get("n_pairs") or [_total(n_0)]))
    return spark.createDataFrame(rows, "t int, n_pairs double")


def effective_diameter(nf: DataFrame, q: float = 0.9) -> float:
    """Smallest t whose N(t) reaches a fraction ``q`` of the final
    (saturated) N, linearly interpolated between supersteps — the
    Palmer/Boldi-Vigna convention. ``nf`` is the (t, n_pairs) output
    of either variant (a handful of rows — driver-side math)."""
    pts = sorted((r["t"], float(r["n_pairs"])) for r in nf.collect())
    if not pts:
        return 0.0
    target = q * pts[-1][1]
    prev_t, prev_n = pts[0]
    if prev_n >= target:
        return float(prev_t)
    for t, n in pts[1:]:
        if n >= target:
            if n == prev_n:
                return float(t)
            return prev_t + (target - prev_n) / (n - prev_n) * (t - prev_t)
        prev_t, prev_n = t, n
    return float(pts[-1][0])


def harmonic_centrality_hyperball(
    g: Graph,
    max_t: int = 32,
    lg_config_k: int = 12,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Approximate harmonic closeness for EVERY vertex — the actual
    headline application of HyperBall (Boldi & Vigna 2014 compute
    exactly this on billion-node crawls): harmonic(v) =
    Σ_{u≠v} 1/d(v,u) = Σ_t (|B(v,t)| − |B(v,t−1)|) / t, with ball
    sizes replaced by per-vertex HLL estimates. One pass, O(|V|)
    state — unlike the exact closeness_centrality (diameter.py), which
    is all-pairs BFS and only feasible for sampled roots.

    NOTE direction: |B(v,t)| counts vertices REACHABLE FROM v (out-
    balls), so this is harmonic centrality of v as a *source*; run on
    ``g.reverse()``-style swapped edges for the inbound variant.
    Accuracy: each per-vertex estimate carries the HLL relative error
    (~1.04/√2^lg_k), and the telescoped differences are noisier than
    the sums — pytest pins a 20% per-vertex tolerance against the
    exact MSBFS answer on the sandbox fixture (Boldi-Vigna report
    the same caveat and recommend lg_k ≥ 10 for rank fidelity).

    Returns (id long, harmonic double)."""
    spark = g.edges.sparkSession
    width = loop_width(spark, g.edges.count())
    e = g.edges.select("src", "dst").repartition(width, "src").persist()
    e.count()
    if runner is None:
        runner = SuperstepRunner(spark)

    # Σ est is observed by init's truncation, then by each superstep's
    total_0 = _estimate_sum(F.col("est"))
    total = _estimate_sum(F.col("est"))

    def init():
        return {"counters": total_0.on(
            g.vertices.groupBy("id")
            .agg(F.hll_sketch_agg("id", F.lit(lg_config_k)).alias("sk"))
            .withColumn("est", F.hll_sketch_estimate("sk"))
            .withColumn("harmonic", F.lit(0.0))
        )}

    def step(s, it, sc):
        counters, t = s["counters"], it + 1
        unioned = _ball_union(e, counters).withColumn("est_new", F.hll_sketch_estimate("sk"))
        return {"counters": total.on(
            unioned.join(
                counters.select("id", F.col("est").alias("est_old"), "harmonic"),
                "id",
            )
            .select(
                "id", "sk",
                F.col("est_new").alias("est"),
                (
                    F.col("harmonic")
                    + F.greatest(
                        F.col("est_new") - F.col("est_old"), F.lit(0.0)
                    ) / F.lit(float(t))
                ).alias("harmonic"),
            )
        )}

    def converged(sc):
        prev = sc["total"] if "total" in sc else _total(total_0)
        cur = _total(total)
        return {"total": cur}, cur == prev  # all balls saturated

    counters = runner.iterate(
        init, step, iters=max_t, converged=converged, width=width
    )[0]["counters"]
    e.unpersist()
    return counters.select("id", F.round("harmonic", 6).alias("harmonic"))
