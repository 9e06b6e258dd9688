"""Betweenness centrality — batched multi-source Brandes.

The reference ships a BC fixture (``data/small/test_bc.mtx``) and the
GraphBLAST paper family treats BC as a core linear-algebra workload
(forward sigma sweep, backward delta sweep over the adjacency), but the
repo itself has no ``bc.hpp`` — so this is a beyond-reference addition
built from the engine's own batched-MSBFS machinery
(``algorithms/diameter.py``) plus the Brandes dependency accumulation.
Running from a bounded root batch is the standard Brandes–Pich sampled
approximation (all roots = exact BC); ``max_depth`` additionally bounds
the sweep for the unrolled-SQL oracle contract.

Physical plan (scale notes):
- forward level d → d+1: frontier(root, id, sigma) ⋈ edges on id=src
  (shuffle-hash against the persisted src-partitioned edge table),
  groupBy (root, dst) summing sigma (map-side partial absorbs hub
  fan-in), then a left_anti join against the accumulated shortest-path
  table drops already-settled pairs — the visited mask, exactly the
  BFS/MSBFS pattern. One eager localCheckpoint per level (the
  superstep action, lineage truncated).
- state is O(reached (root, vertex) pairs) — the same bound MSBFS
  carries; root batching is AUTOMATED (root_batch="auto" sizes batches
  from diameter.ROOT_PAIR_BUDGET / |V|, per-batch delta sums
  accumulated — additive over roots, so batched == unbatched exactly).
- backward level d+1 → d: DAG edges are recovered by joining level-d
  vertices to level-(d+1) vertices through the edge table (no stored
  predecessor lists — recomputing the join is cheaper at scale than
  materializing per-vertex predecessor arrays). Contribution
  sigma_v/sigma_w · (1 + delta_w), groupBy (root, v) sum.
- bc(v) = Σ_roots delta(root, v), v ≠ root; dense over all vertices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner, child_runner, truncate_plan


def betweenness_centrality(
    g: Graph,
    sources: DataFrame | list[int] | None = None,
    n_sources: int = 8,
    max_depth: int | None = None,
    runner: SuperstepRunner | None = None,
    root_batch: int | str | None = "auto",
) -> DataFrame:
    """Returns (id long, bc double), dense over all vertices.

    Ordered-pair (directed) convention: every (s, t) root/target pair
    counts once, so on a symmetrized graph scores are 2× the undirected
    convention — halve externally if needed.

    ``sources``: root set as a DataFrame with an ``id`` column or a
    list of ids; default = the first ``n_sources`` vertex ids (selected
    as a DataFrame — no driver collect). ``max_depth`` bounds the
    forward sweep (paths longer than it are ignored on BOTH sweeps —
    the depth-bounded semantics the oracle contract pins); ``None``
    runs to frontier exhaustion (exact within the root sample).

    ``root_batch`` bounds the O(|roots|·|V|) sweep state: roots are
    processed in batches, per-batch delta sums accumulated — Brandes'
    dependency accumulation is additive over roots, so the batched sum
    is exactly the unbatched result. "auto" (default) sizes batches
    from the shared pair budget (``diameter.ROOT_PAIR_BUDGET`` / |V|),
    ``None`` sweeps every root at once.
    """
    from graphblast_spark.algorithms.diameter import _auto_root_batch, _batched_roots

    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    if sources is None:
        roots = g.vertices.select("id").orderBy("id").limit(n_sources)
    elif isinstance(sources, DataFrame):
        # dedup: a repeated root would seed duplicate (root, id) level-0
        # rows, doubling sigma and double-counting that root's deltas
        roots = sources.select("id").distinct()
    else:
        roots = spark.createDataFrame(
            [(int(s),) for s in sorted(set(int(s) for s in sources))], "id long"
        )

    batch = _auto_root_batch(root_batch, g.n)
    partial = None
    if batch is not None:
        n_roots = roots.count()
        if n_roots > batch:
            rb = _batched_roots(roots, batch, "id").transform(truncate_plan)
            n_batches = -(-n_roots // batch)
            for i in range(n_batches):
                p = _bc_one_batch(
                    g,
                    rb.filter(F.col("__b") == i).select("id"),
                    max_depth,
                    child_runner(runner, spark, f"batch_{i:04d}"),
                ).transform(truncate_plan)
                partial = p if partial is None else (
                    partial.unionByName(p).groupBy("id").agg(F.sum("bc").alias("bc"))
                )
    if partial is None:
        partial = _bc_one_batch(g, roots, max_depth, runner)
    return g.vertices.select("id").join(partial, on="id", how="left").select(
        "id", F.coalesce("bc", F.lit(0.0)).alias("bc")
    )


def _bc_one_batch(
    g: Graph,
    roots: DataFrame,
    max_depth: int | None,
    runner: SuperstepRunner,
) -> DataFrame:
    """One root batch of batched Brandes → SPARSE (id, bc) partial sums
    (only vertices with non-zero delta; the caller restores density)."""
    spark = g.edges.sparkSession
    edges = g.edges.select("src", "dst")

    # -- forward: per-level frontiers (root, id, sigma) -----------------
    # state: level frames L<depth> plus the settled (root, vertex) pairs
    def fwd_init():
        level0 = roots.select(F.col("id").alias("root"), "id", F.lit(1.0).alias("sigma"))
        return {"L000000": level0, "settled": level0.select("root", "id")}

    reached = Observed(n=F.count(F.lit(1)))  # counted by the level's truncation

    def fwd_step(s, d, sc):
        fr = s[f"L{d:06d}"].hint("shuffle_hash")
        nxt = reached.on(
            edges.join(fr, on=edges["src"] == fr["id"], how="inner")
            .groupBy(fr["root"].alias("root"), edges["dst"].alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(s["settled"], on=["root", "id"], how="left_anti")
        ).transform(truncate_plan)
        if reached.get()["n"] == 0:
            return None
        return {**s, f"L{d + 1:06d}": nxt,
                "settled": s["settled"].unionByName(nxt.select("root", "id"))}

    # a BFS expands at most |V| - 1 times, so g.n only caps the unbounded form
    fwd = child_runner(runner, spark, "fwd").iterate(
        fwd_init, fwd_step, iters=max_depth if max_depth is not None else g.n
    )[0]
    deepest = len(fwd) - 2
    levels = [fwd[f"L{d:06d}"] for d in range(deepest + 1)]

    # -- backward: delta accumulation, deepest level has delta 0 --------
    # state: delta frames D<level> (root, id, delta), deepest first
    def bwd_step(s, i, sc):
        d = deepest - 1 - i
        cur = levels[d]
        succ = levels[d + 1].select(
            F.col("root").alias("t_root"),
            F.col("id").alias("t_id"),
            F.col("sigma").alias("t_sigma"),
        )
        if i > 0:
            succ = succ.join(
                s[f"D{d + 1:06d}"].select(
                    F.col("root").alias("t_root"),
                    F.col("id").alias("t_id"),
                    "delta",
                ),
                on=["t_root", "t_id"],
                how="left",
            ).select("t_root", "t_id", "t_sigma",
                     F.coalesce("delta", F.lit(0.0)).alias("delta"))
        else:
            succ = succ.withColumn("delta", F.lit(0.0))
        contrib = (
            cur.join(edges, on=cur["id"] == edges["src"], how="inner")
            .join(
                succ,
                on=(cur["root"] == succ["t_root"]) & (edges["dst"] == succ["t_id"]),
                how="inner",
            )
            .groupBy(cur["root"].alias("root"), cur["id"].alias("id"))
            .agg(
                F.sum(
                    (cur["sigma"] / succ["t_sigma"]) * (F.lit(1.0) + succ["delta"])
                ).alias("delta")
            )
        )
        # vertices at this level with no DAG successor get delta 0
        return {**s, f"D{d:06d}": (
            cur.select("root", "id")
            .join(contrib, on=["root", "id"], how="left")
            .select("root", "id", F.coalesce("delta", F.lit(0.0)).alias("delta"))
        )}

    bwd = child_runner(runner, spark, "bwd").iterate(dict, bwd_step, iters=deepest)[0]
    deltas = [bwd[f"D{d:06d}"] for d in range(deepest - 1, -1, -1)]

    if not deltas:
        return spark.createDataFrame([], "id long, bc double")

    all_deltas = deltas[0]
    for dd in deltas[1:]:
        all_deltas = all_deltas.unionByName(dd)
    return (
        all_deltas.filter(F.col("id") != F.col("root"))
        .groupBy("id")
        .agg(F.sum("delta").alias("bc"))
    )
