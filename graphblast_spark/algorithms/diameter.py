"""Diameter estimation — batched multi-source BFS.

Reference: graphblas/algorithm/diameter.hpp:14-53 — run BFS from each
vertex in a range of sources, track the max depth reached.

Spark-first reframe: instead of the reference's sequential per-source
loop, ALL sources advance together in one superstep loop — the
frontier is keyed by (root, id) so a single join per level serves
every BFS at once (one job per *level*, not per source×level; at 1000
executors the per-job latency is the scarce resource, not the join
width). This is the standard multi-source BFS trick the reference
can't express with a single Vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner, child_runner, truncate_plan

# Frontier-state budget for root-batched sweeps: the multi-source state
# is O(reached (root, vertex) pairs) ≤ |roots|·|V|; batches are sized so
# one batch's worst case stays near this many pairs (~2^26 ≈ 67M rows ≈
# a few GB across the cluster). A 1000-root exact sweep over a 10^9-
# vertex graph would otherwise hold 10^12 pairs — guaranteed OOM.
ROOT_PAIR_BUDGET = 1 << 26


def _auto_root_batch(root_batch, n_vertices: int) -> int | None:
    """Resolve the ``root_batch`` knob: "auto" derives a batch size from
    the pair budget and |V| (the auto-salt posture — sized from graph
    stats, not on request); None disables batching; an int is explicit."""
    if root_batch == "auto":
        return max(1, ROOT_PAIR_BUDGET // max(n_vertices, 1))
    if root_batch is None or isinstance(root_batch, int):
        return root_batch
    raise ValueError(
        f"root_batch must be 'auto', None, or an int; got {root_batch!r}"
    )


def _batched_roots(roots: DataFrame, batch: int, col: str) -> DataFrame:
    """Add a ``__b`` batch index by rank order of the root id — pure
    DataFrame (no driver collect); the roots table is small by contract."""
    from pyspark.sql.window import Window

    rn = F.row_number().over(Window.orderBy(col)) - 1
    return roots.withColumn("__b", F.floor(rn / batch).cast("long"))


def multi_source_bfs(
    g: Graph,
    sources,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
    root_batch: int | str | None = "auto",
):
    """BFS from every id in ``sources`` — an iterable of vertex ids, or
    a single-column DataFrame of them (no driver round-trip).
    Returns (root long, id long, depth long) — sparse: unreached
    (root, id) pairs have no row.

    ``root_batch`` bounds the in-flight multi-source state: roots are
    swept in batches of at most this many, each batch a full BFS-to-
    exhaustion, outputs unioned — identical result, memory capped at
    O(batch·|V|) pairs. Default "auto" sizes the batch from
    :data:`ROOT_PAIR_BUDGET` / |V|; ``None`` sweeps all roots at once."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    if isinstance(sources, DataFrame):
        src_df = sources.select(F.col(sources.columns[0]).cast("long").alias("root"))
    else:
        src_df = spark.createDataFrame([(int(s),) for s in sources], "root long")

    batch = _auto_root_batch(root_batch, g.n)
    if batch is not None:
        n_roots = src_df.count()
        if n_roots > batch:
            rb = _batched_roots(src_df, batch, "root").transform(truncate_plan)
            n_batches = -(-n_roots // batch)
            out = None
            for i in range(n_batches):
                part = _msbfs_one_batch(
                    g,
                    rb.filter(F.col("__b") == i).select("root"),
                    desc,
                    child_runner(runner, spark, f"batch_{i:04d}"),
                )
                out = part if out is None else out.unionByName(part)
            return out
    return _msbfs_one_batch(g, src_df, desc, runner)


def _msbfs_one_batch(
    g: Graph,
    src_df: DataFrame,
    desc: Descriptor,
    runner: SuperstepRunner,
):
    def init():
        seed = src_df.select("root", F.col("root").alias("id"),
                             F.lit(0).cast("long").alias("depth"))
        return {"visited": seed, "frontier": seed}

    frontier_size = Observed(n=F.count(F.lit(1)))  # counted by the truncation

    def step(s, it, sc):
        frontier_n = sc["frontier_n"] if "frontier_n" in sc else src_df.count()
        fr = F.broadcast(s["frontier"]) if frontier_n <= 1_000_000 else s["frontier"]
        nxt = frontier_size.on(
            g.edges.join(fr, on=g.edges["src"] == fr["id"], how="inner")
            .select("root", F.col("dst").alias("id"), (fr["depth"] + 1).alias("depth"))
            .distinct()
            .join(s["visited"], on=["root", "id"], how="left_anti")
        ).transform(truncate_plan)
        return {"visited": s["visited"].unionByName(nxt), "frontier": nxt}

    def converged(sc):
        n = frontier_size.get()["n"]
        return {"frontier_n": n}, n == 0

    state, _, _ = runner.iterate(init, step, iters=desc.max_niter, converged=converged)
    return state["visited"]


def closeness_centrality(
    g: Graph,
    sources=None,
    n_sources: int | None = 16,
    desc: Descriptor = DEFAULT_DESC,
) -> DataFrame:
    """Harmonic closeness for sampled roots: (id, closeness double)
    with closeness(r) = Σ_{v≠r} 1/d(r,v) over reached vertices —
    harmonic (not classic 1/Σd) so disconnected graphs score sanely
    (unreached pairs contribute 0, no infinities). One batched MSBFS
    serves every root (same superstep loop as :func:`diameter`; the
    reference's per-source sweep pattern, diameter.hpp:30-49, priced
    at one job per LEVEL instead of per source×level). Sampled-roots
    semantics: pass ``sources`` (iterable/DataFrame) or ``n_sources``
    first-ids; at web scale always sample."""
    if sources is None:
        srcs = g.vertices.orderBy("id")
        if n_sources is not None:
            srcs = srcs.limit(n_sources)
        sources = srcs.select("id")
    visited = multi_source_bfs(g, sources, desc=desc)
    return (
        visited.filter(F.col("depth") > 0)
        .groupBy(F.col("root").alias("id"))
        .agg(F.sum(F.lit(1.0) / F.col("depth")).alias("closeness"))
    )


def diameter(
    g: Graph,
    n_sources: int | None = None,
    desc: Descriptor = DEFAULT_DESC,
) -> int:
    """Max BFS depth over the first ``n_sources`` vertex ids (the
    reference sweeps a source range, diameter.hpp:30-49).

    **Sampled-diameter semantics**: with ``n_sources`` this is a lower
    bound on the true diameter (eccentricity max over the sampled
    roots). ``n_sources=None`` sweeps EVERY vertex — exact, but the
    multi-source frontier carries O(|V|·reached) state; on a web-scale
    graph always pass a sample size. The source set stays a DataFrame
    end-to-end (no driver collect); the only driver-side value is the
    final scalar max."""
    srcs = g.vertices.orderBy("id")
    if n_sources is not None:
        srcs = srcs.limit(n_sources)
    visited = multi_source_bfs(g, srcs.select("id"), desc=desc)
    row = visited.agg(F.max("depth").alias("d")).first()
    return int(row["d"]) if row["d"] is not None else 0
