"""PageRank — power iteration over the edge table.

Golden semantics = the reference's CPU oracle ``SimpleReferencePr``
(reference graphblas/algorithm/test_pr.hpp:14-79), which is what the
reference verifies against (example/gpr.cu:110-121):

- init p = 1/n (dense over ALL vertices, including isolated ones);
- each iteration: p'(v) = (1-α)/n + α · Σ_{(s→v)∈E} p(s)/outdeg(s);
- **no dangling redistribution** (dangling mass simply leaks — the
  oracle's contribution loop skips empty rows, test_pr.hpp:44-56);
- stop when Σ(Δp)² < eps (post-update, NO sqrt — test_pr.hpp:66; note
  the GPU loop differs, pr.hpp:80) or after max_niter iterations.

Defaults α=0.85, eps=1e-8 (reference example/gpr.cu:67-68). Computed
in float64 so aggregation-order noise ≪ the 1e-6 comparison tolerance
(SURVEY §7.3.1).

Physical plan per superstep (scale notes):
- the weighted edge table (val = α/outdeg(src)) is built ONCE, hash-
  partitioned on src, persisted (the gpr.cu:81-90 prep), and wrapped
  as a :class:`Graph` the loop runs ``vxm`` over;
- each superstep is ``vxm(ranks, W, PlusMultiplies, accum="plus",
  w=teleport)``: edges ⋈ ranks on src, where ranks come out of the
  previous iteration's groupBy(id) and the edges are persisted
  pre-partitioned on src, so only the ranks shuffle (the dense ranks
  take vxm's shuffle-hash pull path);
- vxm folds the ``plus`` accumulate into its one aggregate: each
  vertex's teleport term is unioned in *before* the groupBy, which also
  restores density (one shuffle, not a second outer join); the uniform
  (1-α)/n is data in that frame, not a literal, so every graph size
  runs the same generated code;
- lineage is truncated every iteration (eager localCheckpoint), the
  single action per superstep; when running to ``eps`` the step also
  joins the old ranks (one shuffle of the n-row vector) and that
  action observes Σ(new−old)², so the stop test costs no job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.operators.vecmat import vxm
from graphblast_spark.runtime.superstep import (
    Observed,
    SuperstepRunner,
    child_runner,
    loop_width,
    truncate_plan,
)


def pagerank_prep(g: Graph, alpha: float = 0.85, weighted: bool = False) -> DataFrame:
    """The gpr.cu:81-90 prep, separable so benchmarks can time the
    iteration loop alone (run_pr.sh protocol: per-iteration ms):
    A(s,d) := α / outdeg(s), hash-partitioned on src and persisted.

    ``weighted=True`` uses the edge ``val`` column as link weight:
    A(s,d) := α·val(s,d) / Σ_d' val(s,d') — the transition kernel for
    weighted link graphs (e.g. domain-rollup edges whose val counts
    aggregated page links, functions/urls.py domain_edges). Same plan
    shape: the out-strength aggregate replaces the out-degree count."""
    spark = g.edges.sparkSession
    if weighted:
        deg = g.edges.groupBy(F.col("src").alias("id")).agg(
            F.sum("val").cast("double").alias("val")
        )
        w_num = g.edges["val"] * F.lit(alpha)
    else:
        deg = g.out_degrees()  # (id, val=outdeg) — only vertices with out-edges
        w_num = F.lit(alpha)
    w_edges = (
        g.edges.join(deg, on=g.edges["src"] == deg["id"], how="inner")
        .select(g.edges["src"], g.edges["dst"], (w_num / deg["val"]).alias("w"))
        .repartition(loop_width(spark), "src")  # pin layout: stable src-hash across supersteps
        .persist()
    )
    w_edges.count()  # materialize prep once
    return w_edges


def pagerank(
    g: Graph,
    alpha: float = 0.85,
    eps: float = 1e-8,
    desc: Descriptor = DEFAULT_DESC.with_(max_niter=100),
    runner: SuperstepRunner | None = None,
    fixed_iters: int | None = None,
    w_edges: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
    weighted: bool = False,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Returns (id long, val double). ``fixed_iters`` skips the
    convergence action entirely (the reference benchmark mode,
    run_pr.sh --max_niter 10) — use it when the superstep count is the
    contract, e.g. oracle-compared queries. ``w_edges`` accepts a
    pre-built :func:`pagerank_prep` table (kept persisted by caller).

    ``init_ranks`` (id, val) warm-starts the power iteration — e.g.
    from the previous run's output after a streamed edge-log append.
    The iteration map is an affine contraction with a unique fixed
    point, so any start converges to the same scores; a near-fixpoint
    start converges in a few supersteps instead of tens (the
    incremental-analytics path). With the uniform teleport, vertices it
    lacks start at 1/n and ids outside the graph are dropped. Ignored
    when a checkpoint resume is in progress (the checkpointed state
    wins).

    ``teleport`` (id, c) replaces the uniform (1-α)/n teleport with a
    per-vertex one; it must carry a row for every vertex (zeros
    included), because it doubles as the density restore. This is the
    personalized form (:func:`personalized_pagerank`)."""
    spark = g.edges.sparkSession
    n = g.n

    caller_prep = w_edges is not None
    if w_edges is None:
        w_edges = pagerank_prep(g, alpha, weighted=weighted)

    if runner is None:
        runner = SuperstepRunner(spark)

    # The teleport term each superstep adds, (id, c): the caller's, or
    # the uniform (1-α)/n carried as data in the init frame, so that no
    # superstep's generated code depends on n (a literal would compile
    # afresh for every graph size).
    base = teleport

    def init():
        nonlocal base
        if init_ranks is None:
            ranks = g.vertices.select("id", F.lit(1.0 / n).alias("val"))
        elif teleport is None:
            # dense, so the teleport column covers every vertex
            ranks = g.vertices.join(init_ranks.select("id", "val"), "id", "left").select(
                "id", F.coalesce(F.col("val").cast("double"), F.lit(1.0 / n)).alias("val")
            )
        else:
            ranks = init_ranks.select("id", F.col("val").cast("double"))
        if teleport is None:
            ranks = ranks.withColumn("c", F.lit((1.0 - alpha) / n)).transform(truncate_plan)
            base = ranks.select("id", "c")
        return {"ranks": ranks}

    # the transition matrix: one row per edge of g, so g.nvals bounds it
    W = Graph(edges=w_edges.withColumnRenamed("w", "val"), vertices=g.vertices,
              n=n, nvals=g.nvals)

    # the stop test's Σ(Δp)² (test_pr.hpp:66), observed by the action
    # that materialises the step's output
    err = Observed(e=F.sum(F.pow(F.col("val") - F.col("old"), 2)))

    def step(s, it, sc):
        nonlocal base
        if base is None:  # resumed from a checkpoint: init did not run
            base = g.vertices.select("id", F.lit((1.0 - alpha) / n).alias("c"))
        ranks = vxm(
            s["ranks"], W, "PlusMultiplies", desc=desc, u_nvals=n,
            accum="plus", w=base.withColumnRenamed("c", "val"),
        )
        if fixed_iters is not None:
            return {"ranks": ranks}
        # left: a sparse caller init must not drop vertices from the state
        old = s["ranks"].select("id", F.col("val").alias("old")).hint("shuffle_hash")
        return {"ranks": err.on(ranks.join(old, "id", "left")).select("id", "val")}

    def converged(sc):
        e = err.get()["e"]
        return {"err": e}, e < eps

    state, _, _ = runner.iterate(
        init, step,
        iters=fixed_iters if fixed_iters is not None else desc.max_niter,
        converged=None if fixed_iters is not None else converged,
    )

    if not caller_prep:
        w_edges.unpersist()
    return state["ranks"].select("id", "val")


def personalized_pagerank(
    g: Graph,
    seeds: DataFrame | list[int],
    alpha: float = 0.85,
    fixed_iters: int = 10,
    w_edges: DataFrame | None = None,
    runner: SuperstepRunner | None = None,
    weighted: bool = False,
) -> DataFrame:
    """Personalized PageRank: the teleport mass (1-α) lands uniformly on
    the seed set S instead of all vertices; init = 1/|S| on S, 0
    elsewhere. It is :func:`pagerank`'s loop with a teleport vector —
    the per-vertex base table rides the same pre-aggregate union the
    dense-restore zeros use, so PPR costs exactly what PR costs per
    superstep, and checkpoints and resumes the same way.

    Returns (id long, val double) dense over all vertices."""
    spark = g.edges.sparkSession
    if isinstance(seeds, list):
        seeds = spark.createDataFrame([(int(s),) for s in seeds], "id long")
    # Sanitize the seed set: duplicates would double that seed's teleport
    # mass (the init left-join fans out), and ids outside the vertex
    # domain would inflate n_seeds while contributing nothing — silently
    # scaling every score down. Dedup, then insist every seed is a vertex.
    seeds = seeds.select("id").distinct().transform(truncate_plan)
    n_seeds = seeds.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    n_valid = seeds.join(g.vertices, on="id", how="left_semi").count()
    if n_valid != n_seeds:
        raise ValueError(
            f"personalized_pagerank: {n_seeds - n_valid} seed id(s) are not "
            "vertices of the graph — teleport mass would silently vanish"
        )

    # teleport on seeds + explicit zero per vertex (density)
    tele = (
        g.vertices.join(seeds, on="id", how="left_semi")
        .select("id", F.lit((1.0 - alpha) / n_seeds).alias("c"))
        .unionByName(g.vertices.select("id", F.lit(0.0).alias("c")))
        .transform(truncate_plan)
    )
    init = (
        g.vertices.join(seeds.withColumn("__s", F.lit(1)), on="id", how="left")
        .select("id", F.when(F.col("__s").isNotNull(), 1.0 / n_seeds)
                .otherwise(0.0).alias("val"))
    )
    return pagerank(
        g, alpha=alpha, runner=runner, fixed_iters=fixed_iters, w_edges=w_edges,
        init_ranks=init, weighted=weighted, teleport=tele,
    )


def remap_ranks(
    prev_ranks: DataFrame, old_url_map: DataFrame, new_url_map: DataFrame
) -> DataFrame:
    """Carry (id, val) ranks across a corpus re-distillation: dense ids
    are assigned in url sort order (sources/distill.py), so an append
    of new urls SHIFTS ids — the stable key is the url. Join old ids →
    url → new ids; urls that left the corpus drop, new urls are absent
    (the warm-start init fills them with 1/n)."""
    old = old_url_map.select("url", F.col("id").alias("old_id"))
    new = new_url_map.select("url", "id")
    return (
        prev_ranks.select(F.col("id").alias("old_id"), "val")
        .join(old, "old_id")
        .join(new, "url")
        .select("id", "val")
    )


def incremental_pagerank(
    g: Graph,
    prev_ranks: DataFrame,
    alpha: float = 0.85,
    eps: float = 1e-8,
    desc: Descriptor = DEFAULT_DESC.with_(max_niter=100),
    runner: SuperstepRunner | None = None,
    w_edges: DataFrame | None = None,
) -> DataFrame:
    """PageRank after an edge-log append, warm-started from the previous
    run's scores: vertices present in ``prev_ranks`` start there, new
    vertices start at 1/n. The iteration map is an affine contraction
    with a unique fixed point, so the warm run converges to EXACTLY the
    scores a cold run computes — just in a few supersteps instead of
    tens when the append perturbed the graph locally (measured in
    BENCH.md: the incremental-analytics path of the streaming gate,
    streaming/ingest.py edge_log_graph → this)."""
    return pagerank(
        g, alpha=alpha, eps=eps, desc=desc, runner=runner,
        w_edges=w_edges, init_ranks=prev_ranks,
    )


def trustrank(
    g: Graph,
    trusted: DataFrame | list[int],
    alpha: float = 0.85,
    fixed_iters: int = 10,
    w_edges: DataFrame | None = None,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina, Pedersen, "Combating Web
    Spam with TrustRank", VLDB 2004): biased PageRank whose teleport
    mass lands only on a vetted trusted-seed set, so trust attenuates
    along links and spam farms — reachable mainly from other spam —
    accumulate little of it. Mathematically this IS personalized
    PageRank with the trust seed set; exposed under its web-spam name
    so the link-graph API reads as the papers do. Same superstep plan,
    same cost. Returns (id long, val double)."""
    return personalized_pagerank(
        g, trusted, alpha=alpha, fixed_iters=fixed_iters,
        w_edges=w_edges, runner=runner,
    )


def spam_mass(
    g: Graph,
    trusted: DataFrame | list[int],
    alpha: float = 0.85,
    fixed_iters: int = 10,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Relative spam mass (Gyöngyi, Berkhin, Garcia-Molina, Pedersen,
    "Link Spam Detection Based on Mass Estimation", VLDB 2006):
    estimate how much of a page's PageRank flows in from *untrusted*
    parts of the web. With p = PageRank and p' = TrustRank (both run
    the same number of supersteps, same α), the relative mass is

        m(v) = (p(v) − p'(v)) / p(v)

    ≈ 1 for pure spam-supported pages, ≈ 0 (or negative) for pages the
    trusted core endorses more than the web at large. Vertices with
    p(v) = 0 (possible only with fixed_iters on exotic graphs) report
    0.0.

    One shared pagerank_prep (persisted weighted edges) feeds both
    power iterations — the edge table is scanned by two loops but
    shuffled exactly once. Returns (id, pr, trust, spam_mass)."""
    spark = g.edges.sparkSession
    w = pagerank_prep(g, alpha)
    try:
        # Separate checkpoint namespaces: one loop per sub-runner, so a
        # durable-checkpointed spam_mass run resumes each power
        # iteration from its own newest checkpoint (child_runner is the
        # same pattern bc.py uses for root batches).
        p = pagerank(g, alpha=alpha, fixed_iters=fixed_iters,
                     w_edges=w, runner=child_runner(runner, spark, "pr")).select(
            "id", F.col("val").alias("pr"))
        t = trustrank(g, trusted, alpha=alpha, fixed_iters=fixed_iters,
                      w_edges=w,
                      runner=child_runner(runner, spark, "trust")).select(
            "id", F.col("val").alias("trust"))
        out = p.join(t, "id").select(
            "id", "pr", "trust",
            F.when(F.col("pr") > 0,
                   (F.col("pr") - F.col("trust")) / F.col("pr"))
            .otherwise(F.lit(0.0)).alias("spam_mass"),
        )
        out = out.transform(truncate_plan)
    finally:
        w.unpersist()
    return out
