"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k of each query against the
  corpus — the correctness baseline. Cross join + per-query window
  top-k; dot products via zip_with/aggregate (JVM-side, codegen'd).
  At scale this is only for small query sets (broadcast the queries).

- ``ivf_topk``: IVF-style approximate variant — the scale path.
  Vectors are assigned to their nearest centroid (coarse quantizer);
  a query probes its ``nprobe`` nearest cells only. Partition-parallel:
  the corpus is bucketed by cell id, so each probe is a co-partitioned
  join instead of a cross join. Deterministic: centroids are the first
  ``n_cells`` vectors by id (seedless, reproducible) — swap in k-means
  centroids at production scale without changing the plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from graphblast_spark.functions.dedup import _clusters_from_pairs
from graphblast_spark.runtime.superstep import truncate_plan


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos) — exact top-k by cosine, excluding
    self-matches. Ties broken by neighbor_id asc (deterministic)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _assign_cells(vectors: DataFrame, centroids: DataFrame, nprobe: int, id_col: str, vec_col: str) -> DataFrame:
    """For each vector: its ``nprobe`` best cells by cosine (nprobe=1 for
    corpus assignment, >1 for query probing).

    nprobe=1 (the corpus-side path, |corpus| rows) is an aggregated
    argmax — ``min_by`` over the broadcast-scored rows, which partial-
    aggregates map-side to ONE row per vector before any shuffle. A
    row_number window here would instead sort-shuffle |corpus|·n_cells
    rows globally — the scale-killer this replaces. nprobe>1 runs only
    on the (small) query side, where the window is fine."""
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv"))
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "vid", "vv", F.col("cell"),
        # rank on ROUNDED cosine: makes the cell choice reproducible
        # across engines/summation orders (ties → lowest cell id)
        F.round(cosine(F.col("vv"), F.col("centroid")), 6).alias("cs"),
    )
    if nprobe == 1:
        # argmax by (cs desc, cell asc) ≡ min_by the (-cs, cell) key;
        # vv rides along in the value struct so no re-join is needed
        best = scored.groupBy("vid").agg(
            F.min_by(
                F.struct(F.col("vv").alias("vv"), F.col("cell").alias("cell")),
                F.struct((-F.col("cs")).alias("ncs"), F.col("cell").alias("c")),
            ).alias("b")
        )
        return best.select("vid", F.col("b.vv").alias("vv"), F.col("b.cell").alias("cell"))
    w = Window.partitionBy("vid").orderBy(F.col("cs").desc(), F.col("cell").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= nprobe).select("vid", "vv", "cell")


def _firstn_centroids(vectors: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """The deterministic first-``k``-by-id quantizer — the SQL-oracle
    path (trivially replayable in ANSI SQL), NOT the production
    default: on id-clustered corpora the first k ids can all fall in
    one region, skewing cell sizes and recall."""
    return vectors.orderBy(id_col).limit(k).select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cell"),
        F.col(vec_col).alias("centroid"),
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_sample: int | str | None = "auto",
) -> DataFrame:
    """Deterministic Lloyd k-means coarse quantizer → (cell, centroid).

    Init is seedless farthest-first traversal (Gonzalez k-center):
    start from the min-id vector, then repeatedly add the vector with
    the smallest max-cosine to the already-chosen seeds (ties → lowest
    id). Fully deterministic on any partitioning, and immune to
    id-order clustering — a first-k or random draw can start every
    seed inside one dense region and leave Lloyd in a mixture-centroid
    local optimum; farthest-first provably 2-approximates the k-center
    cover, so every real cluster gets a seed. Cost: k-1 sequential
    aggregated-argmin passes — so above a size threshold the init
    scans a bounded deterministic hash-sample, not the corpus:
    ``init_sample="auto"`` (default) caps the init set at
    ``max(4096, 256·k)`` rows via an ``xxhash64(id) % m == 0`` filter
    (retry-stable, partitioning-independent) whenever the corpus
    exceeds that cap — below it (every sandbox fixture) the sample IS
    the full corpus. Pass an int to force a cap, or None to always
    scan everything. Lloyd always refines over the FULL corpus, so
    sampling only moves the init seeds, never the fitted cells'
    training set.

    Then fixed-count Lloyd: assign every vector to its argmax-cosine
    centroid (broadcast score + aggregated argmax, no window), and
    recompute each centroid as the element-wise mean of its cell via
    posexplode → (cell, pos) partial-avg — the n·dim-row shuffle
    combines map-side, so each iteration is one pass over the corpus.
    Cells that lose all members keep their previous centroid. This is
    the production default quantizer; the first-n-by-id variant
    remains only for the SQL-oracle contract queries."""
    spark = vectors.sparkSession
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv"))
    if init_sample == "auto":
        cap = max(4096, 256 * k)
    elif init_sample is None:
        cap = None
    elif isinstance(init_sample, int):
        cap = max(init_sample, k)  # need at least k candidates
    else:
        raise ValueError(
            f"init_sample must be 'auto', None, or an int; got {init_sample!r}"
        )
    if cap is not None:
        n_corpus = v.count()
        if n_corpus > cap:
            mod = max(1, n_corpus // cap)
            v = v.filter(
                F.pmod(F.xxhash64(F.col("vid")), F.lit(mod)) == 0
            ).transform(truncate_plan)
    seed0 = v.orderBy("vid").limit(1).first()
    seeds = [list(seed0["vv"])]
    state = v.withColumn(
        "best", cosine(F.col("vv"), F.array(*[F.lit(float(x)) for x in seeds[0]]))
    )
    for i in range(1, k):
        far = state.agg(
            F.min_by(F.col("vv"), F.struct(F.col("best"), F.col("vid"))).alias("vv")
        ).first()["vv"]
        seeds.append(list(far))
        state = state.withColumn(
            "best",
            F.greatest(
                "best", cosine(F.col("vv"), F.array(*[F.lit(float(x)) for x in far]))
            ),
        )
        if i % 8 == 0:
            state = state.transform(truncate_plan)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in s]) for i, s in enumerate(seeds)],
        "cell int, centroid array<float>",
    ).transform(truncate_plan)
    for _ in range(iters):
        assigned = _assign_cells(vectors, cents, 1, id_col, vec_col)
        means = (
            assigned.select("cell", F.posexplode("vv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("new_centroid")
            )
        )
        cents = (
            cents.join(means, on="cell", how="left")
            .select("cell", F.coalesce("new_centroid", "centroid").alias("centroid"))
            .transform(truncate_plan)
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    quantizer: str = "kmeans",
) -> DataFrame:
    """Approximate (query_id, neighbor_id, cos) top-k: search only the
    query's ``nprobe`` nearest IVF cells. ``centroids`` (cell, centroid)
    overrides the quantizer entirely; otherwise ``quantizer`` picks
    between :func:`kmeans_centroids` (default — production-quality
    cells) and ``"firstn"`` (first ``n_cells`` vectors by id, the
    trivially-SQL-replayable oracle path — weaker cells on clustered
    corpora)."""
    if centroids is None:
        if quantizer == "kmeans":
            centroids = kmeans_centroids(corpus, k=n_cells, id_col=id_col, vec_col=vec_col)
        else:
            centroids = _firstn_centroids(corpus, n_cells, id_col, vec_col)
    # materialized once (k rows): both _assign_cells passes broadcast it;
    # localCheckpoint (not persist) so the blocks release with the result
    centroids = centroids.transform(truncate_plan)
    assigned = _assign_cells(corpus, centroids, 1, id_col, vec_col).select(
        F.col("vid").alias("neighbor_id"), F.col("vv").alias("cv"), "cell"
    )
    probes = _assign_cells(queries, centroids, nprobe, id_col, vec_col).select(
        F.col("vid").alias("query_id"), F.col("vv").alias("qv"), "cell"
    )
    scored = (
        probes.join(assigned, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "kmeans",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos ≥ threshold).

    Default path is **IVF-bucketed**: vectors are assigned to their
    nearest of ``n_cells`` coarse cells and only within-cell pairs are
    scored — the pair space shrinks from O(n²) to Σ_cell |cell|², the
    same banding idea as LSH dedup. Near-dups (cos ≥ 0.95) land in the
    same cell with high probability because cell choice is itself
    argmax-cosine; pairs straddling a cell boundary are missed
    (approximate by design — raise n_cells resolution or run
    ``n_cells=None`` to verify a sample).

    ``n_cells=None`` is the exact all-pairs baseline: O(n²) — the
    correctness reference for small corpora, never the scale path."""
    if n_cells is None:
        a = vectors.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
        b = vectors.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
        pairs = a.crossJoin(b)
    else:
        if quantizer == "kmeans":
            centroids = kmeans_centroids(vectors, k=n_cells, id_col=id_col, vec_col=vec_col)
        else:
            centroids = _firstn_centroids(vectors, n_cells, id_col, vec_col)
        # materialize once — the self-join below would otherwise run the
        # scoring+argmax pipeline for both sides
        assigned = _assign_cells(vectors, centroids, 1, id_col, vec_col).transform(truncate_plan)
        a = assigned.select(F.col("vid").alias("a"), F.col("vv").alias("va"), "cell")
        b = assigned.select(F.col("vid").alias("b"), F.col("vv").alias("vb"), "cell")
        pairs = a.join(b, on="cell").drop("cell")
    return (
        pairs.filter(F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def embedding_dedup_clusters(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer: str = "kmeans",
) -> DataFrame:
    """Embedding-space dedup: (vec_id, cluster_id, is_canonical) — the
    :func:`~graphblast_spark.functions.dedup.near_duplicate_clusters`
    twin for vector corpora. Cosine near-dup pairs (IVF-bucketed, see
    :func:`cosine_near_dup_pairs`) are closed under connected
    components, because near-duplication chains: A≈B≈C must dedup to
    one kept row even when cos(A,C) < threshold. ``cluster_id`` = min
    vec_id of the cluster; singletons cluster with themselves."""
    pairs = cosine_near_dup_pairs(
        vectors, threshold, n_cells, id_col, vec_col, quantizer=quantizer
    ).transform(truncate_plan)
    return _clusters_from_pairs(vectors, id_col, pairs).withColumnRenamed("doc_id", "vec_id")
