"""Graph — the Matrix container as a partitioned edge DataFrame.

The reference's ``Matrix<T>`` is a dual-format CSR+CSC sparse matrix
(reference graphblas/backend/cuda/sparse_matrix.hpp:24-166). Here the
matrix is one edge table ``edges(src long, dst long, val double)``;
CSR vs CSC is just which column you join/group on, so the "transpose"
descriptor bit costs nothing (reference expresses vxm as mxv with an
INP1 toggle, backend/cuda/operations.hpp:107 — same idea).

``Graph.build`` reproduces the reference build pipeline
(util.hpp:263-329 removeSelfloop + dedup + optional symmetrize;
matrix.hpp:126-161): drop self-loops, drop duplicate (src,dst) pairs,
optionally add back-edges. The physical layout is the CSR analog:
hash-repartitioned on ``src`` and sorted within partitions by
(src, dst) — so iterative vecmat joins on ``src`` reuse the exchange,
and per-partition Arrow kernels see contiguous rows per source.

Why HASH and not the range partitioning SURVEY §7.0 sketched: every
superstep join shuffles the vector side with Spark's hash partitioner,
and a hash(src)-partitioned edge table satisfies that distribution
as-is — the |E| side never re-exchanges. A range-partitioned layout
would satisfy no hash requirement, forcing an |E| re-shuffle per
iteration (and inheriting hot-src-range skew that hashing disperses
for free). Range layout only wins for src-interval predicates, which
no operator here issues. Skew on the *reduce* side is handled
separately: vecmat auto-salts from the cached degree stats below.

``Graph.undirected()`` is the one undirected view every unweighted
undirected algorithm reads (CC, LP, k-core, k-truss, TC, the
colorings, MIS, matching, link prediction, the shape statistics): both
orientations of every edge, self-loops dropped, (src, dst) deduped —
the reference's symmetrised build (util.hpp:263-329, whose CSC side
then aliases the CSR side, sparse_matrix.hpp:140-163). It is built on
first use, persisted and released by ``unpersist()``. Self-loops are
always dropped from it, also on a graph built with
``drop_self_loops=False``, so no undirected algorithm sees them.

At 100 TB scale: ``num_partitions`` should be sized so each partition
holds ~100-500 MB of edges; the build is one shuffle, paid once and
persisted (the analog of the reference's binary ``.dat`` parse cache,
util.hpp:331-357).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphblast_spark.runtime.superstep import _pinned, loop_width

EDGE_SCHEMA = "src long, dst long, val double"


def clean_edges(
    edges: DataFrame,
    drop_self_loops: bool = True,
    dedup: bool = True,
    symmetrize: bool = False,
) -> DataFrame:
    """Reference build semantics (util.hpp:263-329): self-loop removal
    (env GRB_UTIL_REMOVE_SELFLOOP default on), duplicate-edge removal
    (dups are *dropped*, not combined), and `--directed 2` symmetrize
    (explicit back-edges, deduped against existing ones)."""
    e = edges.select("src", "dst", "val")
    if symmetrize:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "val"))
    if drop_self_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    if dedup:
        e = e.dropDuplicates(["src", "dst"])
    return e


@dataclass
class Graph:
    """An immutable, persisted, src-partitioned edge table + vertex set."""

    edges: DataFrame          # (src, dst, val) — cleaned, partitioned by src
    vertices: DataFrame       # (id) — the full vertex universe (dense domain)
    n: int                    # |V|
    nvals: int                # |E| after cleaning
    _cached: list[DataFrame] = field(default_factory=list)
    _stats: dict = field(default_factory=dict)  # hub degrees, the undirected view

    def hub_degree(self, key: str = "dst") -> int:
        """Max per-vertex edge count in the given orientation — the
        hottest key's fan-in, computed once per orientation and cached.
        Drives vecmat auto-salting (skew handled from measured degree
        stats, not on request): one scan of the persisted edge table
        the first time it's consulted."""
        if key not in self._stats:
            row = (
                self.edges.groupBy(key)
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(F.max("c"))
                .first()
            )
            self._stats[key] = int(row[0] or 0)
        return self._stats[key]

    def undirected(self) -> DataFrame:
        """The undirected view ``(src, dst)``: both orientations of every
        edge, self-loops dropped, (src, dst) deduped — built once,
        persisted, and released by :meth:`unpersist`.

        Hash-partitioned on ``dst`` at the session's loop width (the
        join key of the neighbour gathers in CC, LP and MIS), so the
        build is ONE exchange: duplicates of (src, dst) share dst, so
        the dedup runs as a local aggregate, as in :meth:`build`. On
        top of it ``groupBy("dst")`` is the undirected degree with no
        further exchange, and ``filter(src < dst)`` is the canonical
        (lo, hi) edge set.

        Planned with the superstep loops' settings (AQE off, which gives
        a fixed-width repartition nothing): the loop that first reads
        the view then builds it as stages of its own superstep job,
        not as an extra AQE query-stage job."""
        if "undirected" not in self._stats:
            spark = self.edges.sparkSession
            e = self.edges.select("src", "dst")
            with _pinned(spark, None):
                view = (
                    e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
                    .filter(F.col("src") != F.col("dst"))
                    .repartition(loop_width(spark), "dst")
                    .dropDuplicates(["src", "dst"])
                    .persist()
                )
            self._cached.append(view)
            self._stats["undirected"] = view
        return self._stats["undirected"]

    # -- construction -------------------------------------------------
    @staticmethod
    def build(
        edges: DataFrame,
        vertices: DataFrame | None = None,
        symmetrize: bool = False,
        drop_self_loops: bool = True,
        dedup: bool = True,
        num_partitions: int | None = None,
    ) -> "Graph":
        """Clean + partition + persist an edge table into a Graph.

        ``vertices`` is the dense vertex domain (id column). If omitted
        it is derived as distinct(src) ∪ distinct(dst) — but callers with
        isolated vertices (PR dangling semantics, SURVEY §7.3.5) must
        pass the real universe.
        """
        spark = edges.sparkSession
        if num_partitions is None:
            num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if "val" not in edges.columns:
            edges = edges.withColumn("val", F.lit(1.0))
        # Same semantics as clean_edges, but dedup runs AFTER the
        # repartition-by-src: duplicates of (src,dst) share src, so they
        # are already co-located and Catalyst satisfies the distinct's
        # (src,dst) clustering with the existing HashPartitioning(src) —
        # one exchange total instead of dedup-shuffle + repartition
        # (measured: build 22.1 s → ~14 s at sf0.1 when the source also
        # skips its own pre-distinct).
        e = edges.select("src", "dst", "val")
        if symmetrize:
            e = e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "val")
            )
        if drop_self_loops:
            e = e.filter(F.col("src") != F.col("dst"))
        e = e.repartition(num_partitions, "src")
        if dedup:
            e = e.dropDuplicates(["src", "dst"])
        e = e.sortWithinPartitions("src", "dst").persist()
        if vertices is None:
            vertices = (
                e.select(F.col("src").alias("id"))
                .unionByName(e.select(F.col("dst").alias("id")))
                .distinct()
            )
        vertices = vertices.select(F.col(vertices.columns[0]).alias("id")).repartition(
            num_partitions, "id"
        ).persist()
        nvals = e.count()
        n = vertices.count()
        return Graph(edges=e, vertices=vertices, n=n, nvals=nvals, _cached=[e, vertices])

    # -- structural ops (reference §2.3) -------------------------------
    def transpose(self) -> "Graph":
        """Free logical transpose — swap src/dst (reference transpose is
        expressed via descriptor toggles, spmv.hpp:51-54)."""
        et = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "val"
        )
        return Graph(edges=et, vertices=self.vertices, n=self.n, nvals=self.nvals)

    def tril(self) -> "Graph":
        """Keep strictly-lower-triangular entries (src > dst) — TC prep
        (reference operations.hpp:867-886, tri.hpp:9-53; self-loops are
        already gone so strict vs non-strict is equivalent)."""
        low = self.edges.filter(F.col("src") > F.col("dst"))
        return Graph(edges=low, vertices=self.vertices, n=self.n, nvals=-1)

    def out_degrees(self) -> DataFrame:
        """reduce matrix→vector, row-wise (reference operations.hpp:618-633;
        used for PR outdegree prep, example/gpr.cu:82-83).
        Returns (id, val=outdeg) for vertices with ≥1 out-edge."""
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("double").alias("val")
        )

    def scale_vals(self, factor) -> "Graph":
        """eWiseMult matrix×scalar (reference operations.hpp:204-228)."""
        return Graph(
            edges=self.edges.withColumn("val", F.col("val") * F.lit(factor)),
            vertices=self.vertices, n=self.n, nvals=self.nvals,
        )

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()

    # -- durable store (reference binary .dat cache analog) ------------
    def save(self, name: str, path: str | None = None, buckets: int | None = None) -> None:
        """Persist as bucketed catalog tables so later *jobs* reload the
        layout shuffle-free (sources/store.py; the analog of the
        reference's binary cache, sparse_matrix.hpp:328-345)."""
        from graphblast_spark.sources.store import save_graph

        save_graph(self, name, path=path, buckets=buckets)

    @staticmethod
    def load(spark: SparkSession, name: str) -> "Graph":
        from graphblast_spark.sources.store import load_graph

        return load_graph(spark, name)
