"""Maximal independent set — Luby-style with deterministic weights.

Reference: graphblas/algorithm/mis.hpp:23-141 (misInner):

1. draw per-vertex random weights w (apply set_random, mis.hpp:131-133);
2. loop: m = vxm(MaximumMultiplies, w, A)   — max candidate-neighbor weight
3.       f = (w > m)                        — local maxima win (GreaterPlus
                                              eWiseAdd, mis.hpp:70-71)
4.       v⟨f⟩ = 1; w⟨f⟩ = 0                 — join MIS, leave candidates
5.       succ = Σf; stop when 0
6.       m = vxm(LogicalOrAnd, f, A)⟨w⟩; w⟨m⟩ = 0
                                            — winners' neighbors leave too

The reference seeds C ``rand()``; we need *engine-reproducible* weights
(the DuckDB oracle must derive the identical sequence), so the weight
is an LCG-style bijection of the vertex id on the Mersenne prime
2^31−1: ``w(v) = (1103515245·v + 12345) mod (2^31−1) + 1``. For
v < 2^31−1 this is injective (multiplier coprime to a prime modulus);
for the full 64-bit id space two ids CAN collide mod 2^31−1, and under
a strict ``w > m`` rule tied neighbors would deadlock (neither ever
wins — a silently non-maximal set). The comparison therefore runs on
the pair ``(w, id)`` lexicographically — injective for ALL ids, so the
no-ties assumption holds by construction. On tie-free graphs (every id
< 2^31−1, e.g. all oracle fixtures) the pair order equals the plain
weight order, keeping the SQL oracle byte-identical.

Spark mapping: candidates/weights live in one vector ``w(id, val)``
kept SPARSE (only still-candidate rows — frontier semantics); step 2
is the vecmat join+max-agg; steps 4/6 are anti-joins (masked assign to
zero ≡ row removal from the sparse candidate set, SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import Observed, SuperstepRunner, truncate_plan

_LCG_A = 1103515245
_LCG_B = 12345
_MERSENNE31 = (1 << 31) - 1


def lcg_weight(col, round_: int = 0):
    """Deterministic injective per-vertex weight, reproducible in ANSI
    SQL: (A·v + B·(round+1)) mod (2^31−1) + 1."""
    return F.pmod(
        col * F.lit(_LCG_A) + F.lit(_LCG_B * (round_ + 1)), F.lit(_MERSENNE31)
    ) + F.lit(1)


def local_maxima(adj: DataFrame, cand: DataFrame) -> tuple[DataFrame, int]:
    """The candidate rows (``w`` dropped; any other column the candidates
    carry comes along) whose (weight, id) beats every candidate
    neighbor's — no candidate neighbor → m null → winner — truncated,
    and their count (succ = Σf, mis.hpp step 5), observed by that
    truncation. m(v) = max
    (weight, id) among still-candidate neighbors (vxm
    MaximumMultiplies, mis.hpp:64-65); the id component breaks
    LCG-weight ties for ids ≥ 2^31−1 (struct max/> is lexicographic,
    so tie-free graphs are unaffected). Two adjacent candidates can
    never both win."""
    c2 = cand.select(F.col("id").alias("nid"), F.col("w").alias("nw"))
    m = (
        adj.join(c2, on=adj["src"] == c2["nid"], how="inner")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.max(F.struct(F.col("nw").alias("w"), F.col("nid").alias("i"))).alias("m"))
    )
    won = Observed(n=F.count(F.lit(1)))
    winners = won.on(
        cand.join(m, on="id", how="left")
        .filter(
            F.col("m").isNull()
            | (F.struct(F.col("w").alias("w"), F.col("id").alias("i")) > F.col("m"))
        )
        .drop("w", "m")
    ).transform(truncate_plan)
    return winners, won.get()["n"]


def mis(
    g: Graph,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Returns (id long, in_mis int) for EVERY vertex. With
    ``fixed_rounds`` the loop runs exactly that many rounds (the
    oracle-comparable mode — vertices still undecided keep in_mis=0,
    matching an identically-unrolled SQL oracle)."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)

    # Undirected view: "neighbor max" is symmetric even on a directed
    # edge table (the reference runs MIS on symmetrized inputs, run
    # script --directed 2).
    adj = g.undirected()

    def init():
        cand = g.vertices.select("id", lcg_weight(F.col("id")).alias("w"))
        members = spark.createDataFrame([], "id long")
        return {"cand": cand, "members": members}

    def step(s, it, sc):
        cand, members = s["cand"], s["members"]
        winners, n_won = local_maxima(adj, cand)
        if n_won == 0:
            return None
        # remove winners and their neighbors from candidates
        # (masked assign-to-zero ×2, mis.hpp:72-83, 86-91)
        nbrs = (
            adj.join(winners, on=adj["src"] == winners["id"], how="left_semi")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        return {
            "cand": cand.join(winners, on="id", how="left_anti").join(nbrs, on="id", how="left_anti"),
            "members": members.unionByName(winners),
        }

    max_rounds = fixed_rounds if fixed_rounds is not None else desc.max_niter
    members = runner.iterate(init, step, iters=max_rounds)[0]["members"]

    return g.vertices.join(
        members.withColumn("in_mis", F.lit(1)), on="id", how="left"
    ).select("id", F.coalesce("in_mis", F.lit(0)).alias("in_mis"))
