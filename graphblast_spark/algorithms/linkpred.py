"""Link-prediction scores over the undirected view of a graph.

Per-edge neighborhood-overlap metrics — the standard link-prediction
triple (common neighbors, Jaccard, Adamic-Adar). The reference exposes
the masked-SpGEMM building block these reduce to (B⟨A⟩ = A ⊕.⊗ Aᵀ,
graphblas/algorithm/tc.hpp:38-41); the per-edge scores themselves are
the natural analytics layer a web-graph user runs on top (e.g. related-
page suggestion, spam-farm detection via abnormally dense overlap).

Plan shape (scale notes):
- One adjacency table reused for both wedge endpoints; degrees joined
  onto it ONCE so the common-neighbor join carries deg(w) for free.
- The wedge join's fan-out is Σ deg(a)·deg(b) over edges — identical to
  the masked-SpGEMM bound the triangle counter pays; hubs dominate, so
  callers on power-law graphs should pre-filter candidate edges (the
  `pairs` argument) exactly like the reference masks its SpGEMM.
- Output is restricted to pairs with ≥1 common neighbor: the zero rows
  are the overwhelming majority at web scale and carry no signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph


def link_prediction_scores(g: Graph, pairs: DataFrame | None = None) -> DataFrame:
    """(src, dst, common, jaccard, adamic_adar) per canonical (src<dst)
    undirected edge of ``g`` (or per row of ``pairs`` if given) with at
    least one common neighbor.

    jaccard     = |N(a)∩N(b)| / |N(a)∪N(b)|
    adamic_adar = Σ_{w ∈ N(a)∩N(b)} 1 / ln(deg(w))

    Degrees are undirected-view degrees (symmetrized, deduped,
    self-loops dropped). A common neighbor always has deg ≥ 2, so
    ln(deg) > 0.
    """
    # the undirected view: adjacency in both orientations, and grouped
    # on its dst (here b) the undirected degree with no shuffle
    adj = g.undirected().toDF("a", "b")
    deg = adj.groupBy(F.col("b").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    # neighbor lists annotated with the NEIGHBOR's degree (for AA)
    adjd = adj.join(deg, on=adj["b"] == deg["id"]).select(
        F.col("a"), F.col("b").alias("w"), F.col("d").alias("dw")
    )

    cand = (
        pairs.select(
            F.least(pairs.columns[0], pairs.columns[1]).alias("a"),
            F.greatest(pairs.columns[0], pairs.columns[1]).alias("b"),
        ).distinct()
        if pairs is not None
        else adj.filter(F.col("a") < F.col("b"))
    )

    n1 = adjd.select(F.col("a").alias("src"), "w", "dw")
    n2 = adjd.select(F.col("a").alias("dst"), F.col("w").alias("w2"))
    cn = (
        cand.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .join(n1, "src")
        .join(n2, "dst")
        .filter(F.col("w") == F.col("w2"))
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.lit(1.0) / F.log(F.col("dw").cast("double"))).alias("aa"),
        )
    )
    da = deg.select(F.col("id").alias("src"), F.col("d").alias("d_src"))
    db = deg.select(F.col("id").alias("dst"), F.col("d").alias("d_dst"))
    return (
        cn.join(da, "src")
        .join(db, "dst")
        .select(
            "src",
            "dst",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("d_src") + F.col("d_dst") - F.col("common")),
                6,
            ).alias("jaccard"),
            F.round("aa", 6).alias("adamic_adar"),
        )
    )
