"""Label propagation — min-label and majority variants.

The reference has no LP (SURVEY §2.9) — the north rule requires it.
Two deterministic variants:

- ``label_propagation_min``: min-label diffusion over the undirected
  graph (the reference's vxm-with-MinimumSelectSecond pattern,
  cc.hpp:78). Its fixpoint is the connected-components partition with
  component-min labels, so it runs as :func:`connected_components`;
  kept as the SQL-oracle-checkable LP.

- ``label_propagation_majority``: synchronous majority vote with the
  deterministic tiebreak (highest neighbor-label count, ties → smallest
  label; vertices with no neighbors keep their label). Synchronous
  majority LP can 2-cycle on bipartite structures, so the contract is a
  FIXED number of supersteps — deterministic and oracle-comparable at
  any iteration count.

Scale notes: the per-superstep shape is groupBy(dst, label) count →
per-dst argmax. The two-level aggregate gives map-side partial combine
on (dst, label) — the hub-vertex (power-law dst) skew is spread across
the label dimension first, the classic salting-by-natural-subkey.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.algorithms.cc import connected_components
from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import SuperstepRunner


def label_propagation_min(
    g: Graph,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Min-label fixpoint: label'(u) = min(label(u), min_{v∈N(u)} label(v)).
    Returns (id, label) = CC partition with component-min labels — the
    fixpoint :func:`connected_components` reaches in O(log) supersteps
    with hooking and pointer jumping, so this is that call renamed."""
    return connected_components(g, desc=desc, runner=runner).select(
        "id", F.col("component").alias("label")
    )


def label_propagation_majority(
    g: Graph,
    iters: int = 5,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Majority LP for exactly ``iters`` synchronous supersteps.
    Returns (id, label)."""
    spark = g.edges.sparkSession
    # The undirected view is deduped — a reciprocal pair (a,b), (b,a)
    # votes once, not twice — and laid out on dst (the per-superstep
    # join key) so only the small label table shuffles each iteration.
    e_sym = g.undirected()
    if runner is None:
        runner = SuperstepRunner(spark)

    def step(s, it, sc):
        labels = s["labels"]
        lb = labels.hint("shuffle_hash")
        votes = (
            e_sym.join(lb, on=e_sym["dst"] == lb["id"])
            .groupBy(e_sym["src"].alias("id"), lb["val"].alias("lbl"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (cnt desc, lbl asc) as an aggregated max over
        # (cnt, -lbl) — a hash agg with map-side partial combine,
        # replacing a row_number window whose per-id sort shuffle
        # was the one sort left in the superstep (the window also
        # blocked AQE from reusing the votes exchange)
        winner = (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt").alias("c"), (-F.col("lbl")).alias("nl"))).alias("b"))
            .select("id", (-F.col("b.nl")).alias("new"))
        )
        return {"labels": labels.join(winner, on="id", how="left").select(
            "id", F.coalesce("new", "val").alias("val")
        )}

    state, _, _ = runner.iterate(
        lambda: {"labels": g.vertices.select("id", F.col("id").alias("val"))},
        step, iters=iters,
    )
    return state["labels"].select("id", F.col("val").alias("label"))


def community_modularity(g: Graph, labels: DataFrame, label_col: str = "label") -> DataFrame:
    """Per-community directed weighted modularity contributions:
    (label, within_weight, out_strength, in_strength, contribution)
    with contribution = within/m − (out·in)/m² (Leicht–Newman directed
    form; on a symmetrized graph it reduces to Newman's Q per
    community). ``modularity(g, labels) = Σ contribution``.

    The reference ships no community-quality metric — this scores the
    engine's own LP/CC partitions (SURVEY §2.9 lp/cc are north-rule
    algorithms; a partition you can't score is a partition you can't
    tune).

    Plan shape at 10^12 edges: two hash joins of the edge table against
    the (id, label) table on src and dst — the PageRank-superstep
    pattern, hub skew absorbed by map-side partial aggregation on
    labels — then label-keyed aggregates and one broadcast of the
    1-row total-weight frame. No collect, no window, no crossJoin of
    anything non-scalar."""
    la = labels.select(F.col("id").alias("src"), F.col(label_col).alias("lab_s"))
    lb = labels.select(F.col("id").alias("dst"), F.col(label_col).alias("lab_d"))
    je = g.edges.join(la, "src").join(lb, "dst")
    outs = je.groupBy(F.col("lab_s").alias("label")).agg(
        F.sum("val").alias("out_strength"),
        F.sum(F.when(F.col("lab_s") == F.col("lab_d"), F.col("val"))).alias("w"),
    )
    ins = je.groupBy(F.col("lab_d").alias("label")).agg(
        F.sum("val").alias("in_strength")
    )
    m1 = g.edges.agg(F.sum("val").alias("m"))
    return (
        labels.select(F.col(label_col).alias("label")).distinct()
        .join(outs, "label", "left")
        .join(ins, "label", "left")
        .crossJoin(F.broadcast(m1))
        .select(
            "label",
            F.coalesce("w", F.lit(0.0)).alias("within_weight"),
            F.coalesce("out_strength", F.lit(0.0)).alias("out_strength"),
            F.coalesce("in_strength", F.lit(0.0)).alias("in_strength"),
            F.round(
                F.coalesce("w", F.lit(0.0)) / F.col("m")
                - (
                    F.coalesce("out_strength", F.lit(0.0))
                    * F.coalesce("in_strength", F.lit(0.0))
                )
                / (F.col("m") * F.col("m")),
                6,
            ).alias("contribution"),
        )
    )


def modularity(g: Graph, labels: DataFrame, label_col: str = "label") -> float:
    """Scalar modularity Q of a vertex partition (see
    :func:`community_modularity`)."""
    return float(
        community_modularity(g, labels, label_col)
        .agg(F.sum("contribution"))
        .first()[0]
    )
