"""vxm / mxv — the SpMV/SpMSpV family, i.e. the engine's join.

Reference: graphblas/operations.hpp:51-127 (frontend) →
backend/cuda/operations.hpp:80-327 (direction decision) →
spmv.hpp (pull kernel) / spmspv.hpp + spmspv_inner.hpp (push kernel).

Semantics computed here::

    w(j) = ⊕_{i : A(i,j) nonzero, u(i) present}  u(i) ⊗ A(i,j)     (vxm)
    w(i) = ⊕_{j : A(i,j) nonzero, u(j) present}  A(i,j) ⊗ u(j)     (mxv)

which in DataFrame land is exactly

    edges ⋈ u ON edges.<in-key> == u.id
          → select(<out-key>, mul(u.val, edges.val))
          → groupBy(<out-key>).agg(add_agg)

**Direction optimization** (reference's Ligra-style push/pull,
backend/cuda/operations.hpp:131-199 + vector.hpp:291-323): when the
frontier is sparse (count/n below ``desc.switchpoint``) we hint
``F.broadcast(u)`` — a broadcast hash join, the SpMSpV "push" gather.
When dense, a plain shuffle join — the SpMV "pull". The explicit rule
keeps the plan stable across supersteps, and it is the only rule
inside superstep loops, which run without AQE (runtime/superstep.py);
outside loops AQE's runtime broadcast conversion is the safety net. The caller passes ``u_nvals`` when it
already knows the frontier size (every algorithm loop does), so no
extra count job is spawned.

**Masking** (reference types.hpp:44-78 GrB_MASK/GrB_SCMP): the mask is
applied to the *output* keys as a semi-join (or anti-join when
complemented) — and critically it is applied *before* the aggregation
where possible, which Catalyst pushes below the shuffle.

**Accumulate** (operations.hpp:14-19, ``w accum= t``): when ``accum`` is
the semiring's own ⊕ (``plus`` over Plus, ``minimum`` over Minimum, …)
and there is no mask, ``w``'s rows are unioned into the product rows
before the one ``groupBy`` — the density restore PageRank, Katz,
eigenvector, HITS and SALSA run with a zeros or teleport ``w``. Any
other accum, or a mask, merges through ``accum_merge``.

**Early exit** (reference kernels/spmv.hpp:33-51): for boolean
semirings (LogicalOrAnd) the aggregation degenerates to existence —
``select(out).distinct()`` — matching the reference's sort-elision
path (spmspv_inner.hpp:291-299).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor, MxvMode
from graphblast_spark.matrix import Graph
from graphblast_spark.operators.accum import accum_merge
from graphblast_spark.semiring import Semiring, semiring as _resolve


# accum ops that are a monoid's own ⊕ — foldable into its reduce
_FOLDS = {"plus": "Plus", "minimum": "Minimum", "maximum": "Maximum"}


def _apply_mask(out: DataFrame, mask: DataFrame | None, complement: bool) -> DataFrame:
    if mask is None:
        return out
    m = mask.select("id")
    how = "left_anti" if complement else "left_semi"
    return out.join(m, on="id", how=how)


def _vecmat(
    u: DataFrame,
    g: Graph,
    sr: Semiring | str,
    in_key: str,
    out_key: str,
    mask: DataFrame | None,
    desc: Descriptor,
    u_nvals: int | None,
    vec_first: bool,
    salt: int | str | None = "auto",
    accum=None,
    w: DataFrame | None = None,
) -> DataFrame:
    sr = _resolve(sr)
    edges = g.edges
    if desc.transpose_a:
        in_key, out_key = out_key, in_key

    if salt == "auto":
        # Auto-salt from degree stats: the reduce key is out_key, so the
        # hottest key's fan-in is its degree in that orientation (one
        # cached scan per Graph). Below the budget Spark's map-side
        # partial agg absorbs the skew for free; above it, pick just
        # enough salt lanes to bring each lane under budget. No fan-in
        # exceeds |E|: a graph of known size within budget skips the scan.
        hub = g.hub_degree(out_key) if g.nvals < 0 or g.nvals > desc.salt_budget else 0
        salt = None if hub <= desc.salt_budget else min(32, -(-hub // desc.salt_budget))

    # Direction decision (reference backend/cuda/operations.hpp:131-140).
    push = False
    if desc.mxv_mode == MxvMode.PUSHONLY:
        push = True
    elif desc.mxv_mode == MxvMode.PUSHPULL:
        if u_nvals is not None and g.n > 0:
            push = (u_nvals / g.n) <= desc.switchpoint
    # Pull path: hint shuffle-hash so the (big, persisted, already
    # src-partitioned) edge table is probed, not sorted — sort-merge
    # would re-sort |E| rows every superstep for nothing (measured 1.6×
    # slower at 16M edges). The hash table is built from the vector side.
    frontier = F.broadcast(u) if push else u.hint("shuffle_hash")

    joined = edges.join(frontier, on=edges[in_key] == frontier["id"], how="inner")

    out_col = edges[out_key].alias("id")
    existence = desc.structure_only and sr.name == "LogicalOrAnd"
    fold = (w is not None and mask is None and not existence
            and _FOLDS.get(accum) == sr.add_monoid.name)
    if existence:
        # struconly + early-exit path: existence only, no values
        # (reference reduce.hpp:71-74, kernels/spmv.hpp:33-51).
        out = joined.select(out_col).distinct().withColumn("val", F.lit(True))
    else:
        # ⊗ operand order matters for non-commutative ops (divides,
        # select_second): vxm computes u(i)⊗A(i,j), mxv computes A(i,j)⊗u(j).
        if vec_first:
            prod = sr.mul(frontier["val"], edges["val"]).alias("p")
        else:
            prod = sr.mul(edges["val"], frontier["val"]).alias("p")
        rows = joined.select(out_col, prod)
        if fold:  # w's entries are more terms of the same reduce
            rows = rows.unionByName(w.select("id", F.col("val").alias("p")))
        if salt and salt > 1:
            # Explicit hub salting (the merge-path load-balance analog,
            # reference spmspv_inner.hpp:62-320 / SURVEY §4.7): a
            # power-law hub key's entire reduce lands on one task;
            # salting splits it into `salt` sub-keys reduced in phase 1,
            # then a tiny phase-2 combine per real key. Valid for any
            # associative ⊕ (every registered monoid is). Spark's
            # map-side partial agg already absorbs moderate skew —
            # reach for this when a single key's post-partial volume
            # still exceeds one task (e.g. dst hubs with >10^8 edges).
            partial = (
                rows.withColumn("_salt", F.pmod(F.spark_partition_id(), F.lit(salt)))
                .groupBy("id", "_salt")
                .agg(sr.add_agg(F.col("p")).alias("p"))
            )
            out = partial.groupBy("id").agg(sr.add_agg(F.col("p")).alias("val"))
        else:
            out = rows.groupBy("id").agg(sr.add_agg(F.col("p")).alias("val"))
    if fold:
        return out
    out = _apply_mask(out, mask, desc.mask_complement)
    # GraphBLAS write-back: C⟨M, replace⟩ accum= T (operations.hpp:14-19).
    return accum_merge(
        w, out, accum=accum, mask=mask,
        mask_complement=desc.mask_complement, replace=desc.replace,
    )


def vxm(
    u: DataFrame,
    g: Graph,
    sr: Semiring | str = "PlusMultiplies",
    mask: DataFrame | None = None,
    desc: Descriptor = DEFAULT_DESC,
    u_nvals: int | None = None,
    salt: int | str | None = "auto",
    accum=None,
    w: DataFrame | None = None,
) -> DataFrame:
    """w(dst)⟨mask⟩ = ⊕_src u(src) ⊗ A(src,dst) — reference operations.hpp:51-87.
    ``salt``: two-phase salted reduce for extreme hub keys; the default
    ``"auto"`` derives it from the graph's cached degree stats vs
    ``desc.salt_budget`` (None/1 disables, an int forces) — and skips
    the degree scan when ``g.nvals`` is known and within the budget.
    ``accum``/``w``: GraphBLAS merge-on-write — pass the old output
    vector as ``w`` and a binary op name/callable as ``accum`` to get
    ``w accum= result`` (reference operations.hpp:14-19; LGC's accum-mxv
    lgc.hpp:126-128); ``desc.replace`` selects GrB_REPLACE mask
    semantics (see operators/accum.py). With no mask and ``accum`` the
    semiring's own ⊕, ``w`` folds into the one aggregate (no merge join)."""
    return _vecmat(u, g, sr, "src", "dst", mask, desc, u_nvals,
                   vec_first=True, salt=salt, accum=accum, w=w)


def mxv(
    u: DataFrame,
    g: Graph,
    sr: Semiring | str = "PlusMultiplies",
    mask: DataFrame | None = None,
    desc: Descriptor = DEFAULT_DESC,
    u_nvals: int | None = None,
    salt: int | str | None = "auto",
    accum=None,
    w: DataFrame | None = None,
) -> DataFrame:
    """w(src)⟨mask⟩ = ⊕_dst A(src,dst) ⊗ u(dst) — reference operations.hpp:95-127.
    ``salt="auto"``/``accum``/``w``: see :func:`vxm`."""
    return _vecmat(u, g, sr, "dst", "src", mask, desc, u_nvals,
                   vec_first=False, salt=salt, accum=accum, w=w)


def apply_vxm(
    u: DataFrame,
    g: Graph,
    unary: "Callable[[F.Column], F.Column]",
    sr: Semiring | str = "PlusMultiplies",
    mask: DataFrame | None = None,
    desc: Descriptor = DEFAULT_DESC,
    u_nvals: int | None = None,
) -> DataFrame:
    """Fused unary-apply + vxm — reference applyVxm
    (operations.hpp:835-865 → backend/cuda/operations.hpp:1273-1404)
    saves a pass by fusing op(u) into the SpMV read; here the fusion is
    free — composing the Column expression into the same projection
    lets whole-stage codegen emit one loop."""
    fused = u.select("id", unary(F.col("val")).alias("val"))
    return vxm(fused, g, sr, mask=mask, desc=desc, u_nvals=u_nvals)
