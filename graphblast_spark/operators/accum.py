"""GraphBLAS output-merge semantics: ``C⟨M, replace⟩ accum= T``.

Every reference operation signature carries an ``accum`` binary op and
honors the descriptor's GrB_REPLACE bit (operations.hpp:14-19:
``C = C + mask .* (A*B)``; types.hpp:44-78). The spec decomposes the
write-back into two steps, which map 1:1 onto joins:

1. ``Z = accum(C, T)`` — union of structures, accum on the
   intersection, pass-through where only one side has an entry; with
   no accum, ``Z = T``.
2. Mask step: inside the (complement-adjusted) mask the output takes
   ``Z``; outside it, GrB_REPLACE clears (entries dropped) while the
   default merge keeps the old ``C`` entries.

On DataFrames that is one full-outer join (step 1, only when accum and
an old output are both present) plus semi/anti filters (step 2, only
when a mask is present) — nothing iterative, fully codegen'd. The
operators (vxm/mxv/ewise_*/assign) compute ``T`` with the mask already
pushed below their aggregation for efficiency; this helper re-applies
the mask only to rows that can come from the *old* vector, so the
pushdown stays valid. vxm/mxv skip this helper when ``accum`` is their
semiring's own ⊕ and there is no mask: the old vector's rows are then
just more terms of the same reduce, unioned in before the aggregate
(operators/vecmat.py), which saves the full-outer join's shuffle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphblast_spark.semiring import BINARY_OPS

AccumOp = Callable[[Column, Column], Column]


def _resolve_accum(accum: str | AccumOp) -> AccumOp:
    if callable(accum):
        return accum
    try:
        return BINARY_OPS[accum]
    except KeyError:
        raise KeyError(
            f"unknown accum op {accum!r}; one of {sorted(BINARY_OPS)} or a "
            f"(Column, Column) -> Column callable"
        ) from None


def accum_merge(
    w: DataFrame | None,
    t: DataFrame,
    accum: str | AccumOp | None = None,
    mask: DataFrame | None = None,
    mask_complement: bool = False,
    replace: bool = False,
) -> DataFrame:
    """Merge the freshly computed ``t`` (id, val) into the old output
    ``w`` per GraphBLAS write-back rules (module docstring). ``w=None``
    (no old output) degenerates to ``t`` — the no-accum fast path every
    existing call site keeps."""
    if w is None:
        return t

    # Step 1: Z = accum(C, T) on the union, else Z = T.
    if accum is not None:
        acc = _resolve_accum(accum)
        ww, tt = w.alias("w"), t.alias("t")
        z = ww.join(tt, on=F.col("w.id") == F.col("t.id"), how="full_outer").select(
            F.coalesce(F.col("w.id"), F.col("t.id")).alias("id"),
            F.when(
                F.col("w.val").isNotNull() & F.col("t.val").isNotNull(),
                acc(F.col("w.val"), F.col("t.val")),
            )
            .otherwise(F.coalesce(F.col("t.val"), F.col("w.val")))
            .alias("val"),
        )
    else:
        z = t

    if mask is None:
        # No mask: the whole output is writable; replace is a no-op.
        return z

    # Step 2: semi/anti filters against the mask pattern.
    m = mask.select("id")
    allowed, blocked = ("left_anti", "left_semi") if mask_complement else (
        "left_semi", "left_anti")
    z_in = z.join(m, on="id", how=allowed)
    if replace:
        return z_in
    return z_in.unionByName(w.join(m, on="id", how=blocked))
