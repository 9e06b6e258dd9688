"""Single-process references the engine's outputs are checked against.

Each takes a graph as ``n`` vertices and int64 ``src``/``dst`` arrays of
distinct directed edges without self-loops, the cleaned edge table the
engine's ``Graph.build`` produces.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def pagerank(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    alpha: float = 0.85,
    iters: int | None = None,
    eps: float = 1e-8,
    init: np.ndarray | None = None,
    max_iter: int = 100,
) -> tuple[np.ndarray, int]:
    """Power iteration without dangling redistribution:
    p'(v) = (1-α)/n + α Σ_{s→v} p(s)/outdeg(s). Runs ``iters`` steps, or
    until Σ(p'-p)² < eps. Returns (ranks, supersteps)."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    w = alpha / outdeg[src]
    p = np.full(n, 1.0 / n) if init is None else init.astype(np.float64)
    steps = 0
    for _ in range(iters if iters is not None else max_iter):
        new = (1.0 - alpha) / n + np.bincount(dst, weights=w * p[src], minlength=n)
        steps += 1
        err = float(np.sum((new - p) ** 2))
        p = new
        if iters is None and err < eps:
            break
    return p, steps


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Undirected connected components labelled by their minimum id."""
    label = np.arange(n, dtype=np.int64)
    while True:
        new = label.copy()
        np.minimum.at(new, src, label[dst])
        np.minimum.at(new, dst, label[src])
        new = new[new]
        if np.array_equal(new, label):
            return label
        label = new


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray, iters: int) -> np.ndarray:
    """Synchronous majority vote over the undirected graph for ``iters``
    steps: most frequent neighbour label, ties to the smallest label;
    vertices without neighbours keep their label."""
    sym = np.unique(np.concatenate([np.stack([src, dst], 1), np.stack([dst, src], 1)]), axis=0)
    u, v = sym[:, 0], sym[:, 1]
    label = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        votes = (
            pd.DataFrame({"id": u, "lbl": label[v]})
            .groupby(["id", "lbl"]).size().reset_index(name="c")
            .sort_values(["id", "c", "lbl"], ascending=[True, False, True])
            .drop_duplicates("id")
        )
        new = label.copy()
        new[votes["id"].to_numpy()] = votes["lbl"].to_numpy()
        label = new
    return label


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected graph, counted in DuckDB."""
    edges = pd.DataFrame({"s": src, "d": dst})
    con = duckdb.connect()
    try:
        con.register("edges", edges)
        return int(
            con.execute(
                """
                WITH e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                           FROM edges WHERE s <> d)
                SELECT count(*) FROM e e1
                JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
                """
            ).fetchone()[0]
        )
    finally:
        con.close()
