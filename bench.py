#!/usr/bin/env python3
"""Benchmark harness.

Default mode (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "gteps_pr": ...}

Scaling mode (north rule: throughput at two cluster sizes with
efficiency ≥ 0.8, evidenced at two parallelism levels since no real
cluster exists here)::

    python bench.py --scaling [N] [4N]

runs the identical PageRank iteration loop at local[N] and local[4N]
on the same persisted input, reports GTEPS-style edges×iters/sec at
both plus efficiency, and appends the table to BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _mk_spark(master: str, shuffle_partitions: int):
    from graphblast_spark import get_spark

    spark = get_spark(master=master, shuffle_partitions=shuffle_partitions,
                      app_name=f"bench-{master}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timed(fn):
    t0 = time.time()
    out = fn()
    return out, time.time() - t0


BENCH_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

# A slot is flagged noisy when its slowest rep is >1.5× its fastest —
# the same binary doing the same work 50%+ slower is this box's
# documented noisy-neighbor cadence, not the code (BENCH.md measured
# 3-6× swings on identical binaries). best-of-reps matches the
# reference protocol (run_pr.sh:16-17 --niter 5 takes the tight loop).
NOISY_SPREAD = 1.5


def _timed_warm(fn, reps: int = BENCH_REPS):
    """Reference measurement protocol (gpr.cu:107-148 + --niter,
    run_pr.sh:16-17): one untimed warmup rep, then ``reps`` timed reps;
    the slot reports the BEST rep and keeps the full spread so a noisy
    host window is visible inside the JSON instead of silently
    inflating a slot (VERDICT r3 task 1). Warm timings are the
    meaningful throughput numbers (JIT/codegen settled, caches
    populated); the cold one-time costs are still reported by the
    single-pass prep slots (graph_build, pagerank_prep)."""
    fn()
    out, t0 = _timed(fn)
    times = [t0]
    for _ in range(reps - 1):
        _, dt = _timed(fn)
        times.append(dt)
    return out, min(times), [round(t, 3) for t in times]


def _warm_python_workers(spark, cpus: int) -> None:
    """Spin up the Python/Arrow worker pool (one trivial task per core)
    before any timer starts. Worker fork + pandas import is session
    setup, not query work — on this box it's 2-20 s depending on host
    I/O noise, and it would otherwise land entirely on the first
    pandas-UDF query slot."""
    import pandas as pd  # noqa: F401

    def ident(batches):
        for b in batches:
            yield b

    spark.range(0, cpus, 1, cpus).mapInPandas(ident, "id long").count()


def run_headline(sf_dir: str, cpus: int) -> dict:
    import __spark_entry__ as entrymod

    load_at_start = round(os.getloadavg()[0], 2)  # pre-Spark idle load
    spark = _mk_spark(f"local[{cpus}]", cpus)
    _warm_python_workers(spark, cpus)
    q = entrymod.queries()
    timings: dict[str, float] = {}
    rep_spread: dict[str, list[float]] = {}
    noisy_slots: list[str] = []

    def record(name: str, best: float, reps: list[float]) -> None:
        timings[name] = round(best, 3)
        rep_spread[name] = reps
        if max(reps) / max(min(reps), 1e-9) > NOISY_SPREAD:
            noisy_slots.append(name)

    # Graph build once (shared across graph queries in spirit; each query
    # callable rebuilds, so time the build separately for context).
    from graphblast_spark.sources.tpch_graphs import copurchase_graph

    g, t_build = _timed(lambda: copurchase_graph(spark, sf_dir))
    timings["graph_build"] = round(t_build, 3)
    nvals = g.nvals

    # PageRank: time the iteration loop only (BASELINE.md protocol).
    from graphblast_spark.algorithms import (
        bfs, connected_components, label_propagation_majority, pagerank, triangle_count,
    )

    from graphblast_spark.algorithms.pagerank import pagerank_prep

    pr_iters = 10
    w_edges, t_prep = _timed(lambda: pagerank_prep(g))
    timings["pagerank_prep"] = round(t_prep, 3)
    _, t_pr, reps = _timed_warm(lambda: pagerank(g, fixed_iters=pr_iters, w_edges=w_edges).count())
    record("pagerank_10it", t_pr, reps)
    gteps_pr = nvals * pr_iters / t_pr
    w_edges.unpersist()

    _, t, reps = _timed_warm(lambda: connected_components(g).count())
    record("cc", t, reps)
    _, t, reps = _timed_warm(lambda: label_propagation_majority(g, iters=5).count())
    record("lp_majority_5it", t, reps)
    _, t, reps = _timed_warm(lambda: triangle_count(g, orient="degree"))
    record("tc", t, reps)
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg({"l_partkey": "min"}).first()[0]
    _, t, reps = _timed_warm(lambda: bfs(g, source=src).count())
    record("bfs", t, reps)

    # Directed web-graph tier (round 3): SCC + HyperBall on the
    # order-sequence graph (the directed fixture with real cycles).
    from graphblast_spark.algorithms import hyperball, strongly_connected_components
    from graphblast_spark.sources.tpch_graphs import ordseq_graph

    g2, t = _timed(lambda: ordseq_graph(spark, sf_dir))
    timings["ordseq_build"] = round(t, 3)
    _, t, reps = _timed_warm(lambda: strongly_connected_components(g2).count())
    record("scc", t, reps)
    _, t, reps = _timed_warm(lambda: hyperball(g2, max_t=8).count())
    record("hyperball_t8", t, reps)

    # Round-4 additions on the same directed fixture: the modularity
    # optimizer (contract form) and the undamped centrality limit.
    from graphblast_spark.algorithms import eigenvector_centrality, louvain

    _, t, reps = _timed_warm(lambda: louvain(g2, levels=1, move_rounds=2).count())
    record("louvain_l1r2", t, reps)
    # levels=2 times the contraction + level-2 moves — contraction is
    # where the 100× memory shape changes (community-sized edge table),
    # so it needs its own timed slot, not just the level-1 moves.
    _, t, reps = _timed_warm(lambda: louvain(g2, levels=2, move_rounds=2).count())
    record("louvain_l2r2", t, reps)
    _, t, reps = _timed_warm(lambda: eigenvector_centrality(g2, fixed_iters=4).count())
    record("eigenvector_4it", t, reps)

    # Training-data ops.
    for name in ["d_minhash_lsh", "d_exact_dedup", "d_simhash",
                 "d_simhash_hamming", "e_knn_cosine",
                 "d_quality", "d_pii_redact", "d_boilerplate"]:
        _, t, reps = _timed_warm(lambda n=name: q[n](spark, sf_dir).count())
        record(name, t, reps)

    # Pages pipeline: synth corpus → distill → edge table (the north-rule path).
    from graphblast_spark.sources.corpus import generate_pages
    from graphblast_spark.sources.distill import distill_edges

    def _pages_pipeline():
        pages = generate_pages(spark, 20_000, seed=42)
        edges, _ = distill_edges(pages)
        return edges.count()

    n_edges, t, reps = _timed_warm(_pages_pipeline)
    record("pages_distill_20k", t, reps)

    total = round(sum(timings.values()), 3)
    # Round-over-round comparability: the r3/r4 suites added slots
    # (ordseq build, SCC, HyperBall, pii, boilerplate, simhash-
    # hamming); this subtotal is the sum over exactly the r1/r2 set.
    _new_slots = {"ordseq_build", "scc", "hyperball_t8", "d_pii_redact",
                  "d_boilerplate", "d_simhash_hamming",
                  "louvain_l1r2", "louvain_l2r2", "eigenvector_4it"}
    total_r2_slots = round(
        sum(v for k, v in timings.items() if k not in _new_slots), 3
    )
    result = {
        "metric": "headline suite wall time (graph algos + training-data ops; "
                  "query slots warmup+timed per reference protocol), sf0.1",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "edges_copurchase": nvals,
        "gteps_pr": round(gteps_pr, 1),
        "pages_edges_distilled": n_edges,
        "cpus": cpus,
        "total_r2_slots": total_r2_slots,
        "bench_reps": BENCH_REPS,
        "rep_spread": rep_spread,
        "noisy_slots": noisy_slots,
        "load_at_start": load_at_start,
    }
    spark.stop()
    return result


def run_scaling(sf_dir: str, n: int, n4: int, pr_iters: int = 10,
                rmat_scale: int | None = None, algo: str = "pr") -> dict:
    """The north-rule scaling evidence: the IDENTICAL PageRank job —
    same persisted parquet input, same shuffle-partition count (so the
    task graph is byte-identical) — at local[n] and local[n4]; report
    edges×iters/sec at both plus scaling efficiency.

    The co-purchase graphs from the driver's sf dirs are too small for
    compute to dominate scheduler overhead (a 231k-edge iteration is
    ~100 ms of real work), so the scaling graph is a deterministic
    RMAT power-law graph (Graph500 family, the reference's own
    rmat_n22-n24 benchmark tier, run_pr.sh:13) sized by
    ``$SPARK_GRAFT_RMAT_SCALE`` (default 20 → |V|=1M, |E|≈16M after
    cleaning).

    ``algo="cc"`` times connected components to convergence instead
    (identical superstep count both sizes — the algorithm is
    deterministic on identical input), broadening the evidence beyond
    the PageRank join pattern: CC's hook+jump supersteps exercise the
    dst-pinned layout and the pointer-jump self-join."""
    import shutil

    from graphblast_spark.matrix import Graph
    from graphblast_spark.algorithms import (
        connected_components,
        label_propagation_majority,
        pagerank,
        triangle_count,
        triangle_count_approx,
    )
    from graphblast_spark.algorithms.pagerank import pagerank_prep
    from graphblast_spark.runtime.superstep import SuperstepRunner
    from graphblast_spark.sources.rmat import rmat_edges, rmat_vertices

    scale = rmat_scale or int(os.environ.get("SPARK_GRAFT_RMAT_SCALE", "20"))
    parts = 2 * n4
    scratch = os.path.abspath(".bench_scratch")
    edges_path = os.path.join(scratch, f"rmat_s{scale}_edges")

    # Materialize the cleaned edge table once (the parse-cache analog,
    # reference util.hpp:331-357) so both runs read identical bytes.
    if not os.path.exists(os.path.join(edges_path, "_SUCCESS")):
        spark = _mk_spark(f"local[{n4}]", parts)
        g = Graph.build(rmat_edges(spark, scale=scale),
                        vertices=rmat_vertices(spark, scale),
                        num_partitions=parts)
        g.edges.write.mode("overwrite").parquet(edges_path)
        spark.stop()
        time.sleep(2)

    results = {}  # per core count
    tc_err = {}   # tc_approx only: the exact count and the estimate's error
    nvals = None
    n_vertices = 1 << scale
    for cores in (n, n4):
        # Drain-wait: the previous phase's JVM shutdown keeps the 1-min
        # load average elevated for minutes, which both contaminates the
        # measurement and trips the load_before gate (two r4 runs lost
        # their local[16] phase exactly this way — BENCH.md 2026-08-18).
        # Wait for the box to actually go quiet before starting, bounded
        # so a genuinely busy machine still produces a (gated) result.
        deadline = time.time() + 300
        while os.getloadavg()[0] > 1.5 and time.time() < deadline:
            time.sleep(10)
        load_before = round(os.getloadavg()[0], 2)
        spark = _mk_spark(f"local[{cores}]", parts)
        vertices = spark.range(0, n_vertices).select("id")
        edges = spark.read.parquet(edges_path)
        g = Graph.build(edges, vertices=vertices, drop_self_loops=False,
                        dedup=False, num_partitions=parts)
        nvals = g.nvals
        if algo == "cc":
            # warmup: one full untimed convergence run (JIT + cache +
            # post-build ContextCleaner settling), then the timed run;
            # iteration count read back from the runner's metrics log
            connected_components(g).count()
            run_dir = os.path.join(scratch, f"ccrun_{cores}")
            shutil.rmtree(run_dir, ignore_errors=True)
            runner = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=0)
            _, t = _timed(lambda: connected_components(g, runner=runner).count())
            with open(os.path.join(run_dir, "metrics.jsonl")) as fh:
                iters = sum(1 for _ in fh)
            results[cores] = {"sec": round(t, 3), "iters": iters,
                              "etps": nvals * iters / t}
        elif algo == "lp":
            # fixed 5 majority supersteps — identical task graph both
            # sizes; the vote shape is the third superstep pattern
            # (groupBy(dst,label)+argmax) after PR's join+agg and CC's
            # hook/jump, and it shuffles 2|E| rows per round
            lp_iters = 5
            label_propagation_majority(g, iters=lp_iters).count()
            _, t = _timed(
                lambda: label_propagation_majority(g, iters=lp_iters).count())
            results[cores] = {"sec": round(t, 3), "iters": lp_iters,
                              "etps": nvals * lp_iters / t}
        elif algo == "tc":
            # one-shot (non-iterative): degree-oriented adjacency +
            # array_intersect — the compute-bound end of the quartet
            triangle_count(g)
            _, t = _timed(lambda: triangle_count(g))
            results[cores] = {"sec": round(t, 3), "iters": 1,
                              "etps": nvals / t}
        elif algo == "tc_approx":
            # DOULION (Tsourakakis KDD'09) — the shipped 100-TB TC
            # mitigation: hash-sparsify edges at 1/k, exact-count the
            # subgraph, scale by k³. The dominant (DRAM-bound) neighbor-
            # array stage shrinks ~k², which is exactly what the exact
            # TC's single-box bandwidth ceiling calls for; this mode
            # measures that claim instead of asserting it.
            tc_k = int(os.environ.get("SPARK_GRAFT_TC_K", "4"))
            triangle_count_approx(g, k=tc_k)  # warmup
            est, t = _timed(lambda: triangle_count_approx(g, k=tc_k))
            results[cores] = {"sec": round(t, 3), "iters": 1,
                              "etps": nvals / t, "estimate": est, "k": tc_k}
        else:
            w_edges = pagerank_prep(g)
            # warmup: JIT, cache population, and the one-time post-build
            # ContextCleaner settling (measured: first ~3 iters spike 2-5×)
            pagerank(g, fixed_iters=4, w_edges=w_edges).count()
            _, t = _timed(lambda: pagerank(g, fixed_iters=pr_iters, w_edges=w_edges).count())
            results[cores] = {"sec": round(t, 3), "iters": pr_iters,
                              "etps": nvals * pr_iters / t}
        # Self-documenting contention gate: a 1-min load average above
        # cores + 2 when this process IS the only intended load means a
        # noisy-neighbor window overlapped the phase (VERDICT r3 task 1
        # applied to scaling mode). load_before additionally catches a
        # phase started while the previous job's load was still draining.
        load_after = round(os.getloadavg()[0], 2)
        results[cores]["load_before"] = load_before
        results[cores]["load_after"] = load_after
        results[cores]["contended"] = load_after > cores + 2 or load_before > 2
        if algo == "tc_approx" and cores == n4:
            # one untimed exact count (outside the gated measurement) to
            # report the estimator's relative error alongside efficiency
            exact = triangle_count(g)
            tc_err["exact_triangles"] = exact
            tc_err["rel_err"] = round(
                abs(results[cores]["estimate"] - exact) / exact, 4
            ) if exact else None
        spark.stop()
        time.sleep(2)
    assert results[n]["iters"] == results[n4]["iters"], "superstep counts diverged"
    it_lbl = results[n]["iters"]
    eff = results[n4]["etps"] / ((n4 / n) * results[n]["etps"])
    out = {
        "algo": algo,
        "graph": f"rmat_s{scale} (Graph500 a=.57 b=c=.19)",
        "edges": nvals,
        "vertices": n_vertices,
        "iters": it_lbl,
        "n_cores": n,
        "n4_cores": n4,
        f"local[{n}]": results[n],
        f"local[{n4}]": results[n4],
        "scaling_efficiency": round(eff, 3),
    }
    if algo == "tc_approx":
        out["k"] = results[n4].get("k")
        out["estimate"] = results[n4].get("estimate")
        out.update(tc_err)
    names = {"pr": "PageRank", "cc": "Connected-components",
             "lp": "Label-propagation (majority)", "tc": "Triangle-count",
             "tc_approx": "Triangle-count DOULION estimator"}
    with open("BENCH.md", "a") as fh:
        fh.write(
            f"\n## {names[algo]} scaling run ({time.strftime('%Y-%m-%d %H:%M:%S')})\n\n"
            f"graph: deterministic RMAT scale={scale} (|V|={n_vertices:,}, "
            f"|E|={nvals:,} cleaned), {it_lbl} timed iterations after prep+warmup, "
            f"identical parquet input and {parts} shuffle partitions at both sizes.\n\n"
            f"| config | wall sec ({it_lbl} iters) | edges×iters/sec |\n|---|---|---|\n"
            f"| local[{n}] | {results[n]['sec']} | {results[n]['etps']:.3e} |\n"
            f"| local[{n4}] | {results[n4]['sec']} | {results[n4]['etps']:.3e} |\n\n"
            f"scaling efficiency {n}→{n4} cores = "
            f"**{eff:.3f}** (target ≥ 0.8 at {n4/n:.0f}× cores)\n\n"
            f"phase loads (1-min avg before → after): "
            f"local[{n}] {results[n]['load_before']} → {results[n]['load_after']}"
            f"{' **CONTENDED**' if results[n]['contended'] else ''}; "
            f"local[{n4}] {results[n4]['load_before']} → {results[n4]['load_after']}"
            f"{' **CONTENDED**' if results[n4]['contended'] else ''}\n"
            + (
                f"\nDOULION k={out['k']}: estimate {out['estimate']:,} vs exact "
                f"{out['exact_triangles']:,} triangles → relative error "
                f"**{out['rel_err']:.2%}**\n"
                if algo == "tc_approx" and out.get("exact_triangles")
                else ""
            )
        )
    shutil.rmtree(scratch, ignore_errors=False) if os.environ.get(
        "SPARK_GRAFT_CLEAN_SCRATCH") else None
    return out


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
        n4 = int(sys.argv[3]) if len(sys.argv) > 3 else 32
        algo = os.environ.get("SPARK_GRAFT_SCALING_ALGO", "pr")
        print(json.dumps(run_scaling(sf_dir, n, n4, algo=algo)))
    else:
        print(json.dumps(run_headline(sf_dir, cpus)))
