"""spark-submit entry points — the engine's analog of the reference's
example binaries (bin/gpr, bin/gbfs, …) and their CLI surface
(util.hpp:39-132 parseArgs: --max_niter, --niter, --source, --seed,
--directed, --switchpoint, --mxvmode, --timing).

Usage (cluster or local):

    spark-submit --py-files graphblast_spark.zip -m graphblast_spark.cli \
        pr --edges /data/edges.parquet --output /out/pr --max-niter 10

or, during development::

    python -m graphblast_spark.cli pr --fixture chesapeake

The edge input is any parquet with (src long, dst long[, val double]);
``--pages`` instead runs the full north-rule path: pages table →
distill → Graph → algorithm.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from graphblast_spark.runtime.superstep import truncate_plan


def _build_graph(spark, args):
    from pyspark.sql import functions as F

    from graphblast_spark.matrix import Graph

    if args.load_graph:
        from graphblast_spark.sources.store import load_graph

        return load_graph(spark, args.load_graph)
    if args.fixture:
        from graphblast_spark.sources.mtx import fixture_graph

        return fixture_graph(spark, args.fixture, directed=args.directed)
    if args.pages:
        from graphblast_spark.sources.distill import distill_edges
        from graphblast_spark.sources.pages import read_pages

        # parquet path or Iceberg table identifier (auto-detected)
        pages = read_pages(spark, args.pages)
        edges, urlmap = distill_edges(pages)
        vertices = urlmap.select("id")
        return Graph.build(edges, vertices=vertices,
                           symmetrize=args.directed == 2)
    if args.rmat is not None:
        from graphblast_spark.sources.rmat import rmat_edges, rmat_vertices

        return Graph.build(
            rmat_edges(spark, scale=args.rmat, seed=args.seed),
            vertices=rmat_vertices(spark, args.rmat),
            symmetrize=args.directed == 2,
        )
    edges = spark.read.parquet(args.edges)
    if "val" not in edges.columns:
        edges = edges.withColumn("val", F.lit(1.0))
    return Graph.build(edges, symmetrize=args.directed == 2)


def _write(df, args, default_name):
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        df.show(20, truncate=False)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="graphblast_spark")
    p.add_argument("algorithm",
                   choices=["pr", "cc", "lp", "louvain", "tc", "bfs", "sssp", "mis",
                            "gc", "gc-jp", "gc-spec", "lgc", "diameter",
                            "kcore", "closeness", "hits", "salsa", "katz", "eigen", "bc", "ppr",
                            "walks", "node2vec", "mst", "matching",
                            "scc", "bowtie", "anf", "harmonic", "trustrank", "spam-mass", "ktruss",
                            "clean-corpus", "domain-pr", "redact-pii",
                            "boilerplate"])
    p.add_argument("--edges", help="parquet edge table (src,dst[,val])")
    p.add_argument("--pages", help="pages-schema parquet (north-rule input)")
    p.add_argument("--fixture", help="named reference fixture graph")
    p.add_argument("--rmat", type=int, help="generate RMAT graph of this scale")
    p.add_argument("--output", help="output parquet path (default: show)")
    p.add_argument("--source", type=int, default=0, help="bfs/sssp/lgc source")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--directed", type=int, default=1, choices=[1, 2],
                   help="2 = symmetrize (reference --directed 2)")
    p.add_argument("--alpha", type=float, default=None,
                   help="damping (pr family default 0.85; katz attenuation default 0.05)")
    p.add_argument("--eps", type=float, default=1e-8)
    p.add_argument("--max-niter", type=int, default=100)
    p.add_argument("--niter", type=int, default=None,
                   help="fixed iteration count (skip convergence checks)")
    p.add_argument("--switchpoint", type=float, default=0.01)
    p.add_argument("--k", type=int, default=2, help="kcore: minimum degree")
    p.add_argument("--palette", type=int, default=8,
                   help="gc-spec: initial speculative palette size")
    p.add_argument("--n-sources", type=int, default=16,
                   help="closeness/diameter/bc: sampled root count")
    p.add_argument("--seeds", type=str, default="0",
                   help="ppr: comma-separated seed vertex ids")
    p.add_argument("--max-depth", type=int, default=None,
                   help="bc: bound the Brandes sweep depth")
    p.add_argument("--save-graph", help="persist the built graph to the "
                   "bucketed store under this name (build once, reload "
                   "shuffle-free in later jobs)")
    p.add_argument("--load-graph", help="load a stored graph by name "
                   "instead of building")
    p.add_argument("--store-path", help="external path for --save-graph tables")
    p.add_argument("--init-ranks", help="pr warm start: (id,val) parquet "
                   "from a previous run's --output")
    p.add_argument("--init-labels", help="cc warm start after an edge/"
                   "vertex APPEND: (id,component) parquet from a previous "
                   "run's --output (additions only merge components; "
                   "deletions require a cold run)")
    p.add_argument("--run-dir", help="checkpoint/metrics dir (resumable)")
    p.add_argument("--checkpoint-every", type=int, default=0)
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    # clean-corpus / domain-pr (training-data pipeline surface)
    p.add_argument("--docs", help="clean-corpus: documents parquet (doc_id, text)")
    p.add_argument("--eval-docs", help="clean-corpus: benchmark parquet to "
                   "decontaminate against")
    p.add_argument("--keep-langs", default="en",
                   help="clean-corpus: comma-separated lang_pred whitelist")
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--near-dup", default="clusters",
                   choices=["clusters", "simhash", "none"])
    p.add_argument("--span-tokens", type=int, default=20)
    p.add_argument("--url-edges", help="domain-pr: parquet of (src_url, dst_url)")
    p.add_argument("--domain-by", default="host", choices=["host", "site"])
    p.add_argument("--max-t", type=int, default=16,
                   help="anf: max distance t for the neighborhood function")
    p.add_argument("--lg-k", type=int, default=12,
                   help="anf: HLL sketch lgConfigK (error ≈ 1.04/√2^lg_k)")
    p.add_argument("--exact-anf", action="store_true",
                   help="anf: exact all-pairs MSBFS instead of HyperBall")
    p.add_argument("--levels", type=int, default=3,
                   help="louvain: max contraction levels")
    p.add_argument("--walk-length", type=int, default=8)
    p.add_argument("--walk-p", type=float, default=1.0,
                   help="node2vec return parameter")
    p.add_argument("--walk-q", type=float, default=1.0,
                   help="node2vec in-out parameter")
    p.add_argument("--min-docs", type=int, default=10,
                   help="boilerplate: distinct-doc support threshold")
    args = p.parse_args(argv)
    if args.alpha is None:
        args.alpha = 0.05 if args.algorithm == "katz" else 0.85

    from graphblast_spark import get_spark
    from graphblast_spark.descriptor import DEFAULT_DESC
    from graphblast_spark.runtime.superstep import SuperstepRunner

    spark = get_spark(master=args.master,
                      shuffle_partitions=args.shuffle_partitions,
                      app_name=f"graphblast_spark:{args.algorithm}")
    spark.sparkContext.setLogLevel("WARN")
    desc = DEFAULT_DESC.with_(max_niter=args.max_niter,
                              switchpoint=args.switchpoint)
    runner = SuperstepRunner(
        spark, run_dir=args.run_dir,
        checkpoint_every=args.checkpoint_every, name=args.algorithm,
    )

    if args.algorithm == "clean-corpus":
        from graphblast_spark.functions.pipeline import clean_corpus, retention_stats

        t0 = time.time()
        docs = spark.read.parquet(args.docs)
        ev = spark.read.parquet(args.eval_docs) if args.eval_docs else None
        out = clean_corpus(
            docs, eval_docs=ev,
            keep_langs=tuple(x for x in args.keep_langs.split(",") if x),
            min_quality=args.min_quality,
            near_dup=None if args.near_dup == "none" else args.near_dup,
            span_tokens=args.span_tokens,
        )
        n_out = out.count()
        _write(out, args, "clean_corpus")
        stats = {r["stage"]: r["n"] for r in retention_stats(out).collect()}
        print(json.dumps({
            "algorithm": "clean-corpus", "rows_out": n_out,
            "retention": stats, "sec": round(time.time() - t0, 3),
        }))
        return 0

    if args.algorithm == "redact-pii":
        from graphblast_spark.functions.pii import pii_stats, redact_pii

        t0 = time.time()
        docs = spark.read.parquet(args.docs)
        out = redact_pii(docs)
        n_out = out.count()
        _write(out, args, "redact_pii")
        stats = {r["kind"]: {"n_docs": r["n_docs"], "n_matches": r["n_matches"]}
                 for r in pii_stats(docs).collect()}
        print(json.dumps({
            "algorithm": "redact-pii", "rows_out": n_out,
            "incidence": stats, "sec": round(time.time() - t0, 3),
        }))
        return 0

    if args.algorithm == "boilerplate":
        from pyspark.sql import functions as F

        from graphblast_spark.functions.dedup import remove_boilerplate

        t0 = time.time()
        docs = spark.read.parquet(args.docs)
        out = remove_boilerplate(docs, min_docs=args.min_docs,
                                 span_tokens=args.span_tokens)
        n_out = out.count()
        _write(out, args, "boilerplate")
        agg = out.agg(
            F.sum("n_boiler_spans").alias("b"), F.sum("n_spans").alias("s")
        ).first()
        print(json.dumps({
            "algorithm": "boilerplate", "rows_out": n_out,
            "n_boiler_spans": int(agg["b"] or 0), "n_spans": int(agg["s"] or 0),
            "sec": round(time.time() - t0, 3),
        }))
        return 0

    if args.algorithm == "domain-pr":
        from pyspark.sql import functions as F

        from graphblast_spark.functions.urls import domain_edges
        from graphblast_spark.matrix import Graph
        from graphblast_spark.sources.distill import dense_edges, extract_columns, outlink_pairs

        t0 = time.time()
        if args.url_edges:
            pairs = spark.read.parquet(args.url_edges)
        elif args.pages:
            from graphblast_spark.sources.pages import read_pages

            pairs = outlink_pairs(extract_columns(read_pages(spark, args.pages)))
        else:
            p.error("domain-pr needs --url-edges or --pages")
        de = domain_edges(pairs, by=args.domain_by).transform(truncate_plan)
        edges, id_map = dense_edges(de.toDF("src_url", "dst_url", "val"))
        g = Graph.build(edges, vertices=id_map.select("id"))
        from graphblast_spark import algorithms as A

        # weighted: the domain edge val counts aggregated page links —
        # the transition kernel must honor it
        ranks = A.pagerank(g, alpha=args.alpha, eps=args.eps,
                           fixed_iters=args.niter, runner=runner,
                           weighted=True)
        out = ranks.join(id_map, "id").select(
            F.col("url").alias("domain"), F.col("val").alias("pagerank")
        )
        n_out = out.count()
        _write(out, args, "domain_pr")
        print(json.dumps({
            "algorithm": "domain-pr", "n_domains": g.n, "n_domain_edges": g.nvals,
            "rows_out": n_out, "sec": round(time.time() - t0, 3),
        }))
        return 0

    t0 = time.time()
    g = _build_graph(spark, args)
    if args.save_graph:
        from graphblast_spark.sources.store import save_graph

        save_graph(g, args.save_graph, path=args.store_path)
    t_build = time.time() - t0

    from graphblast_spark import algorithms as A

    t0 = time.time()
    if args.algorithm == "pr":
        warm = spark.read.parquet(args.init_ranks) if args.init_ranks else None
        out = A.pagerank(g, alpha=args.alpha, eps=args.eps, desc=desc,
                         runner=runner, fixed_iters=args.niter,
                         init_ranks=warm)
    elif args.algorithm == "cc":
        if args.init_labels:
            prev = spark.read.parquet(args.init_labels)
            out = A.incremental_connected_components(
                g, prev, desc=desc, runner=runner
            )
        else:
            out = A.connected_components(g, desc=desc, runner=runner)
    elif args.algorithm == "lp":
        out = A.label_propagation_majority(g, iters=args.niter or 10)
    elif args.algorithm == "louvain":
        out = A.louvain(g, levels=args.levels,
                        move_rounds=args.niter or 4, runner=runner)
    elif args.algorithm == "tc":
        n_tri = A.triangle_count(g)
        out = spark.createDataFrame([(n_tri,)], "n_triangles long")
    elif args.algorithm == "bfs":
        out = A.bfs(g, source=args.source, desc=desc, runner=runner)
    elif args.algorithm == "sssp":
        out = A.sssp(g, source=args.source, desc=desc, runner=runner)
    elif args.algorithm == "mis":
        out = A.mis(g, desc=desc, runner=runner)
    elif args.algorithm == "gc":
        out = A.graph_coloring(g, desc=desc, runner=runner)
    elif args.algorithm == "gc-jp":
        out = A.graph_coloring_jp(g, desc=desc, runner=runner)
    elif args.algorithm == "gc-spec":
        out = A.graph_coloring_spec(g, palette=args.palette, desc=desc, runner=runner)
    elif args.algorithm == "kcore":
        out = A.k_core(g, k=args.k, desc=desc, runner=runner)
    elif args.algorithm == "closeness":
        out = A.closeness_centrality(g, n_sources=min(g.n, args.n_sources), desc=desc)
    elif args.algorithm == "hits":
        out = A.hits(g, fixed_iters=args.niter or 5, runner=runner)
    elif args.algorithm == "salsa":
        out = A.salsa(g, fixed_iters=args.niter or 5, runner=runner)
    elif args.algorithm == "katz":
        out = A.katz_centrality(
            g, alpha=args.alpha, fixed_iters=args.niter or 5, runner=runner)
    elif args.algorithm == "eigen":
        out = A.eigenvector_centrality(
            g, fixed_iters=args.niter or 10, runner=runner)
    elif args.algorithm == "walks":
        out = A.random_walks(
            g, n_roots=min(g.n, args.n_sources), walk_length=args.walk_length)
    elif args.algorithm == "node2vec":
        out = A.node2vec_walks(
            g, n_roots=min(g.n, args.n_sources),
            walk_length=args.walk_length, p=args.walk_p, q=args.walk_q)
    elif args.algorithm == "mst":
        out = A.minimum_spanning_forest(g, runner=runner)
    elif args.algorithm == "matching":
        out = A.maximal_matching(g, runner=runner)
    elif args.algorithm == "bc":
        out = A.betweenness_centrality(
            g, n_sources=min(g.n, args.n_sources),
            max_depth=args.max_depth, runner=runner)
    elif args.algorithm == "ppr":
        seeds = [int(x) for x in args.seeds.split(",") if x != ""]
        out = A.personalized_pagerank(g, seeds, alpha=args.alpha,
                                      fixed_iters=args.niter or 10, runner=runner)
    elif args.algorithm == "ktruss":
        out = A.k_truss(g, k=args.k, runner=runner)
    elif args.algorithm == "scc":
        out = A.strongly_connected_components(g, runner=runner)
    elif args.algorithm == "bowtie":
        out = A.bowtie_decomposition(g, runner=runner)
    elif args.algorithm == "anf":
        if args.exact_anf:
            out = A.neighborhood_function_exact(g, max_t=args.max_t, runner=runner)
        else:
            out = A.hyperball(g, max_t=args.max_t, lg_config_k=args.lg_k,
                              runner=runner)
    elif args.algorithm == "harmonic":
        out = A.harmonic_centrality_hyperball(g, max_t=args.max_t,
                                              lg_config_k=args.lg_k,
                                              runner=runner)
    elif args.algorithm == "trustrank":
        seeds = [int(x) for x in args.seeds.split(",") if x != ""]
        out = A.trustrank(g, seeds, alpha=args.alpha,
                          fixed_iters=args.niter or 10, runner=runner)
    elif args.algorithm == "spam-mass":
        seeds = [int(x) for x in args.seeds.split(",") if x != ""]
        out = A.spam_mass(g, seeds, alpha=args.alpha,
                          fixed_iters=args.niter or 10, runner=runner)
    elif args.algorithm == "lgc":
        out = A.lgc(g, source=args.source, alpha=0.15, eps=1e-6,
                    desc=desc, runner=runner)
    else:  # diameter
        d = A.diameter(g, n_sources=min(g.n, args.n_sources), desc=desc)
        out = spark.createDataFrame([(d,)], "diameter long")
    n_out = out.count()
    t_algo = time.time() - t0

    _write(out, args, args.algorithm)
    print(json.dumps({
        "algorithm": args.algorithm, "n_vertices": g.n, "n_edges": g.nvals,
        "rows_out": n_out, "build_sec": round(t_build, 3),
        "algo_sec": round(t_algo, 3),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
