"""The benchmark workloads: closed loops with one client.

Each workload has a set-up, then runs operations one after another; the
next starts only when the previous one has returned. An operation's
timed region ends when its results are collected on the driver; the
output checks run after it, untimed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from graphblast_spark.algorithms.cc import (
    connected_components,
    incremental_connected_components,
    remap_labels,
)
from graphblast_spark.algorithms.lp import label_propagation_majority
from graphblast_spark.algorithms.pagerank import (
    incremental_pagerank,
    pagerank,
    pagerank_prep,
    remap_ranks,
)
from graphblast_spark.algorithms.tc import triangle_count
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import SuperstepRunner
from graphblast_spark.sources.distill import distill_edges
from graphblast_spark.sources.pages import read_pages
from graphblast_spark.streaming.ingest import edge_log_graph, stream_pages, streaming_distill

from perfbench import reference
from perfbench.inputs import make_corpus, write_pages
from perfbench.stats import edges_per_s, median
from perfbench.trace import Span, Tracer

# fewer than the engine's usual PR-10 and LP-5, and smaller graphs than
# its 100k-page corpus: 48 runs must fit in the benchmark's time budget
# (README, "Sizes")
PR_ITERS = 5
LP_ITERS = 2
PR_RTOL = 1e-6


@dataclass
class OpResult:
    """One operation: its root span, per-op metrics, and the outputs the
    checks compare against the references."""

    root: Span | None
    e2e: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)
    # (edges, supersteps, CPU seconds) of each superstep-loop call
    calls: list[tuple[int, int, float]] = field(default_factory=list)
    # seconds the tracer spent reading Spark's status store during the op
    trace_overhead_s: float = 0.0

    def finish(self, root: Span) -> "OpResult":
        self.root = root
        self.e2e["op_s"] = root.wall_s
        self.e2e["op_cpu_s"] = root.cpu_s
        self.e2e["edges_per_cpu_s"] = edges_per_s(self.calls)
        self.layer["algorithms.edges_per_cpu_s"] = self.e2e["edges_per_cpu_s"]
        return self


def _superstep_log(run_dir: str) -> list[float]:
    """Per-superstep wall seconds from the runner's metrics.jsonl."""
    with open(os.path.join(run_dir, "metrics.jsonl")) as fh:
        return [json.loads(line)["ms"] / 1000.0 for line in fh]


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


def _by_id(pdf: pd.DataFrame, col: str, n: int) -> np.ndarray | None:
    """Dense per-vertex array from an (id, col) frame; None unless the
    ids are exactly 0..n-1."""
    ids = pdf["id"].to_numpy()
    if len(ids) != n or not np.array_equal(np.sort(ids), np.arange(n)):
        return None
    out = np.empty(n, dtype=pdf[col].dtype)
    out[ids] = pdf[col].to_numpy()
    return out


def _sorted_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    order = np.lexsort((dst, src))
    return np.stack([src[order], dst[order]], axis=1)


def _analytics_problems(out: dict, ref: dict) -> list[str]:
    """Compare the collected outputs with the reference values of every
    algorithm in ``ref`` (pr, cc, and optionally lp, tc)."""
    bad = []
    n = len(ref["cc"])
    ranks = _by_id(out["pr"], "val", n)
    if ranks is None or not np.allclose(ranks, ref["pr"], rtol=PR_RTOL, atol=0.0):
        bad.append("pagerank differs from the reference")
    comps = _by_id(out["cc"], "component", n)
    if comps is None or not np.array_equal(comps, ref["cc"]):
        bad.append("connected components differ from the reference")
    if "lp" in ref:
        labels = _by_id(out["lp"], "label", n)
        if labels is None or not np.array_equal(labels, ref["lp"]):
            bad.append("label propagation differs from the reference")
    if "tc" in ref and out["tc"] != ref["tc"]:
        bad.append(f"triangle count {out['tc']} != reference {ref['tc']}")
    return bad


def _edge_problems(g: Graph, n: int, pairs: np.ndarray) -> list[str]:
    e = g.edges.select("src", "dst").toPandas()
    got = _sorted_pairs(e["src"].to_numpy(), e["dst"].to_numpy())
    want = _sorted_pairs(pairs[:, 0], pairs[:, 1])
    bad = []
    if g.n != n:
        bad.append(f"graph has {g.n} vertices, expected {n}")
    if got.shape != want.shape or not np.array_equal(got, want):
        bad.append(f"graph edges differ from the generated links ({len(got)} vs {len(want)})")
    return bad


class Workload:
    name = ""
    # pages per input size; "tiny" is for the benchmark's own smoke tests
    SIZES = {"default": 10000, "tiny": 300}

    def __init__(self, tracer: Tracer, scratch: str, size: str, seed: int, inputs_root: str):
        self.spark = None  # set by setup(), after the inputs are prepared
        self.tr = tracer
        self.scratch = scratch
        self.n = self.SIZES[size]
        self.seed = seed
        # generated once per (workload, size, seed), outside every timed region
        self.data_dir = os.path.join(inputs_root, f"{self.name}-n{self.n}-seed{seed}")

    def _pagerank_and_cc(self, g: Graph, op_dir: str, pr_call, cc_call) -> OpResult:
        """The PR and CC calls every operation makes, each in its layer
        span. ``pr_call(run_dir)`` returns (ranks, collected ranks, prep
        seconds), ``cc_call(run_dir)`` (components, collected components)."""
        tr = self.tr
        with tr.span("algorithms.pagerank") as s_pr:
            pr_df, pr_out, prep_s = pr_call(f"{op_dir}/pr")
        with tr.span("algorithms.cc") as s_cc:
            cc_df, cc_out = cc_call(f"{op_dir}/cc")
        pr_steps = _superstep_log(f"{op_dir}/pr")
        cc_steps = _superstep_log(f"{op_dir}/cc")
        return OpResult(
            root=None,
            e2e={"pr_cpu_s": s_pr.cpu_s, "cc_cpu_s": s_cc.cpu_s},
            layer={
                "algorithms.pagerank.prep_s": prep_s,
                "algorithms.pagerank.supersteps": float(len(pr_steps)),
                "algorithms.pagerank.superstep_s": median(pr_steps),
                "algorithms.cc.supersteps": float(len(cc_steps)),
                "algorithms.cc.superstep_s": median(cc_steps),
            },
            outputs={"pr": pr_out, "cc": cc_out, "pr_df": pr_df, "cc_df": cc_df},
            calls=[(g.nvals, len(pr_steps), s_pr.cpu_s), (g.nvals, len(cc_steps), s_cc.cpu_s)],
        )


class WebPipeline(Workload):
    """pages parquet → distill → build → PR, CC, LP, TC, every operation."""

    name = "web_pipeline"

    def prepare(self) -> dict:
        n = self.n
        self.corpus = make_corpus(n, self.seed)
        self.pages_dir = os.path.join(self.data_dir, "pages")
        if not os.path.isdir(self.pages_dir):
            tmp = self.pages_dir + f".tmp{os.getpid()}"
            write_pages(self.corpus.table(np.arange(n)), tmp, files=4)
            os.replace(tmp, self.pages_dir)
        pairs = self.corpus.link_pairs(np.arange(n))  # page i has dense id i
        src, dst = pairs[:, 0], pairs[:, 1]
        self.pairs = pairs
        self.ref = {
            "pr": reference.pagerank(n, src, dst, iters=PR_ITERS)[0],
            "cc": reference.components(n, src, dst),
            "lp": reference.label_propagation(n, src, dst, LP_ITERS),
            "tc": reference.triangles(src, dst),
        }
        return {"pages": n, "vertices": n, "edges": len(pairs)}

    def setup(self, spark) -> None:
        self.spark = spark
        self.pages_read = read_pages(spark, self.pages_dir, format="parquet").count()

    def check_setup(self) -> list[str]:
        n = self.pages_read
        return [] if n == self.corpus.n_pages else [f"read {n} pages"]

    def ops_left(self) -> bool:
        return True

    def op(self, i: int) -> OpResult:
        tr, spark = self.tr, self.spark
        op_dir = os.path.join(self.scratch, f"op{i}")

        def pr_call(run_dir):
            t0 = time.perf_counter()
            w = pagerank_prep(g)
            prep_s = time.perf_counter() - t0
            ranks = pagerank(g, fixed_iters=PR_ITERS, w_edges=w, runner=SuperstepRunner(spark, run_dir=run_dir))
            out = ranks.toPandas()
            w.unpersist()
            return ranks, out, prep_s

        def cc_call(run_dir):
            comps = connected_components(g, runner=SuperstepRunner(spark, run_dir=run_dir))
            return comps, comps.toPandas()

        with tr.span("op") as root:
            with tr.span("sources.distill") as s_d:
                pages = read_pages(spark, self.pages_dir, format="parquet")
                edges, url_map = distill_edges(pages)
            with tr.span("matrix.build"):
                g = Graph.build(edges, vertices=url_map.select("id"))
            res = self._pagerank_and_cc(g, op_dir, pr_call, cc_call)
            with tr.span("algorithms.lp") as s_lp:
                lp_run = f"{op_dir}/lp"
                res.outputs["lp"] = label_propagation_majority(
                    g, iters=LP_ITERS, runner=SuperstepRunner(spark, run_dir=lp_run)
                ).toPandas()
            with tr.span("algorithms.tc"):
                res.outputs["tc"] = triangle_count(g)
        lp_steps = _superstep_log(lp_run)
        res.calls.append((g.nvals, len(lp_steps), s_lp.cpu_s))
        res.layer["algorithms.lp.superstep_s"] = median(lp_steps)
        res.layer["algorithms.tc.triangles"] = float(res.outputs["tc"])
        res.layer["sources.distill.pages_per_s"] = self.corpus.n_pages / s_d.wall_s
        res.outputs.update(graph=g, url_map=url_map, edges=edges)
        return res.finish(root)

    def check(self, res: OpResult) -> list[str]:
        g = res.outputs["graph"]
        return _edge_problems(g, self.corpus.n_pages, self.pairs) + _analytics_problems(
            res.outputs, self.ref
        )

    def layer_counts(self, res: OpResult) -> dict[str, float]:
        """Counts that cost a Spark job; gathered in traced runs only."""
        rows = res.outputs["edges"].count()
        return {
            "sources.distill.edges_out": float(rows),
            "matrix.build.kept_ratio": res.outputs["graph"].nvals / rows,
        }

    def release(self, res: OpResult) -> None:
        res.outputs["graph"].unpersist()
        res.outputs["url_map"].unpersist()


class IncrementalRefresh(Workload):
    """Set-up streams 90% of the corpus into an edge log and computes cold
    PR and CC. Every operation appends one 5% page batch, re-runs the
    streaming distill, rebuilds the graph from the log, and warm-starts
    PR and CC from the previous scores through durable superstep
    runners."""

    name = "incremental_refresh"
    SIZES = {"default": 10000, "tiny": 300}
    BASE_SHARE = 0.9
    BATCH_SHARE = 0.05
    BATCHES = 6  # the most operations one run can make

    def prepare(self) -> dict:
        n = self.n
        n_base = int(n * self.BASE_SHARE)
        n_batch = int(n * self.BATCH_SHARE)
        total = n_base + self.BATCHES * n_batch
        self.corpus = make_corpus(total, self.seed)
        order = np.random.default_rng(self.seed + 1).permutation(total)
        self.base_pages = np.sort(order[:n_base])
        self.batch_pages = [
            np.sort(order[n_base + b * n_batch : n_base + (b + 1) * n_batch])
            for b in range(self.BATCHES)
        ]
        self.inputs_dir = os.path.join(self.data_dir, "pages")
        if not os.path.isdir(self.inputs_dir):
            tmp = self.inputs_dir + f".tmp{os.getpid()}"
            write_pages(self.corpus.table(self.base_pages), os.path.join(tmp, "base"), files=4)
            for b, pages in enumerate(self.batch_pages):
                write_pages(self.corpus.table(pages), os.path.join(tmp, f"batch{b:02d}"), files=1)
            os.replace(tmp, self.inputs_dir)
        self.ingested = self.base_pages
        self.next_batch = 0
        pairs = self.corpus.link_pairs(self.base_pages)
        return {"pages": len(self.base_pages), "vertices": len(np.unique(pairs)), "edges": len(pairs)}

    # -- paths -------------------------------------------------------------
    def _append(self, name: str) -> None:
        """Move one prepared batch into the stream source directory."""
        src = os.path.join(self.inputs_dir, name)
        for f in sorted(os.listdir(src)):
            dst = os.path.join(self.source, f"{name}-{f}")
            shutil.copyfile(os.path.join(src, f), dst + ".tmp")
            os.replace(dst + ".tmp", dst)

    def _ingest(self) -> None:
        q = streaming_distill(stream_pages(self.spark, self.source), self.log, self.stream_ckpt)
        q.awaitTermination()

    def _truth(self) -> tuple[np.ndarray, np.ndarray]:
        """(observed page numbers, edges in dense-id space) of the log: the
        vertex universe is every url that appears as a source or target."""
        pairs = self.corpus.link_pairs(self.ingested)
        observed = np.unique(pairs)
        return observed, np.searchsorted(observed, pairs)

    # -- set-up --------------------------------------------------------------
    def setup(self, spark) -> None:
        self.spark = spark
        tr = self.tr
        self.source = os.path.join(self.scratch, "source")
        self.log = os.path.join(self.scratch, "edge_log")
        self.stream_ckpt = os.path.join(self.scratch, "stream_ckpt")
        os.makedirs(self.source)
        self._append("base")
        with tr.span("streaming.ingest"):
            self._ingest()
        with tr.span("matrix.build"):
            g, url_map = edge_log_graph(spark, self.log)
        with tr.span("algorithms.pagerank"):
            ranks = pagerank(g)
            self.prev_ranks_pd = ranks.toPandas()
        with tr.span("algorithms.cc"):
            comps = connected_components(g)
            self.cold_comps_pd = comps.toPandas()
        self.state = {"graph": g, "url_map": url_map, "ranks": ranks, "comps": comps}

    def check_setup(self) -> list[str]:
        """Cold PR and CC of the set-up against the references."""
        observed, pairs = self._truth()
        n = len(observed)
        src, dst = pairs[:, 0], pairs[:, 1]
        bad = _edge_problems(self.state["graph"], n, pairs)
        ranks = _by_id(self.prev_ranks_pd, "val", n)
        if ranks is None or not np.allclose(ranks, reference.pagerank(n, src, dst)[0], rtol=PR_RTOL, atol=0.0):
            bad.append("cold pagerank differs from the reference")
        comps = _by_id(self.cold_comps_pd, "component", n)
        if comps is None or not np.array_equal(comps, reference.components(n, src, dst)):
            bad.append("cold connected components differ from the reference")
        self.observed = observed
        self.prev_ranks = ranks
        return bad

    def ops_left(self) -> bool:
        return self.next_batch < self.BATCHES

    def op(self, i: int) -> OpResult:
        tr, spark = self.tr, self.spark
        op_dir = os.path.join(self.scratch, f"op{i}")
        prev = self.state
        b = self.next_batch
        self.next_batch += 1
        self.ingested = np.sort(np.concatenate([self.ingested, self.batch_pages[b]]))

        def pr_call(run_dir):
            t0 = time.perf_counter()
            w = pagerank_prep(g)
            prep_s = time.perf_counter() - t0
            init = remap_ranks(prev["ranks"], prev["url_map"], url_map)
            ranks = incremental_pagerank(
                g, init, runner=SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1), w_edges=w
            )
            out = ranks.toPandas()
            w.unpersist()
            return ranks, out, prep_s

        def cc_call(run_dir):
            labels = prev["comps"].select("id", F.col("component").alias("val"))
            init = remap_labels(labels, prev["url_map"], url_map).withColumnRenamed("val", "component")
            comps = incremental_connected_components(
                g, init, runner=SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1)
            )
            return comps, comps.toPandas()

        with tr.span("op") as root:
            with tr.span("streaming.ingest"):
                self._append(f"batch{b:02d}")
                self._ingest()
            with tr.span("matrix.build"):
                g, url_map = edge_log_graph(spark, self.log)
            res = self._pagerank_and_cc(g, op_dir, pr_call, cc_call)
        res.layer["runtime.superstep.checkpoint_mb"] = _dir_mb(f"{op_dir}/pr") + _dir_mb(f"{op_dir}/cc")
        res.layer["streaming.ingest.log_mb"] = _dir_mb(self.log)
        res.outputs.update(graph=g, url_map=url_map, prev=prev)
        self.state = {
            "graph": g, "url_map": url_map, "ranks": res.outputs["pr_df"], "comps": res.outputs["cc_df"],
        }
        return res.finish(root)

    def check(self, res: OpResult) -> list[str]:
        observed, pairs = self._truth()
        n = len(observed)
        src, dst = pairs[:, 0], pairs[:, 1]
        # warm start as the engine defines it: carried ranks by url, new
        # vertices at 1/n; the reference iterates from the same start
        init = np.full(n, 1.0 / n)
        init[np.searchsorted(observed, self.observed)] = self.prev_ranks
        ref = {
            "pr": reference.pagerank(n, src, dst, init=init)[0],
            "cc": reference.components(n, src, dst),
        }
        bad = _edge_problems(res.outputs["graph"], n, pairs) + _analytics_problems(res.outputs, ref)
        self.observed = observed
        self.prev_ranks = _by_id(res.outputs["pr"], "val", n)
        return bad

    def layer_counts(self, res: OpResult) -> dict[str, float]:
        rows = self.spark.read.parquet(self.log).count()
        return {"matrix.build.kept_ratio": res.outputs["graph"].nvals / rows}

    def release(self, res: OpResult) -> None:
        prev = res.outputs["prev"]
        prev["graph"].unpersist()
        prev["url_map"].unpersist()


WORKLOADS = {w.name: w for w in (WebPipeline, IncrementalRefresh)}
