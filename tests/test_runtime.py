"""M4: superstep runtime — checkpoint, metrics, resume (north rule:
'resumable from checkpoint with per-partition lineage + metrics').

The key contract (FIXTURES.md §6): run PR k iters with durable
checkpoints, start a FRESH runner on the same run_dir, and the final
vector equals an uninterrupted run at equal iteration count."""

from __future__ import annotations

import json
import os

import pytest

from graphblast_spark.algorithms import (
    betweenness_centrality,
    connected_components,
    core_decomposition,
    graph_coloring,
    graph_coloring_jp,
    graph_coloring_spec,
    harmonic_centrality_hyperball,
    hyperball,
    incremental_connected_components,
    k_core,
    k_truss,
    label_propagation_majority,
    lgc,
    louvain,
    maximal_matching,
    minimum_spanning_forest,
    mis,
    pagerank,
    personalized_pagerank,
    strongly_connected_components,
    truss_decomposition,
)
from graphblast_spark.descriptor import DEFAULT_DESC
from graphblast_spark.runtime.superstep import SuperstepRunner
from graphblast_spark.sources.mtx import fixture_graph


def _ranks(df):
    return {r["id"]: r["val"] for r in df.collect()}


def test_pagerank_checkpoint_resume_equivalence(spark, tmp_path):
    g = fixture_graph(spark, "chesapeake")
    run_dir = str(tmp_path / "pr_run")

    # Uninterrupted 10 iters.
    full = _ranks(pagerank(g, fixed_iters=10))

    # Phase 1: 6 iters with checkpoints every 2.
    r1 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="pr")
    _ranks(pagerank(g, fixed_iters=6, runner=r1))
    metas = [d for d in os.listdir(run_dir) if d.startswith("ckpt_")]
    assert metas, "durable checkpoints written"

    # Phase 2: fresh runner resumes from newest checkpoint → finish to 10.
    r2 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="pr")
    meta = r2.latest_checkpoint()
    assert meta["iter"] == 5  # iters 0..5 done, ckpt at (it+1)%2==0 → it=5
    resumed = _ranks(pagerank(g, fixed_iters=10, runner=r2))

    assert set(resumed) == set(full)
    for k in full:
        assert resumed[k] == pytest.approx(full[k], abs=1e-15)
    g.unpersist()


def test_personalized_pagerank_checkpoint_resume_equivalence(spark, tmp_path):
    """PPR runs pagerank's loop, so it checkpoints and resumes like it."""
    g = fixture_graph(spark, "chesapeake")
    run_dir = str(tmp_path / "ppr_run")
    seeds = [0, 3]

    full = _ranks(personalized_pagerank(g, seeds, fixed_iters=10))

    r1 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="ppr")
    _ranks(personalized_pagerank(g, seeds, fixed_iters=6, runner=r1))
    assert any(d.startswith("ckpt_") for d in os.listdir(run_dir))

    r2 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="ppr")
    assert r2.latest_checkpoint()["iter"] == 5
    resumed = _ranks(personalized_pagerank(g, seeds, fixed_iters=10, runner=r2))

    assert set(resumed) == set(full)
    for k in full:
        assert resumed[k] == pytest.approx(full[k], abs=1e-15)
    g.unpersist()


def _incremental_cc(g, runner):
    prev = connected_components(g)
    return incremental_connected_components(g, prev, runner=runner)


def _metrics(run_dir):
    return [json.loads(l) for l in open(os.path.join(run_dir, "metrics.jsonl"))]


def _all_metrics(run_dir):
    """(dir, lines) of every metrics.jsonl under ``run_dir``, in path
    order: a loop run in levels (louvain) logs each level's runner
    beneath run_dir."""
    return [
        (root, _metrics(root))
        for root, _, files in sorted(os.walk(run_dir))
        if "metrics.jsonl" in files
    ]


LOOPS = {
    "pr_fixed": ("test_pr", lambda g, r: pagerank(g, fixed_iters=3, runner=r)),
    "pr_eps": ("test_pr", lambda g, r: pagerank(g, eps=1e-6, runner=r)),
    "cc": ("test_cc", lambda g, r: connected_components(g, runner=r)),
    "lp_majority": ("test_cc", lambda g, r: label_propagation_majority(g, iters=3, runner=r)),
    "incremental_cc": ("test_cc", _incremental_cc),
    "scc": ("test_pr", lambda g, r: strongly_connected_components(g, runner=r)),
    "core_decomposition": ("test_mesh", lambda g, r: core_decomposition(g, runner=r)),
    "k_truss": ("test_mesh", lambda g, r: k_truss(g, k=3, runner=r)),
    "hyperball": ("test_cc", lambda g, r: hyperball(g, max_t=8, runner=r)),
    "louvain": ("test_cc", lambda g, r: louvain(g, levels=2, runner=r)),
    "mis": ("test_mis", lambda g, r: mis(g, runner=r)),
}


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_metrics_jsonl_shape(spark, tmp_path, loop):
    """One metrics line per superstep, consecutive ``iter`` from 0, a
    wall ``ms`` on every line (perfbench reads ``["ms"]`` from each), the
    Spark ``jobs`` run (every superstep runs at least its own action)
    and the Janino ``classes`` compiled since the previous line."""
    fixture, run = LOOPS[loop]
    g = fixture_graph(spark, fixture)
    run_dir = str(tmp_path / "m")
    run(g, SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=0)).collect()
    logs = dict(_all_metrics(run_dir))
    assert logs
    # the loop's own runner logs at run_dir; louvain's levels log beneath it
    assert loop == "louvain" or run_dir in logs
    for lines in logs.values():
        assert lines
        assert [l["iter"] for l in lines] == list(range(len(lines)))
        assert all(isinstance(l["ms"], float) for l in lines)
        assert all(isinstance(l["jobs"], int) and l["jobs"] >= 1 for l in lines)
        assert all(isinstance(l["classes"], int) and l["classes"] >= 0 for l in lines)
    if loop == "pr_fixed":
        assert len(logs[run_dir]) == 3
    g.unpersist()


@pytest.mark.parametrize("checkpoint_every", [0, 1])
@pytest.mark.parametrize("loop", ["cc", "pr_eps"])
def test_one_job_per_superstep(spark, tmp_path, loop, checkpoint_every):
    """Each superstep of a converging loop is ONE Spark job: the loop
    runs without AQE (no job per query stage), the stop test's scalar
    is observed by the superstep's own action (no ``.first()`` job),
    and a due checkpoint's parquet write is that action (no truncation
    before it, no schema-inference job after it)."""
    fixture, run = LOOPS[loop]
    g = fixture_graph(spark, fixture)
    run_dir = str(tmp_path / "m")
    run(g, SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=checkpoint_every)).collect()
    lines = _metrics(run_dir)
    assert len(lines) >= 2
    assert [l["jobs"] for l in lines] == [1] * len(lines)
    if checkpoint_every:
        assert SuperstepRunner(spark, run_dir=run_dir).latest_checkpoint()["iter"] == len(lines) - 1
    g.unpersist()


# Loops whose stop decision reads an Observed hung on the superstep's
# own action: each superstep runs no count/isEmpty/agg job of its own,
# one job fewer than a probe of the state would cost.
CONVERTED = {
    "k_core": ("test_mesh", lambda g, r: k_core(g, k=3, runner=r), [2, 2, 2]),
    "core_decomposition": ("test_mesh", lambda g, r: core_decomposition(g, runner=r), [2, 2, 2]),
    "k_truss": ("chesapeake", lambda g, r: k_truss(g, k=4, runner=r), [1, 1, 1, 1]),
    "truss_decomposition": ("chesapeake", lambda g, r: truss_decomposition(g, runner=r), [2, 2, 2, 2, 2]),
    "scc": ("test_pr", lambda g, r: strongly_connected_components(g, runner=r), [13]),
    "hyperball": ("test_cc", lambda g, r: hyperball(g, max_t=8, runner=r), [1, 1, 1]),
    "harmonic": ("test_cc", lambda g, r: harmonic_centrality_hyperball(g, max_t=8, runner=r), [1, 1, 1]),
    "louvain": ("test_cc", lambda g, r: louvain(g, levels=2, runner=r), [3, 3, 3, 3, 3, 3, 3, 3]),
    "mis": ("test_mis", lambda g, r: mis(g, runner=r), [5, 5, 5]),
    "graph_coloring": ("test_mis", lambda g, r: graph_coloring(g, runner=r), [4, 4, 4, 4, 4]),
    "graph_coloring_spec": ("test_mis", lambda g, r: graph_coloring_spec(g, palette=1, runner=r), [4, 4, 4, 4]),
    "graph_coloring_jp": ("test_mis", lambda g, r: graph_coloring_jp(g, runner=r), [5, 5, 5, 5, 5]),
    "matching": ("test_mesh", lambda g, r: maximal_matching(g, runner=r), [3, 3, 3]),
    "mst": ("test_mesh", lambda g, r: minimum_spanning_forest(g, runner=r), [9]),
    "bc": ("test_bc", lambda g, r: betweenness_centrality(g, sources=[0], runner=r), [2, 2]),
    "lgc": ("test_bc", lambda g, r: lgc(g, source=0, fixed_iters=3, runner=r), [3, 3, 3]),
}


@pytest.mark.parametrize("loop", sorted(CONVERTED))
def test_converted_loop_jobs(spark, tmp_path, loop):
    """Each converted loop's per-superstep Spark jobs, pinned: the stop
    scalar (a survivor, mover, winner or frontier count; an exact
    estimate sum) is observed by the superstep's own action, so no
    superstep pays a separate probe job for it."""
    fixture, run, jobs = CONVERTED[loop]
    g = fixture_graph(spark, fixture)
    run_dir = str(tmp_path / "m")
    run(g, SuperstepRunner(spark, run_dir=run_dir)).collect()
    assert [l["jobs"] for _, lines in _all_metrics(run_dir) for l in lines] == jobs
    g.unpersist()


def test_pagerank_eps_checkpoint_resume(spark, tmp_path):
    """PR-to-eps: the stop test's ``err`` is committed in meta.json with
    the checkpoint it belongs to, and a fresh runner resumes from it to
    the undisturbed run's ranks and superstep count."""
    g = fixture_graph(spark, "chesapeake")
    full_dir, run_dir = str(tmp_path / "full"), str(tmp_path / "pr")
    full = _ranks(pagerank(g, runner=SuperstepRunner(spark, run_dir=full_dir)))
    n_full = len(_metrics(full_dir))
    assert n_full > 6

    # Phase 1: die after 5 supersteps (the cap returns silently).
    r1 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="pr")
    _ranks(pagerank(g, desc=DEFAULT_DESC.with_(max_niter=5), runner=r1))
    meta = r1.latest_checkpoint()
    assert meta["iter"] == 3
    logged = _metrics(run_dir)[3]["scalars"]["err"]
    assert isinstance(meta["scalars"]["err"], float) and meta["scalars"]["err"] == logged

    # Phase 2: a fresh runner continues after superstep 3.
    r2 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="pr")
    resumed = _ranks(pagerank(g, runner=r2))
    lines = _metrics(run_dir)
    assert [l["iter"] for l in lines[5:]] == list(range(4, n_full))
    assert set(resumed) == set(full)
    for k in full:
        assert resumed[k] == pytest.approx(full[k], abs=1e-15)
    g.unpersist()


def _core(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("loop", ["core_decomposition", "hyperball"])
def test_observed_stop_checkpoint_resume(spark, tmp_path, loop):
    """Loops whose stop scalars are observations resume from the
    scalars in meta.json: a fresh runner continues after the last
    checkpoint, takes the undisturbed run's supersteps and returns its
    output. Hyperball's N(0..t) series is read back from meta.json, not
    recomputed: a value planted there comes out as N(0)."""
    g = fixture_graph(spark, "chesapeake")
    full_dir, run_dir = str(tmp_path / "full"), str(tmp_path / "run")
    if loop == "core_decomposition":
        def run(r, cap=None):
            desc = DEFAULT_DESC if cap is None else DEFAULT_DESC.with_(max_niter=cap)
            return _core(core_decomposition(g, desc=desc, runner=r))
    else:
        def run(r, cap=None):
            return _core(hyperball(g, max_t=8 if cap is None else cap, runner=r))
    full = run(SuperstepRunner(spark, run_dir=full_dir))
    n_full = len(_metrics(full_dir))
    assert n_full >= 4

    # Phase 1: stop after 2 supersteps, a checkpoint after each (the
    # core loop raises at its cap, the crash being simulated).
    r1 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1, name=loop)
    if loop == "core_decomposition":
        with pytest.raises(RuntimeError, match="did not converge"):
            run(r1, cap=2)
    else:
        run(r1, cap=2)
    meta_path = os.path.join(run_dir, "ckpt_000001", "meta.json")
    meta = json.load(open(meta_path))
    assert meta["iter"] == 1 and meta["scalars"] == _metrics(run_dir)[1]["scalars"]
    if loop == "hyperball":
        assert meta["scalars"]["n_pairs"] == [t[1] for t in full[:3]]
        meta["scalars"]["n_pairs"][0] = -1.0
        json.dump(meta, open(meta_path, "w"))

    # Phase 2: a fresh runner continues after superstep 1.
    resumed = run(SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1, name=loop))
    assert [l["iter"] for l in _metrics(run_dir)[2:]] == list(range(2, n_full))
    if loop == "hyperball":
        assert resumed[0] == (0, -1.0)
        assert resumed[1:] == full[1:]
    else:
        assert resumed == full
    g.unpersist()


def test_cc_resume(spark, tmp_path):
    g = fixture_graph(spark, "test_cc")
    run_dir = str(tmp_path / "cc")
    full = {r["id"]: r["component"] for r in connected_components(g).collect()}

    r1 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1)
    desc = DEFAULT_DESC.with_(max_niter=1)  # simulate dying after 1 iter
    # max_niter exhaustion now fails loudly instead of returning a
    # non-converged label table — the superstep-0 checkpoint is durable
    # before the raise, which is exactly the crash being simulated.
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(g, desc=desc, runner=r1)

    r2 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1)
    resumed = {
        r["id"]: r["component"] for r in connected_components(g, runner=r2).collect()
    }
    assert resumed == full
    g.unpersist()


def test_torn_checkpoint_ignored(spark, tmp_path):
    """A ckpt dir without meta.json (torn write) must be skipped."""
    run_dir = str(tmp_path / "torn")
    os.makedirs(os.path.join(run_dir, "ckpt_000009"))
    runner = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1)
    assert runner.latest_checkpoint() is None
