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
    connected_components,
    incremental_connected_components,
    label_propagation_majority,
    pagerank,
    personalized_pagerank,
    strongly_connected_components,
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


LOOPS = {
    "pr_fixed": ("test_pr", lambda g, r: pagerank(g, fixed_iters=3, runner=r)),
    "pr_eps": ("test_pr", lambda g, r: pagerank(g, eps=1e-6, runner=r)),
    "cc": ("test_cc", lambda g, r: connected_components(g, runner=r)),
    "lp_majority": ("test_cc", lambda g, r: label_propagation_majority(g, iters=3, runner=r)),
    "incremental_cc": ("test_cc", _incremental_cc),
    "scc": ("test_pr", lambda g, r: strongly_connected_components(g, runner=r)),
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
    lines = [json.loads(l) for l in open(os.path.join(run_dir, "metrics.jsonl"))]
    assert lines
    assert [l["iter"] for l in lines] == list(range(len(lines)))
    assert all(isinstance(l["ms"], float) for l in lines)
    assert all(isinstance(l["jobs"], int) and l["jobs"] >= 1 for l in lines)
    assert all(isinstance(l["classes"], int) and l["classes"] >= 0 for l in lines)
    if loop == "pr_fixed":
        assert len(lines) == 3
    g.unpersist()


def _metrics(run_dir):
    return [json.loads(l) for l in open(os.path.join(run_dir, "metrics.jsonl"))]


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
