"""CLI smoke tests — the spark-submit entry surface (M6).

Run in-process via main(argv) against the current test session's
master (subprocess spark-submit would spawn a second JVM per test)."""

from __future__ import annotations

import json
import os

import pytest

from graphblast_spark.cli import main


@pytest.fixture(autouse=True)
def _use_test_master(monkeypatch):
    # cli's get_spark reuses the active session via getOrCreate()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")


def test_cli_pagerank_fixture(spark, capsys, tmp_path):
    out = str(tmp_path / "pr")
    rc = main(["pr", "--fixture", "chesapeake", "--niter", "5", "--output", out])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["algorithm"] == "pr" and stats["rows_out"] == 39
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    got = spark.read.parquet(out)
    assert abs(sum(r["val"] for r in got.collect()) - 1.0) < 0.1


def test_cli_store_and_warm_start(spark, capsys, tmp_path):
    """build+save → load+run parity, then a warm start from the first
    run's output converges in ≲2 supersteps (incremental-analytics path:
    metrics.jsonl counts the iterations actually run)."""
    store_path, out1, out2, md = (
        str(tmp_path / d) for d in ("store", "pr1", "pr2", "runm")
    )
    rc = main(["pr", "--fixture", "chesapeake", "--save-graph", "tg_cli",
               "--store-path", store_path, "--output", out1])
    assert rc == 0
    stats1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    rc = main(["pr", "--load-graph", "tg_cli", "--output", out2,
               "--init-ranks", out1, "--run-dir", md])
    assert rc == 0
    stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats2["n_edges"] == stats1["n_edges"]

    a = {r.id: r.val for r in spark.read.parquet(out1).collect()}
    b = {r.id: r.val for r in spark.read.parquet(out2).collect()}
    assert set(a) == set(b)
    # both runs stop at sum(Δp²) < eps=1e-8, i.e. per-vertex residual
    # ~1e-4; the warm start advances ≤2 extra steps from there
    assert all(abs(a[i] - b[i]) < 1e-3 for i in a)
    n_iters = sum(1 for _ in open(os.path.join(md, "metrics.jsonl")))
    assert n_iters <= 2, n_iters  # cold convergence takes ~20+ supersteps
    spark.sql("DROP TABLE IF EXISTS tg_cli_edges")
    spark.sql("DROP TABLE IF EXISTS tg_cli_vertices")
    spark.sql("DROP TABLE IF EXISTS tg_cli_meta")


def test_cli_tc_and_resume_dir(spark, capsys, tmp_path):
    run_dir = str(tmp_path / "run")
    rc = main(["cc", "--fixture", "test_cc", "--run-dir", run_dir,
               "--checkpoint-every", "1"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_out"] == 11
    # durable checkpoints + metrics written
    assert os.path.exists(os.path.join(run_dir, "metrics.jsonl"))
    assert any(d.startswith("ckpt_") for d in os.listdir(run_dir))

    rc = main(["tc", "--fixture", "test_cc"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["algorithm"] == "tc"


def test_cli_new_algorithms_smoke(spark, capsys, tmp_path):
    for argv in (
        ["kcore", "--fixture", "chesapeake", "--k", "3"],
        ["closeness", "--fixture", "chesapeake", "--n-sources", "4"],
        ["hits", "--fixture", "chesapeake", "--niter", "3"],
        ["gc-spec", "--fixture", "chesapeake", "--palette", "4"],
    ):
        rc = main(argv)
        assert rc == 0, argv
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["rows_out"] > 0, argv


def test_cli_clean_corpus(spark, capsys, tmp_path):
    docs_in = str(tmp_path / "docs_in")
    en = "the cat and the dog of the house went to the market and it is fine "
    spark.createDataFrame(
        [(1, en + "unique one"), (2, en + "unique one"), (3, "der die und das ist " * 4)],
        "doc_id long, text string",
    ).write.parquet(docs_in)
    out = str(tmp_path / "verdicts")
    rc = main(["clean-corpus", "--docs", docs_in, "--near-dup", "none",
               "--min-quality", "0.0", "--output", out])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_out"] == 3
    assert stats["retention"].get("lang") == 1
    assert stats["retention"].get("exact_dup") == 1
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["keep"] and not got[2]["keep"] and not got[3]["keep"]


def test_cli_domain_pagerank(spark, capsys, tmp_path):
    pairs_in = str(tmp_path / "pairs_in")
    spark.createDataFrame(
        [(f"http://h{i % 4}.ex.com/{i}", f"http://h{(i + 1) % 4}.ex.com/x") for i in range(20)],
        "src_url string, dst_url string",
    ).write.parquet(pairs_in)
    rc = main(["domain-pr", "--url-edges", pairs_in, "--niter", "5"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    stats = json.loads(lines[-1])
    assert stats["n_domains"] == 4 and stats["rows_out"] == 4


def test_cli_domain_pagerank_from_pages(spark, capsys, tmp_path):
    """``--pages`` distills the pages itself and ranks the same domain
    graph as ``--url-edges`` over the pages' cleaned links (self-loops
    and repeated links dropped), computed here in Python."""
    import re

    from graphblast_spark.sources.corpus import generate_pages

    pages_in = str(tmp_path / "pages_in")
    generate_pages(spark, 400, seed=11).write.parquet(pages_in)
    pairs = sorted({
        (r.url, dst)
        for r in spark.read.parquet(pages_in).collect()
        for dst in re.findall(r'href="([^"]*)"', r.html.decode("utf-8", errors="replace"))
        if dst != r.url
    })
    pairs_in = str(tmp_path / "pairs_in")
    spark.createDataFrame(pairs, "src_url string, dst_url string").write.parquet(pairs_in)

    ranks = {}
    for flag, path in (("--pages", pages_in), ("--url-edges", pairs_in)):
        out = str(tmp_path / flag.strip("-"))
        rc = main(["domain-pr", flag, path, "--niter", "5", "--output", out])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        ranks[flag] = (
            stats["n_domains"], stats["n_domain_edges"],
            {r.domain: round(r.pagerank, 9) for r in spark.read.parquet(out).collect()},
        )
    n_dom, n_edges, pr = ranks["--pages"]
    assert n_dom > 1 and n_edges > 0 and len(pr) == n_dom
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert ranks["--pages"] == ranks["--url-edges"]


def test_cli_round3_graph_algorithms_smoke(spark, capsys):
    for argv in (
        ["scc", "--fixture", "chesapeake"],
        ["bowtie", "--fixture", "chesapeake"],
        ["anf", "--fixture", "chesapeake", "--max-t", "4"],
        ["anf", "--fixture", "chesapeake", "--max-t", "3", "--exact-anf"],
        ["trustrank", "--fixture", "chesapeake", "--seeds", "1,2", "--niter", "3"],
        ["spam-mass", "--fixture", "chesapeake", "--seeds", "1", "--niter", "3"],
    ):
        rc = main(argv)
        assert rc == 0, argv
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["rows_out"] > 0, argv


def test_cli_redact_pii_and_boilerplate(spark, capsys, tmp_path):
    docs_in = str(tmp_path / "pii_docs")
    spark.createDataFrame(
        [(1, "mail a@b.co now\nall rights reserved"),
         (2, "from 1.2.3.4\nall rights reserved"),
         (3, "clean text here\nall rights reserved")],
        "doc_id long, text string",
    ).write.parquet(docs_in)

    rc = main(["redact-pii", "--docs", docs_in])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_out"] == 3
    assert stats["incidence"]["email"]["n_docs"] == 1
    assert stats["incidence"]["ipv4"]["n_matches"] == 1

    out = str(tmp_path / "bp_out")
    rc = main(["boilerplate", "--docs", docs_in, "--min-docs", "3",
               "--span-tokens", "3", "--output", out])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_out"] == 3


def test_cli_ktruss(spark, capsys):
    rc = main(["ktruss", "--fixture", "chesapeake", "--k", "3"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_out"] > 0


def test_cli_harmonic(spark, capsys):
    rc = main(["harmonic", "--fixture", "chesapeake", "--max-t", "4"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_out"] > 0


def test_cli_cc_warm_start_labels(spark, capsys, tmp_path):
    """cc --init-labels: a warm re-run seeded from the previous run's
    output lands on the identical label table in ≲2 supersteps (a
    no-change 'append': the star edges + warm init converge at once)."""
    out1, out2, md = (str(tmp_path / d) for d in ("cc1", "cc2", "runm"))
    rc = main(["cc", "--fixture", "test_cc", "--output", out1])
    assert rc == 0
    capsys.readouterr()
    rc = main(["cc", "--fixture", "test_cc", "--output", out2,
               "--init-labels", out1, "--run-dir", md])
    assert rc == 0
    capsys.readouterr()
    a = {r.id: r.component for r in spark.read.parquet(out1).collect()}
    b = {r.id: r.component for r in spark.read.parquet(out2).collect()}
    assert a == b
    n_iters = sum(1 for _ in open(os.path.join(md, "metrics.jsonl")))
    assert n_iters <= 2, n_iters


def test_cli_eigen_and_katz_smoke(spark, capsys):
    for argv in (
        ["eigen", "--fixture", "chesapeake", "--niter", "4"],
        ["katz", "--fixture", "chesapeake", "--niter", "3"],
    ):
        rc = main(argv)
        assert rc == 0, argv
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["rows_out"] > 0, argv


def test_cli_louvain_smoke(spark, capsys):
    rc = main(["louvain", "--fixture", "chesapeake", "--niter", "2", "--levels", "1"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_out"] > 0


def test_cli_walks_and_node2vec_smoke(spark, capsys):
    for argv in (
        ["walks", "--fixture", "chesapeake", "--walk-length", "3", "--n-sources", "4"],
        ["node2vec", "--fixture", "chesapeake", "--walk-length", "3",
         "--n-sources", "4", "--walk-p", "2.0", "--walk-q", "0.5"],
    ):
        rc = main(argv)
        assert rc == 0, argv
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["rows_out"] > 0, argv


def test_cli_mst_smoke(spark, capsys):
    rc = main(["mst", "--fixture", "chesapeake"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_out"] > 0


def test_cli_matching_smoke(spark, capsys):
    rc = main(["matching", "--fixture", "chesapeake"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_out"] > 0
