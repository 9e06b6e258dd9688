"""M0: synthetic pages corpus + distillation invariants (FIXTURES.md §1-2,
BASELINE.json input_hint: byte-identical extracted text per url)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.sources.corpus import generate_pages
from graphblast_spark.sources.distill import assign_dense_ids, distill_edges, extract_columns

N_PAGES = 300


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N_PAGES, seed=42).persist()


def test_pages_schema_and_determinism(spark, pages):
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == N_PAGES
    assert pages.select("url").distinct().count() == N_PAGES
    # deterministic regardless of partitioning
    again = generate_pages(spark, N_PAGES, seed=42, num_partitions=3)
    a = sorted(pages.collect(), key=lambda r: r.url)
    b = sorted(again.collect(), key=lambda r: r.url)
    assert a == b
    # different seed → different corpus
    other = generate_pages(spark, N_PAGES, seed=7)
    assert sorted(other.select("text").collect()) != sorted(pages.select("text").collect())


def test_extracted_text_byte_identical(spark, pages):
    """The input_hint per-row invariant: UDF(html) == text, byte for byte."""
    cols = extract_columns(pages)
    joined = pages.join(cols, "url").select(
        "url", (F.col("text") == F.col("text_extracted")).alias("ok"),
        F.encode("text", "utf-8").alias("t1"), F.encode("text_extracted", "utf-8").alias("t2"),
    )
    bad = joined.filter(~F.col("ok") | (F.col("t1") != F.col("t2"))).count()
    assert bad == 0


def test_outlinks_power_law(spark, pages):
    cols = extract_columns(pages).persist()
    degs = cols.select(F.size("outlinks").alias("k"))
    stats = degs.agg(F.max("k").alias("mx"), F.avg("k").alias("avg")).first()
    assert stats["mx"] <= 64
    assert 0 < stats["avg"] < 10  # Zipf-ish: mostly small degrees
    # hubs exist on the in-side: top target gets many links
    edges, _ = distill_edges(pages)
    indeg = edges.groupBy("dst").count()
    top = indeg.agg(F.max("count")).first()[0]
    assert top >= 10  # power-law concentration near page 0


def test_dense_id_assignment(spark, pages):
    ids = assign_dense_ids(pages.select("url"), num_partitions=5)
    rows = sorted(ids.collect(), key=lambda r: r.url)
    assert [r.id for r in rows] == list(range(N_PAGES))  # dense 0..n-1 in url order


def test_dense_id_assignment_dedups_in_shuffle(spark):
    # duplicate urls (re-crawls) must collapse without a distinct():
    # dedup rides the range shuffle (equal keys → same partition,
    # adjacent after the sort) and ids stay dense over DISTINCT urls
    urls = spark.createDataFrame([(f"u{i % 37:03d}",) for i in range(500)], "url string")
    out = assign_dense_ids(urls, num_partitions=5).orderBy("id").collect()
    assert [r.id for r in out] == list(range(37))
    assert [r.url for r in out] == sorted({f"u{i % 37:03d}" for i in range(500)})
    empty = assign_dense_ids(spark.createDataFrame([], "url string"), num_partitions=5)
    assert empty.collect() == []
    assert empty.schema.simpleString() == "struct<url:string,id:bigint>"


# Extraction edge cases: invalid, truncated and surrogate UTF-8, null
# and empty html, empty and repeated hrefs, multi-line / CR / U+2028
# inside <p>, pages without <p>.
_EDGE_HTML = [
    b'<p>ok \xff\xfe bad</p><a href="x">',
    b"<p>trunc \xe2\x82</p>",
    b"<p>sur \xed\xa0\x80 x</p>",
    b"\xe2\x82<p>lead</p>\xc0\xaf",
    None,
    b"",
    b'<a href="">e</a><a href="a"></a><a href="a"></a>',
    b"<p>line1\nline2</p><p>second</p>",
    b"<p>cr\rlf</p>",
    "<p>ls\u2028x</p>".encode(),
    b'no paragraph href="q" here',
    "<p>\U0001f600 caf\u00e9</p>".encode(),
]


def test_extraction_matches_pandas_reference(spark):
    """The Column-expression extraction equals the pandas expressions
    it replaced, kept here as the reference: utf-8 decode with
    errors="replace", str.extract(<p>…</p>), str.findall(href)."""
    import pandas as pd

    from graphblast_spark.sources.distill import _HREF_RE, _TEXT_RE

    html = pd.Series(_EDGE_HTML, dtype=object)
    decoded = html.str.decode("utf-8", errors="replace").fillna("")
    text = decoded.str.extract(_TEXT_RE, expand=False).fillna("")
    links = decoded.str.findall(_HREF_RE)
    expect = {f"u{i}": (text[i], list(links[i])) for i in range(len(html))}

    pages = spark.createDataFrame(
        [(f"u{i}", h, "en") for i, h in enumerate(_EDGE_HTML)],
        "url string, html binary, lang string",
    )
    got = {
        r.url: (r.text_extracted, list(r.outlinks))
        for r in extract_columns(pages).collect()
    }
    assert got == expect


def test_distill_clean_invariants(spark, pages):
    edges, url_map = distill_edges(pages)
    e = edges.persist()
    assert e.filter(F.col("src") == F.col("dst")).count() == 0
    assert e.count() == e.select("src", "dst").distinct().count()
    mx = e.agg(F.max("src"), F.max("dst")).first()
    assert max(mx) < N_PAGES
    # builds into a Graph with full vertex universe (dangling pages kept)
    g = Graph.build(e, vertices=url_map.select("id"))
    assert g.n == N_PAGES
    g.unpersist()


def test_read_pages_parquet_and_iceberg_gate(spark, tmp_path):
    from graphblast_spark.sources.corpus import generate_pages
    from graphblast_spark.sources.pages import read_pages

    out = str(tmp_path / "pages_pq")
    generate_pages(spark, n_pages=50, seed=3).write.parquet(out)
    df = read_pages(spark, out)  # auto → parquet (path-like)
    assert {"url", "warc_ts", "html", "text", "lang"} <= set(df.columns)
    assert df.count() == 50

    # iceberg path is gated with an actionable error in this sandbox
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_pages(spark, "warehouse.web.pages", format="iceberg")

    # schema drift fails loudly
    bad = str(tmp_path / "bad_pq")
    spark.range(3).withColumnRenamed("id", "url").write.parquet(bad)
    with pytest.raises(ValueError, match="missing required columns"):
        read_pages(spark, bad, format="parquet")


def test_extract_anchors_matches_outlinks(spark):
    """Anchor extraction (JVM regex path) sees exactly the same edge
    set as the Arrow outlink extractor, with per-target anchor text."""
    import pyspark.sql.functions as F

    from graphblast_spark.sources.corpus import generate_pages
    from graphblast_spark.sources.distill import (
        anchor_summary,
        extract_anchors,
        extract_columns,
    )

    pages = generate_pages(spark, 500, seed=7)
    a = extract_anchors(pages)
    links = extract_columns(pages).select(
        F.col("url").alias("src_url"), F.explode("outlinks").alias("dst_url")
    )
    assert a.select("src_url", "dst_url").exceptAll(links).count() == 0
    assert links.exceptAll(a.select("src_url", "dst_url")).count() == 0
    # anchor text is target-derived: "about page <target_id % 997>"
    bad = a.filter(
        F.col("anchor")
        != F.concat(
            F.lit("about page "),
            (F.regexp_extract("dst_url", r"/p/(\d+)$", 1).cast("long") % 997)
            .cast("string"),
        )
    ).count()
    assert bad == 0


def test_anchor_summary_crafted(spark):
    from graphblast_spark.sources.distill import anchor_summary

    a = spark.createDataFrame(
        [
            ("s1", "t", "home"), ("s2", "t", "home"), ("s2", "t", "start"),
            ("s3", "u", "b"), ("s3", "u", "a"),
        ],
        "src_url string, dst_url string, anchor string",
    )
    out = {r.dst_url: r for r in anchor_summary(a).collect()}
    assert out["t"].n_inlinks == 3 and out["t"].n_src == 2
    assert out["t"].top_anchor == "home"
    # tie (a:1, b:1) → lexicographically smallest
    assert out["u"].top_anchor == "a" and out["u"].n_src == 1
