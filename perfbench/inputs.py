"""Seeded input generators for the benchmark workloads.

Inputs come from the workload seed alone, never from the engine's own
generators, so a change to ``graphblast_spark.sources`` cannot change
what the benchmark feeds it. Every generator returns the ground truth
the output checks compare against (the link set behind the html).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The shape of graphblast_spark.sources.corpus, the engine's pages corpus
# (see README "Inputs" for its measured histograms): 97 pages per site,
# out-degree floor(1/u) - 1 capped at 64 (P(k >= x) ~ 1/x), link targets
# at floor(u^3 * n) (in-degree concentrated near page 0), 24 body words.
PAGES_PER_SITE = 97
MAX_OUTDEG = 64
BODY_WORDS = 24
_WORDS = (
    "graph link page rank crawl index query node edge vertex hub site "
    "web text anchor shard spark join table vector matrix label cluster"
).split()

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def page_url(i: int) -> str:
    # zero-padded site and page numbers: url sort order == page order,
    # so the engine's dense ids (assigned in url order) equal page numbers
    return f"https://site{i // PAGES_PER_SITE:05d}.example/p/{i:07d}"


@dataclass
class Corpus:
    """A generated pages corpus and the links its html encodes."""

    n_pages: int
    urls: list[str]
    html: list[bytes]
    text: list[str]
    lang: list[str]
    ts_us: np.ndarray
    links: list[np.ndarray]  # per page: distinct out-link targets, self excluded

    def link_pairs(self, pages: np.ndarray) -> np.ndarray:
        """(k, 2) int64 array of distinct (src, dst) page pairs of ``pages``."""
        parts = [
            np.stack([np.full(len(self.links[i]), i, dtype=np.int64), self.links[i]], axis=1)
            for i in pages
        ]
        return np.concatenate(parts) if parts else np.empty((0, 2), dtype=np.int64)

    def table(self, pages: np.ndarray) -> pa.Table:
        idx = [int(i) for i in pages]
        return pa.Table.from_arrays(
            [
                pa.array([self.urls[i] for i in idx], pa.string()),
                pa.array(self.ts_us[pages], pa.timestamp("us", tz="UTC")),
                pa.array([self.html[i] for i in idx], pa.binary()),
                pa.array([self.text[i] for i in idx], pa.string()),
                pa.array([self.lang[i] for i in idx], pa.string()),
            ],
            schema=PAGES_ARROW_SCHEMA,
        )


def make_corpus(n_pages: int, seed: int) -> Corpus:
    """Pages with the link structure of the engine's corpus: Zipf-like
    out-degree in [0, MAX_OUTDEG], targets drawn as floor(u^3 * n) so that
    pages near 0 become hubs (skewed in-degree)."""
    rng = np.random.default_rng(seed)
    outdeg = np.minimum(np.floor(1.0 / rng.uniform(1e-12, 1.0, n_pages)) - 1, MAX_OUTDEG).astype(np.int64)
    urls = [page_url(i) for i in range(n_pages)]
    html, text, links = [], [], []
    for i in range(n_pages):
        tgt = np.floor(rng.uniform(0.0, 1.0, int(outdeg[i])) ** 3 * n_pages).astype(np.int64)
        words = " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), BODY_WORDS))
        anchors = "".join(
            f'<li><a href="{urls[t]}">about page {t % 997}</a></li>' for t in tgt
        )
        html.append(
            f"<html><head><title>Page {i}</title></head><body><p>{words}</p>"
            f"<ul>{anchors}</ul></body></html>".encode()
        )
        text.append(words)
        uniq = np.unique(tgt)
        links.append(uniq[uniq != i])
    lang = [("en", "de", "fr")[v] for v in rng.integers(0, 3, n_pages)]
    ts_us = 1_704_067_200_000_000 + rng.integers(0, 365 * 86_400, n_pages) * 1_000_000
    return Corpus(n_pages, urls, html, text, lang, ts_us, links)


def write_pages(table: pa.Table, out_dir: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for f in range(files):
        pq.write_table(
            table.slice(bounds[f], bounds[f + 1] - bounds[f]),
            os.path.join(out_dir, f"part-{f:05d}.parquet"),
        )
