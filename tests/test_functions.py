"""Training-data pipeline functions over the driver-provided documents/
embeddings tables (sf0.001), with DuckDB cross-checks for the hash-based
paths (de-risking the driver's oracle gate)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from graphblast_spark.functions.dedup import (
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_signature,
    near_duplicate_clusters,
    ngram_jaccard_pairs,
    simhash64,
)
from graphblast_spark.functions.multimodal import (
    FEATURE_DIM,
    decode_stats,
    extract_features,
    frame_sample,
)
from graphblast_spark.functions.similarity import (
    brute_force_topk,
    embedding_dedup_clusters,
    ivf_topk,
)
from graphblast_spark.functions.text import add_fingerprint, add_lang_id, add_quality, add_token_count

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


def test_token_count_and_quality(docs):
    out = add_quality(add_token_count(docs)).select(
        "doc_id", "n_tokens", "n_subwords", "punct_ratio", "stopword_ratio", "quality"
    )
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows[:50]:
        assert r.n_tokens >= 0 and r.n_subwords >= r.n_tokens * 0  # defined
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert 0.0 <= r.quality <= 1.0


def test_lang_id_marker_words(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here"),
            (2, "der hund und die katze ist da"),
            (3, "le chat et la souris est ici"),
            (4, "zzz qqq"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang_pred for r in add_lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_fingerprint_matches_duckdb(docs):
    got = add_fingerprint(docs).select("doc_id", "fp_md5").orderBy("doc_id").collect()
    oracle = duckdb.sql(
        f"select doc_id, md5(text) fp from '{SF_DIR}/documents.parquet' order by doc_id"
    ).fetchall()
    assert [(r.doc_id, r.fp_md5) for r in got] == oracle


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, "cc"), (4, "aa bb")], "doc_id long, text string"
    )
    rows = exact_duplicate_groups(df).collect()
    assert len(rows) == 1
    assert rows[0].n_dups == 3 and rows[0].canonical_id == 1
    assert rows[0].doc_ids == [1, 2, 4]


def test_minhash_lsh_finds_near_dups(spark, docs):
    # Construct a corpus with a known near-dup pair + the real docs.
    base = docs.limit(20).select("doc_id", "text")
    d0 = base.first()
    near = spark.createDataFrame(
        [(100000, d0.text + " tail")], "doc_id long, text string"
    )
    corpus = base.unionByName(near)
    sigs = minhash_signature(corpus, k=16)
    pairs = lsh_candidate_pairs(sigs, bands=8, rows_per_band=2)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (d0.doc_id, 100000) in got
    verified = ngram_jaccard_pairs(corpus, pairs, threshold=0.5)
    vrows = {(r.a, r.b): r.jaccard for r in verified.collect()}
    assert vrows.get((d0.doc_id, 100000), 0) > 0.5


def test_near_duplicate_clusters_transitive_closure(spark, docs):
    """A≈B and B≈C must land one cluster even if A,C never pair directly
    — the CC stage's whole job. Distinct docs keep singleton clusters."""
    base = docs.limit(10).select("doc_id", "text")
    d0 = base.first()
    # chain: d0 ≈ 100000 ≈ 100001 (each step one appended token)
    chain = spark.createDataFrame(
        [(100000, d0.text + " tailone"), (100001, d0.text + " tailone tailtwo")],
        "doc_id long, text string",
    )
    corpus = base.unionByName(chain)
    out = {r.doc_id: r for r in near_duplicate_clusters(
        corpus, k=16, bands=8, rows_per_band=2, threshold=0.5
    ).collect()}
    assert len(out) == 12  # every doc gets exactly one row
    assert out[d0.doc_id].cluster_id == out[100000].cluster_id == out[100001].cluster_id
    assert out[d0.doc_id].cluster_id == d0.doc_id  # min id canonicalizes
    assert out[d0.doc_id].is_canonical and not out[100000].is_canonical
    # the other 9 originals stay singletons (clusters partition the corpus)
    singles = [r for i, r in out.items() if i not in (d0.doc_id, 100000, 100001)]
    assert all(r.cluster_id == r.doc_id and r.is_canonical for r in singles)


def test_dedup_clusters_all_singletons(spark):
    """No verified pairs at all → early exit: every doc its own cluster
    (the empty-pair-graph guard; CC never runs)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven"),
         (3, "red orange yellow green blue indigo violet")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in near_duplicate_clusters(
        docs, k=16, bands=8, rows_per_band=2, threshold=0.5
    ).collect()}
    assert len(out) == 3
    assert all(r.cluster_id == r.doc_id and r.is_canonical for r in out.values())


def test_minhash_signature_matches_duckdb(spark, docs):
    sub = docs.limit(5).select("doc_id", "text")
    got = {r.doc_id: r.sig for r in minhash_signature(sub, k=4).collect()}
    pdf = sub.toPandas()
    con = duckdb.connect()
    con.register("d", pdf)
    from graphblast_spark.functions.dedup import MINHASH_P, minhash_params

    mins = ",\n                ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {MINHASH_P}))"
        for a, b in minhash_params(4)
    )
    oracle = con.sql(
        f"""
        with toks as (
          select doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') t
          from d
        ), sh as (
          select doc_id,
                 list_distinct(case when len(t) >= 3
                   then list_transform(generate_series(1, len(t)-2),
                                       i -> array_to_string(t[i:i+2], ' '))
                   else [array_to_string(t, ' ')] end) s
          from toks
        ), hsx as (
          select doc_id,
                 list_transform(s, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % {MINHASH_P}) hs
          from sh
        )
        select doc_id, [{mins}] sig
        from hsx
        """
    ).fetchall()
    for doc_id, sig in oracle:
        assert got[doc_id] == sig, doc_id


def test_embedding_dedup_clusters_chain(spark):
    """cos chain at 30° steps with threshold 0.8: (0,1) and (1,2) are
    near-dups, (0,2) is not (cos 60° = 0.5) — CC must still cluster all
    three; the orthogonal vector stays a singleton."""
    import math

    def v(theta_deg):
        t = math.radians(theta_deg)
        return [math.cos(t), math.sin(t), 0.0, 0.0]

    emb = spark.createDataFrame(
        [(0, v(0)), (1, v(30)), (2, v(60)), (3, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in embedding_dedup_clusters(
        emb, threshold=0.8, n_cells=None
    ).collect()}
    assert len(out) == 4
    assert out[0].cluster_id == out[1].cluster_id == out[2].cluster_id == 0
    assert out[0].is_canonical and not out[1].is_canonical
    assert out[3].cluster_id == 3 and out[3].is_canonical


def test_resize_image_nn_resample(spark):
    """3×3 NN-resample of the 8×8 md5-tile fake decode: pixel (Y,X) =
    digest[((Y*8//3)*8 + (X*8//3)) % 16] — verified byte-for-byte."""
    import hashlib

    from graphblast_spark.functions.multimodal import resize_image

    payload = b"resize me"
    assets = spark.createDataFrame(
        [(1, "image", payload, 8, 8, 0)],
        "asset_id long, kind string, payload binary, width int, height int, sample_rate int",
    )
    row = resize_image(assets, out_w=3, out_h=3).first()
    d = hashlib.md5(payload).digest()
    idxs = [((y * 8 // 3) * 8 + (x * 8 // 3)) % 16 for y in range(3) for x in range(3)]
    assert row.pixels == bytes(d[i] for i in idxs).hex().upper()
    assert (row.rw, row.rh) == (3, 3)


def test_simhash_near_for_near_texts(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "completely different words about spark dataframes and shuffles"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    ham12 = bin(got[1] ^ got[2]).count("1")
    ham13 = bin(got[1] ^ got[3]).count("1")
    assert ham12 < ham13


def test_simhash_hamming_pairs_exact_vs_python(spark, docs):
    """The banded pigeonhole join must find EXACTLY the pairs within
    Hamming distance k — zero false negatives (WWW'07 guarantee) and
    the bit_count verify kills false positives."""
    from graphblast_spark.functions.dedup import simhash_hamming_pairs

    sub = docs.limit(60)
    sigs = {r.doc_id: r.simhash for r in simhash64(sub).collect()}
    ids = sorted(sigs)
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {(r.a, r.b): r.hamming
           for r in simhash_hamming_pairs(sub, max_hamming=3).collect()}
    assert got == want


def test_simhash_hamming_recall_vs_jaccard(spark, docs):
    """Near-dup recall: doc pairs that the exact n-gram Jaccard tier
    verifies as strong near-dups (the d_jaccard ground truth) must be
    recovered by the Hamming-≤3 simhash tier on this synthetic corpus
    — the whole point of Hamming matching over exact-fingerprint
    equality (which recalls none of the non-identical ones)."""
    from graphblast_spark.functions.dedup import simhash_hamming_pairs

    # long docs (150 distinct tokens) + a one-token-appended variant:
    # the near-dup regime simhash is built for — a single added token
    # flips only the few bits whose token-vote margin was zero. (Short
    # docs flip many bits per edit; that regime belongs to the MinHash
    # tier, which is why clean_corpus keeps both.)
    rows = []
    for d in range(8):
        text = " ".join(f"w{d}x{i}" for i in range(150))
        rows.append((d, text))
        rows.append((d + 100000, text + " zzz"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    truth = {(d, d + 100000) for d in range(8)}  # jaccard ≈ 0.99 pairs
    got = {(r.a, r.b) for r in simhash_hamming_pairs(corpus, max_hamming=3).collect()}
    recall = len(truth & got) / len(truth)
    # md5 is fixed → deterministic: 6 of the 8 variants land within 3 bits
    assert recall >= 0.7, (recall, sorted(truth - got))
    # exact-fingerprint grouping recalls none of these (text differs)
    sh = {r.doc_id: r.simhash for r in simhash64(corpus).collect()}
    exact_recall = sum(sh[a] == sh[b] for a, b in truth) / len(truth)
    assert exact_recall < recall


def test_simhash_hamming_clusters_transitive(spark):
    """A≈B and B≈C within Hamming 3 but A vs C possibly 4+ bits apart
    must still land in ONE cluster (CC closure, not pairwise grouping)."""
    from graphblast_spark.functions.dedup import simhash_hamming_clusters

    base_text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                 "lambda mu nu xi omicron pi rho sigma tau upsilon")
    df = spark.createDataFrame(
        [
            (1, base_text),
            (2, base_text + " extra"),
            (3, base_text + " extra more"),
            (10, "totally unrelated content about catalyst plans and shuffles"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in simhash_hamming_clusters(df).collect()}
    # the three variants form one cluster iff their pairwise chain holds;
    # regardless of exact chain shape, cluster ids must be consistent and
    # 10 must stay a singleton
    assert out[10].cluster_id == 10 and out[10].is_canonical
    c1 = out[1].cluster_id
    chained = {d for d in (1, 2, 3) if out[d].cluster_id == c1}
    assert 1 in chained and out[1].is_canonical == (c1 == 1)
    # clusters partition: every cluster_id is a member min
    for d, r in out.items():
        assert r.is_canonical == (r.cluster_id == d)


def test_brute_force_topk_vs_numpy(emb):
    queries = emb.limit(3)
    got = brute_force_topk(emb, queries, k=5).collect()
    pdf = emb.toPandas()
    M = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sim = Mn @ Mn.T
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.cos))
    for qid, neigh in by_q.items():
        qi = int(np.where(ids == qid)[0][0])
        s = sim[qi].copy()
        s[qi] = -np.inf
        expect_top = set(np.argsort(-s)[:5])
        got_ids = {int(np.where(ids == n)[0][0]) for n, _ in neigh}
        # allow tie-order differences; cosine values must match
        for n, c in neigh:
            ni = int(np.where(ids == n)[0][0])
            assert c == pytest.approx(sim[qi, ni], abs=2e-6)
        assert len(got_ids & expect_top) >= 4  # ties may swap the margin
    assert all(len(v) == 5 for v in by_q.values())


def test_ivf_topk_recall(emb):
    queries = emb.limit(10)
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, n_cells=8, nprobe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall  # nprobe=4 of 8 cells → decent recall


def test_multimodal_plumbing(spark):
    import os
    rows = [
        (i, "image", os.urandom if False else bytes([i % 256]) * (64 + i), 8, 8, 0)
        for i in range(20)
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, kind string, payload binary, width int, height int, sample_rate int"
    )
    stats = decode_stats(assets).collect()
    assert len(stats) == 20
    assert all(0 <= r.mean_px <= 255 for r in stats)
    # deterministic: same input → same stats
    stats2 = decode_stats(assets).collect()
    assert sorted(map(tuple, stats)) == sorted(map(tuple, stats2))

    feats = extract_features(assets).collect()
    assert all(len(r.embedding) == FEATURE_DIM for r in feats)

    frames = frame_sample(assets, every_n=2).collect()
    assert all(len(r.frame) <= 16 for r in frames)
    assert len(frames) > 0

    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_stats(assets, strict=True).collect()


def test_extract_features_matches_numpy(spark):
    """Each embedding equals the numpy reference bit for bit: the
    L2-normalised histogram of the payload bytes mod FEATURE_DIM, cast
    to float32; a null or empty payload counts as the single byte 0x00."""
    payloads = [
        None, b"", b"\x00", b"abc", bytes(range(256)),
        bytes([7]) * 100, b"\xff\x80" * 33, b"\x10\x20\x30\x11",
    ]
    assets = spark.createDataFrame(
        [(i, "image", p, 8, 8, 0) for i, p in enumerate(payloads)],
        "asset_id long, kind string, payload binary, width int, height int, sample_rate int",
    )
    got = {r.asset_id: r.embedding for r in extract_features(assets).collect()}
    assert sorted(got) == list(range(len(payloads)))
    for i, p in enumerate(payloads):
        b = np.frombuffer(p or b"\x00", dtype=np.uint8)
        h = np.bincount(b % FEATURE_DIM, minlength=FEATURE_DIM).astype(np.float64)
        want = (h / np.linalg.norm(h)).astype(np.float32)
        np.testing.assert_array_equal(np.array(got[i], dtype=np.float32), want, err_msg=repr(p))


# ---------------------------------------------------------------------------
# Span-level exact dedup (Lee et al. 2022 verbatim-span tier)
# ---------------------------------------------------------------------------

def test_paragraph_span_dedup_injected_spans(spark):
    """Docs 1 and 2 share one injected verbatim paragraph; doc 3 repeats
    a paragraph internally; doc 4 is clean."""
    from graphblast_spark.functions.dedup import (
        duplicate_spans,
        paragraph_spans,
        span_dedup_stats,
    )

    boiler = "all rights reserved contact us for details"
    rows = [
        (1, f"unique alpha text\n{boiler}\nmore alpha"),
        (2, f"totally different beta\n{boiler}"),
        (3, "gamma gamma\ngamma gamma\nother"),
        (4, "clean delta content"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = paragraph_spans(docs)
    prov = {r["canonical_doc_id"]: r for r in duplicate_spans(spans).collect()}
    # boiler: canonical at (1, 1); doc-3 self-repeat: canonical at (3, 0)
    assert prov[1]["n_occurrences"] == 2 and prov[1]["canonical_pos"] == 1
    assert prov[3]["n_occurrences"] == 2 and prov[3]["canonical_pos"] == 0
    stats = {r["doc_id"]: r for r in span_dedup_stats(docs, spans=spans).collect()}
    assert (stats[1]["n_spans"], stats[1]["n_dup_spans"]) == (3, 1)
    d1_chars = len("unique alpha text") + len(boiler) + len("more alpha")
    assert stats[1]["dup_span_frac"] == pytest.approx(len(boiler) / d1_chars, abs=1e-6)
    assert stats[2]["n_dup_spans"] == 1
    # doc 3: both 'gamma gamma' occurrences count as duplicated
    assert (stats[3]["n_spans"], stats[3]["n_dup_spans"]) == (3, 2)
    assert stats[4] and stats[4]["n_dup_spans"] == 0 and stats[4]["dup_span_frac"] == 0.0


def test_token_window_spans_shapes(spark):
    from graphblast_spark.functions.dedup import token_window_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "")],
        "doc_id long, text string",
    )
    out = {}
    for r in token_window_spans(docs, span_tokens=3).collect():
        out.setdefault(r["doc_id"], []).append((r["pos"], r["span"]))
    # 7 tokens, disjoint 3-windows at 1 and 4; trailing 'g' dropped
    assert sorted(out[1]) == [(0, "a b c"), (1, "d e f")]
    # short doc → whole text as a single span
    assert out[2] == [(0, "x y")]
    # empty doc → no spans
    assert 3 not in out
    # overlapping stride
    out1 = {r["pos"]: r["span"] for r in
            token_window_spans(docs.filter("doc_id = 1"), span_tokens=3, stride=2).collect()}
    assert out1 == {0: "a b c", 1: "c d e", 2: "e f g"}


def test_span_dedup_stats_no_dups_all_zero(spark):
    from graphblast_spark.functions.dedup import span_dedup_stats

    docs = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "dd ee ff")], "doc_id long, text string"
    )
    stats = {r["doc_id"]: r for r in span_dedup_stats(docs, span_tokens=3).collect()}
    assert all(s["n_dup_spans"] == 0 and s["dup_span_frac"] == 0.0 for s in stats.values())
    assert stats[1]["n_spans"] == 1
