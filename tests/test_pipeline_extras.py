"""Tests for the training-pipeline extras: token counting, quality scoring,
n-gram Jaccard dedup, embedding near-dup (exact + LSH), multimodal plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat in the sun"),
        (2, "the cat sat on the mat in the rain"),
        (3, "x7 !! 42 abc99"),
        (4, "completely different words entirely unrelated phrasing here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count(docs):
    from parquet_python_spark.operators.pipeline_ops import token_count

    out = {r["doc_id"]: r for r in token_count(docs).collect()}
    # "x7 !! 42 abc99" -> x,7,!!,42,abc,99 = 6 BPE-ish tokens, 4 ws tokens
    assert out[3]["n_bpe_tokens"] == 6
    assert out[3]["n_ws_tokens"] == 4
    assert out[1]["n_bpe_tokens"] == 9
    assert out[1]["n_ws_tokens"] == 9


def test_quality_score(docs):
    from parquet_python_spark.operators.pipeline_ops import quality_score

    out = {r["doc_id"]: r for r in quality_score(docs).collect()}
    # doc 1: 9 words, stopword hits: the,the,in,the = 4 -> floor(4000/9) = 444
    assert out[1]["stop_permille"] == 444
    assert out[3]["stop_permille"] == 0
    # doc 3: len 14, alpha chars x,abc = 4 -> floor(4000/14) = 285
    assert out[3]["alpha_permille"] == 285
    # doc 3: "!!" -> 2 punct chars -> floor(2000/14) = 142
    assert out[3]["punct_permille"] == 142


def test_ngram_jaccard(docs):
    from parquet_python_spark.operators.pipeline_ops import ngram_jaccard_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard_permille"]
        for r in ngram_jaccard_pairs(docs, min_permille=100).collect()
    }
    # docs 1/2 share 6 of their 7 trigrams each: J = 6/8 = 750 permille
    assert pairs == {(1, 2): 750}


def _emb_df(spark):
    rows = [
        (1, [0.5, 0.5, 0.0, 0.0]),
        (2, [0.25, 0.25, 0.0, 0.0]),  # same direction as 1 -> cosine 1.0
        (3, [0.0, 0.0, 0.5, 0.0]),  # orthogonal
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_near_dup_exact(spark):
    from parquet_python_spark.operators.pipeline_ops import embedding_near_dup

    got = {
        (r["vec_a"], r["vec_b"]): r["cosine_x10k"]
        for r in embedding_near_dup(_emb_df(spark), min_cosine=0.8).collect()
    }
    assert got == {(1, 2): 10000}


def test_embedding_near_dup_lsh_finds_same_direction(spark):
    from parquet_python_spark.operators.pipeline_ops import embedding_near_dup_lsh

    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_lsh(
            _emb_df(spark), min_cosine=0.8, n_planes=4
        ).collect()
    }
    # identical directions always share every hyperplane sign -> same bucket
    assert (1, 2) in got
    assert all(p == (1, 2) for p in got)


def test_multimodal_meta_and_features(docs):
    from parquet_python_spark.operators.multimodal import (
        extract_features,
        fake_decode_features,
        media_meta,
        with_media_column,
    )

    media = with_media_column(docs)
    meta = {r["doc_id"]: r for r in media_meta(media).collect()}
    text1 = "the cat sat on the mat in the sun"
    assert meta[1]["n_bytes"] == len(text1.encode())
    assert meta[1]["content_md5"] == hashlib.md5(text1.encode()).hexdigest()

    feats = {r["doc_id"]: r for r in extract_features(media).collect()}
    f1 = np.array(feats[1]["features"])
    assert f1.shape == (16,)
    assert abs(f1.sum() - 1.0) < 1e-9
    expected = fake_decode_features(np.frombuffer(text1.encode(), dtype=np.uint8))
    assert np.allclose(f1, expected)
    assert feats[1]["n_bytes"] == len(text1.encode())


def test_multimodal_frame_sample(docs):
    from parquet_python_spark.operators.multimodal import (
        frame_sample,
        with_media_column,
    )

    media = with_media_column(docs)
    frames = frame_sample(media, every_n_bytes=8, frame_len=4).collect()
    text1 = "the cat sat on the mat in the sun".encode()
    mine = sorted(
        [(r["frame_idx"], bytes(r["frame_bytes"])) for r in frames if r["doc_id"] == 1]
    )
    want = [
        (k, text1[off : off + 4])
        for k, off in enumerate(range(0, len(text1), 8))
    ]
    assert mine == want


def test_decode_image_is_explicit_stub():
    from parquet_python_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


# ------------------------------------------------------ stratified sampling

def _md5_bucket(key: str) -> int:
    """Python re-derivation of the shared md5-nibble bucket (first 5 hex
    nibbles, little-nibble-first base-16)."""
    h = hashlib.md5(key.encode()).hexdigest()
    return sum(int(h[i], 16) * (16**i) for i in range(5))


def test_stratified_sample_exact_and_stable(spark):
    from parquet_python_spark.operators.pipeline_ops import stratified_sample

    rows = [(i, "en" if i % 3 == 0 else ("de" if i % 3 == 1 else "fr"))
            for i in range(500)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {"en": 700, "de": 400}

    kept = sorted(
        r["doc_id"]
        for r in stratified_sample(docs, rates, default_permille=150).collect()
    )
    expect = sorted(
        i for i, lang in rows
        if _md5_bucket(str(i)) % 1000 < rates.get(lang, 150)
    )
    assert kept == expect
    assert 0 < len(kept) < 500

    # content-addressed: identical selection at a different partitioning
    kept2 = sorted(
        r["doc_id"]
        for r in stratified_sample(
            docs.repartition(13), rates, default_permille=150
        ).collect()
    )
    assert kept2 == kept


def test_stratified_sample_rate_zero_and_full(spark):
    from parquet_python_spark.operators.pipeline_ops import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en") for i in range(100)], ["doc_id", "lang"]
    )
    assert stratified_sample(docs, {"en": 0}).count() == 0
    assert stratified_sample(docs, {"en": 1000}).count() == 100


def test_simhash_pairs_pigeonhole(spark):
    from parquet_python_spark.operators.pipeline_ops import (
        dedup_simhash,
        dedup_simhash_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # identical
        (3, "the quick brown fox jumps over a lazy dog"),     # near dup
        (4, "entirely unrelated text about columnar codecs"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup_simhash_pairs(docs, max_hamming=20).collect()}
    # identical docs share every band: hamming 0 pair always surfaces
    assert pairs.get((1, 2)) == 0
    # candidates agree with the exact hamming of the fingerprints
    fps = {r["doc_id"]: r["simhash"] for r in dedup_simhash(docs).collect()}
    for (a, b), h in pairs.items():
        assert bin(fps[a] ^ fps[b]).count("1") == h
        assert h <= 20


def test_scrub_pii(spark):
    from parquet_python_spark.operators.pipeline_ops import scrub_pii

    rows = [
        (1, "mail me at jane.doe+x@example.co.uk or call +1 (415) 555-0199"),
        (2, "server at 192.168.10.1 responded"),
        (3, "nothing sensitive here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["text_clean"]
    assert "jane" not in out[1]["text_clean"]
    assert out[1]["n_phone"] == 1 and "<PHONE>" in out[1]["text_clean"]
    assert out[2]["n_ipv4"] == 1 and "<IP>" in out[2]["text_clean"]
    assert out[3]["text_clean"] == "nothing sensitive here"
    assert out[3]["n_email"] == out[3]["n_ipv4"] == out[3]["n_phone"] == 0


def test_stratified_sample_null_key(spark):
    from parquet_python_spark.operators.pipeline_ops import stratified_sample

    docs = spark.createDataFrame(
        [(None, "en"), (1, "en")], "doc_id int, lang string"
    )
    # rate 1000 keeps EVERY row, null key included
    assert stratified_sample(docs, {"en": 1000}).count() == 2
    # null key hashes deterministically as '' — same fate at any rate
    a = {r["doc_id"] for r in stratified_sample(docs, {"en": 500}).collect()}
    b = {r["doc_id"] for r in stratified_sample(
        docs.repartition(3), {"en": 500}).collect()}
    assert a == b


def test_gopher_quality_exact_python_oracle(spark):
    """gopher_quality vs an exact per-doc python re-derivation, including
    the top-2-gram tie-break (max count, then lexicographically largest
    gram) and the no-gram / single-word / empty edge cases."""
    from parquet_python_spark.operators.pipeline_ops import gopher_quality

    texts = [
        "the cat sat on the cat sat mat",       # repeated 2-gram "the cat"/"cat sat"
        "a a a a a a",                           # one word repeated: rep ratio ~1
        "word",                                  # single word: no grams
        "",                                      # empty text
        "x y x y x y x y",                       # alternating: "x y" dominates
        "alpha beta gamma delta epsilon",        # all distinct
        "tie tie bar bar",                       # count tie between "tie tie"/"bar bar"... 
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_quality(df, min_words=2).collect()}

    import math

    for i, t in enumerate(texts):
        w = [x for x in t.split(" ") if x]
        grams = [f"{w[j]} {w[j+1]}" for j in range(len(w) - 1)]
        if grams:
            from collections import Counter

            c = Counter(grams)
            best = max(c.items(), key=lambda kv: (kv[1], kv[0]))
            top_gram, top_n = best[0], best[1]
        else:
            top_gram, top_n = "", 0
        nw, ndw = len(w), len(set(w))
        lc = len(t)
        exp = {
            "n_words": nw,
            "n_distinct_words": ndw,
            "top_gram": top_gram,
            "top_gram_n": top_n,
            "dup_2gram_permille": math.floor(1000 * top_n * len(top_gram) / max(lc, 1)),
            "word_rep_permille": math.floor(1000 * (nw - ndw) / max(nw, 1)),
            "sym_word_permille": 0,
            "mean_word_len_x1000": math.floor(
                1000 * len(t.replace(" ", "")) / max(nw, 1)
            ),
        }
        for k, v in exp.items():
            assert got[i][k] == v, (i, k, got[i][k], v)

    # symbol counting: '#' chars and non-overlapping '...' runs
    df2 = spark.createDataFrame(
        [(0, "x ## y ... z ....")], "doc_id long, text string"
    )
    r = gopher_quality(df2, min_words=1).collect()[0]
    # 2 hashes + 2 ellipses ('....' contains one non-overlapping '...');
    # 6 whitespace words
    assert r["n_words"] == 6
    assert r["sym_word_permille"] == math.floor(1000 * 4 / 6)


def _union_find_components(pairs):
    """Exact python union-find oracle: {node: min-id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for x in list(parent):
        r = find(x)
        comp.setdefault(r, []).append(x)
    return {x: min(members) for r, members in comp.items() for x in members}


def test_dedup_components_matches_union_find(spark):
    """Random candidate graph vs exact union-find, including singleton
    chains and merged clusters."""
    import numpy as np

    from parquet_python_spark.operators.pipeline_ops import dedup_components

    rng = np.random.default_rng(23)
    pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in rng.integers(0, 400, size=(300, 2))
        if a != b
    }
    df = spark.createDataFrame(
        sorted(pairs), "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup_components(df).collect()
    }
    assert got == _union_find_components(sorted(pairs))


def test_dedup_components_path_graph_log_rounds(spark):
    """Worst case for plain propagation: one long path. Pointer jumping
    must label the whole chain with the min id within max_iters=O(log n)
    rounds (plain propagation would need n rounds and hit the cap)."""
    from parquet_python_spark.operators.pipeline_ops import dedup_components

    n = 200
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    out = dedup_components(df, max_iters=15).collect()
    assert len(out) == n + 1
    assert all(r["component_id"] == 0 for r in out)


def test_dedup_components_nonconvergence_is_loud(spark):
    """Exhausting max_iters with labels still changing must raise, not
    silently return partially-merged labels (silent under-dedup)."""
    import pytest

    from parquet_python_spark.operators.pipeline_ops import dedup_components

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="cannot certify convergence"):
        dedup_components(df, max_iters=1).collect()
    # degenerate max_iters=0: loud too (not a NameError)
    with pytest.raises(RuntimeError, match="never ran"):
        dedup_components(df, max_iters=0).collect()


def test_dedup_keep_canonical_end_to_end(spark):
    """docs + candidate pairs -> one keep=True per component (its min id),
    and untouched docs keep themselves."""
    from parquet_python_spark.operators.pipeline_ops import dedup_keep_canonical

    docs = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (7, 8)], "doc_a long, doc_b long"
    )
    rows = {r["doc_id"]: r for r in dedup_keep_canonical(docs, pairs).collect()}
    assert rows[1]["component_id"] == 1 and rows[1]["keep"]
    assert rows[3]["component_id"] == 1 and not rows[3]["keep"]
    assert rows[5]["component_id"] == 1 and not rows[5]["keep"]
    assert rows[7]["keep"] and not rows[8]["keep"]
    assert rows[8]["component_id"] == 7
    for i in (0, 2, 4, 6, 9):  # non-candidates pass through, keep=True
        assert rows[i]["keep"] and rows[i]["component_id"] == i


def test_dedup_components_with_minhash_candidates(spark):
    """Integration: MinHash banding candidates on the real documents
    table, clustered, vs union-find of the same pairs."""
    from parquet_python_spark.operators.pipeline_ops import (
        dedup_components,
        dedup_minhash_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cand = dedup_minhash_candidates(docs).select("doc_a", "doc_b")
    pairs = [(r["doc_a"], r["doc_b"]) for r in cand.collect()]
    if not pairs:
        import pytest as _pytest

        _pytest.skip("no candidates at this sf")
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup_components(cand).collect()
    }
    assert got == _union_find_components(pairs)


def test_dedup_components_empty_graph_converges(spark):
    """Round-6 regression pin: with the deferred-first-sum convergence
    check, an EMPTY candidate graph (sum over no labels is None) must
    still certify convergence instead of spinning to the max_iters raise
    — the unset sentinel may not be confused with the None sum."""
    from parquet_python_spark.operators.pipeline_ops import (
        dedup_components,
        dedup_keep_canonical,
    )

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup_components(pairs).count() == 0
    docs = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    rows = sorted(
        tuple(r) for r in dedup_keep_canonical(docs, pairs).collect()
    )
    assert rows == [(1, 1, True), (2, 2, True)]


def test_dedup_components_string_node_ids(spark):
    """Round-6 review fix: the label-sum convergence shortcut only applies
    to integral ids; string node ids (the tokens table's doc_id shape)
    must route through the equi-join change count and still converge to
    the lexicographic-min component labels."""
    from parquet_python_spark.operators.pipeline_ops import dedup_components

    pairs = spark.createDataFrame(
        [("d-3", "d-5"), ("d-5", "d-7"), ("d-1", "d-2")],
        "doc_a string, doc_b string",
    )
    rows = sorted(tuple(r) for r in dedup_components(pairs).collect())
    assert rows == [
        ("d-1", "d-1"),
        ("d-2", "d-1"),
        ("d-3", "d-3"),
        ("d-5", "d-3"),
        ("d-7", "d-3"),
    ]


def test_dedup_components_max_iters_one_already_converged(spark):
    """Round-6 review fix: with the deferred first sum, max_iters=1 on a
    graph whose initial labels are already the fixed point (self-loop
    edges only — the one shape where round 1 changes nothing) must still
    certify via the explicit change-count fallback instead of raising,
    exactly as the pre-round-6 change-count loop did."""
    from parquet_python_spark.operators.pipeline_ops import dedup_components

    pairs = spark.createDataFrame([(1, 1), (3, 3)], "doc_a long, doc_b long")
    rows = sorted(
        tuple(r) for r in dedup_components(pairs, max_iters=1).collect()
    )
    assert rows == [(1, 1), (3, 3)]
