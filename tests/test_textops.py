"""Tests for training-data text ops, ANN, and multimodal plumbing."""

from __future__ import annotations

import importlib.util
import os
import random

import pytest
from pyspark.sql import functions as F

from deduper_spark.config import FuzzyConfig
from deduper_spark.functions.textstats import (
    fingerprint_expr,
    lang_id_expr,
    quality_micro_expr,
    token_count_expr,
)
from deduper_spark.operators import dedup_text
from deduper_spark.operators.ann import brute_force_topk, lsh_topk
from deduper_spark.operators.cc import connected_components
from deduper_spark.operators.dedup_text import (
    embedding_cosine_pairs,
    exact_doc_dedup,
    minhash_doc_clusters,
    minhash_lsh_doc_pairs,
    ngram_jaccard_pairs,
    simhash_doc_pairs,
)
from deduper_spark.operators.multimodal import (
    extract_image_features,
    resize_images,
    sample_video_frames,
)

SF = "/root/testdata/sf0.001"


def test_token_count_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, "one two three"), (2, ""), (3, "   "), (4, "single")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n"] for r in
           df.select("doc_id", token_count_expr("text").alias("n")).collect()}
    assert got == {1: 3, 2: 0, 3: 0, 4: 1}


def test_lang_id_votes(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is on a mat"),
            (2, "der hund und die katze ist von den"),
            (3, "le chat et la maison est pour les"),
            (4, "xyzzy qwerty plugh"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["l"] for r in
           df.select("doc_id", lang_id_expr("text").alias("l")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_score_range(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    stats = df.select(quality_micro_expr("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0 <= stats["lo"] <= stats["hi"] <= 1_000_000


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "h i j k l m n")],
        ["doc_id", "text"],
    )
    rows = df.select("doc_id", fingerprint_expr("text").alias("fp")).collect()
    got = {r["doc_id"]: r["fp"] for r in rows}
    assert got[1] == got[2] != got[3]
    assert len(got[1]) == 32  # md5 hex


def test_doc_dedup_family(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    dup = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    aug = docs.unionByName(dup)
    n_dups = dup.count()

    res = exact_doc_dedup(aug)
    assert res.survivors.count() == docs.count()

    near = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" tail token added")).alias("text"),
    )
    aug2 = docs.unionByName(near)
    mh = minhash_lsh_doc_pairs(aug2).collect()
    planted = {(r["id_l"], r["id_r"]) for r in mh
               if r["id_r"] - r["id_l"] == 200000}
    # most planted near-pairs found (long docs have high jaccard)
    assert len(planted) >= near.count() * 0.7

    sh = simhash_doc_pairs(aug2).collect()
    planted_sh = {(r["id_l"], r["id_r"]) for r in sh
                  if r["id_r"] - r["id_l"] == 200000}
    assert len(planted_sh) >= near.count() * 0.5

    nj = ngram_jaccard_pairs(aug2, threshold=0.3)[0].collect()
    planted_nj = {(r["id_l"], r["id_r"]) for r in nj
                  if r["id_r"] - r["id_l"] == 200000}
    assert len(planted_nj) >= near.count() * 0.7
    assert n_dups > 0


def _edit_corpus(seed, n_chains, chain_len, n_boilerplate, n_singletons,
                 tokens=30, vocab=400):
    """(doc_id, text) rows: edit chains (each doc substitutes one token
    of its predecessor), one boilerplate family (one substitution each
    off a shared template) and unrelated singletons, under shuffled
    ids so no family owns a contiguous id range."""
    rng = random.Random(seed)

    def words():
        return [f"w{rng.randrange(vocab)}" for _ in range(tokens)]

    def edit(doc):
        doc = list(doc)
        doc[rng.randrange(tokens)] = f"w{rng.randrange(vocab)}"
        return doc

    texts = []
    for _ in range(n_chains):
        doc = words()
        for _ in range(chain_len):
            texts.append(" ".join(doc))
            doc = edit(doc)
    template = words()
    texts += [" ".join(edit(template)) for _ in range(n_boilerplate)]
    texts += [" ".join(words()) for _ in range(n_singletons)]
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    return list(zip(ids, texts))


def _clusters_vs_all_pairs(spark, monkeypatch, rows, cfg):
    """minhash_doc_clusters' labels, the labels of connected_components
    over every verified pair (minhash_lsh_doc_pairs), and the pair
    counts each verify_jaccard call of minhash_doc_clusters passed."""
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    passed = []
    verify = dedup_text.verify_jaccard

    def counted(*a, **kw):
        out = verify(*a, **kw)
        passed.append(out)
        return out

    monkeypatch.setattr(dedup_text, "verify_jaccard", counted)
    got = {r["doc_id"]: r["cluster_id"]
           for r in minhash_doc_clusters(df, cfg=cfg).collect()}
    monkeypatch.setattr(dedup_text, "verify_jaccard", verify)
    pairs = minhash_lsh_doc_pairs(df, cfg=cfg).select("id_l", "id_r")
    want = {r["id"]: r["cluster_id"] for r in connected_components(
        pairs, nodes=df.select(F.col("doc_id").alias("id"))).collect()}
    return got, want, [p.count() for p in passed]


# small buckets: the 40-doc boilerplate family overflows and is salted
SALTED = FuzzyConfig(shingle_k=3, num_perm=64, bands=16, rows_per_band=4,
                     jaccard_threshold=0.6, max_bucket_size=8)
# 2-row bands put docs two or more edits apart in one bucket, where
# they fail verification against the bucket's min id
LOOSE = FuzzyConfig(shingle_k=5, num_perm=64, bands=32, rows_per_band=2,
                    jaccard_threshold=0.6)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_minhash_doc_clusters_equal_all_pair_components(spark, monkeypatch,
                                                        seed):
    """Star-first verification keeps the clusters of the full verified
    pair set, with hot buckets salted into sub-buckets."""
    rows = _edit_corpus(seed, n_chains=4, chain_len=10, n_boilerplate=40,
                        n_singletons=30)
    got, want, _ = _clusters_vs_all_pairs(spark, monkeypatch, rows, SALTED)
    assert got == want and len(got) == len(rows)
    assert len(set(got.values())) < len(rows)


@pytest.mark.parametrize("seed", [4, 5])
def test_minhash_doc_clusters_round_two_merges(spark, monkeypatch, seed):
    """Long chains under loose banding: a chain's min id shares buckets
    with docs too far along the chain to verify against it, so only
    round 2 links them — and the clusters still equal the full set's."""
    rows = _edit_corpus(seed, n_chains=6, chain_len=16, n_boilerplate=0,
                        n_singletons=10)
    got, want, passed = _clusters_vs_all_pairs(spark, monkeypatch, rows,
                                               LOOSE)
    stars, second = passed
    assert second > 0 and stars > 0
    assert got == want and len(got) == len(rows)


def test_minhash_doc_clusters_null_empty_and_singletons(spark, monkeypatch):
    base = " ".join(f"t{i}" for i in range(30))
    rows = [(10, base), (11, base + " tail"), (12, None), (13, ""),
            (14, None), (15, ""), (16, "one two three"),
            (17, " ".join(f"u{i}" for i in range(30)))]
    got, want, _ = _clusters_vs_all_pairs(spark, monkeypatch, rows,
                                          FuzzyConfig())
    assert got == want
    assert got[11] == 10 and got[16] == 16 and got[17] == 17


@pytest.fixture(scope="module")
def oracle_gate():
    """tools/check_entry.py — the DuckDB oracle gate of the
    ``__spark_entry__`` queries — and its views over the SF tables."""
    pytest.importorskip("duckdb")
    if not os.path.isdir(SF):
        pytest.skip(f"{SF} is absent")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_entry", os.path.join(root, "tools", "check_entry.py"))
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)
    return gate, gate.oracle_views(SF)


@pytest.mark.parametrize("name", ["doc_cluster_assign", "doc_minhash_lsh",
                                  "image_dedup_clusters"])
def test_entry_query_matches_duckdb_oracle(spark, oracle_gate, name):
    """The fuzzy-cluster entry queries equal their ``oracle_sql()``
    results, compared the way tools/check_entry.py compares them."""
    gate, con = oracle_gate
    got = gate.entry.queries()[name](spark, SF).toPandas()
    want = con.sql(gate.entry.oracle_sql()[name]).df()
    assert len(want) > 0
    assert gate.mismatches(got, want) == []


def test_embedding_cosine_and_ann(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    copy = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    aug = emb.unionByName(copy)
    pairs = embedding_cosine_pairs(aug, threshold=0.99).collect()
    got = {(r["id_l"], r["id_r"]) for r in pairs}
    want = {(int(r["vec_id"]), int(r["vec_id"]) + 10000)
            for r in copy.select(F.col("vec_id") - 10000).withColumnRenamed(
                "(vec_id - 10000)", "vec_id").collect()}
    assert want <= got  # every planted identical pair found

    q = emb.where(F.col("vec_id") < 5)
    bf = brute_force_topk(emb, q, k=3).collect()
    assert len(bf) == 15
    assert all(r["neighbor_id"] != r["query_id"] for r in bf)

    # LSH ANN: same-bucket neighbors are a subset; rank-1 hit overlap
    # with brute force should be nonzero on identical-copy pairs
    lsh = lsh_topk(aug, copy.limit(5), dim=64, k=1, n_planes=8).collect()
    for r in lsh:
        if r["rank"] == 1 and r["query_id"] >= 10000:
            # the identical original shares every hyperplane bucket
            assert r["neighbor_id"] == r["query_id"] - 10000
            assert abs(r["cosine"] - 1.0) < 1e-6



def test_lsh_topk_buckets_match_numpy_sign_projection(spark):
    """lsh_topk's bucket id is the sign-random-projection signature
    drawn from default_rng(seed): bit j set iff the vector lies on the
    positive side of plane j. Pinned bit-for-bit against an inline
    NumPy reference, and through lsh_topk's own output: with
    probe_radius=0 and k = n, each query's neighbors are exactly the
    other corpus rows in its reference bucket."""
    import numpy as np

    from deduper_spark.operators.ann import hyperplane_signatures_udf

    dim, n_planes, seed, n = 8, 4, 7, 60
    vecs = np.random.default_rng(1).standard_normal((n, dim))
    planes = np.random.default_rng(seed).standard_normal((dim, n_planes))
    bits = (vecs @ planes) > 0
    want = (bits.astype(np.int64) << np.arange(n_planes)).sum(axis=1)

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    sig = hyperplane_signatures_udf(dim, n_planes, 1, seed)
    got = {r["vec_id"]: r["b"] for r in
           df.select("vec_id", sig("embedding")[0].alias("b")).collect()}
    assert got == {i: int(b) for i, b in enumerate(want)}

    nbrs = {}
    for r in lsh_topk(df, df, dim=dim, k=n, n_planes=n_planes, seed=seed,
                      probe_radius=0).collect():
        nbrs.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    expect = {}
    for i in range(n):
        same = {j for j in range(n) if j != i and want[j] == want[i]}
        if same:
            expect[i] = same
    assert nbrs == expect

def test_multimodal_plumbing(spark):
    from deduper_spark.synth import make_pdf

    pdf = make_pdf(42, 20)
    df = spark.createDataFrame(pdf)
    feats = extract_image_features(df, "image_id", "bytes").collect()
    assert len(feats) == 20
    assert all(r["decode_ok"] for r in feats)
    fmap = {r["id"]: r for r in feats}
    src = {r["image_id"]: r for r in df.select("image_id", "phash").collect()}
    assert all(fmap[k]["phash"] == src[k]["phash"] for k in fmap)

    resized = resize_images(df, "image_id", "bytes", 16, 16).collect()
    assert all(r["resized_ok"] for r in resized)
    from deduper_spark.functions.phash import decode_image
    blob = bytes(resized[0]["bytes"])
    assert blob[:4] == b"\x89PNG"          # interchange-grade output
    px = decode_image(blob)
    assert px.shape == (16, 16, 3)
    jpg = resize_images(df.limit(2), "image_id", "bytes", 16, 16,
                        out_fmt="jpeg").collect()
    assert bytes(jpg[0]["bytes"])[:2] == b"\xff\xd8"
    assert decode_image(bytes(jpg[0]["bytes"])).shape == (16, 16, 3)

    frames = sample_video_frames(df.limit(3), "image_id", "bytes").collect()
    assert len(frames) == 3 and all(r["decode_ok"] for r in frames)

    # poisoned blob isolation: undecodable rows flagged, job survives
    bad = spark.createDataFrame([("bad1", bytearray(b"\x89PNGxxxx" * 4))],
                                ["image_id", "bytes"])
    out = extract_image_features(bad, "image_id", "bytes").collect()
    assert len(out) == 1 and out[0]["decode_ok"] is False
