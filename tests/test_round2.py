"""Round-2 additions: NULL-key parity, integer quality score, the
winnowed exact-substring pass, pipeline-level incremental + sinks,
JDBC DDL goldens, CC convergence guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deduper_spark.functions.keys import md5_key_expr, stringify_expr


# ---------------------------------------------------------------- keys

def test_null_key_keeps_separator(spark):
    """(a, NULL, b) and (a, b, NULL) must NOT collide: every column
    contributes a token (NULL → 'null', Kotlin joinToString parity —
    reference null golden DeduperTest.kt:353-392)."""
    df = spark.createDataFrame(
        [("a", None, "b"), ("a", "b", None)], ["x", "y", "z"]
    )
    rows = df.select(
        stringify_expr(["x", "y", "z"]).alias("s"),
        md5_key_expr(["x", "y", "z"]).alias("h"),
    ).collect()
    strings = {r["s"] for r in rows}
    hashes = {r["h"] for r in rows}
    assert strings == {"a, null, b", "a, b, null"}
    assert len(hashes) == 2


# ------------------------------------------------------- quality_micro

def test_quality_micro_integer_golden(spark):
    from deduper_spark.functions.textstats import quality_micro_expr

    df = spark.createDataFrame([("the cat and the dog!!",), ("",)], ["text"])
    got = [r["q"] for r in
           df.select(quality_micro_expr("text").alias("q")).collect()]
    # hand-computed: len_part=5*10000; sw_part=min(3*1500000//5, 300000);
    # punct_part=200000 - 2*200000//21
    assert got[0] == 50_000 + 300_000 + (200_000 - (2 * 200_000) // 21)
    # empty: 0 tokens, split('')=[''] → 1 elem, 0 hits, no punct
    assert got[1] == 0 + 0 + 200_000
    assert all(isinstance(v, int) for v in got)


# ------------------------------------------- winnowed substring pass

def _brute_pairs(texts: dict[str, str], min_len: int) -> set[tuple[str, str]]:
    def wins(t):
        return {t[i:i + min_len] for i in range(len(t) - min_len + 1)}

    ids = sorted(texts)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if wins(texts[a]) & wins(texts[b]):
                out.add((a, b))
    return out


@pytest.fixture(scope="module")
def substring_corpus():
    import random

    rng = random.Random(7)
    words = ["alpha", "bravo", "carol", "delta", "echos", "foxtr",
             "golfy", "hotel", "india", "julie", "kilos", "limas"]
    texts = {}
    for i in range(40):
        texts[f"d{i:03d}"] = " ".join(rng.choice(words) for _ in range(30))
    # planted: d100 contains d000's middle 60 chars; d101 shares a
    # 45-char run with d001; d102 is too-short overlap (30 chars)
    texts["d100"] = "xx " + texts["d000"][20:80] + " yy"
    texts["d101"] = texts["d001"][:45] + " unrelated tail here"
    texts["d102"] = texts["d002"][:30] + " zz short overlap only"
    return texts


def test_winnow_guarantee_and_exactness(substring_corpus):
    """Kernel-level: winnowed fingerprints intersect for every pair
    sharing a >= min_len substring (the SIGMOD'03 guarantee) and
    shares_substring reproduces the brute-force predicate exactly."""
    import numpy as np

    from deduper_spark.functions.winnow import (
        shares_substring,
        winnow_fingerprints,
    )

    texts = substring_corpus
    want = _brute_pairs(texts, 45)
    assert ("d000", "d100") in want and ("d001", "d101") in want
    fps = {k: set(winnow_fingerprints(t, 45).tolist())
           for k, t in texts.items()}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = shares_substring(texts[a], texts[b], 45)
            assert shared == ((a, b) in want)
            if (a, b) in want:       # guarantee: candidates never missed
                assert fps[a] & fps[b], f"winnow missed {(a, b)}"
    assert np.all(winnow_fingerprints("short", 45) == np.empty(0))


def test_gram_hashes_matches_windowed_reference():
    """The r6 prefix-poly gram hash (O(1)/position via the modular
    inverse of B) must be BIT-identical to the definitional windowed
    dot product mix(sum_j codes[p+j] * B^(k-1-j)), including across
    internal chunk boundaries."""
    import numpy as np

    from deduper_spark.functions.kernels import splitmix64_inplace
    from deduper_spark.functions.winnow import _B, _codes, gram_hashes

    rng = np.random.default_rng(11)

    def reference(codes, k):
        n = len(codes)
        if n < k:
            return np.empty(0, dtype=np.uint64)
        powers = np.empty(k, dtype=np.uint64)
        powers[-1] = np.uint64(1)
        with np.errstate(over="ignore"):
            for j in range(k - 2, -1, -1):
                powers[j] = powers[j + 1] * _B
            out = (
                np.lib.stride_tricks.sliding_window_view(codes, k)
                * powers[None, :]
            ).sum(axis=1, dtype=np.uint64)
            splitmix64_inplace(out)
        return out

    for n, k in [(0, 32), (10, 32), (32, 32), (33, 32), (500, 45),
                 (4096, 32), (5000, 3)]:
        codes = rng.integers(0, 1 << 20, size=n, dtype=np.uint64)
        assert np.array_equal(gram_hashes(codes, k), reference(codes, k))
    # chunk boundary: force several internal segments
    codes = rng.integers(0, 1 << 20, size=1000, dtype=np.uint64)
    assert np.array_equal(gram_hashes(codes, 32, chunk=100),
                          reference(codes, 32))
    # real text path
    codes = _codes("the quick brown fox jumps over the lazy dog " * 40)
    assert np.array_equal(gram_hashes(codes, 45), reference(codes, 45))


def test_winnow_batch_matches_per_doc(substring_corpus):
    """winnow_fingerprints_batch slices one concatenated group pass
    into per-doc results — must equal the per-doc kernel exactly, for
    every text, at any group budget (flush boundaries included)."""
    import numpy as np

    from deduper_spark.functions.winnow import (
        winnow_fingerprints,
        winnow_fingerprints_batch,
    )

    texts = list(substring_corpus.values())
    texts += ["", "short", "x" * 44, "x" * 45, "y" * 46,
              "übergröße-" * 10, "日本語テキスト" * 12]
    ref = [winnow_fingerprints(t, 45) for t in texts]
    for budget in (1 << 21, 500, 1):   # one group / multi-flush / per-doc
        got = winnow_fingerprints_batch(texts, 45, max_group_chars=budget)
        assert len(got) == len(ref)
        for r, g in zip(ref, got):
            assert np.array_equal(r, g)
    assert winnow_fingerprints_batch([], 45) == []
    with pytest.raises(ValueError):
        winnow_fingerprints_batch(["abc"], 10, k=32)


def test_winnowed_substring_pairs_operator(spark, substring_corpus):
    """Operator output == brute force, at ANY parallelism (no shards,
    no cross-shard recall gap — the round-1 SA pass's weak spot)."""
    from deduper_spark.operators.suffix import winnowed_substring_pairs

    texts = substring_corpus
    want = _brute_pairs(texts, 45)
    df = spark.createDataFrame(list(texts.items()), ["id", "norm_caption"])
    for parts in (1, 8):
        got = {
            (r["id_l"], r["id_r"])
            for r in winnowed_substring_pairs(
                df.repartition(parts), min_len=45
            )[0].collect()
        }
        assert got == want, f"mismatch at {parts} partitions"


def test_sharded_sa_pass_matches_winnow_within_shard(spark, substring_corpus):
    """The per-shard SA kernel (vectorized LCP>=L detection) agrees
    with brute force when everything is one shard."""
    from deduper_spark.operators.suffix import substring_overlap_pairs

    texts = substring_corpus
    df = spark.createDataFrame(
        list(texts.items()), ["id", "norm_caption"]
    ).coalesce(1)
    got = {(r["id_l"], r["id_r"])
           for r in substring_overlap_pairs(df, min_len=45).collect()}
    assert got == _brute_pairs(texts, 45)


# --------------------------------------------- pipeline incremental

def test_pipeline_incremental_and_sinks(spark, tmp_path):
    from deduper_spark.config import DedupConfig
    from deduper_spark.pipeline import DedupPipeline
    from deduper_spark.synth import make_pdf

    df = spark.createDataFrame(make_pdf(42, 100))

    cfg1 = DedupConfig(
        target_path=str(tmp_path / "target"),
        dupes_path=str(tmp_path / "dupes"),
        hashes_path=str(tmp_path / "hashes"),
        clusters_path=str(tmp_path / "clusters"),
    )
    res1 = DedupPipeline(cfg1).run(spark, df)
    assert res1.report.record_count == 100
    assert res1.report.dupe_count == 40          # 4 planted dups / block
    # sinks written AND reconciled (fail-hard) — counts match report
    assert spark.read.parquet(cfg1.target_path).count() == 60
    assert spark.read.parquet(cfg1.clusters_path).count() == 100
    n_hashes = spark.read.parquet(cfg1.hashes_path).count()
    assert n_hashes == res1.report.hash_count
    sink_metric = [m for m in res1.metrics if m.get("stage") == "sinks"]
    assert sink_metric and sink_metric[0]["target"] == 60
    # report.dupes group detail populated (VERDICT round-1 missing #5)
    assert len(res1.report.dupes) == res1.report.distinct_dupe_count
    any_group = next(iter(res1.report.dupes.values()))
    assert any_group["n_members"] >= 2

    # ---- second run over the SAME corpus, preloading run1's ledger:
    # every row is already-seen (reference DeduperTest.kt:393-413)
    cfg2 = DedupConfig(
        seen_hashes_path=cfg1.hashes_path,
        target_path=str(tmp_path / "target2"),   # empty sinks reconcile too
        clusters_path=str(tmp_path / "clusters2"),
    )
    res2 = DedupPipeline(cfg2).run(spark, df)
    assert spark.read.parquet(cfg2.target_path).count() == 0
    assert res2.report.record_count == 100
    assert res2.report.dupe_count == 100
    assert res2.report.hash_count == n_hashes     # preloaded, nothing new
    assert res2.report.distinct_dupe_count == n_hashes
    assert res2.survivors.count() == 0
    assert res2.clusters.count() == 0

    # missing ledger path == empty preload (first-run convenience)
    cfg3 = DedupConfig(seen_hashes_path=str(tmp_path / "nonexistent"))
    res3 = DedupPipeline(cfg3).run(spark, df)
    assert res3.report.dupe_count == 40


# ------------------------------------------------------- JDBC DDL

def test_jdbc_ddl_goldens(spark):
    from deduper_spark.sinks.jdbc import (
        dupes_table_ddl,
        generate_ddl,
        hashes_table_ddl,
    )

    assert dupes_table_ddl("ansi") == (
        "CREATE TABLE dupes(hash VARCHAR NOT NULL, row_ids VARCHAR NOT NULL, "
        "first_found_row_number BIGINT NOT NULL, dupe_values VARCHAR NOT NULL, "
        "PRIMARY KEY (hash))"
    )
    assert hashes_table_ddl("ansi") == (
        "CREATE TABLE hashes(hash VARCHAR NOT NULL, json_row VARCHAR NULL, "
        "PRIMARY KEY (hash))"
    )
    assert hashes_table_ddl("sqlite").startswith(
        "CREATE TABLE hashes(hash TEXT NOT NULL"
    )

    df = spark.createDataFrame(
        [("3526 HIGH ST", 59222)], ["street", "price"]
    )
    # varchar sized as max observed + padding (reference varcharPadding,
    # jndi/JNDIType.kt:39-44)
    ddl = generate_ddl("target", df, vendor="ansi", varchar_padding=5,
                       measure_strings=True)
    assert ddl == ("CREATE TABLE target(street VARCHAR(17) NULL, "
                   "price BIGINT NULL)")
    with pytest.raises(ValueError, match="JSON"):
        generate_ddl("t", df.select(F.array("street").alias("a")))


# ------------------------------------------------------- IVF ANN

def test_ivf_topk_recall(spark):
    """IVF cells + multiprobe vs brute force: identical-copy queries
    always find their source (own cell probed), and overall recall@3
    clears the n_probe/n_cells coverage bar."""
    from deduper_spark.operators.ann import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(emb, q, k=3).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in ivf_topk(emb, q, k=3, n_cells=8, n_probe=4).collect()}
    assert len(ivf & bf) / len(bf) >= 0.7

    copies = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    ).limit(5)
    top1 = ivf_topk(emb, copies, k=1, n_cells=8, n_probe=1).collect()
    for r in top1:
        assert r["neighbor_id"] == r["query_id"] - 10000
        assert abs(r["cosine"] - 1.0) < 1e-6


# ------------------------------------------------------ CC guard

def test_cc_nonconvergence_raises(spark, star_path):
    """max_iter bounds the star rounds, which only a forest too large
    for one task runs — so force that path (a 12-edge chain otherwise
    closes in the single-task finish)."""
    from deduper_spark.operators.cc import connected_components

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)],
        ["id_l", "id_r"],
    )
    with star_path():
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(chain, max_iter=3)
        # and converges fine when allowed enough rounds
        ok = connected_components(chain, max_iter=20)
        assert ok.where(F.col("cluster_id") == "n00").count() == 13
