"""Round-3 regression tests: VERDICT r2 next-round items + ADVICE items.

Covers: alternating large-star/small-star CC (O(log d) chains),
inline-Hamming simhash doc pairs, ngram hot-block cap, multi-table
embedding LSH boundary recall, IVF sample-capped fit, deterministic
PSNR audit sampling, preloaded-hit dupe-group detail, narrowed
seen-ledger preload failure handling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------ connected components

def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress
    return {i: find(i) for i in range(n_nodes)}


def test_cc_alternating_chain_converges_fast(spark):
    """A 400-node chain closes within max_iter=15 (its star rounds,
    O(log d), are checked on the same chain in
    test_cc_alternating_matches_union_find)."""
    from deduper_spark.operators.cc import connected_components

    ids = [f"n{i:05d}" for i in range(400)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(399)], ["id_l", "id_r"]
    )
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(edges, max_iter=15).collect()}
    assert got == {i: ids[0] for i in ids}


def _random_sparse(rng):
    raw = [(rng.randrange(300), rng.randrange(300)) for _ in range(220)]
    return 300, [(a, b) for a, b in raw if a != b]


def _two_cliques(rng):
    # interleaved ids: clique A holds the even nodes, clique B the odd
    return 80, [(a, b) for parity in (0, 1)
                for a in range(parity, 80, 2)
                for b in range(a + 2, 80, 2)]


CC_GRAPHS = {
    "random_sparse": _random_sparse,
    "chain_400": lambda rng: (400, [(i, i + 1) for i in range(399)]),
    # hub in the middle: the min id is a leaf, not the hub
    "giant_star": lambda rng: (2001, [(1000, i) for i in range(2001)
                                      if i != 1000]),
    "two_cliques": _two_cliques,
    "no_edges": lambda rng: (50, []),
}


PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython")


def _cc_ids(id_type, n):
    # both id maps increase with the node index, so min id == min index
    return ([i * 7919 - 10**12 for i in range(n)] if id_type == "bigint"
            else [f"n{i:05d}" for i in range(n)])


def _counting(monkeypatch, module, name):
    calls = []
    orig = getattr(module, name)

    def counted(*a, **kw):
        calls.append(a)
        return orig(*a, **kw)

    monkeypatch.setattr(module, name, counted)
    return calls


@pytest.mark.parametrize("path", ["single_task", "star_rounds"])
@pytest.mark.parametrize("id_type", ["bigint", "string"])
@pytest.mark.parametrize("graph", sorted(CC_GRAPHS))
def test_cc_alternating_matches_union_find(spark, star_path, monkeypatch,
                                           graph, id_type, path):
    """CC labels == exact driver union-find on every graph shape, id
    type and path; cluster_id is the min member id (keep-first). The
    NumPy kernel alone must match too: the contraction + finish pair
    can mask a kernel that only half-compresses its trees.

    single_task: every graph here fits the budget, so it is labelled on
    the driver — no contraction, no rounds, no Python node in the
    labels' plan, and the ids keep their type."""
    import contextlib
    import random

    import pandas as pd

    from deduper_spark.operators import cc

    n, raw = CC_GRAPHS[graph](random.Random(7))
    truth = _union_find(n, raw)
    ids = _cc_ids(id_type, n)
    pos = {v: i for i, v in enumerate(ids)}
    kid, root = cc._min_labels(pd.Series([ids[a] for a, _ in raw]),
                               pd.Series([ids[b] for _, b in raw]))
    assert {pos[v]: truth[pos[v]] for v in kid} == \
        {pos[v]: pos[w] for v, w in zip(kid, kid[root])}
    edges = spark.createDataFrame(
        [(ids[a], ids[b]) for a, b in raw], f"id_l {id_type}, id_r {id_type}"
    )
    nodes = spark.createDataFrame([(i,) for i in ids], f"id {id_type}")

    rounds = _counting(monkeypatch, cc, "_small_star")
    contracted = _counting(monkeypatch, cc, "_contract")
    with star_path() if path == "star_rounds" else contextlib.nullcontext():
        labels = cc.connected_components(edges, nodes=nodes)
        got = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert len(got) == n
    assert got == {ids[i]: ids[truth[i]] for i in range(n)}
    if path == "single_task":
        assert not rounds and not contracted
        plan = labels._jdf.queryExecution().executedPlan().toString()
        assert not [p for p in PYTHON_NODES if p in plan], plan
        assert labels.schema["id"].dataType.simpleString() == id_type
        assert labels.schema["cluster_id"].dataType.simpleString() == id_type
    elif raw:
        assert contracted


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_cc_rounds_then_driver_finish(spark, monkeypatch, id_type):
    """An input over budget whose forest fits after one star round is
    contracted, runs the round, and is then finished on the driver."""
    import random

    from deduper_spark.operators import cc

    n, raw = _two_cliques(random.Random(7))
    truth = _union_find(n, raw)
    ids = _cc_ids(id_type, n)
    edges = spark.createDataFrame(
        [(ids[a], ids[b]) for a, b in raw], f"id_l {id_type}, id_r {id_type}"
    )
    row_bytes = 16 if id_type == "bigint" else 40
    rounds = _counting(monkeypatch, cc, "_small_star")
    finished = _counting(monkeypatch, cc, "_driver_finish")
    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled")}
    try:
        # 100 rows: fewer than the 1560 input edges and than the four
        # partitions' first forests, more than the global forest's 78
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       f"{100 * row_bytes}b")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "false")
        got = {r["id"]: r["cluster_id"]
               for r in cc.connected_components(edges).collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == {ids[i]: ids[truth[i]] for i in range(n)}
    # tried before the contraction (over budget), then after the round
    assert len(rounds) == 1 and len(finished) == 2


# --------------------------------------------------- simhash doc pairs

def test_simhash_doc_pairs_inline_predicate_and_bruteforce(spark):
    """The doc-level SimHash path must (a) evaluate bit_count inside
    the self-join (no features verify join — the 26.7M-junk-pair flood
    class), and (b) produce exactly the brute-force Hamming<=t pair
    set (full recall at t <= 64/band_bits - 1 by pigeonhole)."""
    from deduper_spark.config import FuzzyConfig
    from deduper_spark.operators.dedup_text import (
        doc_features,
        simhash_doc_pairs,
    )

    docs = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i}")
            for i in range(40)]
    docs += [(100 + i, docs[i][1]) for i in range(0, 40, 4)]  # exact copies
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    cfg = FuzzyConfig()
    pairs = simhash_doc_pairs(df, "doc_id", "text", cfg)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "bit_count" in plan

    got = {(r["id_l"], r["id_r"], r["hamming"]) for r in pairs.collect()}

    feats = {r["id"]: r["simhash"]
             for r in doc_features(df, "doc_id", "text", cfg).collect()}
    keys = sorted(feats)
    expect = set()
    for i, a in enumerate(keys):
        for b in keys[i + 1:]:
            h = bin((feats[a] ^ feats[b]) & (2**64 - 1)).count("1")
            if h <= cfg.simhash_hamming_threshold:
                expect.add((min(a, b), max(a, b), h))
    assert got == expect
    assert len(got) >= 10  # the planted copies are in there


# ------------------------------------------------------ ngram hot block

def test_ngram_hot_block_capped(spark):
    """One flooded block (shared 5-token opening, 60 members) is
    dropped and METERED; pairing in normal blocks is unaffected."""
    from deduper_spark.operators.dedup_text import ngram_jaccard_pairs

    boiler = [(i, f"terms of service apply here body{i} tail{i} x{i}")
              for i in range(60)]
    normal = [(100, "red fox jumps over dog quickly today"),
              (101, "red fox jumps over dog quickly tonight")]
    df = spark.createDataFrame(boiler + normal, ["doc_id", "text"])

    pairs, dropped = ngram_jaccard_pairs(
        df, threshold=0.3, max_block_size=50
    )
    got = {(r["id_l"], r["id_r"]) for r in pairs.collect()}
    assert got == {("100", "101")} or got == {(100, 101)}
    drop_rows = dropped.collect()
    assert len(drop_rows) == 1 and drop_rows[0]["bucket_size"] == 60

    # cap off (default 2000): the flooded block pairs quadratically
    # (60 boiler docs share 3 of 9 grams -> jaccard 0.33 >= 0.3)
    uncapped, _ = ngram_jaccard_pairs(df, threshold=0.3)
    assert uncapped.count() > 1000


# ----------------------------------------------- embedding LSH recall

def test_embedding_boundary_recall_with_auto_tables(spark):
    """ADVICE r2: one radius-1 table misses ~49% of pairs AT threshold
    0.95. With auto table count (target_miss=0.01) recall on boundary
    pairs must be >= 0.97."""
    import numpy as np

    from deduper_spark.operators.dedup_text import (
        embedding_cosine_pairs,
        lsh_tables_for_recall,
    )

    assert lsh_tables_for_recall(0.99, 16, 1) >= 2
    assert lsh_tables_for_recall(0.95, 16, 1) >= 5

    rng = np.random.default_rng(11)
    theta = float(np.arccos(0.951))
    rows = []
    for p in range(150):
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        w = rng.standard_normal(64)
        w -= w @ v * v
        w /= np.linalg.norm(w)
        u = np.cos(theta) * v + np.sin(theta) * w
        rows.append((2 * p, [float(x) for x in v]))
        rows.append((2 * p + 1, [float(x) for x in u]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    got = {(r["id_l"], r["id_r"])
           for r in embedding_cosine_pairs(
               df, threshold=0.95, seed=3).collect()}
    planted = {(str(2 * p), str(2 * p + 1)) for p in range(150)} | {
        (2 * p, 2 * p + 1) for p in range(150)
    }
    recall = len(got & planted) / 150
    assert recall >= 0.97, f"boundary recall {recall}"


def test_embedding_pairs_empty_input(spark):
    from deduper_spark.operators.dedup_text import embedding_cosine_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_cosine_pairs(empty, threshold=0.95).count() == 0


# --------------------------------------------------------- IVF fit cap

def test_ivf_fit_input_is_sample_capped(spark, monkeypatch):
    import numpy as np
    from pyspark.ml.clustering import KMeans

    from deduper_spark.operators.ann import ivf_topk

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(600)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.where(F.col("vec_id") < 3)

    fit_counts = []
    orig_fit = KMeans.fit

    def spy(self, dataset, *a, **kw):
        fit_counts.append(dataset.count())
        return orig_fit(self, dataset, *a, **kw)

    monkeypatch.setattr(KMeans, "fit", spy)
    out = ivf_topk(df, q, k=2, n_cells=4, n_probe=4, fit_sample_rows=100)
    assert out.count() > 0
    assert fit_counts and fit_counts[0] < 300  # ~100 expected, never 600


# ------------------------------------------- PSNR audit determinism

def test_psnr_audit_sample_deterministic_across_partitionings(spark):
    """The audited pair set is a pure predicate of pair ids: the same
    corpus at 2 vs 16 input partitions audits the same number of pairs
    (a .limit() cut varied with arrival order)."""
    from deduper_spark.config import DedupConfig, FuzzyConfig
    from deduper_spark.pipeline import DedupPipeline
    from deduper_spark.synth import make_pdf

    pdf = make_pdf(42, 80)
    sampled = []
    for parts in (2, 16):
        df = spark.createDataFrame(pdf).repartition(parts)
        pipe = DedupPipeline(
            DedupConfig(fuzzy=FuzzyConfig(psnr_mode="audit",
                                          psnr_audit_pairs=5)),
            collect_metrics=False,
        )
        pipe.run(spark, df)
        aud = [m for m in pipe.metrics if m.get("stage") == "psnr_audit"]
        assert aud and aud[0]["sampled"] > 0
        sampled.append(aud[0]["sampled"])
    assert sampled[0] == sampled[1]


# ------------------------------------- incremental: preloaded groups

def test_preloaded_hit_groups_in_report_and_dupes_sink(spark, tmp_path):
    """ADVICE r2: report.dupes and the dupes sink must carry EVERY
    preloaded-hit group (reference DeduperTest.kt sourceHashTable:
    dupes.size == group count when all rows are seen)."""
    from deduper_spark.config import DedupConfig
    from deduper_spark.pipeline import DedupPipeline
    from deduper_spark.synth import make_pdf

    df = spark.createDataFrame(make_pdf(42, 50))
    cfg1 = DedupConfig(hashes_path=str(tmp_path / "hashes"))
    res1 = DedupPipeline(cfg1).run(spark, df)
    n_hashes = res1.report.hash_count

    cfg2 = DedupConfig(
        seen_hashes_path=cfg1.hashes_path,
        dupes_path=str(tmp_path / "dupes2"),
    )
    res2 = DedupPipeline(cfg2).run(spark, df)
    # every row seen -> every hash group is a preloaded-hit group
    assert res2.report.distinct_dupe_count == n_hashes
    assert len(res2.report.dupes) == n_hashes
    g = next(iter(res2.report.dupes.values()))
    assert g["survivor_id"] is None and g["n_members"] >= 1
    # dupes sink reconciles to the FULL group count (fail-hard passed)
    assert spark.read.parquet(cfg2.dupes_path).count() == n_hashes


def test_preload_seen_corrupt_ledger_raises(spark, tmp_path):
    """ADVICE r2: a corrupt ledger must FAIL the run, not silently
    disable incremental dedup. Only a genuinely absent path counts as
    a first run."""
    import os

    from deduper_spark.config import DedupConfig
    from deduper_spark.pipeline import DedupPipeline
    from deduper_spark.synth import make_pdf

    bad = tmp_path / "ledger"
    os.makedirs(bad)
    with open(bad / "part-00000.parquet", "w") as f:
        f.write("this is not a parquet file")

    df = spark.createDataFrame(make_pdf(42, 20))
    pipe = DedupPipeline(DedupConfig(seen_hashes_path=str(bad)),
                         families=("exact",), collect_metrics=False)
    with pytest.raises(Exception):
        pipe.run(spark, df)

    # absent path still == clean first run
    pipe2 = DedupPipeline(
        DedupConfig(seen_hashes_path=str(tmp_path / "missing")),
        families=("exact",), collect_metrics=False)
    res = pipe2.run(spark, df)
    assert res.report.success


# --------------------------------------- fused minhash bucket kernel

def test_minhash_bucket_kernel_properties():
    """Fused signature+banding: identical sets -> identical buckets
    (LSH contract), deterministic, near-identical sets share most
    bands, disjoint sets share none."""
    import numpy as np
    import pandas as pd

    from deduper_spark.functions.kernels import minhash_bucket_kernel

    rng = np.random.default_rng(9)
    a = rng.integers(0, 1 << 62, size=100).tolist()
    b = list(a)                     # identical set
    c = a[:95] + rng.integers(0, 1 << 62, size=5).tolist()  # J ~ 0.9
    d = rng.integers(0, 1 << 62, size=100).tolist()          # disjoint

    out = minhash_bucket_kernel(pd.Series([a, b, c, d]), 128, 16, 42)
    ba, bb, bc, bd = (np.asarray(x) for x in out)
    assert np.array_equal(ba, bb)
    assert (ba == bc).sum() >= 4      # high-Jaccard pair shares bands
    assert (ba == bd).sum() == 0      # disjoint sets collide nowhere
    out2 = minhash_bucket_kernel(pd.Series([a]), 128, 16, 42)
    assert np.array_equal(np.asarray(out2[0]), ba)


# ------------------------------------- winnowed dropped-fp metering

def test_winnowed_substring_dropped_fp_metered(spark):
    """ADVICE r2: fingerprint buckets over the cap are reported, not
    silently eaten."""
    from deduper_spark.operators.suffix import winnowed_substring_pairs

    boiler = "this license header is exactly the same boilerplate text " \
             "in every single document of the corpus and then some"
    rows = [(f"d{i:03d}", boiler) for i in range(30)]
    rows += [("x1", "completely unrelated text one with enough length to "
                    "pass the minimum window size easily yes"),
             ("x2", "another unrelated body of text that shares nothing "
                    "with the boilerplate cluster at all here")]
    df = spark.createDataFrame(rows, ["id", "norm_caption"])
    pairs, dropped = winnowed_substring_pairs(
        df, min_len=45, max_fp_bucket=10
    )
    assert pairs.count() == 0  # all boiler pairs lived in dropped buckets
    d = dropped.collect()
    assert d and all(r["bucket_size"] == 30 for r in d)
