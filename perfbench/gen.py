"""Seeded input generators and the truth they plant.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, so two checkouts measure the same work. The
engine only ever sees the generated DataFrames; the truth returned
beside each table is what the benchmark checks the outputs against.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- text

# Documents are DOC_TOKENS tokens drawn from a vocabulary large enough
# that a doc's 5-token shingles are distinct. One substituted token
# changes at most 5 of its DOC_TOKENS-4 shingles, so neighbours in an
# edit chain have Jaccard >= (L-9)/(L+1) ~ 0.90 (LSH misses such a pair
# with p ~ 1e-4 at 16x8 bands) while docs k edits apart fall below the
# 0.7 threshold once 5k changed shingles outweigh (L-4)*0.3/1.7: the
# ends of a chain are joined only through the components operator.
DOC_TOKENS = 100
VOCAB_SIZE = 20_000


@dataclass(frozen=True)
class TextCorpus:
    docs: pd.DataFrame          # (doc_id: int64, text: str)
    labels: dict[int, int]      # doc_id -> planted family


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(0, VOCAB_SIZE, size=n)


def _text(ids: np.ndarray) -> str:
    return " ".join(f"w{j}" for j in ids)


def text_chains(seed: int, n_chains: int, chain_len: int,
                n_boilerplate: int, n_singletons: int) -> TextCorpus:
    """Edit chains, one boilerplate family and unrelated singletons.

    Chain c is a random doc followed by ``chain_len - 1`` docs that each
    substitute one token of their predecessor. The boilerplate family is
    ``n_boilerplate`` copies of one template, each with its own single
    substitution, so all of them share most LSH buckets (one hot bucket
    per band, larger than ``max_bucket_size``). Doc ids are a seeded
    permutation, so no family occupies a contiguous id range."""
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    family: list[int] = []
    for c in range(n_chains):
        doc = _words(rng, DOC_TOKENS)
        for _ in range(chain_len):
            texts.append(_text(doc))
            family.append(c)
            doc = doc.copy()
            doc[rng.integers(DOC_TOKENS)] = rng.integers(VOCAB_SIZE)
    template = _words(rng, DOC_TOKENS)
    for _ in range(n_boilerplate):
        doc = template.copy()
        doc[rng.integers(DOC_TOKENS)] = rng.integers(VOCAB_SIZE)
        texts.append(_text(doc))
        family.append(n_chains)
    for s in range(n_singletons):
        texts.append(_text(_words(rng, DOC_TOKENS)))
        family.append(n_chains + 1 + s)
    ids = rng.permutation(len(texts)).astype(np.int64)
    docs = pd.DataFrame({"doc_id": ids, "text": texts})
    return TextCorpus(docs=docs,
                      labels=dict(zip(ids.tolist(), family)))


# ------------------------------------------------------------- tabular

EXACT_KEYS = ("account", "region")


@dataclass(frozen=True)
class ExactTruth:
    """Planted outcome of keep-first dedup on one batch."""
    record_count: int
    hash_count: int             # distinct keys among the batch's fresh rows
    dupe_count: int             # fresh rows that are not the first of their key
    distinct_dupe_count: int    # fresh keys that occur more than once
    seen_rows: frozenset[int]   # rows whose key an earlier batch holds
    dup_pairs: frozenset[tuple[int, int]]  # (first row of key, later row)


def _table(row_ids: np.ndarray, keys: np.ndarray,
           rng: np.random.Generator) -> pd.DataFrame:
    n = len(row_ids)
    return pd.DataFrame({
        "row_id": row_ids,
        "account": [f"acct-{k:09d}" for k in keys.tolist()],
        "region": (keys % 37).astype(np.int32),
        "amount": np.round(rng.uniform(0, 1e4, n), 2),
        "note": [f"n{v}" for v in rng.integers(0, 10**9, n).tolist()],
    })


def _repeat_keys(rng: np.random.Generator, n: int, share: float,
                 next_key: int, pool: np.ndarray) -> np.ndarray:
    """Row i repeats a key of ``pool`` or of an earlier row of this batch
    with probability ``share``, otherwise takes a fresh key."""
    keys = np.empty(n, dtype=np.int64)
    repeat = rng.random(n) < share
    pick = rng.random(n)
    for i in range(n):
        m = len(pool) + i
        if repeat[i] and m:
            j = int(pick[i] * m)
            keys[i] = pool[j] if j < len(pool) else keys[j - len(pool)]
        else:
            keys[i] = next_key
            next_key += 1
    return keys


def _truth(row_ids: np.ndarray, keys: np.ndarray,
           prior: dict[int, int]) -> ExactTruth:
    first: dict[int, int] = {}
    pairs = set()
    seen = set()
    for r, k in zip(row_ids.tolist(), keys.tolist()):
        if k in prior:
            seen.add(r)
        elif k in first:
            pairs.add((first[k], r))
        else:
            first[k] = r
    counts = Counter(k for k in keys.tolist() if k not in prior)
    return ExactTruth(
        record_count=len(row_ids) - len(seen),
        hash_count=len(first),
        dupe_count=len(pairs),
        distinct_dupe_count=sum(1 for c in counts.values() if c > 1),
        seen_rows=frozenset(seen),
        dup_pairs=frozenset(pairs),
    )


def exact_batches(seed: int, n1: int, n2: int, repeat_share: float = 0.2,
                  seen_share: float = 0.15):
    """Two seeded batches for keep-first + seen-hash incremental dedup.

    Batch 1: ``repeat_share`` of its rows repeat an earlier key.
    Batch 2: ``seen_share`` of its rows repeat a batch-1 key (the
    ledger marks them seen), ``repeat_share`` repeat an earlier batch-2
    key, the rest are fresh. Returns (batch1, truth1, batch2, truth2);
    truth2 counts only batch 2's fresh rows, as incremental dedup does."""
    rng = np.random.default_rng([seed, 2])
    k1 = _repeat_keys(rng, n1, repeat_share, 0, np.empty(0, np.int64))
    ids1 = np.arange(n1, dtype=np.int64)
    b1 = _table(ids1, k1, rng)
    t1 = _truth(ids1, k1, {})

    keys1 = np.unique(k1)
    from_ledger = rng.random(n2) < seen_share
    k2 = _repeat_keys(rng, n2, repeat_share / (1 - seen_share),
                      int(k1.max()) + 1, np.empty(0, np.int64))
    k2[from_ledger] = keys1[rng.integers(0, len(keys1),
                                         int(from_ledger.sum()))]
    ids2 = np.arange(n1, n1 + n2, dtype=np.int64)
    b2 = _table(ids2, k2, rng)
    t2 = _truth(ids2, k2, dict.fromkeys(keys1.tolist(), 0))
    return b1, t1, b2, t2


# --------------------------------------------------------------- scoring

def pair_scores(planted: dict, found: dict) -> tuple[float, float]:
    """(recall, precision) of same-cluster pairs, by contingency counts.

    planted, found: id -> cluster label. A pair of ids is a dup pair of
    a labelling when both ids carry the same label; the counts need no
    pair enumeration, so a boilerplate family of thousands costs
    nothing. A planted id missing from ``found`` counts as a singleton.
    """
    f = {i: found.get(i, ("missing", i)) for i in planted}

    def pairs(labels) -> int:
        return sum(c * (c - 1) // 2 for c in Counter(labels).values())

    n_both = pairs((planted[i], f[i]) for i in planted)
    n_planted = pairs(planted.values())
    n_found = pairs(f.values())
    recall = n_both / n_planted if n_planted else 1.0
    precision = n_both / n_found if n_found else 1.0
    return recall, precision


def set_scores(planted: frozenset, found: set) -> tuple[float, float]:
    """(recall, precision) of an explicit pair set."""
    hit = len(planted & found)
    recall = hit / len(planted) if planted else 1.0
    precision = hit / len(found) if found else 1.0
    return recall, precision
