"""Pipeline configuration.

Maps the reference's builder config (reference: config/Config.kt:19-135 —
SourceJndi / seenHashesJndi / target/dupes/hash sinks) onto a plain
dataclass that parameterizes a DataFrame DAG instead of JDBC wiring.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class FuzzyConfig:
    """Knobs for the near-duplicate (fuzzy) paths.

    Defaults chosen so band structure (bands x rows_per_band =
    num_perm) puts the LSH S-curve threshold at the verification
    threshold: t ≈ (1/b)^(1/r) = (1/16)^(1/8) ≈ 0.71, next to
    jaccard_threshold = 0.7.
    """

    # caption shingling
    shingle_k: int = 5                 # tokens per shingle
    # MinHash
    num_perm: int = 128
    bands: int = 16
    rows_per_band: int = 8
    minhash_seed: int = 42
    jaccard_threshold: float = 0.7
    # SimHash
    simhash_hamming_threshold: int = 3
    # phash
    phash_hamming_threshold: int = 6
    phash_band_bits: int = 16          # 64-bit phash split into 4 bands of 16 bits
    # verification
    psnr_threshold_db: float = 40.0
    # pixel-verification mode: "full" decodes every phash-candidate pair
    # (exhaustive — tests, audits); "audit" decodes a deterministic
    # sample of <= psnr_audit_pairs pairs and fails the run if any
    # sampled pair violates the PSNR invariant. At corpus scale the
    # bytes-pair join is the single most expensive shuffle (2x image
    # payload per candidate pair) — phash Hamming is the production
    # verifier, PSNR the statistical fidelity audit.
    psnr_mode: str = "full"
    # ~target audited pairs (pure-predicate sample, pipeline.py). 2000
    # bounds the decode cost at ANY corpus size while still flagging a
    # >=0.15% fidelity violation rate with >95% probability (binomial)
    psnr_audit_pairs: int = 2_000
    # skew control: max rows admitted per LSH bucket before salting/capping
    max_bucket_size: int = 200

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}x{self.rows_per_band}) "
                f"must equal num_perm ({self.num_perm})"
            )


@dataclass(frozen=True)
class DedupConfig:
    """Top-level pipeline config.

    hash_keys: columns forming the exact dedup key, in user order
    (reference: Deduper.kt:181-186 — empty means all columns).
    order_col: stable keep-first order key (reference uses scan
    ordinals, Deduper.kt:208; we require an explicit stable column —
    monotonically_increasing_id is not reproducible across partitionings).
    """

    hash_keys: tuple[str, ...] = ()
    order_col: str = "image_id"
    include_json: bool = True          # ledger json_row iff true (Deduper.kt:189-191)
    fuzzy: FuzzyConfig = field(default_factory=FuzzyConfig)
    # incremental mode: path of a persisted hash ledger to preload
    # (reference seen-hash mode, Deduper.kt:135-158)
    seen_hashes_path: str | None = None
    # sinks (parquet dirs in the sandbox; Iceberg table idents on a cluster)
    target_path: str | None = None
    dupes_path: str | None = None
    hashes_path: str | None = None
    clusters_path: str | None = None
    # resumability
    checkpoint_dir: str | None = None
    run_id: str = "run0"
