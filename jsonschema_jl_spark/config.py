"""Single source of truth for dedup configuration.

The north rule requires the engine and the recall oracle to run "identical
shingle/signature configs" (BASELINE.json:6) — both read this dataclass, so
they can never diverge.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
import hashlib
import json


@dataclass(frozen=True)
class DedupConfig:
    # --- caption shingling (P2) ---
    shingle_k: int = 5            # char-level k-gram width (bytes of NFC text)
    # --- MinHash (P3) ---
    # 256 bins with b=32/r=8 banding puts the LSH S-curve midpoint at
    # (1/32)^(1/8) = 0.648, matched to jaccard_tau=0.7.  The previous
    # 128/b=32/r=4 shape (midpoint 0.42) admitted ~20x more false
    # candidates at bench scale (4.2% candidate precision — SCALE.md "LSH
    # precision budget"), paying the pipeline's largest shuffle on junk.
    # Measured on the deterministic corpus (6000 rows, round 4): raw
    # banding recall 1.0, candidate precision 0.99 (vs 0.62 before); the
    # recall gate in tests/test_dedup_pipeline.py holds it.
    # OPH cost is O(total shingles) independent of bin count, so the wider
    # signature only doubles the (small) signature bytes per row.
    num_perm: int = 256           # signature length (bins for OPH)
    minhash_seed: int = 4242
    mersenne_prime: int = (1 << 61) - 1
    # one-permutation hashing with rotation densification (Li/Shrivastava),
    # O(|shingles|) per row — the only scheme; the field stays so stored
    # checkpoints keep their config_hash, and any other value is rejected
    minhash_scheme: str = "oph"
    # --- LSH banding (P4) ---
    num_bands: int = 32           # b bands
    rows_per_band: int = 8        # r rows;  b*r == num_perm
    # --- candidate verification (P7) ---
    jaccard_tau: float = 0.7
    # --- skew handling (P6) ---
    bucket_cap: int = 64          # buckets larger than this are capped+logged
    # --- phash Hamming (P8) ---
    hamming_radius: int = 2       # r bit flips tolerated
    phash_bits: int = 64
    # --- substring containment (P9) ---
    anchor_gram: int = 12         # anchor g-gram width for containment join
    anchor_stride: int = 5        # container emits grams at positions 1+k*s;
                                  # probe emits its first s grams (exact:
                                  # any occurrence aligns one probe gram with
                                  # a strided container gram)
    min_contained_len: int = 16   # >= anchor_gram + anchor_stride - 1
    max_contained_len: int = 1024 # SA cross-check only: longest caption that
                                  # can appear as the CONTAINED side; bounds
                                  # the suffix explode at O(total_chars*cap)
                                  # instead of a data-dependent driver agg
                                  # (captions here are <=~600 normalized
                                  # chars; containment_pairs has no cap)
    # --- connected components (P11) ---
    cc_max_iters: int = 25        # bounds only the star path (edge sets too
                                  # large for one task); hitting it raises
    # --- misc ---
    seed: int = 4242

    def __post_init__(self) -> None:
        if self.num_bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"num_bands*rows_per_band ({self.num_bands}*{self.rows_per_band}) "
                f"must equal num_perm ({self.num_perm})"
            )
        if self.minhash_scheme != "oph":
            raise ValueError(
                f"minhash_scheme {self.minhash_scheme!r} is not supported (only 'oph')"
            )

    def config_hash(self) -> str:
        """Stable hash of the config — keyed into checkpoint manifests so a
        resume never mixes state from a different configuration."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
