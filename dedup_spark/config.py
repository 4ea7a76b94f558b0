"""Engine configuration.

Mirrors the size filters of the reference's CLI config surface
(reference src/main.rs:15-70) plus the near-duplicate knobs mandated by
the north rule (shingle size, LSH bands/rows, Hamming radius,
checkpoint dir). The reference's include/exclude globs, action,
dry-run and jobs are ``jobs/dedup_job.py`` arguments: the globs go to
``sources.filters.apply_scan_filters``, not into this config.

The signature config (k, num_perm = bands*rows) is FIXED here and shared
between the pipeline and the parity tests — recall is only meaningful at
a pinned config.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- exact tier (reference semantics) ------------------------------
    # reference: 8 KiB partial-hash window (src/hasher.rs:18-27)
    prefix_bytes: int = 8192
    # reference: min/max size filters + empty-file skip (src/scanner.rs:86-109)
    min_size: int = 1
    max_size: int | None = None

    # --- near-dup tier: MinHash over caption shingles [EXT] ------------
    shingle_k: int = 3          # word n-gram size
    minhash_bands: int = 16
    minhash_rows: int = 4       # num_perm = bands * rows = 64
    jaccard_threshold: float = 0.7
    minhash_seed: int = 42

    # --- near-dup tier: SimHash over phash neighborhoods [EXT] ---------
    hamming_radius: int = 3     # phash pairs within this radius are candidates
    simhash_bits: int = 64

    # --- embeddings ANN [EXT] -------------------------------------------
    ann_hyperplanes: int = 16   # random-hyperplane LSH signature bits
    ann_tables: int = 4         # independent LSH tables (multi-probe recall)
    cosine_threshold: float = 0.9

    # --- checkpoint / lineage (north rule) ------------------------------
    checkpoint_dir: str | None = None
    cc_max_iterations: int = 50

    @property
    def num_perm(self) -> int:
        return self.minhash_bands * self.minhash_rows


DEFAULT_CONFIG = DedupConfig()
