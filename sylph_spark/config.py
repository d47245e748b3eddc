"""Pipeline configuration — the graft analog of sylph's CLI parameter set
(/root/reference/src/cmdline.rs:57-95). Compatibility between sketches and
queries is enforced by parameter equality, mirroring the k/c checks at
contain.rs:608-623: stages assert their input tables carry the same config
hash before proceeding.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class SketchConfig:
    # FracMinHash scale factor (sylph -c, cmdline.rs:59-60; default 200 for
    # genomes). Items here have O(10²) shingles, not O(10⁶) k-mers, so the
    # default keeps more: c=2 halves the shingle set. At 10^12-image scale
    # raise c to shrink sketches linearly.
    c: int = 2
    # caption character-shingle length (sylph -k; ≤8 so a shingle packs in u64)
    k_caption: int = 6
    # image block grid: block size in px (0 = adaptive ~8×8 blocks per
    # image), quantization shift, rolling window
    block_px: int = 0
    q_shift: int = 5
    k_block: int = 3
    n_grids: int = 3
    # MinHash/LSH (graft: replaces sylph's all-pairs loop contain.rs:266-292).
    # Three LSH families: the COMBINED shingle set uses wide/shallow bands
    # (num_bands × rows_per_band) to catch cross-modal partial similarity;
    # the per-modality families (image-only, caption-only) use narrow/deep
    # bands (family_bands × family_rows) because with source-aware banding
    # each family only needs to catch pairs near-identical in that modality
    # — every dup class is near-identical in at least one family.
    num_bands: int = 15
    rows_per_band: int = 4
    family_bands: int = 6
    family_rows: int = 8
    # similarity threshold on the corrected containment score (analog of
    # --minimum-ani, constants.rs:10-11)
    tau: float = 0.52
    # exponent root for containment → similarity (sylph k in ANI = idx^{1/k};
    # ani_k=1 reports raw containment as the similarity score)
    ani_k: float = 1.0
    # verification stage (caption LCS lengths count UTF-8 bytes)
    simhash_max_hamming: int = 26
    lcs_min_len: int = 8
    lcs_min_frac: float = 0.25
    # scoring prefilter: candidate pairs whose raw intersection fraction
    # is below this never reach the estimator chain (JVM-side filter; the
    # analog of sylph's min-ANI cut contain.rs:746-764 applied early).
    # Kept well under tau so λ-boosted pairs (adj = naive/(1-e^-λ)) survive.
    score_min_contain: float = 0.25
    # λ estimation guards (constants.rs:4, cmdline.rs:94-95); λ is always
    # the ratio estimator (inference.rs:207-242), sylph's default
    min_count_correct: float = 3.0
    # bootstrap CI resamples per scored pair (contain.rs:849-898; reference
    # uses 100 with --ci). 0 = off (CI columns emitted as NaN) — it is a
    # per-pair 100× resampling cost, so off by default at scale.
    bootstrap_iters: int = 0
    bootstrap_seed: int = 7
    # stop-shingle masking for banding (corpus analog of sylph's repeat
    # masking, sketch.rs:590-600): shingles with document frequency above
    # band_df_limit(n_items) = max(band_max_df_min, band_max_df_frac·n_items)
    # are excluded from MinHash banding (but still scored) —
    # boilerplate/template shingles otherwise create dense LSH buckets and
    # quadratic candidate growth. band_max_df_min is ≥ 1 (a limit of 0 masks
    # every shingle). The limit is RELATIVE on purpose: a df FRACTION is
    # stationary as a stationary corpus grows, and fewer than Σcnt/limit ≤
    # mean shingles per image / band_max_df_frac shingles can exceed it, so
    # the stop set does not grow with n. A fixed absolute cap (abs=1024 in
    # the 960k recall audit, BENCH/scaling_notes.md) starved the banding
    # input instead: 0.5% of items lost EVERY combined-family shingle and
    # dup-pair recall decayed 0.9912@480k → 0.9815@960k. Dense-bucket cost
    # is bounded by bucket_degrade_size below.
    band_max_df_min: int = 32
    band_max_df_frac: float = 0.02
    # buckets larger than this switch from full chunked all-pairs to banded
    # tri-diagonal chunk pairing (each pair_chunk-sized chunk pairs with
    # itself and its successor chunk in bucket-sorted id order): candidate
    # volume from a bucket of size s drops from s²/2 to ~1.5·pair_chunk·s
    # (linear in s), while every member keeps ≥ pair_chunk neighbors, so a
    # degenerate boilerplate bucket still clusters via CC chaining. At the
    # default (2048·2047/2 ≈ 2.1M pairs) quadratic and degraded volume
    # cross over — below it exact pairing is cheaper anyway.
    #
    # MEMORY BOUND (not just pair volume): one bucket's id list materializes
    # as a single collect_list/sort_array row in ONE aggregation task. Past
    # 128 keys per task that aggregate runs sort-based (Spark's default
    # objectHashAggregate fallback, see session.py): it holds one bucket's
    # buffer at a time and spills the sorted rows, so its memory follows
    # the LARGEST bucket, not the number of buckets per task. With the
    # relative df limit a bucket can in principle reach
    # band_max_df_frac·n ids (~2M ids ≈ 30 MB at n=100M — fine; ~20M ids at
    # n=1B — budget executor memory for it, or pre-split the band_hash key
    # above a size threshold before the collect_list if corpora that far
    # beyond the audited 960k are expected).
    bucket_degrade_size: int = 2048
    # LSH skew handling: bucket pair generation is UNCONDITIONALLY chunked —
    # every bucket of size s fans out over ceil(s/pair_chunk)² (ci,cj) tasks
    # (pipeline._stage_candidates), so a hot bucket never lands on one task.
    # Small buckets get nchunks=1 and pay only a no-op sequence explode.
    pair_chunk: int = 256
    seed: int = 42

    def band_df_limit(self, n_items: int) -> int:
        """The stop-shingle document-frequency limit over ``n_items``."""
        return max(self.band_max_df_min, int(self.band_max_df_frac * n_items))

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    def config_hash(self) -> str:
        return hashlib.sha256(self.to_json().encode()).hexdigest()[:16]
