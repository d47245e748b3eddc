"""Pure-numpy statistical kernels — the mathematical core of the engine.

These re-implement (bit-faithfully where it matters) the reference math of
bluenote-1577/sylph:

- ``mm_hash64`` / ``rev_hash_64``: the invertible 64-bit mix hash
  (/root/reference/src/seeding.rs:4-52, Thomas Wang style, including the
  known "bugged but shipped" variant noted at seeding.rs:5).
- FracMinHash selection ``hash < 2**64 // c`` (seeding.rs:108,142-144).
- ``ratio_lambda`` Poisson coverage estimator (inference.rs:207-242), the
  one λ estimator on the scoring path, as in sylph's default.
- ``mle_zip`` zero-inflated-Poisson Newton-Raphson (inference.rs:157-205)
  and ``binary_search_lambda`` negative-binomial grid search
  (inference.rs:29-102), sylph's hidden-flag estimators, which only the E2
  and E4 entry queries call.
- ``ani_from_lambda`` zero-truncation-corrected containment → similarity
  (contain.rs:817-847) and the naive index (contain.rs:655-660).
- coverage-vector statistics: median / Poisson-tail cut / zero padding
  (contain.rs:655-690), mean/var (inference.rs:104-124).
- regime switch High/Low/Lambda (contain.rs:692-713, constants.rs:5).
- ``bootstrap_interval`` seeded CI (contain.rs:849-898).
- a numpy Poisson CDF (regularized incomplete gamma) replacing the statrs
  dependency (contain.rs:13,664).

Everything here is driver-free, Spark-free, vectorized numpy — the same
functions run inside pandas/Arrow UDFs on executors and inside the
single-node oracle.
"""

from __future__ import annotations

import math

import numpy as np

U64 = np.uint64
MASK64 = (1 << 64) - 1

# Regime / guard constants (reference: src/constants.rs)
CUTOFF_PVALUE = 0.9999999999  # constants.rs:3
SAMPLE_SIZE_CUTOFF = 25  # constants.rs:4
MEDIAN_ANI_THRESHOLD = 2.0  # constants.rs:5
MAX_MEDIAN_FOR_MEAN_FINAL_EST = 15.0  # constants.rs:12
DEFAULT_MIN_COUNT_CORRECT = 3.0  # cmdline.rs:94-95

# Source salts: tag caption vs image shingles so the two sub-alphabets
# cannot collide (graft-specific; no reference analog).
SALT_CAPTION = np.uint64(0xC0FFEE123456789B)
SALT_IMAGE = np.uint64(0x1234ABCD9876EF01)
SALT_MINHASH = np.uint64(0x9E3779B97F4A7C15)
SALT_SIMHASH = np.uint64(0x5851F42D4C957F2D)


# ---------------------------------------------------------------------------
# Hashing (seeding.rs:4-52)
# ---------------------------------------------------------------------------


def mm_hash64_np(key: np.ndarray) -> np.ndarray:
    """Vectorized mm_hash64 over a uint64 array (seeding.rs:4-15)."""
    key = key.astype(U64, copy=True)
    key = (~key) + (key << U64(21))
    key = key ^ (key >> U64(24))
    key = (key + (key << U64(3))) + (key << U64(8))
    key = key ^ (key >> U64(14))
    key = (key + (key << U64(2))) + (key << U64(4))
    key = key ^ (key >> U64(28))
    key = key + (key << U64(31))
    return key


def mm_hash64(key: int) -> int:
    """Scalar mm_hash64 in pure python (for tests / tiny inputs)."""
    key &= MASK64
    key = (~key + (key << 21)) & MASK64
    key ^= key >> 24
    key = (key + (key << 3) + (key << 8)) & MASK64
    key ^= key >> 14
    key = (key + (key << 2) + (key << 4)) & MASK64
    key ^= key >> 28
    key = (key + (key << 31)) & MASK64
    return key


def rev_hash_64(hashed: int) -> int:
    """Inverse of mm_hash64 (seeding.rs:18-52) — proves invertibility."""
    key = hashed & MASK64
    # invert key += key << 31
    tmp = (key - (key << 31)) & MASK64
    key = (key - (tmp << 31)) & MASK64
    # invert key ^= key >> 28
    tmp = key ^ key >> 28
    key = key ^ tmp >> 28
    # invert key += (key << 2) + (key << 4)   (i.e. key *= 21)
    key = (key * 14933078535860113213) & MASK64
    # invert key ^= key >> 14
    tmp = key ^ key >> 14
    tmp = key ^ tmp >> 14
    tmp = key ^ tmp >> 14
    key = key ^ tmp >> 14
    # invert key += (key << 3) + (key << 8)   (i.e. key *= 265)
    key = (key * 15244667743933553977) & MASK64
    # invert key ^= key >> 24
    tmp = key ^ key >> 24
    key = key ^ tmp >> 24
    # invert key = ~key + (key << 21)
    tmp = (~key) & MASK64
    tmp = (~(key - (tmp << 21))) & MASK64
    tmp = (~(key - (tmp << 21))) & MASK64
    key = (~(key - (tmp << 21))) & MASK64
    return key


def u64_to_i64(arr: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 bits as int64 (two's complement) for Spark LongType."""
    return arr.astype(U64, copy=False).view(np.int64)


def i64_to_u64(arr: np.ndarray) -> np.ndarray:
    return np.asarray(arr, dtype=np.int64).view(U64)


def fracminhash_threshold(c: int) -> int:
    """Keep hash iff hash < 2**64 // c (seeding.rs:108,142-144)."""
    return (1 << 64) // c


def fracminhash_select(hashes: np.ndarray, c: int) -> np.ndarray:
    thr = U64(fracminhash_threshold(c)) if c > 1 else None
    h = hashes.astype(U64, copy=False)
    if thr is None:
        return h
    return h[h < thr]


def min_spacing_keep_mask(pos: np.ndarray, spacing: float) -> np.ndarray:
    """Running-state min-spacing thinning (sketch.rs:602-619, A6).

    ``pos`` must already be in keep-order. A row is kept iff it is the
    first, or strictly more than ``spacing`` past the last KEPT row —
    NOT the previous row (a window LAG is a different operator: for
    positions [0, 20, 40] at spacing 30 the reference keeps {0, 40},
    the lag version keeps only {0})."""
    pos = np.asarray(pos, dtype=np.float64)
    keep = np.zeros(pos.size, dtype=bool)
    last = None
    for i in range(pos.size):
        if last is None or pos[i] - last > spacing:
            keep[i] = True
            last = pos[i]
    return keep


# ---------------------------------------------------------------------------
# Shingling (graft analog of seeding.rs:86-146 rolling k-mer seeding)
# ---------------------------------------------------------------------------


def _pack_windows_u64(byte_arr: np.ndarray, k: int) -> np.ndarray:
    """Rolling windows of k bytes packed big-endian into uint64 (k<=8).

    The graft analog of the 2-bit rolling k-mer window (seeding.rs:86-146);
    no canonicalization — captions/pixels have no reverse-complement symmetry
    (documented divergence, SURVEY.md §2.2 P2).
    """
    if k > 8:
        raise ValueError("k must be <= 8 to pack into u64")
    n = byte_arr.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=U64)
    b = byte_arr.astype(U64, copy=False)
    out = np.zeros(n, dtype=U64)
    for i in range(k):
        out = (out << U64(8)) | b[i : i + n]
    return out


def caption_shingles(caption: str, k: int, c: int) -> np.ndarray:
    """Character k-shingles of a caption → hashed, FracMinHash-selected u64 set."""
    data = np.frombuffer(caption.encode("utf-8", errors="replace"), dtype=np.uint8)
    packed = _pack_windows_u64(data, k)
    if packed.size == 0:
        return packed
    hashed = mm_hash64_np(packed ^ SALT_CAPTION)
    return np.unique(fracminhash_select(hashed, c))


def image_block_bytes(
    gray: np.ndarray, block_px: int, q_shift: int, grid_offset: float = 0.0
) -> np.ndarray:
    """Quantized difference-from-mean block bytes of a grayscale image.

    Per block: d = block_mean - image_mean, quantized with step 2**q_shift at
    the given grid offset. Differences (not raw means) make the code robust
    to global brightness scaling — the graft analog of sylph's canonical
    k-mer normalization. Returns one uint8 per block, row-major.
    """
    diff = block_mean_diff(gray, block_px)
    if diff is None:
        return np.empty(0, dtype=np.uint8)
    return quantize_block_diff(diff, q_shift, grid_offset)


def block_mean_diff(gray: np.ndarray, block_px: int) -> np.ndarray | None:
    """(block mean − image mean) matrix — the grid-independent heavy part
    of image_block_bytes, factored out so the n_grids quantization loop
    reuses ONE pass over the pixels (the kernels are DRAM-bound at scale;
    this was 3× redundant traffic per image)."""
    h, w = gray.shape
    bh, bw = h // block_px, w // block_px
    if bh == 0 or bw == 0:
        return None
    trimmed = gray[: bh * block_px, : bw * block_px]
    if trimmed.dtype not in (np.float32, np.float64):
        trimmed = trimmed.astype(np.float32)
    blocks = trimmed.reshape(bh, block_px, bw, block_px).mean(
        axis=(1, 3), dtype=np.float64
    )
    return blocks - trimmed.mean(dtype=np.float64)


def quantize_block_diff(
    diff: np.ndarray, q_shift: int, grid_offset: float
) -> np.ndarray:
    """Per-grid quantization of the block-difference matrix (tiny: ~8×8)."""
    step = float(1 << q_shift)
    q = np.clip(np.floor(diff / step + grid_offset), -8, 7).astype(np.int64) + 8
    return q.astype(np.uint8).ravel()


def image_shingles(
    gray: np.ndarray,
    block_px: int,
    q_shift: int,
    k_block: int,
    c: int,
    n_grids: int = 2,
) -> np.ndarray:
    """Positional rolling windows over quantized block bytes → hashed shingles.

    ``n_grids`` offset quantization grids are emitted (tagged in high bits): a
    small perturbation moves a block's value across a bin boundary in at most
    one grid, so near-duplicate containment degrades gracefully instead of
    cliff-dropping — the robustness analog of sylph's dense k-mer overlap.
    Position is packed into high bits so identical local textures at
    different image locations stay distinct (images are positional media,
    unlike genomes).
    """
    if block_px == 0:
        # resolution-adaptive grid: ~8×8 blocks whatever the image size, so
        # image shingle density (and hence image-vs-caption weight in the
        # combined set) is resolution-independent
        block_px = max(2, min(gray.shape) // 8)
    out = []
    offsets = [g / n_grids for g in range(n_grids)]
    bw = U64((gray.shape[1] // block_px) & 0x3F)  # grid width tag (mod 64)
    diff = block_mean_diff(gray, block_px)  # ONE pixel pass for all grids
    for gi, grid_offset in enumerate(offsets):
        if diff is None:
            continue
        bb = quantize_block_diff(diff, q_shift, grid_offset)
        if bb.size < k_block:
            continue
        packed = _pack_windows_u64(bb, k_block)
        pos = np.arange(packed.size, dtype=U64)
        packed = packed | (pos << U64(40)) | (U64(gi) << U64(56)) | (bw << U64(58))
        out.append(mm_hash64_np(packed ^ SALT_IMAGE))
    if not out:
        return np.empty(0, dtype=U64)
    hashed = np.concatenate(out)
    return np.unique(fracminhash_select(hashed, c))


# ---------------------------------------------------------------------------
# Whole-batch sketch kernels — bit-identical to the per-image functions
# above, vectorized across an Arrow batch. The per-image path runs ~30
# small-array numpy calls per image (overhead-dominated at 64×64 px); the
# batch path groups images by pixel shape, computes every grid/window/hash
# over one (n_images, …) tensor per group, and resolves per-image SETS with
# one lexsort over (image, value) pairs. The graft analog of the reference's
# AVX2 batch seeding (avx2_seeding.rs:33-148: same rolling-window hash math,
# restructured to process many positions per instruction); here "SIMD lane"
# = numpy tensor row. Parity is enforced by
# tests/test_kernels.py::TestSketchBatchParity (measured 2.6× per core over
# the per-image path at px64, decode excluded).
# ---------------------------------------------------------------------------


def _pack_windows_u64_2d(b2d: np.ndarray, k: int) -> np.ndarray:
    """_pack_windows_u64 over every row of a (m, nb) byte matrix at once.
    Windows slide WITHIN rows only (no cross-image contamination)."""
    n = b2d.shape[1] - k + 1
    if n <= 0:
        return np.empty((b2d.shape[0], 0), dtype=U64)
    b = b2d.astype(U64, copy=False)
    out = np.zeros((b2d.shape[0], n), dtype=U64)
    for i in range(k):
        out = (out << U64(8)) | b[:, i : i + n]
    return out


def _unique_per_segment(pid: np.ndarray, vals: np.ndarray):
    """(pid, vals) pairs → per-pid SORTED UNIQUE values as (pid, vals) flat
    arrays ordered by (pid, val) — the batch analog of np.unique per item."""
    if vals.size == 0:
        return pid[:0], vals[:0]
    order = np.lexsort((vals, pid))
    p, v = pid[order], vals[order]
    keep = np.ones(p.size, dtype=bool)
    keep[1:] = (p[1:] != p[:-1]) | (v[1:] != v[:-1])
    return p[keep], v[keep]


def image_shingles_batch(
    grays: list, block_px: int, q_shift: int, k_block: int, c: int, n_grids: int = 2
):
    """image_shingles over a whole batch: returns (pid, vals) flat pairs,
    sorted by (pid, val) — identical values to calling image_shingles per
    image. Images are grouped by shape so each group is one tensor pass."""
    n = len(grays)
    by_shape: dict[tuple, list[int]] = {}
    for i, g in enumerate(grays):
        by_shape.setdefault(g.shape, []).append(i)
    pids, vals = [], []
    thr = U64(fracminhash_threshold(c)) if c > 1 else None
    offsets = [g / n_grids for g in range(n_grids)]
    for shape, idxs in by_shape.items():
        bp = block_px if block_px else max(2, min(shape) // 8)
        h, w = shape
        bh, bw_n = h // bp, w // bp
        if bh == 0 or bw_n == 0:
            continue
        G = np.stack([grays[i][: bh * bp, : bw_n * bp] for i in idxs])
        if G.dtype not in (np.float32, np.float64):
            G = G.astype(np.float32)
        m = len(idxs)
        # (block mean − image mean) for the whole group in one pass; the
        # image mean is over the TRIMMED pixels, exactly like block_mean_diff
        blocks = G.reshape(m, bh, bp, bw_n, bp).mean(axis=(2, 4), dtype=np.float64)
        means = G.reshape(m, -1).mean(axis=1, dtype=np.float64)
        diff = blocks.reshape(m, -1) - means[:, None]
        step = float(1 << q_shift)
        bw_tag = U64(bw_n & 0x3F)
        idx_arr = np.asarray(idxs, dtype=np.int64)
        nb = bh * bw_n
        nwin = nb - k_block + 1
        if nwin <= 0:
            continue
        pos_tag = np.arange(nwin, dtype=U64) << U64(40)
        for gi, grid_offset in enumerate(offsets):
            q = (
                np.clip(np.floor(diff / step + grid_offset), -8, 7).astype(np.int64)
                + 8
            ).astype(np.uint8)
            packed = _pack_windows_u64_2d(q, k_block)
            packed = (
                packed
                | pos_tag[None, :]
                | (U64(gi) << U64(56))
                | (bw_tag << U64(58))
            )
            hashed = mm_hash64_np((packed ^ SALT_IMAGE).ravel())
            p = np.repeat(idx_arr, nwin)
            if thr is not None:
                keep = hashed < thr
                hashed, p = hashed[keep], p[keep]
            vals.append(hashed)
            pids.append(p)
    if not vals:
        return np.empty(0, np.int64), np.empty(0, U64)
    return _unique_per_segment(np.concatenate(pids), np.concatenate(vals))


def caption_shingles_flat(flat: np.ndarray, lens: np.ndarray, k: int, c: int):
    """caption_shingles over a whole batch of captions ALREADY flattened to
    one UTF-8 byte buffer (``flat``) with per-caption byte lengths
    (``lens``) → (pid, vals) sorted flat pairs — the zero-copy entry point
    for Arrow string columns, whose data buffer IS this layout
    (udfs.make_sketch_arrow_fn). Bit-identical to per-caption
    caption_shingles: Python's utf-8 encode of an Arrow-delivered string
    round-trips the Arrow bytes exactly."""
    if flat.size == 0:
        return np.empty(0, np.int64), np.empty(0, U64)
    packed_all = _pack_windows_u64(flat, k)  # windows over the flat buffer
    # valid windows: the first max(len-k+1, 0) positions of each caption
    nwin = np.maximum(lens - k + 1, 0)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pid = np.repeat(np.arange(lens.size, dtype=np.int64), nwin)
    # index of each valid window in the flat packed array
    within = np.arange(pid.size, dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(nwin)[:-1])), nwin
    )
    idx = np.repeat(starts, nwin) + within
    if idx.size == 0:
        return np.empty(0, np.int64), np.empty(0, U64)
    hashed = mm_hash64_np(packed_all[idx] ^ SALT_CAPTION)
    if c > 1:
        thr = U64(fracminhash_threshold(c))
        keep = hashed < thr
        hashed, pid = hashed[keep], pid[keep]
    return _unique_per_segment(pid, hashed)


# byte → 8 bits (LSB first): expands a u64's little-endian byte view into
# its 64 bits with one table lookup instead of 64 shift-and-mask passes
_BIT_LUT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1, bitorder="little"
)


def simhash64_batch(pid: np.ndarray, vals: np.ndarray, n_items: int) -> np.ndarray:
    """simhash64 over per-item shingle sets given as (pid, vals) flat pairs
    (pid non-decreasing). Items with no shingles hash to 0, as the scalar."""
    out = np.zeros(n_items, dtype=U64)
    if vals.size == 0:
        return out
    h = mm_hash64_np(vals.astype(U64) ^ SALT_SIMHASH)
    # uint8 bit matrix (n, 64) via byte LUT — 8× smaller than the int64
    # shift-and-mask expansion; reduceat accumulates in int64 regardless
    hb = h.astype("<u8", copy=False).view(np.uint8)  # LE bytes on any host
    bits = _BIT_LUT[hb.reshape(h.size, 8)].reshape(h.size, 64)
    newseg = np.ones(pid.size, dtype=bool)
    newseg[1:] = pid[1:] != pid[:-1]
    seg_starts = np.flatnonzero(newseg)
    present = pid[seg_starts]
    sums = np.add.reduceat(bits, seg_starts, axis=0, dtype=np.int64)
    sizes = np.diff(np.append(seg_starts, pid.size))
    votes = sums * 2 - sizes[:, None]
    packed = (
        (votes > 0).astype(U64) << np.arange(64, dtype=U64)[None, :]
    ).sum(axis=1, dtype=U64)
    out[present] = packed
    return out


def union_per_segment(pid_a, vals_a, pid_b, vals_b):
    """Per-item set union of two (pid, vals) sorted flat pair sets —
    the batch analog of np.union1d per item."""
    return _unique_per_segment(
        np.concatenate([pid_a, pid_b]), np.concatenate([vals_a, vals_b])
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding (graft: replaces all-pairs contain.rs:266-292)
# ---------------------------------------------------------------------------


def minhash_seeds(num: int, seed: int = 42) -> np.ndarray:
    idx = np.arange(1, num + 1, dtype=U64)
    return mm_hash64_np(idx * SALT_MINHASH ^ U64(seed))


def minhash_signature(shingles: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """sig[i] = min over shingles of mm_hash64(shingle ^ seed_i); empty → MAX."""
    if shingles.size == 0:
        return np.full(seeds.size, MASK64, dtype=U64)
    m = mm_hash64_np(shingles[:, None].astype(U64) ^ seeds[None, :])
    return m.min(axis=0)


def band_hashes(sig: np.ndarray, num_bands: int, rows_per_band: int) -> np.ndarray:
    """Fold each band's rows into one u64 key via a hash chain."""
    sig = sig.astype(U64, copy=False).reshape(num_bands, rows_per_band)
    h = np.full(num_bands, U64(0x51_7C_5F_00) , dtype=U64)
    for r in range(rows_per_band):
        h = mm_hash64_np(h ^ sig[:, r])
    return h


def band_hashes_batch(
    sig: np.ndarray, num_bands: int, rows_per_band: int
) -> np.ndarray:
    """band_hashes over a whole (n_items, num_bands·rows_per_band) signature
    matrix at once → (n_items, num_bands) u64. Bit-identical to the per-item
    fold (same chain, same constant)."""
    sig = sig.astype(U64, copy=False).reshape(-1, num_bands, rows_per_band)
    h = np.full(sig.shape[:2], U64(0x51_7C_5F_00), dtype=U64)
    for r in range(rows_per_band):
        h = mm_hash64_np(h ^ sig[:, :, r])
    return h


def simhash64(shingles: np.ndarray) -> int:
    """64-bit SimHash over the shingle set (secondary verifier, north rule)."""
    if shingles.size == 0:
        return 0
    h = mm_hash64_np(shingles.astype(U64) ^ SALT_SIMHASH)
    bits = (h[:, None] >> np.arange(64, dtype=U64)[None, :]) & U64(1)
    votes = bits.sum(axis=0, dtype=np.int64) * 2 - h.size
    out = np.where(votes > 0, np.uint64(1), np.uint64(0))
    return int(np.bitwise_or.reduce(out << np.arange(64, dtype=U64)))


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & MASK64).count("1")


# ---------------------------------------------------------------------------
# Poisson CDF (replaces statrs, contain.rs:13,664) — regularized upper
# incomplete gamma via series / continued fraction.
# ---------------------------------------------------------------------------


def _gammainc_lower_reg(a: float, x: float) -> float:
    """P(a, x) regularized lower incomplete gamma (series for x<a+1, CF else)."""
    if x <= 0.0:
        return 0.0
    lg = math.lgamma(a)
    if x < a + 1.0:
        # series
        term = 1.0 / a
        total = term
        n = a
        for _ in range(500):
            n += 1.0
            term *= x / n
            total += term
            if abs(term) < abs(total) * 1e-15:
                break
        return total * math.exp(-x + a * math.log(x) - lg)
    # continued fraction for Q(a,x)
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    q = math.exp(-x + a * math.log(x) - lg) * h
    return 1.0 - q


from functools import lru_cache


@lru_cache(maxsize=262144)
def _poisson_cdf_cached(kf: int, lam: float) -> float:
    return 1.0 - _gammainc_lower_reg(kf + 1.0, lam)


def poisson_cdf(k: float, lam: float) -> float:
    """P(X <= k) for X ~ Poisson(lam). cdf(k) = Q(floor(k)+1, lam).
    Cached — the scoring tail walk evaluates the same small (k, λ) values
    across millions of pairs."""
    if lam <= 0.0:
        return 1.0
    kf = math.floor(k)
    if kf < 0:
        return 0.0
    return _poisson_cdf_cached(int(kf), float(lam))


# ---------------------------------------------------------------------------
# Coverage statistics (contain.rs:655-690)
# ---------------------------------------------------------------------------


def coverage_stats(covs: np.ndarray, total_kmers: int) -> dict:
    """Median, Poisson-tail max_cov cut, zero-padded full coverage vector.

    ``covs`` are the nonzero multiplicities of contained shingles;
    ``total_kmers`` = |genome sketch| (graft: |item shingle set|).
    Mirrors contain.rs:655-690 exactly, including the quirky
    ``covs[len/2]`` median and walking the tail only when median < 30.
    """
    covs = np.sort(np.asarray(covs, dtype=np.int64))
    contain_count = covs.size
    if contain_count == 0:
        return None
    median_cov = float(covs[contain_count // 2])
    max_cov = math.inf
    if median_cov < 30.0:
        # the reference walks elements (contain.rs:664-678); covs is sorted
        # and the verdict depends only on the value, so walking DISTINCT
        # values ≥ covs[len/2] is exact and ~20× fewer CDF evaluations
        for cov in np.unique(covs[contain_count // 2 :]).astype(np.float64):
            if poisson_cdf(float(cov), median_cov) < CUTOFF_PVALUE:
                max_cov = float(cov)
            else:
                break
    kept = covs[covs.astype(np.float64) <= max_cov]
    full_covs = np.concatenate(
        [np.zeros(total_kmers - contain_count, dtype=np.int64), kept]
    )
    mean_cov = float(full_covs.sum()) / full_covs.size if full_covs.size else 0.0
    geq1_mean = float(full_covs.sum()) / contain_count
    return {
        "contain_count": contain_count,
        "median_cov": median_cov,
        "max_cov": max_cov,
        "full_covs": full_covs,
        "mean_cov": mean_cov,
        "geq1_mean_cov": geq1_mean,
    }


def mean(data: np.ndarray) -> float | None:
    data = np.asarray(data)
    if data.size == 0:
        return None
    return float(data.sum(dtype=np.float64) / data.size)


def var(data: np.ndarray) -> float | None:
    """Population variance (inference.rs:104-114)."""
    data = np.asarray(data, dtype=np.float64)
    if data.size == 0:
        return None
    m = data.mean()
    return float(((data - m) ** 2).mean())


# ---------------------------------------------------------------------------
# λ estimators (inference.rs)
# ---------------------------------------------------------------------------


def ratio_lambda(
    full_covs: np.ndarray, min_count_correct: float = DEFAULT_MIN_COUNT_CORRECT
) -> float | None:
    """Poisson ratio identity estimator (inference.rs:207-242), bit-faithful.

    Modal multiplicity i* (ties broken toward the larger value, matching the
    reference's (count, value) descending sort); λ = cnt[i*+1]/cnt[i*]·(i*+1).
    """
    full_covs = np.asarray(full_covs, dtype=np.int64)
    nonzero = full_covs[full_covs != 0]
    if nonzero.size < SAMPLE_SIZE_CUTOFF:
        return None
    vals, cnts = np.unique(nonzero, return_counts=True)
    if vals.size == 1:
        return None
    # sort by (count, value) descending — reference sort_vec ordering
    order = np.lexsort((vals, cnts))[::-1]
    most_ind = int(vals[order[0]])
    lookup = dict(zip(vals.tolist(), cnts.tolist()))
    if (most_ind + 1) not in lookup:
        return None
    count_p1 = float(lookup[most_ind + 1])
    count = float(lookup[most_ind])
    if count_p1 < min_count_correct or count < min_count_correct:
        return None
    return count_p1 / count * (most_ind + 1)


def mle_zip(full_covs: np.ndarray, k: float) -> float | None:
    """Zero-inflated Poisson MLE via Newton-Raphson (inference.rs:157-205)."""
    full_covs = np.asarray(full_covs, dtype=np.int64)
    nonzero = full_covs[full_covs != 0]
    if nonzero.size < SAMPLE_SIZE_CUTOFF:
        return None
    if np.unique(nonzero).size == 1:
        return None
    m = mean(full_covs)
    rat = float(np.float32((full_covs == 0).sum() / full_covs.size))
    # newton_raphson(rat, mean) — inference.rs:194-205: solve
    # (1-π)λ = m(1-e^{-λ}) starting from m/(1-π)
    curr = m / (1.0 - rat)
    for _ in range(1000):
        t1 = (1.0 - rat) * curr
        t2 = m * (1.0 - math.exp(-curr))
        t3 = 1.0 - rat
        t4 = m * math.exp(-curr)
        denom = t3 - t4
        if denom == 0.0 or not math.isfinite(denom):
            return None
        curr = curr - (t1 - t2) / denom
        if not math.isfinite(curr):
            return None
    return curr if curr >= 0.0 and not math.isnan(curr) else None


def _ratio_formula(val: float, r: float, lam: float) -> float:
    """inference.rs:12-19 (gamma via math.lgamma instead of statrs)."""
    if r < 100.0:
        lg = math.exp(math.lgamma(r + val + 1.0) - math.lgamma(r + val))
        return lg / (val + 1.0) * lam / (r + lam)
    return (r + val + 1.0) / (val + 1.0) * lam / (r + lam)


def binary_search_lambda(full_covs: np.ndarray) -> float | None:
    """Negative-binomial grid search matching the 2s/1s ratio
    (inference.rs:29-102, hidden --nb flag): 10 000-step scan of λ in
    [max(0.003, m−2), m+5] minimizing |ratio_formula(1, r(λ), λ) − twos/ones|.
    """
    full_covs = np.asarray(full_covs, dtype=np.int64)
    if full_covs.size == 0:
        return None
    m = mean(full_covs)
    v = var(full_covs)
    ones = int((full_covs == 1).sum())
    twos = int((full_covs == 2).sum())
    if ones == 0:
        return None
    ratio_est = twos / ones
    left = max(0.003, m - 2.0)
    right = m + 5.0
    best = None
    best_val = 10000.0
    tests = left + (right - left) / 10000.0 * np.arange(10000)
    # r_from_moments_lambda (inference.rs:6-10)
    rs = tests / (v - 1.0 + tests + m)
    for test, r in zip(tests.tolist(), rs.tolist()):
        if r < 0.0:
            continue
        p = _ratio_formula(1.0, r, test) - ratio_est
        if abs(p) < best_val:
            best_val = abs(p)
            best = test
    return best


# ---------------------------------------------------------------------------
# Similarity from λ (contain.rs:817-847) + regime switch (contain.rs:692-713)
# ---------------------------------------------------------------------------


def naive_ani(contain_count: int, total_kmers: int, k: float) -> float:
    """(containment index)^(1/k) — contain.rs:655-660."""
    if total_kmers == 0:
        return 0.0
    return (contain_count / total_kmers) ** (1.0 / k)


def ani_from_lambda(lam: float | None, k: float, full_covs: np.ndarray) -> float | None:
    """Zero-truncation corrected: adj = contained/(1−e^{-λ})/total; ANI=adj^{1/k}."""
    if lam is None:
        return None
    full_covs = np.asarray(full_covs)
    contain_count = int((full_covs != 0).sum())
    if full_covs.size == 0:
        return None
    adj_index = contain_count / (1.0 - math.exp(-lam)) / full_covs.size
    ani = adj_index ** (1.0 / k)
    if ani < 0.0 or math.isnan(ani):
        return None
    return ani


def adjust_status(
    median_cov: float,
    full_covs: np.ndarray,
    min_count_correct: float = DEFAULT_MIN_COUNT_CORRECT,
) -> tuple[str, float | None]:
    """High / Low / Lambda(λ) regime switch — contain.rs:692-713."""
    if median_cov > MEDIAN_ANI_THRESHOLD:
        return ("high", None)
    lam = ratio_lambda(full_covs, min_count_correct)
    if lam is None:
        return ("low", None)
    return ("lambda", lam)


def final_coverage(
    status: str, lam: float | None, median_cov: float, geq1_mean_cov: float
) -> float:
    """Final coverage pick — contain.rs:715-728."""
    if status == "lambda":
        return lam
    if median_cov < MAX_MEDIAN_FOR_MEAN_FINAL_EST:
        return geq1_mean_cov
    return median_cov


def score_pair(
    covs: np.ndarray,
    total_kmers: int,
    k: float,
    min_count_correct: float = DEFAULT_MIN_COUNT_CORRECT,
) -> dict | None:
    """Full sylph scoring of one (item, corpus) containment — the E-chain.

    Mirrors get_stats (contain.rs:601-745): coverage stats → regime switch →
    λ → corrected similarity, falling back to the naive index when no
    correction applies.
    """
    stats = coverage_stats(covs, total_kmers)
    if stats is None:
        return None
    n_ani = naive_ani(stats["contain_count"], total_kmers, k)
    status, lam = adjust_status(
        stats["median_cov"], stats["full_covs"], min_count_correct
    )
    f_cov = final_coverage(status, lam, stats["median_cov"], stats["geq1_mean_cov"])
    opt_lambda = lam if status == "lambda" else None
    adj = ani_from_lambda(opt_lambda, k, stats["full_covs"])
    final = n_ani if (opt_lambda is None or adj is None) else adj
    return {
        "naive_ani": n_ani,
        "final_est_ani": final,
        "final_est_cov": f_cov,
        "adjust_status": status,
        "lambda": lam,
        "median_cov": stats["median_cov"],
        "mean_cov": stats["mean_cov"],
        "contain_count": stats["contain_count"],
        "total_kmers": total_kmers,
        # zero-padded coverage vector, exposed for bootstrap resampling
        # (contain.rs:849-898 resamples the same vector)
        "full_covs": stats["full_covs"],
    }


# ---------------------------------------------------------------------------
# Bootstrap CI (contain.rs:849-898) — numpy RNG replaces fastrand, seed kept
# deterministic.
# ---------------------------------------------------------------------------


def bootstrap_interval(
    full_covs: np.ndarray,
    k: float,
    min_count_correct: float = DEFAULT_MIN_COUNT_CORRECT,
    iters: int = 100,
    seed: int = 7,
) -> tuple[float | None, float | None, float | None, float | None]:
    """(ani_lo, ani_hi, lambda_lo, lambda_hi); None unless ≥50 successes.

    Resamples with ratio_lambda, the point estimate's estimator
    (contain.rs:866-877 bootstraps whichever estimator scored the pair), so
    the CI brackets the same statistic as the point estimate."""
    full_covs = np.asarray(full_covs, dtype=np.int64)
    n = full_covs.size
    if n == 0:
        return (None, None, None, None)
    rng = np.random.default_rng(seed)
    res_ani: list[float] = []
    res_lambda: list[float] = []
    for _ in range(iters):
        rand_vec = full_covs[rng.integers(0, n, size=n)]
        lam = ratio_lambda(rand_vec, min_count_correct)
        ani = ani_from_lambda(lam, k, rand_vec)
        if ani is not None and lam is not None:
            if not math.isnan(ani) and not math.isnan(lam):
                res_ani.append(ani)
                res_lambda.append(lam)
    if len(res_ani) < 50:
        return (None, None, None, None)
    res_ani.sort()
    res_lambda.sort()
    suc = len(res_ani)
    return (
        res_ani[suc * 5 // 100 - 1],
        res_ani[suc * 95 // 100 - 1],
        res_lambda[suc * 5 // 100 - 1],
        res_lambda[suc * 95 // 100 - 1],
    )


# ---------------------------------------------------------------------------
# Suffix-array longest common substring (north-rule verifier)
# ---------------------------------------------------------------------------


def _suffix_array(s: bytes) -> np.ndarray:
    """O(n log² n) suffix array via repeated doubling (numpy lexsort)."""
    n = len(s)
    arr = np.frombuffer(s, dtype=np.uint8).astype(np.int64)
    rank = arr.copy()
    sa = np.argsort(rank, kind="stable")
    tmp = np.empty(n, dtype=np.int64)
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        tmp[order[0]] = 0
        prev = order[0]
        for idx in range(1, n):
            cur = order[idx]
            tmp[cur] = tmp[prev] + (
                1 if (rank[cur] != rank[prev] or key2[cur] != key2[prev]) else 0
            )
            prev = cur
        rank = tmp.copy()
        sa = order
        if rank[sa[-1]] == n - 1:
            break
        k <<= 1
    return sa


def _lcp_kasai(s: bytes, sa: np.ndarray) -> np.ndarray:
    n = len(s)
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        if rank[i] > 0:
            j = sa[rank[i] - 1]
            while i + h < n and j + h < n and s[i + h] == s[j + h]:
                h += 1
            lcp[rank[i]] = h
            if h > 0:
                h -= 1
        else:
            h = 0
    return lcp


def _lcs_suffix_array(ab: bytes, bb: bytes) -> int:
    """LCS length via suffix array + Kasai LCP over a#b (max LCP between
    adjacent suffixes of different origin)."""
    s = ab + b"\x00" + bb
    sa = _suffix_array(s)
    lcp = _lcp_kasai(s, sa)
    na = len(ab)
    best = 0
    for i in range(1, len(s)):
        x, y = sa[i - 1], sa[i]
        if (x < na) != (y < na):
            if lcp[i] > best:
                best = int(lcp[i])
    return best


def _lcs_suffix_automaton(ab: bytes, bb: bytes) -> int:
    """LCS length by running b through the suffix automaton of a — O(n+m)
    and ~20× faster in Python than the array+Kasai path for short strings.
    Exactly the same value as _lcs_suffix_array (cross-checked in tests)."""
    sa_len = [0]
    sa_link = [-1]
    trans: list[dict[int, int]] = [{}]
    last = 0
    for ch in ab:
        cur = len(sa_len)
        sa_len.append(sa_len[last] + 1)
        sa_link.append(-2)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = sa_link[p]
        if p == -1:
            sa_link[cur] = 0
        else:
            q = trans[p][ch]
            if sa_len[p] + 1 == sa_len[q]:
                sa_link[cur] = q
            else:
                clone = len(sa_len)
                sa_len.append(sa_len[p] + 1)
                sa_link.append(sa_link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = sa_link[p]
                sa_link[q] = clone
                sa_link[cur] = clone
        last = cur
    v = 0
    length = 0
    best = 0
    for ch in bb:
        while v and ch not in trans[v]:
            v = sa_link[v]
            length = sa_len[v]
        if ch in trans[v]:
            v = trans[v][ch]
            length += 1
            if length > best:
                best = length
        else:
            v = 0
            length = 0
    return best


def longest_common_substring(a: str, b: str) -> int:
    """Length of the longest common substring — the suffix-structure
    substring confirmation of the north rule, used as the final verifier on
    caption pairs. Suffix-automaton fast path for typical caption lengths;
    suffix-array + Kasai for very long strings (both exact, cross-verified).
    """
    if not a or not b:
        return 0
    ab = a.encode("utf-8", errors="replace")
    bb = b.encode("utf-8", errors="replace")
    if len(ab) <= 4096:
        return _lcs_suffix_automaton(ab, bb)
    return _lcs_suffix_array(ab, bb)
