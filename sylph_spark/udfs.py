"""Arrow-vectorized UDFs wrapping the numpy kernels (SURVEY.md §2.9).

Everything crosses the JVM↔Python boundary in Arrow batches (mapInArrow
and one cogrouped applyInArrow) — the Spark analog of the reference's AVX2
batch seeding (avx2_seeding.rs:33-148). No row-at-a-time
Python UDFs anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql.pandas.types import from_arrow_schema

from . import codecs
from . import kernels as K
from .config import SketchConfig

SKETCH_SCHEMA = (
    "image_id string, shingles array<long>, img_shingles array<long>, "
    "cap_shingles array<long>, n_shingles int, simhash long, caption string"
)

BAND_SCHEMA = "image_id string, band int, band_hash long"


def make_sketch_arrow_fn(cfg: SketchConfig):
    """mapInArrow variant of the sketch stage: builds the shingle ListArray
    directly from numpy offsets+values — no per-element Python boxing.

    Whole-batch vectorized: decode stays per image (zlib is a C call), but
    every grid/window/hash/select/unique step runs over ONE tensor per
    pixel-shape group (kernels.image_shingles_batch etc.) instead of ~30
    small-array numpy calls per image — bit-identical sets (parity test in
    tests/test_kernels.py).

    Only ``bytes``/``fmt`` cross into Python objects (zlib + the per-image
    decode routing need them); ``image_id`` and ``caption`` stay Arrow end
    to end — the id/caption columns pass through to the output batch
    untouched, and the caption shingler reads the string column's UTF-8
    data buffer directly (kernels.caption_shingles_flat), skipping the
    to_pylist + per-row encode + concatenate of the heaviest stage
    (VERDICT r4 #6)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tbl in batches:
            id_arr = tbl.column(tbl.schema.get_field_index("image_id"))
            cap_arr = tbl.column(tbl.schema.get_field_index("caption"))
            bys = tbl.column(tbl.schema.get_field_index("bytes")).to_pylist()
            fmts = tbl.column(tbl.schema.get_field_index("fmt")).to_pylist()
            n = len(bys)
            grays = [
                codecs.to_gray(codecs.decode_image(bys[i], fmts[i]))
                for i in range(n)
            ]
            img_pid, img_vals = K.image_shingles_batch(
                grays, cfg.block_px, cfg.q_shift, cfg.k_block, cfg.c, cfg.n_grids
            )
            # Arrow string column = offsets + one contiguous UTF-8 buffer:
            # exactly the (flat, lens) layout the flat shingler wants. The
            # raw offsets buffer is unsliced — index by the array's own
            # offset; nulls read as zero-length (the input schema forbids
            # them anyway).
            # offsets are int32 for string, int64 for large_string (Spark
            # delivers the latter under arrow.useLargeVarTypes) — dispatch
            # on the actual type instead of assuming int32, which would
            # silently misread offsets and corrupt shingles (ADVICE r5)
            if pa.types.is_large_string(cap_arr.type):
                off_dtype = np.int64
            elif pa.types.is_string(cap_arr.type):
                off_dtype = np.int32
            else:
                raise TypeError(f"caption column is {cap_arr.type}, expected string")
            raw_off = np.frombuffer(cap_arr.buffers()[1], dtype=off_dtype)
            cap_off = raw_off[cap_arr.offset : cap_arr.offset + n + 1].astype(
                np.int64
            )
            cap_data = np.frombuffer(cap_arr.buffers()[2], dtype=np.uint8)
            cap_pid, cap_vals = K.caption_shingles_flat(
                cap_data[cap_off[0] : cap_off[-1]],
                np.diff(cap_off),
                cfg.k_caption,
                cfg.c,
            )
            uni_pid, uni_vals = K.union_per_segment(
                img_pid, img_vals, cap_pid, cap_vals
            )
            sims = K.simhash64_batch(uni_pid, uni_vals, n)

            def list_arr(pid, vals):
                counts = np.bincount(pid, minlength=n)
                offs = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
                return pa.ListArray.from_arrays(
                    pa.array(offs, pa.int32()),
                    pa.array(K.u64_to_i64(vals), pa.int64()),
                ), counts

            uni_arr, n_sh = list_arr(uni_pid, uni_vals)
            img_arr, _ = list_arr(img_pid, img_vals)
            cap_list_arr, _ = list_arr(cap_pid, cap_vals)
            yield pa.RecordBatch.from_arrays(
                [
                    id_arr,
                    uni_arr,
                    img_arr,
                    cap_list_arr,
                    pa.array(n_sh.astype(np.int32), pa.int32()),
                    pa.array(K.u64_to_i64(sims), pa.int64()),
                    cap_arr,
                ],
                names=[
                    "image_id",
                    "shingles",
                    "img_shingles",
                    "cap_shingles",
                    "n_shingles",
                    "simhash",
                    "caption",
                ],
            )

    return fn


def _list_col_numpy(batch: pa.RecordBatch, name: str):
    """ListArray<int64> → (flat int64 values grouped by row, per-row counts).
    Zero-copy where Arrow allows; no per-element Python."""
    arr = batch.column(batch.schema.get_field_index(name))
    off = arr.offsets.to_numpy().astype(np.int64)
    vals = arr.values.to_numpy()
    return np.asarray(vals[off[0] : off[-1]], dtype=np.int64), np.diff(off)


def _family_band_arrays(
    flat_u64: np.ndarray,
    pid: np.ndarray,
    ids_np: np.ndarray,
    nb: int,
    rpb: int,
    offset: int,
    seeds: np.ndarray,
):
    """Vectorized LSH banding for one family over a whole Arrow batch:
    ``flat_u64`` holds every item's (filtered) shingles grouped by ``pid``
    (item index, non-decreasing). One hash pass + segment-min per seed
    replaces the per-item minhash loop — bit-identical signatures
    (min over mm_hash64(shingle ^ seed) per item). Items with zero
    shingles emit no rows (they cannot minhash), as before."""
    if flat_u64.size == 0:
        return (
            np.empty(0, dtype=object),
            np.empty(0, np.int32),
            np.empty(0, np.int64),
        )
    newseg = np.ones(pid.size, dtype=bool)
    newseg[1:] = pid[1:] != pid[:-1]
    seg_starts = np.flatnonzero(newseg)
    present = pid[seg_starts]
    sig = np.empty((present.size, seeds.size), dtype=np.uint64)
    for j in range(seeds.size):
        h = K.mm_hash64_np(flat_u64 ^ seeds[j])
        sig[:, j] = np.minimum.reduceat(h, seg_starts)
    bh = K.band_hashes_batch(sig, nb, rpb)
    ids_rep = np.repeat(ids_np[present], nb)
    bands = np.tile(np.arange(offset, offset + nb, dtype=np.int32), present.size)
    return ids_rep, bands, K.u64_to_i64(bh.ravel())


def _band_batch(ids_rep, bands, hashes) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids_rep, pa.string()),
            pa.array(bands, pa.int32()),
            pa.array(hashes, pa.int64()),
        ],
        names=["image_id", "band", "band_hash"],
    )


def _count_table(batch: pa.RecordBatch, counts_bc):
    """The sorted (shingles, counts) the pair kernel reads corpus
    multiplicities from: the cnt ≥ 2 slice of shingle_counts, as the
    broadcast ``counts_bc`` or, above the broadcast cap (``counts_bc``
    None), as the union of the batch's own ``sh_cnt`` lists (side a's
    shingles with cnt ≥ 2; a shingle's count is the same in every row)."""
    if counts_bc is not None:
        return counts_bc.value
    sh_cnt = batch.column(batch.schema.get_field_index("sh_cnt")).flatten()
    fields = dict(zip((f.name for f in sh_cnt.type), sh_cnt.flatten()))
    keys, first = np.unique(fields["shingle"].to_numpy(), return_index=True)
    return keys, fields["cnt"].to_numpy()[first]


def _lookup(keys: np.ndarray, vals: np.ndarray):
    """(pos, hit): where each of ``vals`` sits in the sorted ``keys``
    (``searchsorted``) and whether it is there."""
    pos = np.searchsorted(keys, vals)
    hit = pos < keys.size
    hit[hit] = keys[pos[hit]] == vals[hit]
    return pos, hit


def _multiplicity(keys: np.ndarray, cnts: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """The corpus count of each of ``vals`` by lookup in the sorted
    ``keys`` (``cnts`` aligned): a shingle absent from the cnt ≥ 2 slice
    occurs once."""
    out = np.ones(vals.size, dtype=np.int32)
    pos, hit = _lookup(keys, vals)
    out[hit] = cnts[pos[hit]]
    return out


def make_multi_band_fn(cfg: SketchConfig, stop: np.ndarray):
    """mapInArrow: (image_id, img_shingles, cap_shingles) → band rows
    (image_id, band, band_hash) for ALL THREE LSH families in one pass,
    whole-batch vectorized: the combined img ∪ cap set bands wide/shallow
    for cross-modal partial similarity, the image-only and caption-only
    families narrow/deep for pairs near-identical in that modality
    (``band`` is offset per family). The stop-shingles ``stop`` (sorted:
    the shingles whose corpus count exceeds the band df limit) are dropped
    first by membership, the repeat mask of sylph's ``duplicate_set``
    (sketch.rs:590-600). Fewer than Σcnt/limit shingles can exceed the
    limit, so the closure carries a small array on every path."""
    families = (
        (0, cfg.num_bands, cfg.rows_per_band),
        (cfg.num_bands, cfg.family_bands, cfg.family_rows),
        (cfg.num_bands + cfg.family_bands, cfg.family_bands, cfg.family_rows),
    )
    seeds_by_n = {
        nb * rpb: K.minhash_seeds(nb * rpb, cfg.seed) for _, nb, rpb in families
    }

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            idx_id = batch.schema.get_field_index("image_id")
            ids_np = np.array(batch.column(idx_id).to_pylist(), dtype=object)
            img_flat, img_cnt = _list_col_numpy(batch, "img_shingles")
            cap_flat, cap_cnt = _list_col_numpy(batch, "cap_shingles")
            img_pid = np.repeat(np.arange(n), img_cnt)
            cap_pid = np.repeat(np.arange(n), cap_cnt)
            im = ~_lookup(stop, img_flat)[1]
            cm = ~_lookup(stop, cap_flat)[1]
            img_f, img_p = img_flat[im], img_pid[im]
            cap_f, cap_p = cap_flat[cm], cap_pid[cm]
            # combined family = img ∪ cap multiset per item (min over the
            # concatenation ≡ min over the union); regroup by item index
            comb_p = np.concatenate([img_p, cap_p])
            comb_f = np.concatenate([img_f, cap_f])
            order = np.argsort(comb_p, kind="stable")
            comb_p, comb_f = comb_p[order], comb_f[order]
            outs = []
            for (offset, nb, rpb), (flat, pid) in zip(
                families, ((comb_f, comb_p), (img_f, img_p), (cap_f, cap_p))
            ):
                outs.append(
                    _family_band_arrays(
                        K.i64_to_u64(flat),
                        pid,
                        ids_np,
                        nb,
                        rpb,
                        offset,
                        seeds_by_n[nb * rpb],
                    )
                )
            yield _band_batch(
                np.concatenate([o[0] for o in outs]),
                np.concatenate([o[1] for o in outs]),
                np.concatenate([o[2] for o in outs]),
            )

    return fn


SCORE_PA_SCHEMA = pa.schema(
    [
        ("id_a", pa.string()),
        ("id_b", pa.string()),
        ("contain_count", pa.int32()),
        ("total_kmers", pa.int32()),
        ("naive_sim", pa.float64()),
        ("adj_sim", pa.float64()),
        ("adjust_status", pa.string()),
        ("lambda", pa.float64()),
        ("median_cov", pa.float64()),
        ("kmers_lost", pa.int32()),
        ("ani_lo", pa.float64()),
        ("ani_hi", pa.float64()),
        ("lambda_lo", pa.float64()),
        ("lambda_hi", pa.float64()),
    ]
)
SCORE_SCHEMA = from_arrow_schema(SCORE_PA_SCHEMA)

_TAIL_THR_CACHE: dict[float, float] = {}


def _tail_threshold(m: float) -> float:
    """max_cov for the Poisson tail cut at integer median m (< 30): the
    largest integer v with poisson_cdf(v, m) < CUTOFF_PVALUE. Equivalent to
    the reference's walk over distinct PRESENT values ≥ covs[len/2]
    (contain.rs:664-678): the CDF is monotone in v, the walk's first value
    is the median itself (cdf(m, m) ≈ 0.5, always passes), and any present
    value in (max_cov_present, v_thr] would itself have passed — so
    "≤ largest passing present value" ≡ "≤ v_thr" on the present multiset."""
    got = _TAIL_THR_CACHE.get(m)
    if got is None:
        v = int(m)
        while K.poisson_cdf(float(v + 1), m) < K.CUTOFF_PVALUE:
            v += 1
        got = _TAIL_THR_CACHE[m] = float(v)
    return got


def _ratio_lambda_rows(
    kvals: np.ndarray,
    kpidx: np.ndarray,
    nz_cnt: np.ndarray,
    n: int,
    mcc: float,
) -> np.ndarray:
    """Vectorized ratio_lambda (inference.rs:207-242) over ``n`` rows of
    SORTED nonzero values (``kvals`` ascending within each row, ``kpidx``
    the non-decreasing row index): each maximal (row, value) run is one
    histogram bin; modal run by (count, value) ascending lexsort → last run
    per row; λ = cnt[i*+1]/cnt[i*]·(i*+1). NaN wherever the kernel returns
    None (sample cutoff, single distinct value, missing i*+1 bin, min-count
    guards) — identical guards to kernels.ratio_lambda."""
    lam = np.full(n, np.nan)
    if kvals.size == 0:
        return lam
    newrun = np.ones(kvals.size, dtype=bool)
    newrun[1:] = (kpidx[1:] != kpidx[:-1]) | (kvals[1:] != kvals[:-1])
    run_starts = np.flatnonzero(newrun)
    run_row = kpidx[run_starts]
    run_val = kvals[run_starts]
    run_cnt = np.diff(np.append(run_starts, kvals.size))
    n_runs = np.bincount(run_row, minlength=n)
    ord2 = np.lexsort((run_val, run_cnt, run_row))
    rr_sorted = run_row[ord2]
    last_mask = np.ones(rr_sorted.size, dtype=bool)
    last_mask[:-1] = rr_sorted[1:] != rr_sorted[:-1]
    mode_run = np.full(n, -1, dtype=np.int64)
    mode_run[rr_sorted[last_mask]] = ord2[last_mask]
    eligible = (
        (nz_cnt >= K.SAMPLE_SIZE_CUTOFF) & (n_runs >= 2) & (mode_run >= 0)
    )
    ei = np.flatnonzero(eligible)
    if ei.size == 0:
        return lam
    mr = mode_run[ei]
    nxt = mr + 1
    nr_total = run_row.size
    nxt_c = np.minimum(nxt, nr_total - 1)
    ok_next = (
        (nxt < nr_total)
        & (run_row[nxt_c] == run_row[mr])
        & (run_val[nxt_c] == run_val[mr] + 1)
    )
    cnt_mode = run_cnt[mr].astype(np.float64)
    cnt_p1 = run_cnt[nxt_c].astype(np.float64)
    ok = ok_next & (cnt_mode >= mcc) & (cnt_p1 >= mcc)
    lam[ei] = np.where(ok, cnt_p1 / cnt_mode * (run_val[mr] + 1), np.nan)
    return lam


def _score_batch_fast(batch: pa.RecordBatch, cfg: SketchConfig, has_lost: bool):
    """Whole-batch numpy scoring (with or without bootstrap CIs): one
    lexsort + segment reductions replace the per-pair score_pair loop — the
    serial-Python hot path at 10⁹ scored pairs."""
    idx = batch.schema.get_field_index
    covs_arr = batch.column(idx("covs"))
    # ListArray offsets are contiguous by construction (list i spans
    # values[offsets[i]:offsets[i+1]]); values may carry a prefix before
    # offsets[0] when the array is a slice, handled below
    offsets = covs_arr.offsets.to_numpy().astype(np.int64)
    n = batch.num_rows
    cc = np.diff(offsets)
    flat = covs_arr.values.to_numpy().astype(np.int64)
    vals0 = flat[offsets[0] : offsets[-1]] if n else np.empty(0, np.int64)
    total = batch.column(idx("total_kmers")).to_numpy().astype(np.int64)
    lost = (
        batch.column(idx("kmers_lost")).to_numpy().astype(np.int64)
        if has_lost
        else np.zeros(n, dtype=np.int64)
    )
    inv_k = 1.0 / cfg.ani_k
    mcc = cfg.min_count_correct

    pidx = np.repeat(np.arange(n), cc)
    # per-pair ascending sort (primary key pidx is already non-decreasing,
    # so lexsort only reorders within each pair's segment)
    svals = vals0[np.lexsort((vals0, pidx))]
    seg_start = np.concatenate([[0], np.cumsum(cc)])[:-1]

    keep = cc > 0  # empty coverage → score_pair None → row dropped
    med = np.zeros(n, dtype=np.int64)
    med[keep] = svals[(seg_start + cc // 2)[keep]]

    # Poisson tail cut (contain.rs:661-690): per-pair threshold from the
    # integer median — medians repeat heavily across pairs, so the walk runs
    # once per distinct median (cached process-wide)
    thr = np.full(n, np.inf)
    walk = keep & (med < 30)
    for mm in np.unique(med[walk]):
        thr[walk & (med == mm)] = _tail_threshold(float(mm))
    kept_el = svals <= thr[pidx]
    kept_cnt = np.bincount(pidx[kept_el], minlength=n).astype(np.int64)
    full_size = total - cc + kept_cnt

    with np.errstate(divide="ignore", invalid="ignore"):
        naive = (cc / total) ** inv_k

    # λ estimation (inference.rs) over the kept multiset, all pairs at once:
    # per-pair sorted nonzero values → vectorized ratio λ rows. λ only
    # applies outside the high regime (contain.rs:692-713), so mask after.
    kvals = svals[kept_el]
    kpidx = pidx[kept_el]
    high = keep & (med.astype(np.float64) > K.MEDIAN_ANI_THRESHOLD)
    lam = _ratio_lambda_rows(kvals, kpidx, kept_cnt, n, mcc)
    lam[~keep | high] = np.nan
    has_lam = ~np.isnan(lam)

    # zero-truncation correction (contain.rs:817-847) where λ exists
    adj = naive.copy()
    li = np.flatnonzero(has_lam)
    if li.size:
        with np.errstate(divide="ignore", invalid="ignore"):
            adj_index = (
                kept_cnt[li] / (1.0 - np.exp(-lam[li])) / full_size[li]
            )
            ani = adj_index ** inv_k
        bad = np.isnan(ani) | (ani < 0.0)
        adj[li] = np.where(bad, naive[li], ani)

    status = np.where(high, "high", np.where(has_lam, "lambda", "low"))

    if cfg.bootstrap_iters > 0:
        ci = _bootstrap_ci_rows(kvals, kpidx, kept_cnt, full_size, keep, cfg)
    else:
        ci = (np.full(n, np.nan),) * 4

    def fcol(arr):
        return pa.array(np.asarray(arr)[keep])

    ka = pa.array(keep)
    return pa.RecordBatch.from_arrays(
        [
            batch.column(idx("id_a")).filter(ka),
            batch.column(idx("id_b")).filter(ka),
            fcol(cc.astype(np.int32)),
            fcol(total.astype(np.int32)),
            fcol(naive),
            fcol(adj),
            fcol(status),
            fcol(lam),
            fcol(med.astype(np.float64)),
            fcol(lost.astype(np.int32)),
            fcol(ci[0]),
            fcol(ci[1]),
            fcol(ci[2]),
            fcol(ci[3]),
        ],
        schema=SCORE_PA_SCHEMA,
    )


def _bootstrap_ci_rows(
    kvals: np.ndarray,
    kpidx: np.ndarray,
    kept_cnt: np.ndarray,
    full_size: np.ndarray,
    keep: np.ndarray,
    cfg: SketchConfig,
    elem_budget: int = 8_000_000,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized bootstrap CIs (contain.rs:849-898) for the fast scorer.

    Per pair, ALL ``iters`` resamples of its zero-padded coverage vector
    form one (iters, n) tensor drawn in a single rng call — bit-identical
    to kernels.bootstrap_interval's per-iteration draws (one
    ``default_rng(seed).integers(0, n, (iters, n))`` call consumes the PCG
    stream exactly as ``iters`` size-n calls do; verified empirically).
    Pairs are then processed in element-budgeted chunks so
    _ratio_lambda_rows runs ONCE per chunk over (pairs·iters) resample rows
    instead of per pair per iteration — the pairs × iters tensorization
    that removes the per-pair Python loop from the CI path (VERDICT r3
    #2)."""
    n = keep.size
    iters, seed = cfg.bootstrap_iters, cfg.bootstrap_seed
    inv_k = 1.0 / cfg.ani_k
    out = tuple(np.full(n, np.nan) for _ in range(4))
    live = np.flatnonzero(keep)
    if live.size == 0:
        return out
    # per-pair slices of the (sorted-ascending) kept values
    starts = np.searchsorted(kpidx, live)
    ends = np.searchsorted(kpidx, live, side="right")

    def flush(pair_ids: list[int], mats: list[np.ndarray]):
        """One λ pass over every resample row of the chunk's pairs."""
        rows = len(mats) * iters
        sizes = np.array([m.shape[1] for m in mats], dtype=np.int64)
        nz_list, kv_list, kp_list = [], [], []
        base = 0
        for m in mats:
            m.sort(axis=1)  # zeros first; nonzero tail ascending
            mask = m > 0
            nz = mask.sum(axis=1)
            kv_list.append(m[mask])  # row-major → grouped by row, ascending
            kp_list.append(np.repeat(base + np.arange(iters), nz))
            nz_list.append(nz)
            base += iters
        ch_kv = np.concatenate(kv_list)
        ch_kp = np.concatenate(kp_list)
        ch_nz = np.concatenate(nz_list)
        ch_fs = np.repeat(sizes, iters)
        lam = _ratio_lambda_rows(ch_kv, ch_kp, ch_nz, rows, cfg.min_count_correct)
        # ani_from_lambda, all rows at once
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            adj = ch_nz / (1.0 - np.exp(-lam)) / ch_fs
            ani = adj**inv_k
        valid = ~np.isnan(lam) & ~np.isnan(ani) & (ani >= 0.0)
        for j, p in enumerate(pair_ids):
            sl = slice(j * iters, (j + 1) * iters)
            ok = valid[sl]
            suc = int(ok.sum())
            if suc < 50:
                continue
            res_ani = np.sort(ani[sl][ok])
            res_lam = np.sort(lam[sl][ok])
            out[0][p] = res_ani[suc * 5 // 100 - 1]
            out[1][p] = res_ani[suc * 95 // 100 - 1]
            out[2][p] = res_lam[suc * 5 // 100 - 1]
            out[3][p] = res_lam[suc * 95 // 100 - 1]

    pend_ids: list[int] = []
    pend_mats: list[np.ndarray] = []
    pend_elems = 0
    for i, s, e in zip(live.tolist(), starts.tolist(), ends.tolist()):
        fs = int(full_size[i])
        if fs <= 0:
            continue
        # coverage_stats vector order: zeros first, then kept ascending —
        # index draws must hit the same layout as the slow path's
        vec = np.zeros(fs, dtype=np.int64)
        vec[fs - (e - s) :] = kvals[s:e]
        idx = np.random.default_rng(seed).integers(0, fs, size=(iters, fs))
        pend_ids.append(i)
        pend_mats.append(vec[idx])
        pend_elems += iters * fs
        if pend_elems >= elem_budget:
            flush(pend_ids, pend_mats)
            pend_ids, pend_mats, pend_elems = [], [], 0
    if pend_ids:
        flush(pend_ids, pend_mats)
    return out


def _score_batch_slow(batch: pa.RecordBatch, cfg: SketchConfig, has_lost: bool):
    """Per-pair loop over kernels.score_pair and kernels.bootstrap_interval
    — the cross-check reference for the fast path (tests assert fast ≡ slow
    on identical batches) and the loop the per-pair scorer microbenches
    time."""
    nan = float("nan")
    idx = batch.schema.get_field_index
    ids_a = batch.column(idx("id_a")).to_pylist()
    ids_b = batch.column(idx("id_b")).to_pylist()
    covs_l = batch.column(idx("covs")).to_pylist()
    total = batch.column(idx("total_kmers")).to_pylist()
    lost = batch.column(idx("kmers_lost")).to_pylist() if has_lost else None
    cols: dict[str, list] = {f.name: [] for f in SCORE_PA_SCHEMA}
    for i in range(batch.num_rows):
        covs = np.asarray(covs_l[i], dtype=np.int64)
        res = K.score_pair(covs, int(total[i]), cfg.ani_k, cfg.min_count_correct)
        if res is None:
            continue
        ci = (None, None, None, None)
        if cfg.bootstrap_iters > 0:
            ci = K.bootstrap_interval(
                res["full_covs"],
                cfg.ani_k,
                cfg.min_count_correct,
                iters=cfg.bootstrap_iters,
                seed=cfg.bootstrap_seed,
            )
        cols["id_a"].append(ids_a[i])
        cols["id_b"].append(ids_b[i])
        cols["contain_count"].append(res["contain_count"])
        cols["total_kmers"].append(res["total_kmers"])
        cols["naive_sim"].append(res["naive_ani"])
        cols["adj_sim"].append(res["final_est_ani"])
        cols["adjust_status"].append(res["adjust_status"])
        cols["lambda"].append(res["lambda"] if res["lambda"] is not None else nan)
        cols["median_cov"].append(res["median_cov"])
        cols["kmers_lost"].append(int(lost[i]) if lost is not None else 0)
        for name, v in zip(("ani_lo", "ani_hi", "lambda_lo", "lambda_hi"), ci):
            cols[name].append(v if v is not None else nan)
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], f.type) for f in SCORE_PA_SCHEMA],
        schema=SCORE_PA_SCHEMA,
    )


def make_score_arrow_fn(cfg: SketchConfig, force_slow: bool = False):
    """mapInArrow over pair rows (id_a, id_b, total_kmers, covs[, kmers_lost])
    where ``covs`` is the pair's array of intersecting-shingle corpus
    multiplicities — the E1/E6/E7 scoring chain (contain.rs:601-745).

    Scoring takes the vectorized whole-batch path, ratio λ estimator and
    bootstrap CIs included (resamples tensorized pairs × iters, RNG-stream
    identical to the kernel loop); ``force_slow`` takes the per-pair kernel
    loop instead. ``kmers_lost`` (winner-table reassignment count,
    contain.rs:641) is passed through when present (rescore pass), 0
    otherwise; CI columns are NaN unless bootstrapping."""
    score = _batch_scorer(cfg, force_slow)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield score(batch)

    return fn


def _batch_scorer(cfg: SketchConfig, force_slow: bool = False):
    """batch → scored batch, on the fast path unless ``force_slow``."""
    score = _score_batch_slow if force_slow else _score_batch_fast

    def run(batch: pa.RecordBatch) -> pa.RecordBatch:
        return score(batch, cfg, batch.schema.get_field_index("kmers_lost") >= 0)

    return run


INTER_CNT_TYPE = pa.list_(
    pa.struct([("shingle", pa.int64()), ("cnt", pa.int32())])
)
# the pair_shingles stage: the pair's shared shingles with their corpus
# multiplicities (inter_cnt), then every first-pass score column, so the
# scored stage is a projection of it, then the verification gate's columns
# (_gate), so the gated stage is a filter of it
GATE_PA_FIELDS = [
    pa.field("hamming", pa.int32()),
    pa.field("lcs", pa.int64()),
    pa.field("gated", pa.bool_()),
]
PAIR_SHINGLES_PA_SCHEMA = pa.schema(
    [SCORE_PA_SCHEMA.field(n) for n in ("id_a", "id_b", "total_kmers")]
    + [pa.field("inter_cnt", INTER_CNT_TYPE)]
    + [
        f
        for f in SCORE_PA_SCHEMA
        if f.name not in ("id_a", "id_b", "total_kmers")
    ]
    + GATE_PA_FIELDS
)
PAIR_SHINGLES_SCHEMA = from_arrow_schema(PAIR_SHINGLES_PA_SCHEMA)


def _shared_shingles(batch: pa.RecordBatch, counts, min_contain: float):
    """One pass over pair rows (total_kmers, sh_a, sh_b[, sh_cnt]): per row
    sh_a ∩ sh_b, the size prefilter on |∩| (min-ANI analog,
    contain.rs:746-764), and each shared shingle's corpus multiplicity
    through ``_multiplicity`` into ``counts`` (``_count_table``). The
    shingle arrays are sets (the sketch stage emits unique shingles).

    Returns (pid, shingle, cnt) of the kept shared shingles, grouped by row
    index ``pid`` in ascending order and in ``sh_a`` order within a row."""
    n = batch.num_rows
    fa, na = _list_col_numpy(batch, "sh_a")
    fb, nb = _list_col_numpy(batch, "sh_b")
    total = batch.column(batch.schema.get_field_index("total_kmers"))
    total = total.to_numpy().astype(np.int64)
    rows = np.arange(n, dtype=np.int64)
    pid_a, pid_b = np.repeat(rows, na), np.repeat(rows, nb)
    # code each shingle by its rank among the batch's shingles, so (row,
    # code) packs into one int64 and the per-row intersection is one sort
    # + searchsorted
    uniq, code = np.unique(np.concatenate([fa, fb]), return_inverse=True)
    m = int(uniq.size)
    if n * m >= 1 << 62:
        raise ValueError(f"{n} pairs × {m} shingle codes overflow int64 keys")
    key_a = pid_a * m + code[: fa.size]
    key_b = np.sort(pid_b * m + code[fa.size :])
    j = np.searchsorted(key_b, key_a)
    shared = j < key_b.size
    shared[shared] = key_b[j[shared]] == key_a[shared]
    n_inter = np.bincount(pid_a[shared], minlength=n)
    sel = shared & (n_inter >= min_contain * total)[pid_a]
    return pid_a[sel], fa[sel], _multiplicity(*counts, fa[sel])


def _gate(
    batch: pa.RecordBatch, keep: pa.Array, adj: np.ndarray, cfg: SketchConfig, lcs_fn
) -> list:
    """The verification gate (north rule) of the scored rows ``keep`` of a
    pair batch (sim_a, sim_b, cap_a, cap_b) with first-pass similarity
    ``adj``, as the columns
    ``hamming``, the SimHash distance (popcount of the xor); ``lcs``, the
    caption LCS in UTF-8 bytes through ``lcs_fn`` (make_lcs_fn), null
    unless the row clears tau and ``simhash_max_hamming``; and ``gated``,
    such a row whose lcs ≥ min(lcs_min_len, min_len) and ≥ lcs_min_frac ·
    min_len, or whose shorter caption is empty. ``min_len`` counts UTF-8
    bytes, the unit of ``lcs`` (a null caption gives NaN, which fails the
    rule)."""
    def col(name: str) -> pa.Array:
        return batch.column(name).filter(keep)

    xor = col("sim_a").to_numpy() ^ col("sim_b").to_numpy()
    bits = np.unpackbits(xor.view(np.uint8)).reshape(-1, 64)
    hamming = bits.sum(axis=1, dtype=np.int32)
    ok = (adj >= cfg.tau) & (hamming <= cfg.simhash_max_hamming)
    sel = pa.array(ok)
    cap_a, cap_b = col("cap_a").filter(sel), col("cap_b").filter(sel)
    v = lcs_fn(cap_a.to_pandas(), cap_b.to_pandas()).to_numpy()
    min_len = np.minimum(
        pc.binary_length(cap_a).to_numpy(zero_copy_only=False),
        pc.binary_length(cap_b).to_numpy(zero_copy_only=False),
    )
    lcs = np.zeros(ok.size, np.int64)
    lcs[ok] = v
    gated = np.zeros(ok.size, bool)
    gated[ok] = (min_len == 0) | (
        (v >= np.minimum(cfg.lcs_min_len, min_len)) & (v >= cfg.lcs_min_frac * min_len)
    )
    return [pa.array(hamming, pa.int32()), pa.array(lcs, mask=~ok), pa.array(gated)]


def _pair_shingles_batch(
    batch: pa.RecordBatch,
    pid: np.ndarray,
    shingle: np.ndarray,
    cnt: np.ndarray,
    score,
    gate,
) -> pa.RecordBatch:
    """Rows of ``batch`` with at least one (pid, shingle, cnt) entry →
    pair_shingles rows: ids, total_kmers, inter_cnt, the first-pass score
    columns from ``score`` (every row has a nonempty coverage vector, so the
    scorer keeps every row, in order) and the gate columns from ``gate``."""
    idx = batch.schema.get_field_index
    cc = np.bincount(pid, minlength=batch.num_rows)
    live = cc > 0
    offsets = np.zeros(int(live.sum()) + 1, dtype=np.int32)
    np.cumsum(cc[live], out=offsets[1:])
    offsets = pa.array(offsets)
    cnt = pa.array(cnt, pa.int32())
    keep = pa.array(live)
    total = batch.column(idx("total_kmers")).filter(keep).cast(pa.int32())
    scored = score(
        pa.RecordBatch.from_arrays(
            [
                batch.column(idx("id_a")).filter(keep),
                batch.column(idx("id_b")).filter(keep),
                total,
                pa.ListArray.from_arrays(offsets, cnt),
            ],
            names=["id_a", "id_b", "total_kmers", "covs"],
        )
    )
    assert scored.num_rows == len(total)
    inter_cnt = pa.ListArray.from_arrays(
        offsets,
        pa.StructArray.from_arrays(
            [pa.array(shingle, pa.int64()), cnt], fields=list(INTER_CNT_TYPE.value_type)
        ),
    )
    cols = {f.name: scored.column(i) for i, f in enumerate(SCORE_PA_SCHEMA)}
    cols["inter_cnt"] = inter_cnt
    gated = gate(batch, keep, cols["adj_sim"].to_numpy())
    cols.update(zip((f.name for f in GATE_PA_FIELDS), gated))
    return pa.RecordBatch.from_arrays(
        [cols[f.name] for f in PAIR_SHINGLES_PA_SCHEMA], schema=PAIR_SHINGLES_PA_SCHEMA
    )


def make_pair_shingles_fn(cfg: SketchConfig, counts_bc=None):
    """mapInArrow kernel of the pair_shingles stage: (id_a, id_b,
    total_kmers, sh_a, sh_b, sim_a, sim_b, cap_a, cap_b[, sh_cnt]) →
    PAIR_SHINGLES_SCHEMA rows, the J1 probe join (contain.rs:632-652), the
    first-pass E-chain scoring (contain.rs:601-745) and the verification
    gate in one crossing into Python: intersect, apply the
    ``score_min_contain`` prefilter and look up the multiplicities on flat
    numpy buffers (``_shared_shingles``), score, then gate every scored row
    (``_gate``), as sylph decides each genome pair in one pass
    (``get_stats``, contain.rs:601-814). ``counts_bc`` and ``sh_cnt`` are as
    in ``_count_table``."""
    score = _batch_scorer(cfg)
    gate = partial(_gate, cfg=cfg, lcs_fn=make_lcs_fn())

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            counts = _count_table(batch, counts_bc)
            found = _shared_shingles(batch, counts, cfg.score_min_contain)
            yield _pair_shingles_batch(batch, *found, score, gate)

    return fn


def _rescore_bucket(
    pairs: pa.Table, items: pa.Table, stop: np.ndarray, reass_frac: float
) -> pa.RecordBatch:
    """Winner-table reassignment for one bucket of preliminary clusters —
    oracle.winner_rescore in whole-bucket numpy, no per-row Python.

    ``pairs`` holds the bucket's first-pass pairs (id_a, id_b, adj_sim,
    total_kmers, inter_cnt = [(shingle, corpus cnt)]); ``items`` holds every
    endpoint of them (image_id, pre_cluster, shingles). A shared shingle
    competes unless it is in the sorted stop set ``stop``. Returns the scorer
    input (id_a, id_b, total_kmers, covs, kmers_lost) of the pairs that pass
    the derep filter (contain.rs:353-375), ``covs`` counting only the
    shingles each pair still owns."""

    def col(t: pa.Table, name: str) -> pa.Array:
        return t.column(name).combine_chunks()

    n = pairs.num_rows
    item_ids = col(items, "image_id")
    ids_a, ids_b = col(pairs, "id_a"), col(pairs, "id_b")
    ia = pc.index_in(ids_a, value_set=item_ids).to_numpy()
    ib = pc.index_in(ids_b, value_set=item_ids).to_numpy()
    # item score = best first-pass similarity the item takes part in; items
    # rank by (item_score, image_id), so ties go to the larger image_id
    score = np.full(len(item_ids), -np.inf)
    adj = col(pairs, "adj_sim").to_numpy()
    np.maximum.at(score, ia, adj)
    np.maximum.at(score, ib, adj)
    order = pc.sort_indices(
        pa.table({"s": score, "id": item_ids}),
        sort_keys=[("s", "ascending"), ("id", "ascending")],
    ).to_numpy()
    rank = np.empty_like(order)
    rank[order] = np.arange(order.size)
    cl = col(items, "pre_cluster").dictionary_encode().indices.to_numpy()
    cl = cl.astype(np.int64)

    inter = col(pairs, "inter_cnt")
    pp = np.repeat(np.arange(n), pc.list_value_length(inter).to_numpy())
    flat = inter.flatten()
    fields = dict(zip((f.name for f in flat.type), flat.flatten()))
    psh, pcnt = fields["shingle"].to_numpy(), fields["cnt"].to_numpy()
    # stop shingles never compete (repeat-mask analog, sketch.rs:595-600);
    # a competing shingle is keyed by (cluster, shingle code), so clusters
    # sharing a bucket never compete with each other
    compete = ~_lookup(stop, psh)[1]
    uniq = np.unique(psh[compete])
    ish_list = col(items, "shingles")
    ii = np.repeat(
        np.arange(items.num_rows), pc.list_value_length(ish_list).to_numpy()
    )
    ish = ish_list.flatten().to_numpy()
    pos, hit = _lookup(uniq, ish)
    ii = ii[hit]
    key = cl[ii] * uniq.size + pos[hit]
    # winner per key = the highest-ranked item holding the shingle
    o = np.lexsort((rank[ii], key))
    win_key, win_item = key[o], ii[o]
    last = np.ones(win_key.size, dtype=bool)
    last[:-1] = win_key[1:] != win_key[:-1]
    win_key, win_item = win_key[last], win_item[last]

    # a competing pair shingle lies in both endpoints, so its key has a
    # winner; the pair keeps it only when that winner is one of its own
    pa_c, pb_c = ia[pp[compete]], ib[pp[compete]]
    pkey = cl[pa_c] * uniq.size + np.searchsorted(uniq, psh[compete])
    wi = win_item[np.searchsorted(win_key, pkey)]
    kept = np.ones(psh.size, dtype=bool)
    kept[compete] = (wi == pa_c) | (wi == pb_c)

    lost = np.bincount(pp[~kept], minlength=n)
    total = col(pairs, "total_kmers").to_numpy()
    ok = lost < reass_frac * total
    keep = kept & ok[pp]
    offsets = np.zeros(int(ok.sum()) + 1, dtype=np.int32)
    np.cumsum(np.bincount(pp[keep], minlength=n)[ok], out=offsets[1:])
    sel = pa.array(np.flatnonzero(ok))
    return pa.RecordBatch.from_arrays(
        [
            ids_a.take(sel),
            ids_b.take(sel),
            pa.array(total[ok].astype(np.int32)),
            pa.ListArray.from_arrays(pa.array(offsets), pa.array(pcnt[keep])),
            pa.array(lost[ok].astype(np.int32)),
        ],
        names=["id_a", "id_b", "total_kmers", "covs", "kmers_lost"],
    )


def make_rescore_arrow_fn(cfg: SketchConfig, stop: np.ndarray):
    """cogroup ``applyInArrow`` kernel of the rescored stage: (pair rows,
    item rows) of one bucket of preliminary clusters → rescored rows in
    SCORE_SCHEMA. ``stop`` is the sorted stop set (the shingles whose corpus
    count exceeds the band df limit, ``pipeline.Vocab``), whose shingles
    never compete."""
    score = _batch_scorer(cfg)
    reass_frac = cfg.tau**cfg.ani_k

    def fn(pairs: pa.Table, items: pa.Table) -> pa.Table:
        batch = _rescore_bucket(pairs, items, stop, reass_frac)
        return pa.Table.from_batches([score(batch)])

    return fn


def make_lcs_fn():
    """Caption batch (two pandas Series, the gate rows of one pair-kernel
    batch, see ``_gate``) → longest common substring length in UTF-8 bytes,
    the unit of the suffix automaton (kernels.longest_common_substring).

    The per-pair automaton call is the only per-element Python in the hot
    pipeline, so the batch short-circuits EQUAL captions vectorized first
    (LCS(s, s) = the byte length of s; one pandas ``==`` over the whole
    batch) — the dominant duplicate class (exact dups + re-encodes, ~77% of
    hamming survivors on the bench corpus) never reaches the automaton.
    Measured against the alternatives (JVM k-gram arrays_overlap prefilter
    at ~360 µs/pair, a DataFrame-level eq/ne branch split that doubled the
    former gate stage's join work): short-circuiting inside the batch is
    the only variant that is never slower than the plain loop at any
    volume."""

    def fn(a: pd.Series, b: pd.Series) -> pd.Series:
        av = a.fillna("")
        bv = b.fillna("")
        out = pd.Series(np.zeros(len(av), dtype=np.int64))
        eq = (av == bv).to_numpy()
        utf8 = av[eq].str.encode("utf-8", errors="replace")
        out[eq] = utf8.str.len().to_numpy(dtype=np.int64)
        ne = np.flatnonzero(~eq)
        out.iloc[ne] = np.array(
            [K.longest_common_substring(av.iloc[i], bv.iloc[i]) for i in ne],
            dtype=np.int64,
        )
        return out

    return fn
