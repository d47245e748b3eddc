"""Single-node numpy reference implementation of the full pipeline.

This is the correctness oracle (SURVEY.md §5.2): the Spark pipeline must
reproduce these cluster assignments exactly at the same SketchConfig. It
follows the same lifecycle as the Spark stages — sketch → corpus counts →
MinHash/LSH candidates → corrected-containment scoring → SimHash +
suffix-array verification → connected components — with zero Spark code.

Scoring transplants sylph's get_stats chain (/root/reference/src/
contain.rs:601-745): coverage vector = corpus-level multiplicities of the
intersected shingles, zero-padded; λ regime switch; zero-truncation-corrected
containment, naive fallback.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import codecs
from . import kernels as K
from .config import SketchConfig


@dataclass
class ItemSketch:
    image_id: str
    shingles: np.ndarray  # sorted unique u64 (union of the two families)
    img_shingles: np.ndarray
    cap_shingles: np.ndarray
    simhash: int
    caption: str


def sketch_item(
    image_id: str, data: bytes, fmt: str, caption: str, cfg: SketchConfig
) -> ItemSketch:
    gray = codecs.to_gray(codecs.decode_image(data, fmt))
    img_sh = K.image_shingles(
        gray, cfg.block_px, cfg.q_shift, cfg.k_block, cfg.c, cfg.n_grids
    )
    cap_sh = K.caption_shingles(caption, cfg.k_caption, cfg.c)
    shingles = np.union1d(img_sh, cap_sh)
    return ItemSketch(
        image_id, shingles, img_sh, cap_sh, K.simhash64(shingles), caption
    )


def sketch_corpus(images: pd.DataFrame, cfg: SketchConfig) -> list[ItemSketch]:
    return [
        sketch_item(r.image_id, r.bytes, r.fmt, r.caption, cfg)
        for r in images.itertuples()
    ]


def corpus_counts(sketches: list[ItemSketch]) -> dict[int, int]:
    """shingle → number of items containing it (A1 hash-agg, sketch.rs:690-731)."""
    all_sh = np.concatenate([s.shingles for s in sketches if s.shingles.size])
    vals, cnts = np.unique(all_sh, return_counts=True)
    return dict(zip(vals.tolist(), cnts.tolist()))


def lsh_buckets(
    sketches: list[ItemSketch], cfg: SketchConfig, counts: dict[int, int] | None = None
) -> dict[tuple[int, int], list[str]]:
    """(band, band_hash) → member image_ids — the bucket table behind
    lsh_candidates, exposed so tests can reason about bucket MEMBERSHIP
    (e.g. the dense-degrade tri-diagonal property is defined over a
    bucket's own sorted members, not over any externally guessed subset).
    """
    limit = cfg.band_df_limit(len(sketches)) if counts is not None else None
    fb, fr = cfg.family_bands, cfg.family_rows
    families = (
        (0, cfg.num_bands, cfg.rows_per_band, "shingles"),
        (cfg.num_bands, fb, fr, "img_shingles"),
        (cfg.num_bands + fb, fb, fr, "cap_shingles"),
    )
    seeds_by_n = {
        nb * rpb: K.minhash_seeds(nb * rpb, cfg.seed) for _, nb, rpb, _ in families
    }
    buckets: dict[tuple[int, int], list[str]] = {}
    for s in sketches:
        # three LSH families (source-aware banding; see SketchConfig)
        for offset, nb, rpb, attr in families:
            sh = getattr(s, attr)
            if limit is not None and sh.size:
                keep = np.array([counts.get(int(x), 0) <= limit for x in sh])
                sh = sh[keep]
            if sh.size == 0:
                continue
            sig = K.minhash_signature(sh, seeds_by_n[nb * rpb])
            bh = K.band_hashes(sig, nb, rpb)
            for band, h in enumerate(bh.tolist()):
                buckets.setdefault((band + offset, h), []).append(s.image_id)
    return buckets


def lsh_candidates(
    sketches: list[ItemSketch], cfg: SketchConfig, counts: dict[int, int] | None = None
) -> set[tuple[str, str]]:
    """Banded MinHash → candidate id pairs (replaces all-pairs contain.rs:266-292).

    Shingles with corpus document-frequency above the band_df limit are
    excluded from banding (stop-shingle masking — the corpus analog of
    sylph's repeat masking sketch.rs:590-600); scoring still uses full sets.
    """
    buckets = lsh_buckets(sketches, cfg, counts)
    pairs: set[tuple[str, str]] = set()
    chunk = cfg.pair_chunk
    for members in buckets.values():
        if len(members) < 2:
            continue
        members = sorted(set(members))
        dense = len(members) > cfg.bucket_degrade_size
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                # dense buckets: banded tri-diagonal chunk pairing (the
                # pipeline's degrade path) — pair only within one's own
                # pair_chunk-sized chunk and the successor chunk
                if dense and j // chunk - i // chunk > 1:
                    continue
                pairs.add((members[i], members[j]))
    return pairs


def score_candidates(
    sketches: list[ItemSketch],
    pairs: set[tuple[str, str]],
    counts: dict[int, int],
    cfg: SketchConfig,
) -> pd.DataFrame:
    """Sylph-corrected containment score per candidate pair.

    Containment is directional (genome-in-sample, contain.rs:655-660); we
    score the smaller set against the larger (max containment direction) so
    crops/subsets are caught, and report it symmetrically.
    """
    by_id = {s.image_id: s for s in sketches}
    rows = []
    for id_a, id_b in sorted(pairs):
        a, b = by_id[id_a], by_id[id_b]
        small, big = (a, b) if a.shingles.size <= b.shingles.size else (b, a)
        if small.shingles.size == 0:
            continue
        inter = np.intersect1d(small.shingles, big.shingles, assume_unique=True)
        if inter.size < cfg.score_min_contain * small.shingles.size:
            continue  # prefilter (cannot reach tau; see config.score_min_contain)
        covs = np.array([counts[int(s)] for s in inter], dtype=np.int64)
        res = K.score_pair(covs, small.shingles.size, cfg.ani_k, cfg.min_count_correct)
        if res is None:
            continue
        rows.append(
            {
                "id_a": id_a,
                "id_b": id_b,
                "contain_count": res["contain_count"],
                "total_kmers": res["total_kmers"],
                "naive_sim": res["naive_ani"],
                "adj_sim": res["final_est_ani"],
                "adjust_status": res["adjust_status"],
                "lambda": res["lambda"],
                "median_cov": res["median_cov"],
            }
        )
    return pd.DataFrame(
        rows,
        columns=[
            "id_a",
            "id_b",
            "contain_count",
            "total_kmers",
            "naive_sim",
            "adj_sim",
            "adjust_status",
            "lambda",
            "median_cov",
        ],
    )


def winner_rescore(
    scored: pd.DataFrame,
    sketches: list[ItemSketch],
    counts: dict[int, int],
    cfg: SketchConfig,
) -> pd.DataFrame:
    """Two-pass winner-table rescoring (contain.rs:410-459 winner table,
    consumed at contain.rs:637-645; derep threshold contain.rs:353-375).

    Every INFORMATIVE shingle (corpus df ≤ the banding stop-shingle limit)
    is owned by the highest-scoring first-pass item containing it (tie →
    larger image_id, matching the (item_score, image_id) rank of the Spark
    kernel, udfs.make_rescore_arrow_fn); each
    first-pass pair is rescored on the shingles it still owns, tracking
    ``kmers_lost``; pairs with kmers_lost ≥ tau^ani_k · total_kmers drop.

    Competition is scoped to the pair's own PRELIMINARY cluster (connected
    component of first-pass edges): sylph's winner table arbitrates among
    genomes claimed present in the SAME sample (one results vec per sample,
    contain.rs:410) — the sample analog here is the duplicate cluster, so
    items from unrelated clusters never steal a pair's shingles. Boilerplate
    shingles above the banding df limit never compete either: the reference
    removes repeat k-mers from genome sketches before the winner table can
    see them (sketch.rs:595-600), and the corpus-frequency cap is this
    pipeline's repeat mask."""
    cols = [
        "id_a",
        "id_b",
        "contain_count",
        "total_kmers",
        "naive_sim",
        "adj_sim",
        "adjust_status",
        "lambda",
        "median_cov",
        "kmers_lost",
    ]
    if scored.empty:
        out = scored.copy()
        out["kmers_lost"] = 0
        return out
    by_id = {s.image_id: s for s in sketches}
    first = scored[scored["adj_sim"] >= cfg.tau]
    item_score: dict[str, float] = {}
    for r in first.itertuples():
        for iid in (r.id_a, r.id_b):
            item_score[iid] = max(item_score.get(iid, float("-inf")), r.adj_sim)
    limit = cfg.band_df_limit(len(sketches))
    # preliminary clusters over first-pass edges: the competition scope
    pre = connected_components(
        sorted(item_score), first[["id_a", "id_b"]]
    )
    label = dict(zip(pre["image_id"], pre["cluster_id"]))
    winner: dict[tuple[str, int], tuple[float, str]] = {}
    for iid, sc in item_score.items():
        cl = label[iid]
        for sh in by_id[iid].shingles.tolist():
            if counts.get(sh, 0) > limit:
                continue  # repeat-mask analog: boilerplate never competes
            cand = (sc, iid)
            key = (cl, sh)
            cur = winner.get(key)
            if cur is None or cand > cur:
                winner[key] = cand
    reass_frac = cfg.tau**cfg.ani_k
    rows = []
    for r in first.itertuples():
        a, b = by_id[r.id_a], by_id[r.id_b]
        cl = label[r.id_a]
        inter = np.intersect1d(a.shingles, b.shingles, assume_unique=True)
        owned = np.array(
            [
                (cl, int(s)) not in winner
                or winner[(cl, int(s))][1] in (r.id_a, r.id_b)
                for s in inter
            ],
            dtype=bool,
        )
        kmers_lost = int(inter.size - owned.sum())
        total = min(a.shingles.size, b.shingles.size)
        if kmers_lost >= reass_frac * total:
            continue  # derep anti-filter
        kept = inter[owned]
        if kept.size == 0:
            continue
        covs = np.array([counts[int(s)] for s in kept], dtype=np.int64)
        res = K.score_pair(covs, total, cfg.ani_k, cfg.min_count_correct)
        if res is None:
            continue
        rows.append(
            {
                "id_a": r.id_a,
                "id_b": r.id_b,
                "contain_count": res["contain_count"],
                "total_kmers": res["total_kmers"],
                "naive_sim": res["naive_ani"],
                "adj_sim": res["final_est_ani"],
                "adjust_status": res["adjust_status"],
                "lambda": res["lambda"],
                "median_cov": res["median_cov"],
                "kmers_lost": kmers_lost,
            }
        )
    return pd.DataFrame(rows, columns=cols)


def verify_pairs(
    scored: pd.DataFrame, sketches: list[ItemSketch], cfg: SketchConfig
) -> pd.DataFrame:
    """First-pass threshold + SimHash hamming + suffix-array LCS
    confirmation — the GATED edge set that drives clustering. The winner
    rescore refines attribution within these edges, never connectivity
    (see winner_rescore / pipeline module docstring)."""
    by_id = {s.image_id: s for s in sketches}
    keep = []
    for r in scored.itertuples():
        if r.adj_sim < cfg.tau:
            keep.append(False)
            continue
        a, b = by_id[r.id_a], by_id[r.id_b]
        if K.hamming64(a.simhash, b.simhash) > cfg.simhash_max_hamming:
            keep.append(False)
            continue
        lcs = K.longest_common_substring(a.caption, b.caption)
        min_len = min(len(a.caption.encode()), len(b.caption.encode()))  # bytes, as lcs
        thresh = min(cfg.lcs_min_len, min_len) if min_len else 0
        frac_ok = min_len == 0 or lcs >= cfg.lcs_min_frac * min_len
        keep.append(lcs >= thresh and frac_ok)
    out = scored[pd.Series(keep, index=scored.index)].copy()
    return out


def connected_components(ids: list[str], edges: pd.DataFrame) -> pd.DataFrame:
    """Union-find → (image_id, cluster_id=min member id)."""
    parent = {i: i for i in ids}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges.itertuples():
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return pd.DataFrame(
        {"image_id": ids, "cluster_id": [find(i) for i in ids]}
    )


def dedup_survivors(
    clusters: pd.DataFrame, verified: pd.DataFrame | None = None
) -> pd.DataFrame:
    """Representative per cluster = argmax by mean verified similarity (the
    winner-table argmax, contain.rs:410-459), ties and singletons falling
    back to the min image_id."""
    score_sum: dict[str, float] = {}
    score_n: dict[str, int] = {}
    if verified is not None:
        for r in verified.itertuples():
            for iid in (r.id_a, r.id_b):
                score_sum[iid] = score_sum.get(iid, 0.0) + r.adj_sim
                score_n[iid] = score_n.get(iid, 0) + 1
    rows = []
    for cl, grp in clusters.groupby("cluster_id"):
        best = min(
            grp["image_id"],
            key=lambda i: (-(score_sum.get(i, 0.0) / score_n.get(i, 1)), i),
        )
        rows.append({"image_id": best, "cluster_id": cl})
    return (
        pd.DataFrame(rows, columns=["image_id", "cluster_id"])
        .sort_values("image_id")
        .reset_index(drop=True)
    )


@dataclass
class OracleResult:
    sketches: list[ItemSketch]
    counts: dict[int, int]
    candidates: set[tuple[str, str]]
    scored: pd.DataFrame
    gated: pd.DataFrame
    rescored: pd.DataFrame
    verified: pd.DataFrame
    clusters: pd.DataFrame
    survivors: pd.DataFrame


def run_oracle(images: pd.DataFrame, cfg: SketchConfig | None = None) -> OracleResult:
    cfg = cfg or SketchConfig()
    sketches = sketch_corpus(images, cfg)
    counts = corpus_counts(sketches)
    candidates = lsh_candidates(sketches, cfg, counts)
    scored = score_candidates(sketches, candidates, counts, cfg)
    gated = verify_pairs(scored, sketches, cfg)
    rescored = winner_rescore(scored, sketches, counts, cfg)
    # second-pass report rows: rescored pairs that still clear tau AND
    # passed the gates (contain.rs:637-645 re-filtered results)
    verified = rescored[rescored["adj_sim"] >= cfg.tau].merge(
        gated[["id_a", "id_b"]], on=["id_a", "id_b"]
    )
    clusters = connected_components(
        images["image_id"].tolist(), gated[["id_a", "id_b"]]
    )
    survivors = dedup_survivors(clusters, verified)
    return OracleResult(
        sketches,
        counts,
        candidates,
        scored,
        gated,
        rescored,
        verified,
        clusters,
        survivors,
    )


def pair_recall(verified: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Fraction of ground-truth dup pairs connected in the verified cluster
    graph (pairs are 'recalled' if both ends share a component)."""
    ids = sorted(set(truth["id_a"]) | set(truth["id_b"]) | set(verified["id_a"]) | set(verified["id_b"]))
    comp = connected_components(ids, verified[["id_a", "id_b"]])
    label = dict(zip(comp["image_id"], comp["cluster_id"]))
    hit = sum(
        1
        for r in truth.itertuples()
        if label.get(r.id_a) == label.get(r.id_b)
    )
    return hit / len(truth) if len(truth) else 1.0
