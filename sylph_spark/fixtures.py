"""Deterministic image+caption corpus generator (FIXTURES.md §1-2, seed 42).

Mirrors the reference's fixture design (/root/reference/test_files/: three
near-duplicate E. coli strains + read sets): a corpus with exact duplicates,
graded near duplicates, and hard negatives, with known ground-truth pairs and
clusters. No external data; all numpy + our own codecs.

Row classes per 1000 base rows (≈1.6k total):
  base 1000 · exact dup 10% · re-encode dup 15% · near-image 15% ·
  near-caption 10% · hard negative 10%
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import codecs

FMTS = ["ppm", "bmp", "qpng", "qjpg"]

_ADJ = "red blue green warm cold soft bright dark small large quiet wild calm pale deep".split()
_NOUN = "cat dog bird tree house river cloud stone flower bridge window garden door boat lamp".split()
_VERB = "sits rests stands waits sleeps floats glows drifts leans hides".split()
_PREP = "near beside under over behind before beyond around".split()

# disjoint vocabulary for hard-negative captions ("entirely different
# caption" per FIXTURES.md — zero shared substrings with the main templates)
_ALT_WORDS = "zumba quorx flindel yarrow pindle gromek suvak torbin welkin oprish".split()


def _make_alt_caption(rng: np.random.Generator) -> str:
    n = 6 + int(rng.integers(0, 10))
    return " ".join(_ALT_WORDS[int(rng.integers(len(_ALT_WORDS)))] for _ in range(n))


def _make_caption(rng: np.random.Generator) -> str:
    """Template sentence, 6-24 words, lowercase ascii."""
    words = [
        "a",
        _ADJ[rng.integers(len(_ADJ))],
        _NOUN[rng.integers(len(_NOUN))],
        _VERB[rng.integers(len(_VERB))],
        _PREP[rng.integers(len(_PREP))],
        "the",
        _ADJ[rng.integers(len(_ADJ))],
        _NOUN[rng.integers(len(_NOUN))],
    ]
    extra = rng.integers(0, 9)
    for _ in range(extra):
        words.append(
            ["and", "with", "by"][rng.integers(3)]
        )
        words.append(_ADJ[rng.integers(len(_ADJ))])
    # distinctive entity tokens (real captions name specific things: users,
    # products, places) — without them every caption is template boilerplate
    # and shingle space collapses, which no web corpus does
    words.append("near")
    words.append(f"{_NOUN[rng.integers(len(_NOUN))]}{int(rng.integers(100000)):05d}")
    return " ".join(words)


def _make_image(rng: np.random.Generator, size: int = 64) -> np.ndarray:
    """Smooth-noise RGB: low-res random field upsampled + mild pixel noise."""
    low = rng.uniform(20, 235, size=(size // 8, size // 8, 3))
    img = np.kron(low, np.ones((8, 8, 1)))
    img += rng.normal(0, 3, size=img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


def _perturb_image(rng: np.random.Generator, img: np.ndarray) -> np.ndarray:
    """Near-dup image edit: brightness ±3%, 1-px crop+pad, or low noise."""
    mode = rng.integers(3)
    out = img.astype(np.float64)
    if mode == 0:
        out = out * (1.0 + rng.choice([-0.03, 0.03]))
    elif mode == 1:
        out = np.roll(out, 1, axis=rng.integers(2))  # 1-px shift (crop+pad-ish)
    else:
        out = out + rng.normal(0, 2, size=out.shape)
    return np.clip(out, 0, 255).astype(np.uint8)


def _perturb_caption(rng: np.random.Generator, caption: str) -> str:
    """≤2 character edits or 1 word swap."""
    if rng.integers(2) == 0:
        chars = list(caption)
        for _ in range(int(rng.integers(1, 3))):
            i = int(rng.integers(len(chars)))
            chars[i] = chr(ord("a") + int(rng.integers(26)))
        return "".join(chars)
    words = caption.split()
    i = int(rng.integers(len(words)))
    words[i] = _ADJ[int(rng.integers(len(_ADJ)))]
    return " ".join(words)


def generate_corpus(
    n_base: int = 1000, seed: int = 42
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (images, dup_pairs_truth) pandas frames.

    images: (image_id, bytes, w, h, fmt, caption, phash)
    dup_pairs_truth: (id_a, id_b, kind, cluster_id) with id_a < id_b
    """
    rng = np.random.default_rng(seed)
    rows = []
    truth = []
    next_id = [0]

    def new_id() -> str:
        i = next_id[0]
        next_id[0] += 1
        return f"img{i:08d}"

    def add_row(img: np.ndarray, caption: str, fmt: str) -> str:
        iid = new_id()
        data = codecs.encode_image(img, fmt)
        gray = codecs.to_gray(img)
        rows.append(
            {
                "image_id": iid,
                "bytes": data,
                "w": img.shape[1],
                "h": img.shape[0],
                "fmt": fmt,
                "caption": caption,
                "phash": codecs.average_phash(gray),
            }
        )
        return iid

    bases = []  # (id, img, caption, fmt, cluster)
    for b in range(n_base):
        size = 64
        if b % 97 == 0:
            size = 32
        elif b % 89 == 0:
            size = 128
        img = _make_image(rng, size)
        caption = _make_caption(rng)
        fmt = FMTS[int(rng.integers(len(FMTS)))]
        iid = add_row(img, caption, fmt)
        bases.append((iid, img, caption, fmt, f"c{b:06d}"))

    def pick_bases(frac: float):
        k = int(round(n_base * frac))
        idx = rng.choice(n_base, size=k, replace=False)
        return [bases[i] for i in idx]

    # exact dups (byte-identical, new id)
    for iid, img, caption, fmt, cl in pick_bases(0.10):
        did = add_row(img, caption, fmt)
        truth.append((min(iid, did), max(iid, did), "exact", cl))

    # re-encode dups (same pixels, different fmt — exercises PSNR path)
    for iid, img, caption, fmt, cl in pick_bases(0.15):
        other = [f for f in FMTS if f != fmt]
        nfmt = other[int(rng.integers(len(other)))]
        did = add_row(img, caption, nfmt)
        truth.append((min(iid, did), max(iid, did), "reencode", cl))

    # near dup — image (caption unchanged)
    for iid, img, caption, fmt, cl in pick_bases(0.15):
        did = add_row(_perturb_image(rng, img), caption, fmt)
        truth.append((min(iid, did), max(iid, did), "near_image", cl))

    # near dup — caption (pixels unchanged)
    for iid, img, caption, fmt, cl in pick_bases(0.10):
        did = add_row(img, _perturb_caption(rng, caption), fmt)
        truth.append((min(iid, did), max(iid, did), "near_caption", cl))

    # hard negatives — must NOT cluster
    for iid, img, caption, fmt, cl in pick_bases(0.10):
        if rng.integers(2) == 0:
            # same caption template, different image
            add_row(_make_image(rng, img.shape[0]), caption, fmt)
        else:
            # heavily-shifted image (beyond near-dup range), new caption
            heavy = np.clip(img.astype(np.float64) * 1.25 + 15, 0, 255).astype(
                np.uint8
            )
            add_row(heavy, _make_alt_caption(rng), fmt)

    images = pd.DataFrame(rows)
    dup_pairs_truth = pd.DataFrame(
        truth, columns=["id_a", "id_b", "kind", "cluster_id"]
    )
    return images, dup_pairs_truth


def generate_mid_jaccard_corpus(
    n_pairs: int = 40, seed: int = 5
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Planted partial duplicates: ``n_pairs`` (base, variant) pairs whose
    shingle sets share about 30-70%, the middle of the LSH S-curve, where a
    change to the banding parameters or the stop-shingle masking changes
    which pairs become candidates (near-identical duplicates collide under
    any banding). A variant redraws the bottom 1-3 of the image's 8
    low-resolution rows and a tenth of its caption words per redrawn row
    (at seed 5 the pairs' Jaccard spans 0.30-0.80, most in 0.3-0.7). Every
    caption ends in the same boilerplate phrase, so its shingles have a
    document frequency above the banding stop-shingle limit.

    Returns (images, planted_pairs) with planted_pairs (id_a, id_b) sorted."""
    rng = np.random.default_rng(seed)
    rows, planted = [], []
    boiler = "archive photo collection scanned plate"

    def add(img: np.ndarray, words: list[str]) -> str:
        iid = f"mid{len(rows):05d}"
        rows.append(
            {
                "image_id": iid,
                "bytes": codecs.encode_image(img, "ppm"),
                "w": img.shape[1],
                "h": img.shape[0],
                "fmt": "ppm",
                "caption": " ".join(words + [boiler]),
                "phash": codecs.average_phash(codecs.to_gray(img)),
            }
        )
        return iid

    for p in range(n_pairs):
        img = _make_image(rng, 64)
        words = _make_caption(rng).split()
        redraw = 1 + p % 3
        var = img.copy()
        var[64 - 8 * redraw :] = _make_image(rng, 64)[64 - 8 * redraw :]
        swap = rng.choice(len(words), size=len(words) * redraw // 10, replace=False)
        var_words = list(words)
        for i in swap:
            var_words[i] = _ALT_WORDS[int(rng.integers(len(_ALT_WORDS)))]
        planted.append((add(img, words), add(var, var_words)))
    return pd.DataFrame(rows), pd.DataFrame(planted, columns=["id_a", "id_b"])


def truth_clusters(dup_pairs_truth: pd.DataFrame) -> dict[str, set[str]]:
    """cluster_id → set of member image_ids (union-find over truth pairs)."""
    out: dict[str, set[str]] = {}
    for r in dup_pairs_truth.itertuples():
        out.setdefault(r.cluster_id, set()).update((r.id_a, r.id_b))
    return out
