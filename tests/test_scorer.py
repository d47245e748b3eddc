"""Vectorized scorer ≡ per-pair kernel loop.

The fast path of udfs.make_score_arrow_fn re-expresses the whole
score_pair chain (coverage stats contain.rs:655-690, regime switch
contain.rs:692-713, ratio λ inference.rs:207-242, zero-truncation ANI
contain.rs:817-847) as whole-batch numpy. These tests pit it against the
per-pair kernel loop on adversarial coverage vectors spanning every regime.
"""

from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from sylph_spark import kernels as K
from sylph_spark import udfs
from sylph_spark.config import SketchConfig


def _mk_batch(pairs, with_lost=False):
    ids_a = [f"a{i:05d}" for i in range(len(pairs))]
    ids_b = [f"b{i:05d}" for i in range(len(pairs))]
    covs = [list(map(int, c)) for c, _ in pairs]
    totals = [int(t) for _, t in pairs]
    arrays = [
        pa.array(ids_a, pa.string()),
        pa.array(ids_b, pa.string()),
        pa.array(totals, pa.int32()),
        pa.array(covs, pa.list_(pa.int32())),
    ]
    names = ["id_a", "id_b", "total_kmers", "covs"]
    if with_lost:
        arrays.append(pa.array([i % 7 for i in range(len(pairs))], pa.int32()))
        names.append("kmers_lost")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _run(fn, batch):
    out = list(fn(iter([batch])))
    assert len(out) == 1
    return out[0].to_pandas()


def _regime_pairs(rng, n=400):
    """Coverage vectors covering every branch of the scoring chain."""
    pairs = []
    for i in range(n):
        kind = i % 8
        if kind == 0:  # λ regime: Poisson(1.2)-ish nonzero multiset, big n
            c = rng.poisson(1.2, size=rng.integers(30, 120)) + 1
        elif kind == 1:  # high regime: median > 2
            c = rng.poisson(6.0, size=rng.integers(10, 80)) + 1
        elif kind == 2:  # low: too few samples for λ
            c = rng.integers(1, 3, size=rng.integers(1, 20))
        elif kind == 3:  # low: single distinct value
            c = np.full(rng.integers(26, 60), rng.integers(1, 3))
        elif kind == 4:  # tail cut: small median + huge outliers
            c = np.concatenate(
                [
                    rng.poisson(1.0, size=rng.integers(40, 90)) + 1,
                    rng.integers(50, 300, size=rng.integers(1, 6)),
                ]
            )
        elif kind == 5:  # empty coverage → dropped by both paths
            c = np.empty(0, dtype=np.int64)
        elif kind == 6:  # mode at the top value (no mode+1 present)
            c = np.concatenate([np.full(40, 2), np.full(10, 1)])
        else:  # guard: count(mode+1) below min_count_correct
            c = np.concatenate([np.full(40, 1), np.full(2, 2)])
        total = int(max(c.size, 1) + rng.integers(0, 50))
        pairs.append((np.asarray(c, dtype=np.int64), total))
    return pairs


@pytest.mark.parametrize("with_lost", [False, True])
def test_fast_matches_slow(with_lost):
    rng = np.random.default_rng(1234)
    cfg = SketchConfig()
    batch = _mk_batch(_regime_pairs(rng), with_lost=with_lost)
    fast = _run(udfs.make_score_arrow_fn(cfg), batch)
    slow = _run(udfs.make_score_arrow_fn(cfg, force_slow=True), batch)
    assert list(fast.columns) == list(slow.columns)
    assert len(fast) == len(slow)
    f = fast.sort_values("id_a").reset_index(drop=True)
    s = slow.sort_values("id_a").reset_index(drop=True)
    for col in ("id_a", "id_b", "adjust_status"):
        assert f[col].tolist() == s[col].tolist(), col
    for col in ("contain_count", "total_kmers", "kmers_lost"):
        assert (f[col].to_numpy() == s[col].to_numpy()).all(), col
    for col in ("naive_sim", "adj_sim", "lambda", "median_cov"):
        np.testing.assert_allclose(
            f[col].to_numpy(), s[col].to_numpy(), rtol=1e-12, err_msg=col
        )


def test_fast_covers_all_statuses():
    """The regime fixture must actually exercise high/low/lambda + drops —
    otherwise the parity test is vacuous."""
    rng = np.random.default_rng(1234)
    cfg = SketchConfig()
    batch = _mk_batch(_regime_pairs(rng))
    fast = _run(udfs.make_score_arrow_fn(cfg), batch)
    assert set(fast["adjust_status"]) == {"high", "low", "lambda"}
    assert len(fast) < batch.num_rows  # empty-coverage rows dropped


def test_empty_batch():
    cfg = SketchConfig()
    batch = _mk_batch([])
    fast = _run(udfs.make_score_arrow_fn(cfg), batch)
    assert len(fast) == 0
    assert list(fast.columns) == [f.name for f in udfs.SCORE_PA_SCHEMA]


def test_fast_speedup():
    """VERDICT r2 #3: the vectorized scorer must beat the per-pair loop by
    a wide margin (≥5× pairs/sec) on a realistic batch."""
    import time

    rng = np.random.default_rng(7)
    cfg = SketchConfig()
    pairs = _regime_pairs(rng, n=4000)
    batch = _mk_batch(pairs)
    fast_fn = udfs.make_score_arrow_fn(cfg)
    slow_fn = udfs.make_score_arrow_fn(cfg, force_slow=True)
    _run(fast_fn, batch)  # warm caches (poisson cdf, jit-free but allocs)
    t0 = time.perf_counter()
    _run(fast_fn, batch)
    t_fast = time.perf_counter() - t0
    t0 = time.perf_counter()
    _run(slow_fn, batch)
    t_slow = time.perf_counter() - t0
    assert t_slow / t_fast >= 5.0, (t_fast, t_slow)


def _assert_parity(fast, slow, float_cols):
    assert list(fast.columns) == list(slow.columns)
    assert len(fast) == len(slow)
    f = fast.sort_values("id_a").reset_index(drop=True)
    s = slow.sort_values("id_a").reset_index(drop=True)
    for col in ("id_a", "id_b", "adjust_status"):
        assert f[col].tolist() == s[col].tolist(), col
    for col in ("contain_count", "total_kmers", "kmers_lost"):
        assert (f[col].to_numpy() == s[col].to_numpy()).all(), col
    for col in float_cols:
        np.testing.assert_allclose(
            f[col].to_numpy(), s[col].to_numpy(), rtol=1e-12, err_msg=col
        )


FLOAT_COLS = ("naive_sim", "adj_sim", "lambda", "median_cov")
CI_COLS = ("ani_lo", "ani_hi", "lambda_lo", "lambda_hi")


def test_bootstrap_fast_matches_slow():
    """VERDICT r3 #2: the tensorized bootstrap-CI path must reproduce the
    per-pair seeded loop exactly (same RNG stream, same quantile picks)."""
    rng = np.random.default_rng(99)
    cfg = SketchConfig(bootstrap_iters=100)
    batch = _mk_batch(_regime_pairs(rng, n=120))
    fast = _run(udfs.make_score_arrow_fn(cfg), batch)
    slow = _run(udfs.make_score_arrow_fn(cfg, force_slow=True), batch)
    _assert_parity(fast, slow, FLOAT_COLS + CI_COLS)
    # the fixture must actually produce some non-NaN CIs
    assert np.isfinite(fast["ani_lo"].to_numpy()).sum() > 10


def test_bootstrap_chunking_invariant():
    """CI results must not depend on the element-budget chunk boundary."""
    rng = np.random.default_rng(5)
    cfg = SketchConfig(bootstrap_iters=100)
    batch = _mk_batch(_regime_pairs(rng, n=60))
    big = _run(udfs.make_score_arrow_fn(cfg), batch)

    import sylph_spark.udfs as U

    orig = U._bootstrap_ci_rows

    def tiny_budget(*args, **kwargs):
        kwargs["elem_budget"] = 1  # flush after every pair
        return orig(*args, **kwargs)

    U._bootstrap_ci_rows = tiny_budget
    try:
        small = _run(udfs.make_score_arrow_fn(cfg), batch)
    finally:
        U._bootstrap_ci_rows = orig
    for col in CI_COLS:
        np.testing.assert_allclose(
            big[col].to_numpy(), small[col].to_numpy(), rtol=0, atol=0
        )


def test_bootstrap_fast_speedup():
    """VERDICT r3 #2 done-criterion: ≥5× pairs/s over the per-pair loop
    with bootstrap_iters=100."""
    import time

    rng = np.random.default_rng(11)
    cfg = SketchConfig(bootstrap_iters=100)
    batch = _mk_batch(_regime_pairs(rng, n=300))
    fast_fn = udfs.make_score_arrow_fn(cfg)
    slow_fn = udfs.make_score_arrow_fn(cfg, force_slow=True)
    _run(fast_fn, batch)  # warm
    t0 = time.perf_counter()
    _run(fast_fn, batch)
    t_fast = time.perf_counter() - t0
    t0 = time.perf_counter()
    _run(slow_fn, batch)
    t_slow = time.perf_counter() - t0
    assert t_slow / t_fast >= 5.0, (t_fast, t_slow)


# -- the pair_shingles kernel: intersect + multiplicity lookup + score ------


GATE_CAPTIONS = [
    "a red cat",
    "a red cat sits near the tree",
    "ein roter Kater",
    "chat rouge très rouge",
    "über café",
    "",
]
# gate rows: identical shingle sets, so they score high; each pins one
# gate case as (sim_a, sim_b, cap_a, cap_b)
GATE_ROWS = [
    (0, (1 << 26) - 1, "a caption", "a caption"),  # hamming 26, equal captions
    (0, -1 ^ ((1 << 37) - 1), "a caption", "a caption"),  # hamming 27: no LCS
    (5, 5, "", "a caption"),  # one empty caption: min_len 0 passes
    # LCS and min_len count UTF-8 bytes: "ééé" (6 bytes) fails against
    # min(8, 12 bytes), though it would pass against min(8, 6 characters);
    # "éééé" (8 bytes) passes against min(8, 8 bytes)
    (7, 7, "éééééé", "ééé" + "x" * 30),
    (7, 7, "éééé", "éééé" + "x" * 30),
    (9, 9, "the same words here", "other words entirely"),  # LCS 7 < 8
]


def _pair_cases(rng, n=200):
    """Pair rows (sh_a, sh_b) over a shingle universe whose values straddle
    the int64 sign (u64 high bit set), plus the edge cases and the gate
    rows, the corpus counts of every universe shingle but one (shared by
    row 0), and each row's gate input (sim_a, sim_b, cap_a, cap_b): random
    SimHash pairs at 0-40 bits apart and captions drawn from a small pool,
    so some are equal."""
    universe = np.unique(
        np.concatenate(
            [
                rng.integers(-(1 << 63), -(1 << 62), 300),
                rng.integers(0, 1 << 62, 300),
            ]
        )
    )
    missing = int(universe[0])
    counts = {int(s): int(c) for s, c in zip(universe, rng.poisson(1.5, universe.size) + 2)}
    del counts[missing]
    rows = []
    # a shared shingle absent from the counts (the cnt ≥ 2 slice) occurs
    # once: it counts toward |∩| (here it lifts |∩| to the prefilter bound)
    # and enters inter_cnt with count 1
    rows.append(([missing, *universe[1:8]], [missing, universe[1], *universe[50:60]]))
    rows.append((list(universe[100:110]), list(universe[200:220])))  # empty ∩
    # |∩| = score_min_contain·total exactly (2 = 0.25·8) passes; one shared
    # shingle fewer against the same total does not
    rows.append((list(universe[300:308]), [*universe[300:302], *universe[400:420]]))
    rows.append((list(universe[310:318]), [*universe[310:311], *universe[430:450]]))
    gates = [(3, 3, "a red cat", "a red cat")] * len(rows) + GATE_ROWS
    rows += [(list(universe[500:540]), list(universe[500:540]))] * len(GATE_ROWS)
    for _ in range(n):
        base = rng.choice(universe, rng.integers(20, 90), replace=False)
        keep = rng.random(base.size) < rng.uniform(0.1, 0.9)
        other = np.concatenate([base[keep], rng.choice(universe, rng.integers(0, 40))])
        rows.append((list(base), list(np.unique(other))))
    for _ in range(n):
        sim = int(rng.integers(-(1 << 63), (1 << 63) - 1))
        flip = rng.choice(64, rng.integers(0, 41), replace=False)
        sim_b = sim ^ sum(1 << int(b) for b in flip)
        # back into int64 range when bit 63 flips
        sim_b = (sim_b + (1 << 63)) % (1 << 64) - (1 << 63)
        gates.append((sim, sim_b, *map(str, rng.choice(GATE_CAPTIONS, 2))))
    rows = [(sorted(map(int, a)), sorted(map(int, set(b)))) for a, b in rows]
    return rows, counts, gates


def _pair_batch(rows, gates, counts=None):
    """The kernel's input rows, with their gate inputs; with ``counts``,
    also the ``sh_cnt`` column the kernel reads above the broadcast cap
    (sh_a's shingles that have a count, with it)."""
    cols = {
        "id_a": pa.array([f"a{i:05d}" for i in range(len(rows))]),
        "id_b": pa.array([f"b{i:05d}" for i in range(len(rows))]),
        "total_kmers": pa.array([min(len(a), len(b)) for a, b in rows], pa.int32()),
        "sh_a": pa.array([a for a, _ in rows], pa.list_(pa.int64())),
        "sh_b": pa.array([b for _, b in rows], pa.list_(pa.int64())),
    }
    for j, name in enumerate(("sim_a", "sim_b", "cap_a", "cap_b")):
        cols[name] = pa.array([g[j] for g in gates], pa.int64() if j < 2 else pa.string())
    if counts is not None:
        cols["sh_cnt"] = pa.array(
            [
                [{"shingle": x, "cnt": counts[x]} for x in a if x in counts]
                for a, _ in rows
            ],
            udfs.INTER_CNT_TYPE,
        )
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


def _gate_reference(sim_a, sim_b, cap_a, cap_b, adj, cfg):
    """(hamming, lcs, gated) of one scored row: the LCS runs only past tau
    and the hamming cap."""
    hamming = bin((sim_a ^ sim_b) & ((1 << 64) - 1)).count("1")
    if adj < cfg.tau or hamming > cfg.simhash_max_hamming:
        return hamming, None, False
    lcs = K.longest_common_substring(cap_a, cap_b)
    m = min(len(cap_a.encode()), len(cap_b.encode()))
    ok = m == 0 or (lcs >= min(cfg.lcs_min_len, m) and lcs >= cfg.lcs_min_frac * m)
    return hamming, lcs, ok


def _reference(batch, counts, cfg):
    """np.intersect1d, the size prefilter, a dict lookup of the counts
    (absent: 1), then the whole-batch scorer, then the gate row by row."""
    d = batch.to_pydict()
    keep, inter_cnt = [], []
    for i, (a, b, t) in enumerate(zip(d["sh_a"], d["sh_b"], d["total_kmers"])):
        inter = np.intersect1d(a, b)
        if inter.size < cfg.score_min_contain * t:
            continue
        ic = [(int(s), counts.get(int(s), 1)) for s in inter]
        if ic:
            keep.append(i)
            inter_cnt.append(ic)
    sel = pa.array(keep, pa.int64())
    covs = pa.array([[c for _, c in ic] for ic in inter_cnt], pa.list_(pa.int32()))
    scored = udfs._score_batch_fast(
        pa.RecordBatch.from_arrays(
            [batch.column(j).take(sel) for j in range(3)] + [covs],
            names=["id_a", "id_b", "total_kmers", "covs"],
        ),
        cfg,
        False,
    ).to_pandas()
    scored.insert(3, "inter_cnt", [sorted(ic) for ic in inter_cnt])
    gate = [
        _gate_reference(*(d[c][i] for c in ("sim_a", "sim_b", "cap_a", "cap_b")), adj, cfg)
        for i, adj in zip(keep, scored["adj_sim"])
    ]
    gate = pa.table(
        [pa.array(list(col), f.type) for col, f in zip(zip(*gate), udfs.GATE_PA_FIELDS)],
        names=[f.name for f in udfs.GATE_PA_FIELDS],
    ).to_pandas()
    for name in gate.columns:
        scored[name] = gate[name]
    return scored[[f.name for f in udfs.PAIR_SHINGLES_PA_SCHEMA]]


def _kernel_frame(fn, batch):
    out = _run(fn, batch)
    out["inter_cnt"] = [
        sorted((e["shingle"], e["cnt"]) for e in ic) for ic in out["inter_cnt"]
    ]
    return out


def _bc(counts):
    from types import SimpleNamespace

    keys = np.array(sorted(counts), dtype=np.int64)
    return SimpleNamespace(
        value=(keys, np.array([counts[k] for k in keys.tolist()], np.int32))
    )


def test_pair_shingles_kernel_matches_reference():
    """The fused kernel ≡ intersect1d + dict lookup + scorer + gate, with
    the counts from the broadcast and from the rows' own ``sh_cnt``, on a
    sliced batch (nonzero list offsets) with high-bit shingles, the edge
    rows and the gate rows. tau sits just above the adj_sim of row a00003,
    which would pass every other gate."""
    rng = np.random.default_rng(8)
    rows, counts, gates = _pair_cases(rng)
    full = _pair_batch([([], [])] * 3 + rows, [(0, 0, "", "")] * 3 + gates, counts)
    batch = full.slice(3)
    assert batch.column(3).offset == 3
    first = _reference(batch, counts, SketchConfig())
    cfg = replace(SketchConfig(), tau=float(np.nextafter(first["adj_sim"][0], 2.0)))
    want = _reference(batch, counts, cfg)
    from_bc = udfs.make_pair_shingles_fn(cfg, _bc(counts))
    got = _kernel_frame(from_bc, batch.drop_columns(["sh_cnt"]))
    assert list(got.columns) == [f.name for f in udfs.PAIR_SHINGLES_PA_SCHEMA]
    pd.testing.assert_frame_equal(got, want)
    pd.testing.assert_frame_equal(
        _kernel_frame(udfs.make_pair_shingles_fn(cfg), batch), want
    )
    # the edge rows (ids a00003-a00006, after the three sliced-off rows)
    ids = set(got["id_a"])
    assert got["id_a"][0] == "a00003"
    assert sorted(c for _, c in got["inter_cnt"][0])[0] == 1  # missing: once
    assert len(got["inter_cnt"][0]) == 2
    assert "a00004" not in ids  # empty intersection
    assert "a00005" in ids and "a00006" not in ids  # prefilter boundary
    assert set(got["adjust_status"]) >= {"high", "low"}
    # the gate rows (a00007-a00012) and the row just under tau (a00003)
    g = got.set_index("id_a")
    assert (g.loc[[f"a{i:05d}" for i in range(7, 13)], "adj_sim"] >= cfg.tau).all()
    assert np.isnan(g.at["a00003", "lcs"]) and not g.at["a00003", "gated"]
    assert g.at["a00007", "hamming"] == 26 and g.at["a00007", "lcs"] == len("a caption")
    assert g.at["a00007", "gated"]
    assert g.at["a00008", "hamming"] == 27 and np.isnan(g.at["a00008", "lcs"])
    assert not g.at["a00008", "gated"]
    assert g.at["a00009", "lcs"] == 0 and g.at["a00009", "gated"]
    assert g.at["a00010", "lcs"] == 6 and not g.at["a00010", "gated"]
    assert g.at["a00011", "lcs"] == 8 and g.at["a00011", "gated"]
    assert g.at["a00012", "lcs"] == 7 and not g.at["a00012", "gated"]
    # the random rows reach both sides of the hamming cap and of the rule
    assert got["gated"].any() and (~got["gated"] & got["lcs"].notna()).any()
    # tau equal to a00003's adj_sim lets it through
    at_tau = replace(cfg, tau=float(first["adj_sim"][0]))
    got = _kernel_frame(udfs.make_pair_shingles_fn(at_tau, _bc(counts)), batch)
    assert got["id_a"][0] == "a00003" and got["gated"][0]
