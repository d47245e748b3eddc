"""Kernel unit tests — lock the math to the reference semantics.

Mirrors the intent of /root/reference/tests/unit_test.rs:4-28 (which has no
#[test] attribute and never runs there; here it is real), plus hand-computed
Poisson-histogram fixtures for the estimators (inference.rs:207-242,
contain.rs:817-847, contain.rs:692-713).
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sylph_spark import kernels as K


class TestHash:
    def test_invertibility_known_vectors(self):
        # rev_hash_64 uses independent magic constants (modular inverses of
        # 21 and 265); round-tripping proves the forward hash matches the
        # reference bit-for-bit at every step.
        for x in [0, 1, 2, 123456789, 2**63, 2**64 - 1, 0xDEADBEEFCAFEBABE]:
            h = K.mm_hash64(x)
            assert K.rev_hash_64(h) == x

    def test_magic_inverse_constants(self):
        assert (21 * 14933078535860113213) % 2**64 == 1
        assert (265 * 15244667743933553977) % 2**64 == 1

    def test_scalar_equals_vectorized(self):
        xs = np.array([0, 1, 2**32, 2**63 - 1, 2**64 - 1], dtype=np.uint64)
        vec = K.mm_hash64_np(xs)
        for x, h in zip(xs.tolist(), vec.tolist()):
            assert K.mm_hash64(int(x)) == int(h)

    @given(st.integers(min_value=0, max_value=2**64 - 1))
    @settings(max_examples=200, deadline=None)
    def test_invertibility_property(self, x):
        assert K.rev_hash_64(K.mm_hash64(x)) == x

    def test_u64_i64_roundtrip(self):
        xs = np.array([0, 1, 2**63, 2**64 - 1], dtype=np.uint64)
        assert (K.i64_to_u64(K.u64_to_i64(xs)) == xs).all()
        assert K.u64_to_i64(np.array([2**63], dtype=np.uint64))[0] == -(2**63)


class TestFracMinHash:
    def test_threshold(self):
        # seeding.rs:108 — keep iff hash < u64::MAX/c (expected fraction 1/c)
        assert K.fracminhash_threshold(200) == 2**64 // 200

    def test_selection_rate(self):
        rng = np.random.default_rng(42)
        hashes = rng.integers(0, 2**64, size=200_000, dtype=np.uint64)
        for c in (2, 8, 200):
            kept = K.fracminhash_select(hashes, c)
            rate = kept.size / hashes.size
            assert abs(rate - 1 / c) < 3 / math.sqrt(hashes.size)

    def test_c1_keeps_all(self):
        h = np.arange(100, dtype=np.uint64)
        assert K.fracminhash_select(h, 1).size == 100


class TestShingles:
    def test_caption_deterministic_and_salted(self):
        a = K.caption_shingles("a cat sitting on a warm red mat", 6, 1)
        b = K.caption_shingles("a cat sitting on a warm red mat", 6, 1)
        assert (a == b).all()
        assert a.size > 0

    def test_caption_edit_keeps_most_shingles(self):
        a = K.caption_shingles("a cat sitting on a warm red mat today", 6, 1)
        b = K.caption_shingles("a cat sitting on a warm red hat today", 6, 1)
        inter = np.intersect1d(a, b).size
        assert inter / a.size > 0.6  # one char edit kills <= k shingles

    def test_image_shingles_brightness_robust(self):
        rng = np.random.default_rng(0)
        base = rng.uniform(40, 200, size=(64, 64))
        a = K.image_shingles(base, 8, 4, 4, 1)
        b = K.image_shingles(np.clip(base * 1.03, 0, 255), 8, 4, 4, 1)
        inter = np.intersect1d(a, b).size
        assert inter / max(a.size, 1) > 0.7

    def test_image_vs_caption_namespaces_disjoint(self):
        rng = np.random.default_rng(1)
        img = K.image_shingles(rng.uniform(0, 255, (64, 64)), 8, 4, 4, 1)
        cap = K.caption_shingles("some caption text goes right here", 6, 1)
        assert np.intersect1d(img, cap).size == 0


class TestMinHashLSH:
    def test_signature_shape_and_determinism(self):
        seeds = K.minhash_seeds(64)
        sh = np.array([1, 2, 3, 4, 5], dtype=np.uint64)
        s1 = K.minhash_signature(sh, seeds)
        s2 = K.minhash_signature(sh, seeds)
        assert s1.shape == (64,)
        assert (s1 == s2).all()

    def test_identical_sets_identical_bands(self):
        seeds = K.minhash_seeds(64)
        sh = np.array([10, 20, 30], dtype=np.uint64)
        b1 = K.band_hashes(K.minhash_signature(sh, seeds), 16, 4)
        b2 = K.band_hashes(K.minhash_signature(sh.copy(), seeds), 16, 4)
        assert (b1 == b2).all()

    def test_jaccard_estimate(self):
        # signature agreement rate ≈ Jaccard similarity
        rng = np.random.default_rng(3)
        base = rng.integers(0, 2**64, 2000, dtype=np.uint64)
        a = base[:1500]
        b = base[500:]  # jaccard = 1000/2000 = 0.5
        seeds = K.minhash_seeds(256)
        sa = K.minhash_signature(a, seeds)
        sb = K.minhash_signature(b, seeds)
        agree = (sa == sb).mean()
        assert abs(agree - 0.5) < 0.1

    def test_simhash_close_for_similar_sets(self):
        rng = np.random.default_rng(4)
        base = rng.integers(0, 2**64, 500, dtype=np.uint64)
        a = K.simhash64(base)
        mod = base.copy()
        mod[:25] = rng.integers(0, 2**64, 25, dtype=np.uint64)  # 5% churn
        b = K.simhash64(mod)
        c = K.simhash64(rng.integers(0, 2**64, 500, dtype=np.uint64))
        assert K.hamming64(a, b) < 12
        assert K.hamming64(a, c) > 20


class TestPoissonCDF:
    def test_against_pmf_sum(self):
        for lam in (0.5, 2.0, 7.3, 25.0):
            for k in (0, 1, 3, 10, 40):
                exact = sum(
                    math.exp(-lam) * lam**i / math.factorial(i) for i in range(k + 1)
                )
                assert abs(K.poisson_cdf(k, lam) - exact) < 1e-10


class TestEstimators:
    def _padded(self, hist: dict[int, int], zeros: int) -> np.ndarray:
        out = [0] * zeros
        for v, n in hist.items():
            out += [v] * n
        return np.array(out, dtype=np.int64)

    def test_ratio_lambda_hand_computed(self):
        # Poisson(1.0)-ish histogram: modal nonzero value 1 (30×), value 2 15×
        # → λ = 15/30 * 2 = 1.0   (inference.rs:236-240)
        covs = self._padded({1: 30, 2: 15, 3: 5}, zeros=50)
        assert K.ratio_lambda(covs) == pytest.approx(1.0)

    def test_ratio_lambda_tie_breaks_to_larger_value(self):
        # counts tie at 30 for values 1 and 2 → reference sorts (count, value)
        # desc → modal value 2, λ = cnt[3]/cnt[2]*3
        covs = self._padded({1: 30, 2: 30, 3: 10}, zeros=10)
        assert K.ratio_lambda(covs) == pytest.approx(10 / 30 * 3)

    def test_ratio_lambda_guards(self):
        # < SAMPLE_SIZE_CUTOFF=25 nonzero → None (constants.rs:4)
        assert K.ratio_lambda(self._padded({1: 10, 2: 10}, 100)) is None
        # single distinct nonzero value → None
        assert K.ratio_lambda(self._padded({1: 100}, 10)) is None
        # missing i*+1 bin → None
        assert K.ratio_lambda(self._padded({1: 30, 3: 10}, 10)) is None
        # min_count_correct guard: cnt[i*+1] < 3 → None
        assert K.ratio_lambda(self._padded({1: 30, 2: 2}, 10)) is None

    def test_mle_zip_recovers_lambda(self):
        # simulate ZIP data: Poisson(1.2) with extra zeros
        rng = np.random.default_rng(7)
        pois = rng.poisson(1.2, size=2000)
        covs = np.concatenate([pois, np.zeros(1000, dtype=np.int64)])
        lam = K.mle_zip(covs, 31.0)
        assert lam == pytest.approx(1.2, abs=0.15)

    def test_ani_from_lambda_hand_computed(self):
        # contained=60, total=100, λ=1.0 → adj = .6/(1-e^-1)/1... wait:
        # full_covs has 40 zeros + 60 nonzero → adj = 60/(1-e^-1)/100
        covs = self._padded({1: 40, 2: 20}, zeros=40)
        lam = 1.0
        adj = 60 / (1 - math.exp(-1.0)) / 100
        expect = adj ** (1 / 31.0)
        assert K.ani_from_lambda(lam, 31.0, covs) == pytest.approx(expect)

    def test_naive_ani(self):
        assert K.naive_ani(60, 100, 31.0) == pytest.approx(0.6 ** (1 / 31.0))

    def test_regime_switch(self):
        # median > 2 → High (constants.rs:5, contain.rs:692-713)
        covs = self._padded({5: 40, 6: 30}, zeros=5)
        st_, lam = K.adjust_status(5.0, covs)
        assert st_ == "high" and lam is None
        # estimator None → Low
        st_, lam = K.adjust_status(1.0, self._padded({1: 100}, 10))
        assert st_ == "low"
        # else Lambda
        covs = self._padded({1: 30, 2: 15, 3: 5}, zeros=50)
        st_, lam = K.adjust_status(1.0, covs)
        assert st_ == "lambda" and lam == pytest.approx(1.0)

    def test_final_coverage_rules(self):
        # contain.rs:715-728
        assert K.final_coverage("lambda", 1.5, 1.0, 9.9) == 1.5
        assert K.final_coverage("low", None, 3.0, 9.9) == 9.9  # median<15 → geq1 mean
        assert K.final_coverage("high", None, 20.0, 9.9) == 20.0  # median

    def test_coverage_stats_tail_cut(self):
        # an extreme outlier multiplicity gets cut when median < 30
        covs = np.array([1] * 50 + [2] * 20 + [500])
        stats = K.coverage_stats(covs, 100)
        assert stats["max_cov"] < 500
        assert (stats["full_covs"] <= stats["max_cov"]).all()
        assert stats["full_covs"].size == 100 - 71 + 70  # one dropped

    def test_score_pair_end_to_end(self):
        covs = np.array([1] * 30 + [2] * 15 + [3] * 5)
        res = K.score_pair(covs, 100, 31.0)
        assert res["adjust_status"] == "lambda"
        assert res["lambda"] == pytest.approx(1.0)
        adj = 50 / (1 - math.exp(-1.0)) / 100
        assert res["final_est_ani"] == pytest.approx(adj ** (1 / 31.0))
        assert res["naive_ani"] == pytest.approx(0.5 ** (1 / 31.0))

    def test_binary_search_lambda_in_scan_range(self):
        # the reference NB search scans λ ∈ [max(0.003, m−2), m+5]
        # (inference.rs:53-55) — assert the structural contract, not
        # statistical accuracy (the reference estimator is experimental)
        rng = np.random.default_rng(11)
        covs = rng.poisson(1.5, size=3000)
        m = covs.mean()
        lam = K.binary_search_lambda(covs)
        assert lam is not None and max(0.003, m - 2) <= lam <= m + 5
        assert K.binary_search_lambda(np.array([2, 2, 2])) is None  # no ones

    def test_bootstrap_deterministic(self):
        covs = np.array([0] * 50 + [1] * 60 + [2] * 30 + [3] * 10)
        r1 = K.bootstrap_interval(covs, 31.0)
        r2 = K.bootstrap_interval(covs, 31.0)
        assert r1 == r2
        assert r1[0] is not None and r1[0] <= r1[1]


class TestSuffixLCS:
    def test_basic(self):
        assert K.longest_common_substring("hello world", "sworld") == 5  # "world"
        assert K.longest_common_substring("abc", "xyz") == 0
        assert K.longest_common_substring("same", "same") == 4
        assert K.longest_common_substring("", "x") == 0

    @given(st.text(alphabet="abcd", max_size=30), st.text(alphabet="abcd", max_size=30))
    @settings(max_examples=100, deadline=None)
    def test_matches_dp(self, a, b):
        # O(n²) DP reference; automaton and suffix-array paths must agree
        best = 0
        for i in range(len(a)):
            for j in range(len(b)):
                l = 0
                while i + l < len(a) and j + l < len(b) and a[i + l] == b[j + l]:
                    l += 1
                best = max(best, l)
        assert K.longest_common_substring(a, b) == best
        if a and b:
            ab, bb = a.encode(), b.encode()
            assert K._lcs_suffix_automaton(ab, bb) == best
            assert K._lcs_suffix_array(ab, bb) == best


class TestSketchBatchParity:
    """The whole-batch sketch kernels must be BIT-identical to the per-image
    path (the batch path is what runs in production's mapInArrow)."""

    def _corpus(self):
        from sylph_spark import codecs
        from sylph_spark.fixtures import generate_corpus

        images, _ = generate_corpus(40, seed=7)  # mixes 32/64/128 px + fmts
        grays = [
            codecs.to_gray(codecs.decode_image(b, f))
            for b, f in zip(images["bytes"], images["fmt"])
        ]
        caps = list(images["caption"])
        # edge cases: empty caption, caption shorter than k, tiny image
        caps[0] = ""
        caps[1] = "ab"
        grays[2] = np.zeros((3, 3), dtype=np.float32)  # nb < k_block → no shingles
        return grays, caps

    @staticmethod
    def _caption_ref(caps, cfg):
        """Per-caption caption_shingles laid out as the batch kernels'
        (pid, vals) sorted flat pairs."""
        per = [K.caption_shingles(cap, cfg.k_caption, cfg.c) for cap in caps]
        pid = np.repeat(np.arange(len(per), dtype=np.int64), [v.size for v in per])
        return pid, np.concatenate(per)

    def test_image_caption_union_simhash_parity(self):
        from sylph_spark.config import SketchConfig

        cfg = SketchConfig()
        grays, caps = self._corpus()
        n = len(grays)
        img_pid, img_vals = K.image_shingles_batch(
            grays, cfg.block_px, cfg.q_shift, cfg.k_block, cfg.c, cfg.n_grids
        )
        lens = np.array([len(cap.encode()) for cap in caps], dtype=np.int64)
        flat = np.frombuffer("".join(caps).encode(), dtype=np.uint8)
        cap_pid, cap_vals = K.caption_shingles_flat(flat, lens, cfg.k_caption, cfg.c)
        uni_pid, uni_vals = K.union_per_segment(
            img_pid, img_vals, cap_pid, cap_vals
        )
        sims = K.simhash64_batch(uni_pid, uni_vals, n)
        for i in range(n):
            img_ref = K.image_shingles(
                grays[i], cfg.block_px, cfg.q_shift, cfg.k_block, cfg.c, cfg.n_grids
            )
            cap_ref = K.caption_shingles(caps[i], cfg.k_caption, cfg.c)
            uni_ref = np.union1d(img_ref, cap_ref)
            np.testing.assert_array_equal(img_vals[img_pid == i], img_ref)
            np.testing.assert_array_equal(cap_vals[cap_pid == i], cap_ref)
            np.testing.assert_array_equal(uni_vals[uni_pid == i], uni_ref)
            assert int(sims[i]) == K.simhash64(uni_ref)

    def test_caption_flat_arrow_buffer_parity(self):
        """caption_shingles_flat fed straight from an Arrow string column's
        raw buffers (the make_sketch_arrow_fn fast path — including a
        SLICED array, whose offsets buffer is unsliced) must be
        bit-identical to per-caption caption_shingles, unicode included."""
        import pyarrow as pa

        from sylph_spark.config import SketchConfig

        cfg = SketchConfig()
        caps = [
            "a cat sitting on a warm red mat",
            "",
            "ab",
            "wörld çafé ünïcode captions überall",
            "the same caption text repeated here the same caption text",
        ]

        def from_arrow(arr: pa.Array):
            n = len(arr)
            raw_off = np.frombuffer(arr.buffers()[1], dtype=np.int32)
            off = raw_off[arr.offset : arr.offset + n + 1].astype(np.int64)
            data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            return K.caption_shingles_flat(
                data[off[0] : off[-1]], np.diff(off), cfg.k_caption, cfg.c
            )

        ref_pid, ref_vals = self._caption_ref(caps, cfg)
        arr = pa.array(caps, pa.string())
        got_pid, got_vals = from_arrow(arr)
        np.testing.assert_array_equal(got_pid, ref_pid)
        np.testing.assert_array_equal(got_vals, ref_vals)
        # sliced array: same captions minus the first → pids shift by 1
        sref_pid, sref_vals = self._caption_ref(caps[1:], cfg)
        sgot_pid, sgot_vals = from_arrow(arr.slice(1, len(caps) - 1))
        np.testing.assert_array_equal(sgot_pid, sref_pid)
        np.testing.assert_array_equal(sgot_vals, sref_vals)
