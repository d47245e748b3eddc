"""Winner-table rescoring semantics (contain.rs:410-459, 637-645, 353-375):
shingle reassignment to the argmax item, kmers_lost accounting, the derep
anti-filter, and argmax survivor selection — deterministic synthetic cases
where the OLD min-id semantics would give a different answer, plus
oracle↔Spark parity on the fixture corpus (in test_pipeline.py)."""

import numpy as np
import pandas as pd
import pytest

from sylph_spark import kernels as K
from sylph_spark import oracle
from sylph_spark.config import SketchConfig


def _sketch(image_id: str, shingles: list[int]) -> oracle.ItemSketch:
    sh = np.array(sorted(shingles), dtype=np.uint64)
    return oracle.ItemSketch(
        image_id=image_id,
        shingles=sh,
        img_shingles=sh,
        cap_shingles=np.array([], dtype=np.uint64),
        simhash=K.simhash64(sh),
        caption=image_id,
    )


class TestWinnerRescoreOracle:
    def test_reassignment_and_derep(self):
        """A={1,2,3,4} B={1,2,3,4,5} C={1,2,3,9}; pair (A,B) strong, (A,C)
        weak. Shingles 1-4 are won by B (tie with A breaks to larger id), so
        (A,C) loses its whole intersection (kmers_lost=3 ≥ tau·4) and is
        derep-dropped; (A,B) keeps everything (winner ∈ pair)."""
        cfg = SketchConfig()
        sketches = [
            _sketch("A", [1, 2, 3, 4]),
            _sketch("B", [1, 2, 3, 4, 5]),
            _sketch("C", [1, 2, 3, 9]),
        ]
        counts = oracle.corpus_counts(sketches)
        scored = pd.DataFrame(
            [
                {"id_a": "A", "id_b": "B", "adj_sim": 0.9},
                {"id_a": "A", "id_b": "C", "adj_sim": 0.6},
            ]
        )
        out = oracle.winner_rescore(scored, sketches, counts, cfg)
        pairs = {(r.id_a, r.id_b): r for r in out.itertuples()}
        assert set(pairs) == {("A", "B")}
        assert pairs[("A", "B")].kmers_lost == 0
        assert pairs[("A", "B")].contain_count == 4

    def test_kmers_lost_counted_when_pair_survives(self):
        """D shares {1,2} with the strong (A,B) pair but also has enough
        private overlap with A to survive: kmers_lost counts exactly the
        shingles won by B."""
        cfg = SketchConfig(tau=0.5)
        sketches = [
            _sketch("A", [1, 2, 10, 11, 12, 13]),
            _sketch("B", [1, 2, 5]),
            _sketch("D", [1, 2, 10, 11, 12, 14]),
        ]
        counts = oracle.corpus_counts(sketches)
        scored = pd.DataFrame(
            [
                # B outranks A and D, so B owns shingles {1,2,5}
                {"id_a": "A", "id_b": "B", "adj_sim": 0.95},
                {"id_a": "A", "id_b": "D", "adj_sim": 0.8},
            ]
        )
        out = oracle.winner_rescore(scored, sketches, counts, cfg)
        pairs = {(r.id_a, r.id_b): r for r in out.itertuples()}
        # (A,D): inter={1,2,10,11,12}; {1,2} won by B -> lost; {10,11,12}
        # won by A (A outranks D via its 0.95 edge) -> kept
        assert ("A", "D") in pairs
        assert pairs[("A", "D")].kmers_lost == 2
        assert pairs[("A", "D")].contain_count == 3


class TestRescoreKernel:
    """udfs.make_rescore_arrow_fn on one bucket that holds two preliminary
    clusters must reproduce oracle.winner_rescore row for row."""

    def test_two_cluster_bucket_matches_oracle(self):
        import pyarrow as pa

        from sylph_spark import udfs

        # df limit 4: shingle 999 (in all 6 items) is the one stop shingle
        # and never competes; shingle 100, exactly at the limit, is
        # informative and shared by both clusters {A,B,C,D} and {X,Y}
        cfg = SketchConfig(band_max_df_min=4)
        sketches = [
            _sketch("A", [1, 2, 3, 4, 100, 999]),
            _sketch("B", [1, 2, 3, 4, 5, 100, 999]),
            _sketch("C", [1, 2, 3, 9, 999]),
            _sketch("D", [3, 9, 30, 999]),
            _sketch("X", [100, 200, 201, 202, 999]),
            _sketch("Y", [100, 200, 201, 202, 203, 999]),
        ]
        counts = oracle.corpus_counts(sketches)
        assert cfg.band_df_limit(len(sketches)) == 4
        assert counts[999] > 4 and counts[100] == 4
        scored = pd.DataFrame(
            [
                {"id_a": "C", "id_b": "D", "adj_sim": 0.55},
                {"id_a": "X", "id_b": "Y", "adj_sim": 0.95},
                {"id_a": "A", "id_b": "C", "adj_sim": 0.6},
                {"id_a": "A", "id_b": "B", "adj_sim": 0.9},
            ]
        )
        by_id = {s.image_id: s for s in sketches}
        inter_cnt, total = [], []
        for r in scored.itertuples():
            a, b = by_id[r.id_a].shingles, by_id[r.id_b].shingles
            inter = np.intersect1d(a, b).tolist()
            inter_cnt.append([{"shingle": s, "cnt": counts[s]} for s in inter])
            total.append(min(a.size, b.size))
        pairs = pa.table(
            {
                "id_a": scored["id_a"],
                "id_b": scored["id_b"],
                "adj_sim": scored["adj_sim"],
                "total_kmers": pa.array(total, pa.int32()),
                "inter_cnt": pa.array(
                    inter_cnt,
                    pa.list_(
                        pa.struct([("shingle", pa.int64()), ("cnt", pa.int32())])
                    ),
                ),
            }
        )
        order = ["Y", "C", "A", "X", "D", "B"]
        items = pa.table(
            {
                "image_id": order,
                "pre_cluster": ["X" if i in "XY" else "A" for i in order],
                "shingles": [by_id[i].shingles.astype(np.int64) for i in order],
            }
        )
        limit = cfg.band_df_limit(len(sketches))
        stop = np.array(sorted(s for s, c in counts.items() if c > limit), np.int64)
        assert stop.tolist() == [999]
        got = (
            udfs.make_rescore_arrow_fn(cfg, stop)(pairs, items)
            .to_pandas()
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )
        exp = (
            oracle.winner_rescore(scored, sketches, counts, cfg)
            .astype({"lambda": float})  # None where no λ; the kernel has NaN
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got[list(exp.columns)], exp, check_dtype=False
        )
        rows = {(r.id_a, r.id_b): r for r in got.itertuples()}
        # A and B tie on item score 0.9; B (the larger id) owns 1-3, so
        # (A,C) loses 3 of its 5 shingles and is derep-dropped
        assert ("A", "C") not in rows
        # B wins 100 inside {A,B,C,D} although Y (0.95) holds it too
        assert rows[("A", "B")].kmers_lost == 0
        assert rows[("A", "B")].contain_count == 6
        # (C,D): 3 goes to B, 9 stays with C, 999 never competes
        assert rows[("C", "D")].kmers_lost == 1
        assert rows[("C", "D")].contain_count == 2
        # the two-item cluster keeps every shared shingle
        assert rows[("X", "Y")].kmers_lost == 0


class TestArgmaxSurvivors:
    """Survivor = argmax by mean verified similarity, NOT min id."""

    CLUSTERS = pd.DataFrame(
        {"image_id": ["a", "b", "c", "z"], "cluster_id": ["a", "a", "a", "z"]}
    )
    VERIFIED = pd.DataFrame(
        [
            {"id_a": "b", "id_b": "c", "adj_sim": 1.0},
            {"id_a": "a", "id_b": "b", "adj_sim": 0.6},
        ]
    )

    def test_oracle_argmax_differs_from_min_id(self):
        # rep scores: a=0.6, b=0.8, c=1.0 -> survivor c; min-id would say a
        out = oracle.dedup_survivors(self.CLUSTERS, self.VERIFIED)
        by_cluster = dict(zip(out["cluster_id"], out["image_id"]))
        assert by_cluster["a"] == "c"
        assert by_cluster["z"] == "z"  # singleton falls back to itself

    def test_spark_stage_matches_oracle(self, spark):
        from sylph_spark.pipeline import DedupStages

        p = DedupStages(spark, SketchConfig())
        clusters = spark.createDataFrame(self.CLUSTERS)
        verified = spark.createDataFrame(self.VERIFIED)
        got = {
            (r["image_id"], r["cluster_id"])
            for r in p._stage_survivors(clusters, verified).collect()
        }
        assert got == {("c", "a"), ("z", "z")}

    def test_tie_breaks_to_min_id(self, spark):
        from sylph_spark.pipeline import DedupStages

        p = DedupStages(spark, SketchConfig())
        clusters = spark.createDataFrame(
            pd.DataFrame({"image_id": ["x", "y"], "cluster_id": ["x", "x"]})
        )
        verified = spark.createDataFrame(
            pd.DataFrame([{"id_a": "x", "id_b": "y", "adj_sim": 0.9}])
        )
        got = {r["image_id"] for r in p._stage_survivors(clusters, verified).collect()}
        assert got == {"x"}


class TestSurvivorsVsGeneratorTruth:
    def test_one_survivor_per_merged_truth_cluster(self, spark):
        """Generator-truth semantics for the survivors table: every pipeline
        cluster keeps EXACTLY one member, that member belongs to the cluster,
        and for each ground-truth dup cluster the pipeline merged completely,
        exactly one of its members survives (dedup actually deduplicates).
        The same assertions run at bench scale in scripts/recall_at_scale.py."""
        from sylph_spark import fixtures
        from sylph_spark.pipeline import images_df_from_pandas, run_volatile

        images, truth = fixtures.generate_corpus(n_base=200, seed=42)
        out = run_volatile(spark, images_df_from_pandas(spark, images), SketchConfig())
        clusters = {r["image_id"]: r["cluster_id"] for r in out["clusters"].collect()}
        survivors = {r["image_id"]: r["cluster_id"] for r in out["survivors"].collect()}
        # exactly one survivor per pipeline cluster, member of that cluster
        assert len(survivors) == len(set(clusters.values()))
        for sid, cid in survivors.items():
            assert clusters[sid] == cid
        # every FULLY-merged truth cluster keeps exactly one member
        merged_checked = 0
        for members in fixtures.truth_clusters(truth).values():
            cids = {clusters[m] for m in members}
            if len(cids) == 1:  # pipeline merged the whole truth cluster
                merged_checked += 1
                assert len(members & set(survivors)) == 1
        assert merged_checked > 0  # the fixture must exercise the property


class TestBootstrapCI:
    def test_ci_columns_deterministic_and_ordered(self, spark):
        from sylph_spark import fixtures
        from sylph_spark.pipeline import images_df_from_pandas, run_volatile

        images, _ = fixtures.generate_corpus(n_base=60, seed=42)
        cfg = SketchConfig(bootstrap_iters=100)
        df = images_df_from_pandas(spark, images)
        runs = []
        for _ in range(2):
            out = run_volatile(spark, df, cfg)
            pdf = (
                out["rescored"]
                .select("id_a", "id_b", "ani_lo", "ani_hi", "lambda_lo", "lambda_hi")
                .toPandas()
                .sort_values(["id_a", "id_b"])
                .reset_index(drop=True)
            )
            runs.append(pdf)
        # seeded determinism (seed 7): identical across runs
        pd.testing.assert_frame_equal(runs[0], runs[1])
        got = runs[0]
        assert len(got) > 0
        finite = got.dropna(subset=["ani_lo", "ani_hi"])
        assert (finite["ani_lo"] <= finite["ani_hi"]).all()

    def test_ci_nan_when_disabled(self, spark):
        from sylph_spark import fixtures
        from sylph_spark.pipeline import images_df_from_pandas, run_volatile

        images, _ = fixtures.generate_corpus(n_base=40, seed=42)
        out = run_volatile(
            spark, images_df_from_pandas(spark, images), SketchConfig()
        )
        pdf = out["verified"].select("ani_lo", "ani_hi").toPandas()
        assert pdf["ani_lo"].isna().all() and pdf["ani_hi"].isna().all()


class TestWinnerEndToEnd:
    def test_reassignment_drops_edge_but_cluster_survives(self, spark):
        """Corpus {x, e=exact dup of x, n=near-image of x}: within the
        cluster the tie-winner e owns every shingle it shares, so the (x,n)
        edge loses its whole intersection and is derep-dropped — yet the
        cluster stays connected through e (exactly the reference's
        reassign-to-argmax design), and Spark matches the oracle."""
        from sylph_spark import codecs, fixtures
        from sylph_spark.pipeline import images_df_from_pandas, run_volatile

        rng = np.random.default_rng(5)
        img = fixtures._make_image(rng, 64)
        cap = fixtures._make_caption(rng)
        near = fixtures._perturb_image(rng, img)
        rows = []
        for i, (im, fmt) in enumerate([(img, "ppm"), (img, "ppm"), (near, "ppm")]):
            rows.append(
                {
                    "image_id": f"img{i:08d}",
                    "bytes": codecs.encode_image(im, fmt),
                    "w": im.shape[1],
                    "h": im.shape[0],
                    "fmt": fmt,
                    "caption": cap,
                    "phash": codecs.average_phash(codecs.to_gray(im)),
                }
            )
        images = pd.DataFrame(rows)
        cfg = SketchConfig()
        out = run_volatile(spark, images_df_from_pandas(spark, images), cfg)
        rescored = {
            (r["id_a"], r["id_b"]): r for r in out["rescored"].collect()
        }
        clusters = {r["image_id"]: r["cluster_id"] for r in out["clusters"].collect()}
        # one cluster despite the dropped edge
        assert len(set(clusters.values())) == 1
        # e (img00000001, the larger-id tie winner) owns the shared shingles:
        # its edges survive with zero loss; the (x, n) edge is gone
        assert ("img00000000", "img00000001") in rescored
        assert ("img00000001", "img00000002") in rescored
        assert ("img00000000", "img00000002") not in rescored
        assert rescored[("img00000001", "img00000002")]["kmers_lost"] == 0
        # full-stage parity with the numpy oracle on this corpus
        orc = oracle.run_oracle(images, cfg)
        exp_pairs = {(r.id_a, r.id_b) for r in orc.rescored.itertuples()}
        assert set(rescored) == exp_pairs
        exp_surv = set(
            zip(orc.survivors["image_id"], orc.survivors["cluster_id"])
        )
        got_surv = {
            (r["image_id"], r["cluster_id"]) for r in out["survivors"].collect()
        }
        assert got_surv == exp_surv
