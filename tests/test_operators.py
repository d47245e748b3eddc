"""Tests of the operators the entry queries call (dedup-gated counting,
image features, running-state thinning), of the LSH banding the candidates
stage ships and of the txt_langid entry SQL, over small synthetic inputs."""

from collections import defaultdict
from dataclasses import replace

import numpy as np
import pyarrow as pa

from pyspark.sql import functions as F

import __spark_entry__ as E
from sylph_spark import fixtures, udfs
from sylph_spark.config import SketchConfig
from sylph_spark.operators import dedup_gated_counts, image_features


class TestDedupOps:
    def test_dedup_gated_counts(self, spark):
        """A2 (sketch.rs:690-731): multiplicity counted once per distinct
        fingerprint, not per raw occurrence."""
        rows = [
            ("k1", "fp1"), ("k1", "fp1"), ("k1", "fp2"),
            ("k2", "fp1"), ("k2", "fp1"),
        ]
        df = spark.createDataFrame(rows, ["key", "fp"])
        out = {
            r["key"]: r["dedup_cnt"]
            for r in dedup_gated_counts(df, "key", "fp").collect()
        }
        assert out == {"k1": 2, "k2": 1}

    def test_minhash_lsh_s_curve(self):
        """SURVEY §7.3 hard part #3: the banding the candidates stage ships
        (``udfs.make_multi_band_fn``, its combined family) catches planted
        ~0.7-Jaccard pairs with OR-semantics across bands
        (hit w.p. 1-(1-J⁴)¹⁵ ≈ 0.98 under the default 15×4) that a single
        4-row band structurally misses (hit w.p. J⁴ ≈ 0.24). Pure Arrow, no
        Spark: a pair is a candidate iff its items share a (band, hash)."""
        rng = np.random.default_rng(7)
        ids, sets, planted = [], [], []
        for i in range(40):
            base = rng.choice(2**62, size=100, replace=False)
            mutant = np.concatenate(
                [base[:82], rng.choice(2**62, size=18, replace=False)]
            )
            ids += [f"{2 * i:03d}", f"{2 * i + 1:03d}"]
            sets += [base, mutant]
            planted.append((ids[-2], ids[-1]))
        jac = [
            np.intersect1d(a, b).size / np.union1d(a, b).size
            for a, b in zip(sets[::2], sets[1::2])
        ]
        assert 0.65 <= float(np.median(jac)) <= 0.75
        # the sets are image shingles with no caption; every shingle occurs
        # once, so none is a stop-shingle
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(ids, pa.string()),
                pa.array([s.tolist() for s in sets], pa.list_(pa.int64())),
                pa.array([[]] * len(ids), pa.list_(pa.int64())),
            ],
            names=["image_id", "img_shingles", "cap_shingles"],
        )

        def candidate_pairs(cfg):
            fn = udfs.make_multi_band_fn(cfg, np.empty(0, np.int64))
            buckets = defaultdict(set)
            for out in fn(iter([batch])):
                for iid, band, h in zip(*(c.to_pylist() for c in out.columns)):
                    if band < cfg.num_bands:  # the combined family
                        buckets[(band, h)].add(iid)
            return {
                (a, b) for m in buckets.values() for a in m for b in m if a < b
            }

        cfg = SketchConfig()
        assert (cfg.num_bands, cfg.rows_per_band) == (15, 4)
        banded = candidate_pairs(cfg)
        single = candidate_pairs(replace(cfg, num_bands=1))
        hit_b = sum(p in banded for p in planted)
        hit_s = sum(p in single for p in planted)
        assert hit_b >= 34
        assert hit_s <= hit_b - 10
        # unrelated random sets must not collide in any band
        assert banded <= set(planted) and single <= set(planted)


class TestTextOps:
    def test_langid_known_languages(self, spark):
        """The txt_langid entry SQL (stopword-profile argmax over 4
        languages) on planted rows: each language classifies correctly,
        stopword-free text falls to 'other'. A fresh session keeps the
        temp view away from the sf tables the entry queries register."""
        rows = [
            (1, "the cat is on the roof and the dog is in the garden", "en"),
            (2, "le chat est sur le toit et la porte est ouverte dans les jardins", "fr"),
            (3, "der hund und die katze sind nicht im garten der ist zu klein", "de"),
            (4, "el perro y los gatos que viven en una casa es grande los dos", "es"),
            (5, "zumba quorx flindel yarrow pindle gromek suvak", "other"),
            # mixed-language text: majority stopword profile wins
            (6, "the cat is here and the dog is there le chat est la", "en"),
        ]
        session = spark.newSession()
        session.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).createOrReplaceTempView("documents")
        got = {
            r["doc_id"]: r["pred_lang"]
            for r in session.sql(E.SHARED_SQL["txt_langid"]).collect()
        }
        assert got == {i: want for i, _, want in rows}


class TestMultimodal:
    def test_image_features(self, spark):
        images, _ = fixtures.generate_corpus(20, 42)
        from sylph_spark.pipeline import images_df_from_pandas

        df = images_df_from_pandas(spark, images)
        feats = {r["image_id"]: r for r in image_features(df).collect()}
        src = images.set_index("image_id")
        for iid, r in feats.items():
            assert r["decode_ok"]
            assert r["w"] == src.loc[iid, "w"] and r["h"] == src.loc[iid, "h"]
            assert r["phash"] == src.loc[iid, "phash"]  # recomputed == stored
            assert 0 < r["mean_lum"] < 255

    def test_external_codec_stub(self, spark):
        df = spark.createDataFrame(
            [("x", b"\xff\xd8\xff", "jpeg")], ["image_id", "bytes", "fmt"]
        )
        out = image_features(df).collect()
        assert len(out) == 1 and not out[0]["decode_ok"]  # flagged, not crashed


class TestMinSpacingThin:
    """A6 running-state thinning (sketch.rs:602-619): keep iff strictly
    > spacing past the last KEPT row — verified against an independent
    greedy python oracle, including the case where a window-LAG analog
    gives a DIFFERENT (wrong) answer."""

    @staticmethod
    def _greedy_oracle(positions, spacing):
        kept, last = [], None
        for i, p in enumerate(positions):
            if last is None or p - last > spacing:
                kept.append(i)
                last = p
        return kept

    def test_lag_and_running_state_disagree(self, spark):
        from sylph_spark.operators import min_spacing_thin

        # three events 20 apart, spacing 30: running state keeps #1 and #3
        # (40 - 0 > 30); LAG keeps only #1 (both row gaps are 20 <= 30)
        rows = [(i, float(p), 7) for i, p in enumerate([0, 20, 40])]
        df = spark.createDataFrame(rows, "event_id long, pos double, user_id long")
        kept = {
            r["event_id"]
            for r in min_spacing_thin(
                df, ["user_id"], "pos", 30.0, tie_cols=["event_id"]
            ).collect()
        }
        assert kept == {0, 2}
        lag_kept = {
            r["event_id"]
            for r in df.withColumn(
                "gap", F.col("pos") - F.expr("lag(pos) over (partition by user_id order by pos, event_id)")
            )
            .filter(F.col("gap").isNull() | (F.col("gap") > 30.0))
            .collect()
        }
        assert lag_kept == {0}  # the analog this operator replaces

    def test_matches_greedy_oracle_random(self, spark):
        from sylph_spark.operators import min_spacing_thin

        rng = np.random.default_rng(7)
        rows = []
        expected = set()
        eid = 0
        for user in range(20):
            n = int(rng.integers(1, 60))
            pos = np.cumsum(rng.integers(0, 50, size=n)).astype(float)
            ids = list(range(eid, eid + n))
            eid += n
            for idx in self._greedy_oracle(pos, 30.0):
                expected.add(ids[idx])
            rows.extend((i, float(p), user) for i, p in zip(ids, pos))
        df = spark.createDataFrame(rows, "event_id long, pos double, user_id long")
        got = {
            r["event_id"]
            for r in min_spacing_thin(
                df, ["user_id"], "pos", 30.0, tie_cols=["event_id"]
            ).collect()
        }
        assert got == expected

    def test_timestamp_column_in_seconds(self, spark):
        import datetime as dt

        from sylph_spark.operators import min_spacing_thin

        base = dt.datetime(2026, 1, 1)
        rows = [
            (i, base + dt.timedelta(seconds=s), 1)
            for i, s in enumerate([0, 20, 40, 100])
        ]
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
        kept = {
            r["event_id"]
            for r in min_spacing_thin(
                df, ["user_id"], "ts", 30.0, tie_cols=["event_id"]
            ).collect()
        }
        assert kept == {0, 2, 3}
