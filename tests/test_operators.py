"""Operator-library tests: dedup/text/similarity/multimodal/streaming
components over small synthetic inputs."""

import struct

import numpy as np
import pytest

from pyspark.sql import functions as F

from sylph_spark import codecs, fixtures
from sylph_spark.operators import (
    cosine_knn,
    cosine_nn_blocked,
    exact_dedup,
    dedup_gated_counts,
    language_id,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    quality_features,
    text_fingerprint,
)
from sylph_spark.operators.multimodal import frame_sample, image_features
from sylph_spark.operators.similarity import hyperplane_bucket
from sylph_spark.operators.text import token_count


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),
        (3, "completely different content about spark query engines and joins"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestDedupOps:
    def test_exact_dedup(self, docs):
        out = {r["fp"]: (r["rep_id"], r["n_copies"]) for r in exact_dedup(docs, "doc_id", "text").collect()}
        assert len(out) == 3
        assert (1, 2) in out.values()  # docs 1 and 4 collapse, rep = min id

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

    def test_ngram_jaccard(self, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", max_df=10).collect()
        }
        assert pairs[(1, 4)] == pytest.approx(1.0)
        assert pairs[(1, 2)] > 0.7
        assert (1, 3) not in pairs

    def test_minhash_lsh(self, docs):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
        }
        assert (1, 4) in pairs  # exact dups always share the full signature
        assert (1, 3) not in pairs

    def test_minhash_lsh_s_curve(self, spark):
        """VERDICT r4 #2 (SURVEY §7.3 hard part #3, now for text too): the
        banded 8×2 LSH catches planted ~0.7-Jaccard pairs with OR-semantics
        (hit w.p. 1-(1-J²)⁸ ≈ 0.99) that a single 4-row band — the old
        operator shape — structurally misses (hit w.p. J⁴ ≈ 0.24)."""
        rng = np.random.default_rng(7)
        alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz "))
        rows, planted = [], []
        for i in range(40):
            base = "".join(rng.choice(alphabet, size=160))
            mutant = list(base)
            start = int(rng.integers(0, 140))
            mutant[start : start + 20] = rng.choice(alphabet, size=20)
            rows.append((2 * i, base))
            rows.append((2 * i + 1, "".join(mutant)))
            planted.append((2 * i, 2 * i + 1))
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        # sanity: the planted pairs really sit in the mid-Jaccard regime the
        # S-curve argument is about (not near-identical, not unrelated)
        jac = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", max_df=1000, min_jaccard=0.0
            ).collect()
        }
        med = float(np.median([jac[p] for p in planted if p in jac]))
        assert 0.55 <= med <= 0.85
        banded = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(df, "doc_id", "text").collect()
        }
        single = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(
                df, "doc_id", "text", num_bands=1, rows_per_band=4
            ).collect()
        }
        hit_b = sum(p in banded for p in planted)
        hit_s = sum(p in single for p in planted)
        assert hit_b >= 34
        assert hit_s <= hit_b - 10
        # random unrelated 160-char docs must not collide in any band
        assert not {(a, b) for (a, b) in banded if a // 2 != b // 2}


class TestTextOps:
    def test_quality(self, docs):
        rows = {r["doc_id"]: r for r in quality_features(docs, "doc_id", "text").collect()}
        assert rows[1]["n_tokens"] == 13
        assert rows[1]["punct_ratio"] == 0.0

    def test_langid(self, docs):
        rows = {r["doc_id"]: r["pred_lang"] for r in language_id(docs, "doc_id", "text").collect()}
        assert rows[1] == "en"

    def test_langid_known_languages(self, spark):
        """Stopword-profile argmax over 4 languages: planted rows in each
        language classify correctly; stopword-free text falls to 'other'."""
        rows = [
            (1, "the cat is on the roof and the dog is in the garden", "en"),
            (2, "le chat est sur le toit et la porte est ouverte dans les jardins", "fr"),
            (3, "der hund und die katze sind nicht im garten der ist zu klein", "de"),
            (4, "el perro y los gatos que viven en una casa es grande los dos", "es"),
            (5, "zumba quorx flindel yarrow pindle gromek suvak", "other"),
            # mixed-language text: majority stopword profile wins
            (6, "the cat is here and the dog is there le chat est la", "en"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text", "want"])
        got = {
            r["doc_id"]: r["pred_lang"]
            for r in language_id(df, "doc_id", "text").collect()
        }
        assert got == {i: want for i, _, want in rows}

    def test_tokens(self, docs):
        rows = {r["doc_id"]: r for r in token_count(docs, "doc_id", "text").collect()}
        assert rows[3]["ws_tokens"] == 9
        assert rows[3]["bpe_ish_tokens"] >= 9

    def test_fingerprint_collapses_case(self, spark):
        df = spark.createDataFrame([(1, "Same Text"), (2, "same text")], ["doc_id", "text"])
        fps = {r["doc_id"]: r["fp"] for r in text_fingerprint(df, "doc_id", "text").collect()}
        assert fps[1] == fps[2]


class TestSimilarityOps:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rng = np.random.default_rng(9)
        rows = []
        for i in range(40):
            v = rng.normal(size=8)
            rows.append((i, [float(x) for x in v], int(i % 4)))
        return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    def test_knn_self_is_top1(self, vecs):
        q = vecs.filter("vec_id = 0").collect()[0]["embedding"]
        top = cosine_knn(vecs, "vec_id", "embedding", q, k=3).collect()
        assert top[0]["vec_id"] == 0 and top[0]["rnk"] == 1
        assert top[0]["cosine"] == pytest.approx(1.0)

    def test_blocked_nn(self, vecs):
        out = cosine_nn_blocked(vecs, "vec_id", "embedding", "label").collect()
        ids = {r["vec_id"] for r in out}
        assert len(ids) == 40  # every vector gets a same-label neighbor
        by_id = {r["vec_id"]: r for r in out}
        assert by_id[0]["nn_id"] % 4 == 0  # same label block

    def test_hyperplane_bucket(self, vecs):
        b = vecs.select(hyperplane_bucket("embedding", 4).alias("b")).collect()
        assert all(len(r["b"]) == 4 and set(r["b"]) <= {"0", "1"} for r in b)


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

    def test_frame_sample_rawvid(self, spark):
        rng = np.random.default_rng(3)
        frames = []
        for _ in range(25):
            img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
            enc = codecs.encode_qpng(img)
            frames.append(struct.pack(">I", len(enc)) + enc)
        blob = b"".join(frames)
        df = spark.createDataFrame([("vid0", blob, "rawvid")], ["media_id", "bytes", "fmt"])
        out = frame_sample(df, every_n=10, max_frames=8).collect()
        assert [r["frame_idx"] for r in sorted(out, key=lambda r: r["frame_idx"])] == [0, 10, 20]
        for r in out:
            assert codecs.decode_qpng(r["frame_bytes"]).shape == (16, 16, 3)


class TestStreaming:
    def test_incremental_sketch_equals_batch(self, spark, tmp_path):
        """Path-equivalence: streaming-ingested sketches ≡ batch sketches."""
        from sylph_spark.config import SketchConfig
        from sylph_spark.pipeline import DedupStages, images_df_from_pandas
        from sylph_spark.streaming.ingest import incremental_sketch_stream

        images, _ = fixtures.generate_corpus(30, 42)
        src = str(tmp_path / "in")
        half1 = images.iloc[:24]
        half2 = images.iloc[24:]
        images_df_from_pandas(spark, half1).write.mode("overwrite").parquet(src)
        images_df_from_pandas(spark, half2).write.mode("append").parquet(src)

        q = incremental_sketch_stream(
            spark,
            src,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            SketchConfig(),
            trigger_once=True,
        )
        q.awaitTermination(120)
        got = {
            r["image_id"]: (sorted(r["shingles"]), r["simhash"])
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }
        exp = {
            r["image_id"]: (sorted(r["shingles"]), r["simhash"])
            for r in DedupStages(spark, SketchConfig())._stage_sketches(
                images_df_from_pandas(spark, images)
            ).collect()
        }
        assert got == exp


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


def test_write_tsv_golden(spark, tmp_path):
    """S7 TSV sink (io/report.write_tsv): single ordered file, golden
    header, tab-escaping via quoting — VERDICT r4 #7 (last untested op)."""
    import glob

    from sylph_spark.io.report import write_tsv

    df = spark.createDataFrame(
        [("b", 2, "x\ty"), ("a", 1, "plain"), ("c", 3, 'quo"te')],
        "id string, n int, note string",
    )
    path = str(tmp_path / "tsv_out")
    write_tsv(df, path, order_by=["id"])
    parts = glob.glob(path + "/part-*.csv")
    assert len(parts) == 1  # coalesce(1): ONE ordered file
    lines = open(parts[0]).read().splitlines()
    assert lines[0] == "id\tn\tnote"  # golden header
    assert lines[1] == "a\t1\tplain"  # ordering applied
    # a tab INSIDE a field must be quoted, not split the row
    assert lines[2].split("\t", 2)[0] == "b" and '"x\ty"' in lines[2]
    # roundtrip: reading back with the same dialect restores the rows
    back = (
        spark.read.option("sep", "\t").option("header", "true")
        .option("inferSchema", "true").csv(path)
    )
    got = sorted(tuple(r) for r in back.collect())
    assert got == [("a", 1, "plain"), ("b", 2, "x\ty"), ("c", 3, 'quo"te')]


def test_write_tsv_partitioned_golden(spark, tmp_path):
    """S7 at scale (VERDICT r4 #8): above the row threshold the sink drops
    coalesce(1) for range-partitioned, within-partition-sorted part files
    plus a manifest whose file order IS the global order — no single-task
    serialization point."""
    import json
    import os
    import random

    from sylph_spark.io.report import write_tsv

    rows = [(f"id{i:05d}", i) for i in range(1000)]
    random.Random(3).shuffle(rows)
    df = spark.createDataFrame(rows, "id string, n int").repartition(8)
    path = str(tmp_path / "tsv_part")
    man = write_tsv(df, path, order_by=["id"], single_file_max_rows=100)
    assert man["mode"] == "partitioned"
    assert len(man["files"]) > 1
    got = []
    for fname in man["files"]:
        lines = open(os.path.join(path, fname)).read().splitlines()
        if not lines:
            continue
        assert lines[0] == "id\tn"  # every part carries the header
        got.extend(lines[1:])
    ids = [ln.split("\t")[0] for ln in got]
    assert ids == sorted(f"id{i:05d}" for i in range(1000))
    disk = json.load(open(os.path.join(path, "_tsv_manifest.json")))
    assert disk == man


def test_write_tsv_known_rows_skips_probe(spark, tmp_path):
    """r6 optimization: a caller-supplied row count (e.g. from a stage
    manifest) selects the mode without the probe pass, and without the
    probe-scoped persist; without it the input is persisted so probe +
    write execute the plan once (previously twice — ADVICE r5)."""
    from sylph_spark.io.report import write_tsv

    df = spark.createDataFrame(
        [(f"id{i}", i) for i in range(10)], "id string, n int"
    )
    # known_rows above the threshold forces partitioned mode even though
    # the actual input is tiny — proof the probe didn't run
    man = write_tsv(
        df, str(tmp_path / "t1"), order_by=["id"],
        single_file_max_rows=5, known_rows=50,
    )
    assert man["mode"] == "partitioned"
    man2 = write_tsv(
        df, str(tmp_path / "t2"), order_by=["id"],
        single_file_max_rows=5, known_rows=3,
    )
    assert man2["mode"] == "single"
    # the probe-path persist must be released before returning
    write_tsv(df, str(tmp_path / "t3"), order_by=["id"])
    from pyspark import StorageLevel

    assert df.storageLevel == StorageLevel.NONE
