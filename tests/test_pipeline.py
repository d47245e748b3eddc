"""End-to-end Spark pipeline tests: cluster assignments must match the
single-node oracle EXACTLY at the same SketchConfig (SURVEY.md §5.2), plus
checkpoint/resume path-equivalence (mirroring the reference's
path-equivalence tests, /root/reference/tests/integration_test.rs:246-295).
"""

import os
import shutil
from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import functions as F

from sylph_spark import fixtures, oracle
from sylph_spark.config import SketchConfig
from sylph_spark.pipeline import STAGES, DedupPipeline, images_df_from_pandas


@pytest.fixture(scope="module")
def corpus():
    return fixtures.generate_corpus(n_base=120, seed=42)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    images, _ = corpus
    return oracle.run_oracle(images, SketchConfig())


@pytest.fixture(scope="module")
def spark_result(spark, corpus, tmp_path_factory):
    images, _ = corpus
    workdir = str(tmp_path_factory.mktemp("pipe"))
    pipe = DedupPipeline(spark, SketchConfig(), workdir)
    out = pipe.run(images_df_from_pandas(spark, images))
    return pipe, out, workdir


@pytest.fixture(scope="module")
def volatile_result(spark, corpus):
    from sylph_spark.pipeline import run_volatile

    images, _ = corpus
    stage_times = {}
    out = run_volatile(
        spark, images_df_from_pandas(spark, images), SketchConfig(), stage_times
    )
    return out, stage_times


def _canon(df) -> list[str]:
    """A stage table as sorted row reprs, array values sorted (collect_list
    order follows shuffle arrival order); repr keeps NaN comparable."""

    def val(v):
        if isinstance(v, list):
            return sorted(val(x) for x in v)
        if isinstance(v, tuple):
            return tuple(val(x) for x in v)
        return v

    return sorted(repr(val(tuple(r))) for r in df.collect())


class TestPipelineVsOracle:
    def test_sketches_match(self, spark_result, oracle_result):
        _, out, _ = spark_result
        got = {
            r["image_id"]: (sorted(r["shingles"]), r["simhash"])
            for r in out["sketches"].collect()
        }
        import sylph_spark.kernels as K

        for s in oracle_result.sketches:
            exp_sh = K.u64_to_i64(s.shingles).tolist()
            exp_sim = s.simhash - (1 << 64) if s.simhash >= 1 << 63 else s.simhash
            assert got[s.image_id] == (sorted(exp_sh), exp_sim)

    def test_shingle_counts_match(self, spark_result, oracle_result):
        _, out, _ = spark_result
        import sylph_spark.kernels as K

        got = {r["shingle"]: r["cnt"] for r in out["shingle_counts"].collect()}
        exp = {
            int(K.u64_to_i64(np.array([s], dtype=np.uint64))[0]): c
            for s, c in oracle_result.counts.items()
        }
        assert got == exp

    def test_candidates_superset_of_verified_truth(self, spark_result, oracle_result):
        _, out, _ = spark_result
        got = {(r["id_a"], r["id_b"]) for r in out["candidates"].collect()}
        assert got == oracle_result.candidates

    def test_scored_match(self, spark_result, oracle_result):
        _, out, _ = spark_result
        got = {
            (r["id_a"], r["id_b"]): (
                r["contain_count"],
                r["total_kmers"],
                r["naive_sim"],
                r["adj_sim"],
                r["adjust_status"],
            )
            for r in out["scored"].collect()
        }
        exp = {
            (r.id_a, r.id_b): (
                r.contain_count,
                r.total_kmers,
                r.naive_sim,
                r.adj_sim,
                r.adjust_status,
            )
            for r in oracle_result.scored.itertuples()
        }
        assert set(got) == set(exp)
        for k in exp:
            assert got[k][0] == exp[k][0]
            assert got[k][1] == exp[k][1]
            assert got[k][2] == pytest.approx(exp[k][2])
            assert got[k][3] == pytest.approx(exp[k][3])
            assert got[k][4] == exp[k][4]

    def test_rescored_match(self, spark_result, oracle_result):
        """Winner-table rescore parity: pair set, kmers_lost, and the
        rescored similarity must match the numpy oracle exactly."""
        _, out, _ = spark_result
        got = {
            (r["id_a"], r["id_b"]): (r["kmers_lost"], r["contain_count"], r["adj_sim"])
            for r in out["rescored"].collect()
        }
        exp = {
            (r.id_a, r.id_b): (r.kmers_lost, r.contain_count, r.adj_sim)
            for r in oracle_result.rescored.itertuples()
        }
        assert set(got) == set(exp)
        for k in exp:
            assert got[k][0] == exp[k][0]
            assert got[k][1] == exp[k][1]
            assert got[k][2] == pytest.approx(exp[k][2])

    def test_verified_match(self, spark_result, oracle_result):
        _, out, _ = spark_result
        got = {(r["id_a"], r["id_b"]) for r in out["verified"].collect()}
        exp = {(r.id_a, r.id_b) for r in oracle_result.verified.itertuples()}
        assert got == exp

    def test_clusters_match_exactly(self, spark_result, oracle_result):
        _, out, _ = spark_result
        got = {(r["image_id"], r["cluster_id"]) for r in out["clusters"].collect()}
        exp = set(
            zip(oracle_result.clusters["image_id"], oracle_result.clusters["cluster_id"])
        )
        assert got == exp

    def test_survivors_match(self, spark_result, oracle_result):
        _, out, _ = spark_result
        got = {(r["image_id"], r["cluster_id"]) for r in out["survivors"].collect()}
        exp = set(
            zip(
                oracle_result.survivors["image_id"],
                oracle_result.survivors["cluster_id"],
            )
        )
        assert got == exp

    def test_recall_vs_truth(self, spark_result, corpus):
        _, out, _ = spark_result
        _, truth = corpus
        import pandas as pd

        ver = out["verified"].select("id_a", "id_b").toPandas()
        rec = oracle.pair_recall(ver, truth)
        assert rec >= 0.99


class TestResume:
    def test_resume_skips_completed_stages(self, spark, spark_result, corpus):
        """Second run with same config reuses every committed stage and
        produces identical output (path-equivalence: resumed ≡ fresh)."""
        images, _ = corpus
        pipe, out1, workdir = spark_result
        before = {m["stage"]: m for m in pipe.catalog.metrics() if m["metric"] == "rows"}
        pipe2 = DedupPipeline(spark, SketchConfig(), workdir)
        out2 = pipe2.run(images_df_from_pandas(spark, images))
        c1 = {(r["image_id"], r["cluster_id"]) for r in out1["clusters"].collect()}
        c2 = {(r["image_id"], r["cluster_id"]) for r in out2["clusters"].collect()}
        assert c1 == c2
        # no new write metrics → stages were skipped
        after = [m for m in pipe2.catalog.metrics() if m["metric"] == "rows"]
        assert len(after) == len(before)

    def test_config_change_invalidates(self, spark, spark_result, corpus):
        images, _ = corpus
        _, _, workdir = spark_result
        pipe3 = DedupPipeline(spark, SketchConfig(tau=0.7), workdir)
        assert not pipe3.catalog.has_valid("sketches", pipe3.h)

    def test_input_change_invalidates(self, spark, spark_result, corpus):
        """Same config but a DIFFERENT input table must invalidate committed
        stages (input half of the reference's compatibility check,
        contain.rs:503-516) — while the original input still validates."""
        from sylph_spark.pipeline import input_fingerprint

        images, _ = corpus
        pipe, _, workdir = spark_result
        same_fp = input_fingerprint(images_df_from_pandas(spark, images))
        assert pipe.catalog.has_valid("sketches", pipe.h, same_fp)
        other, _ = fixtures.generate_corpus(n_base=30, seed=99)
        other_fp = input_fingerprint(images_df_from_pandas(spark, other))
        assert other_fp != same_fp
        assert not pipe.catalog.has_valid("sketches", pipe.h, other_fp)

    def test_manifests_and_lineage_exist(self, spark_result):
        """Every stage's manifest counts the part files actually written,
        and its lineage rows (one per file) sum to the manifest rows."""
        pipe, _, workdir = spark_result
        for stage in STAGES:
            m = pipe.catalog.manifest(stage)
            assert m is not None and m.rows > 0, stage
            data = os.path.join(workdir, stage, "data")
            parts = [f for f in os.listdir(data) if f.startswith("part-")]
            assert m.partitions == len(parts), stage
            lin = pipe.catalog.lineage(stage)
            assert lin.count() == m.partitions, stage
            assert lin.agg(F.sum("rows")).first()[0] == m.rows, stage

    @pytest.mark.parametrize("stage", ["pair_shingles", "rescored", "survivors"])
    def test_resume_recommits_only_missing_stage(
        self, spark, spark_result, corpus, tmp_path, stage
    ):
        """In-process resume at a stage boundary: a workdir whose ``stage``
        has no committed manifest (its commit was killed) reruns exactly
        that stage, while the concurrent runner skips every other one, and
        the clusters and survivors are unchanged."""
        images, _ = corpus
        _, out1, workdir = spark_result
        resumed = str(tmp_path / "resumed")
        shutil.copytree(workdir, resumed)
        os.remove(os.path.join(resumed, stage, "_MANIFEST.json"))
        pipe = DedupPipeline(spark, SketchConfig(), resumed)
        n_before = len(pipe.catalog.metrics())
        out2 = pipe.run(images_df_from_pandas(spark, images))
        new = pipe.catalog.metrics()[n_before:]
        assert [m["stage"] for m in new if m["metric"] == "rows"] == [stage]
        for s in ("clusters", "survivors"):
            assert _canon(out2[s]) == _canon(out1[s]), s


def test_catalog_commits_empty_stage(spark, tmp_path):
    """An empty stage (no gated pairs on a corpus without duplicates)
    commits with 0 rows, and its lineage still matches the written files."""
    from sylph_spark.io.catalog import StageCatalog

    cat = StageCatalog(spark, str(tmp_path))
    m = cat.write(spark.range(5).filter("id < 0"), "gated", "h")
    parts = [f for f in os.listdir(tmp_path / "gated" / "data") if f.startswith("part-")]
    assert (m.rows, m.partitions) == (0, len(parts))
    assert cat.read("gated").count() == 0
    lin = cat.lineage("gated").collect()
    assert len(lin) == len(parts) and sum(r["rows"] for r in lin) == 0


def test_durable_equals_volatile(spark_result, volatile_result):
    """The two materialisers of the one stage graph give the same ten stage
    tables, row for row."""
    _, durable, _ = spark_result
    volatile, _ = volatile_result
    for stage in STAGES:
        assert durable[stage].columns == volatile[stage].columns, stage
        assert _canon(durable[stage]) == _canon(volatile[stage]), stage


def test_runner_order_and_overlap(spark):
    """The runner starts each node only after all its inputs have finished,
    and runs independent nodes concurrently (clusters ∥ rescored), whatever
    the materialiser does. The probe materialises a node with a barrier in
    0.1 s and one without instantly, as the volatile path does."""
    import threading
    import time

    from sylph_spark.pipeline import GRAPH, DedupStages

    spans, lock = {}, threading.Lock()

    class Probe:
        def commit(self, node, build):
            t0 = time.monotonic()
            time.sleep(0.1 if node.barrier else 0.0)
            with lock:
                spans[node.name] = (t0, time.monotonic())
            return node.name

    out = DedupStages(spark, SketchConfig()).run_graph("images", Probe())
    assert out == {s: s for s in STAGES}
    for node in GRAPH:
        for i in node.inputs:
            if i != "images":
                assert spans[i][1] <= spans[node.name][0], (i, node.name)
    clusters, rescored = spans["clusters"], spans["rescored"]
    assert clusters[0] < rescored[1] and rescored[0] < clusters[1]


def test_volatile_barrier_keys(volatile_result):
    """run_volatile times exactly six barriers, all of which the benchmark
    maps; scored is a projection of pair_shingles and gated a filter of it,
    and neither has one."""
    _, stage_times = volatile_result
    assert set(stage_times) == {
        "sketches",
        "shingle_counts",
        "counts(2)",
        "cands+pair_shingles",
        "rescored",
        "clusters(cc)",
    }


def test_rescored_plan_shape(spark_result):
    """Plan-shape guard for the rescored stage over committed stage tables:
    one cogroup fed by two shuffles (the label tables are broadcast), no
    explode and no aggregate — a refactor that brings back the winner-table
    join chain fails here instead of showing up as bench drift."""
    import re

    pipe, out, _ = spark_result
    n_items = pipe.catalog.manifest("sketches").rows
    vocab = pipe._stage_vocab(out["shingle_counts"], n_items)
    df = pipe._stage_rescored(out["pair_shingles"], out["sketches"], vocab)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan
    assert len(re.findall(r"\bExchange\b", plan)) <= 2, plan
    assert "Generate" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_pair_shingles_plan_shape(spark_result):
    """Plan-shape guard for the pair_shingles stage over committed stage
    tables: the two profile joins broadcast the sketches (no shuffle) and
    feed one MapInArrow that intersects, looks up, scores and gates, with
    no explode and no aggregate. The scored and gated stages over committed
    pair_shingles are a projection and a filter, with no Python node, no
    exchange and no join."""
    import re

    pipe, out, _ = spark_result
    n_items = pipe.catalog.manifest("sketches").rows
    vocab = pipe._stage_vocab(out["shingle_counts"], n_items)
    assert vocab.counts is not None
    df = pipe._stage_pair_shingles(
        out["candidates"], out["sketches"], out["shingle_counts"], vocab
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    assert "Generate" not in plan, plan
    assert "Aggregate" not in plan, plan
    assert len(re.findall(r"\bExchange\b", plan)) == 0, plan
    assert len(re.findall(r"\bBroadcastExchange\b", plan)) == 2, plan

    scored = pipe._stage_scored(out["pair_shingles"])
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Python|Arrow|Pandas", plan), plan

    gated = pipe._stage_gated(out["pair_shingles"])
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Python|Arrow|Pandas|Exchange|Join", plan), plan


def test_sketches_plan_shape(spark, spark_result, corpus, tmp_path, plan_ops):
    """Plan-shape guard for the sketches stage over a committed
    one-file images table, the under-partitioned input: one exchange
    (hash on image_id) spreads it before the MapInArrow, with no sort,
    window or expand (values pinned from the built plan)."""
    pipe, _, _ = spark_result
    images, _ = corpus
    path = str(tmp_path / "images")
    images_df_from_pandas(spark, images).coalesce(1).write.parquet(path)
    ops = plan_ops(pipe._stage_sketches(spark.read.parquet(path)))
    assert ops["Exchange"] <= 1 and ops["Sort"] == 0, ops
    assert ops["Window"] == 0 and ops["Expand"] == 0, ops


def test_survivors_plan_shape(spark_result, plan_ops):
    """Plan-shape guard for the survivors stage over committed clusters
    and verified: the rep_score aggregate and the per-cluster min_by
    aggregate are the only exchanges, min_by's sort aggregate the only
    sorts (the small rep_score side is broadcast), with no window and no
    expand (values pinned from the built plan)."""
    pipe, out, _ = spark_result
    ops = plan_ops(pipe._stage_survivors(out["clusters"], out["verified"]))
    assert ops["Exchange"] <= 2 and ops["Sort"] <= 2, ops
    assert ops["Window"] == 0 and ops["Expand"] == 0, ops


@pytest.mark.parametrize("vocab_max", [None, 0])
def test_candidates_plan_shape(spark_result, vocab_max, monkeypatch):
    """Plan-shape guard for the candidates stage over committed sketches
    and shingle_counts, with the vocab broadcast and above its cap
    (``VOCAB_BROADCAST_MAX`` at 0): one MapInArrow drops stop-shingles and
    bands all three LSH families, with no join on either path (the kernel
    reads the stop set, not per-image counts); the exchanges, explodes and
    aggregates are those of bucketing and pair generation, pinned from
    the built plan. A per-family explode ⋈ counts → regroup branch, or a
    ``sh_cnt`` join onto the band input, fails here."""
    import re

    from sylph_spark import pipeline

    if vocab_max is not None:
        monkeypatch.setattr(pipeline, "VOCAB_BROADCAST_MAX", vocab_max)
    pipe, out, _ = spark_result
    n_items = pipe.catalog.manifest("sketches").rows
    vocab = pipe._stage_vocab(out["shingle_counts"], n_items)
    assert (vocab.counts is None) == (vocab_max == 0)
    df = pipe._stage_candidates(out["sketches"], vocab)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    assert "Join" not in plan, plan
    # bucket aggregate, bucket distinct, chunk round-robin, pair distinct
    assert len(re.findall(r"\bExchange\b", plan)) == 4, plan
    assert len(re.findall(r"\bGenerate\b", plan)) == 2, plan
    assert len(re.findall(r"Aggregate\(", plan)) == 6, plan


def test_lcs_all_equal_batch():
    """A batch whose caption pairs are all equal never reaches the
    automaton and returns int64 lengths without a pandas dtype warning
    (pytest.ini turns that warning into an error)."""
    import pandas as pd

    from sylph_spark import udfs

    a = pd.Series(["a b", "c", ""])
    got = udfs.make_lcs_fn()(a, a.copy())
    assert got.dtype == np.int64
    assert got.tolist() == [3, 1, 0]


def test_lcs_short_circuit_identical(spark, spark_result):
    """VERDICT r4 #3: the in-UDF equal-caption short-circuit must not
    change the LCS values (vectorized path ≡ per-pair automaton, both in
    UTF-8 bytes, also for an equal non-ASCII pair), and the automaton's
    pair volume must be measurably below the gate's input (the
    short-circuit actually fires)."""
    import pandas as pd

    from sylph_spark import kernels as K
    from sylph_spark import udfs
    from sylph_spark.pipeline import lcs_prefilter_stats

    a = pd.Series(["hello world", "same caption!", "", None, "abcdef", "x", "café"])
    b = pd.Series(["hello brave world", "same caption!", "", "", "abXdef", None, "café"])
    fast = udfs.make_lcs_fn()(a, b)
    slow = [K.longest_common_substring(x or "", y or "") for x, y in zip(a, b)]
    assert fast.tolist() == slow
    assert fast[1] == len("same caption!")  # equal pair short-circuited
    assert fast[6] == len("café".encode()) == 5

    _, out, _ = spark_result
    stats = lcs_prefilter_stats(
        spark, out["scored"], out["sketches"], SketchConfig()
    )
    n_gated = out["gated"].count()
    assert stats["hamming_pairs"] >= stats["lcs_udf_pairs"]
    assert stats["lcs_udf_pairs"] < n_gated  # short-circuit actually fires
    assert 0.0 <= stats["lcs_udf_skipped_frac"] <= 1.0


def test_lcs_prefilter_counter_matches_kernel(spark, spark_result):
    """The bench counter states tau ∧ hamming in the JVM; the pair kernel
    applies the same cut before its LCS, and leaves ``lcs`` null on every
    row that fails it: the two must count the same pairs."""
    from sylph_spark.pipeline import lcs_prefilter_stats

    _, out, _ = spark_result
    stats = lcs_prefilter_stats(spark, out["scored"], out["sketches"], SketchConfig())
    assert stats["hamming_pairs"] > 0
    ps = out["pair_shingles"]
    assert stats["hamming_pairs"] == ps.filter("lcs IS NOT NULL").count()
    # gated rows are a subset of the rows the LCS ran on
    assert ps.filter("gated AND lcs IS NULL").count() == 0


def test_same_length_byte_edit_changes_fingerprint(spark, corpus):
    """VERDICT r4 #6: the non-file content probe hashes payload BYTES
    (xxhash64), so a same-length byte edit — id, caption, phash and length
    all unchanged — must change the fingerprint (and so invalidate any
    committed checkpoint for it)."""
    from sylph_spark.pipeline import input_fingerprint

    images, _ = corpus
    fp1 = input_fingerprint(images_df_from_pandas(spark, images))
    edited = images.copy(deep=True)
    b = bytearray(edited.at[0, "bytes"])
    b[len(b) // 2] ^= 0xFF
    edited.at[0, "bytes"] = bytes(b)
    assert len(edited.at[0, "bytes"]) == len(images.at[0, "bytes"])
    fp2 = input_fingerprint(images_df_from_pandas(spark, edited))
    assert fp1 != fp2


def test_dense_bucket_degrade(spark):
    """Scale-relative df limit + dense-bucket degrade (960k recall audit):
    buckets above cfg.bucket_degrade_size pair tri-diagonally (linear in
    bucket size) instead of all-pairs, identically in Spark and the oracle,
    and the degenerate bucket still resolves to ONE cluster via chaining."""
    from sylph_spark.pipeline import run_volatile

    images, _ = fixtures.generate_corpus(n_base=6, seed=7)
    base = images.iloc[[0]]
    clones = []
    for i in range(12):
        row = base.copy(deep=True)
        row["image_id"] = [f"imgclone{i:04d}"]
        clones.append(row)
    import pandas as pd

    corpus12 = pd.concat([images] + clones, ignore_index=True)

    cfg = SketchConfig(bucket_degrade_size=4, pair_chunk=2)
    out = run_volatile(spark, images_df_from_pandas(spark, corpus12), cfg)
    got = {(r["id_a"], r["id_b"]) for r in out["candidates"].collect()}

    sketches = oracle.sketch_corpus(corpus12, cfg)
    counts = oracle.corpus_counts(sketches)
    want = oracle.lsh_candidates(sketches, cfg, counts)
    assert got == want

    clone_ids = sorted(f"imgclone{i:04d}" for i in range(12))
    # degraded: strictly fewer clone-clone pairs than the 12·11/2 quadratic
    clone_pairs = {
        (a, b) for a, b in got if a in clone_ids and b in clone_ids
    }
    assert 0 < len(clone_pairs) < 66
    # tri-diagonal neighborhood, judged over ACTUAL bucket membership (the
    # clones share their buckets with every identical-content fixture row —
    # base + exact dup — so positions must come from the bucket's own sorted
    # members, not from the clone list alone): every emitted pair must be
    # allowed by at least one bucket containing both ids — a small bucket
    # (full pairing) or a dense one with the ids ≤ 1 chunk apart.
    buckets = [
        sorted(set(m)) for m in oracle.lsh_buckets(sketches, cfg, counts).values()
    ]
    assert any(len(m) > cfg.bucket_degrade_size for m in buckets)

    def allowed(a: str, b: str) -> bool:
        for members in buckets:
            if a not in members or b not in members:
                continue
            if len(members) <= cfg.bucket_degrade_size:
                return True
            ia, ib = members.index(a), members.index(b)
            if abs(ib // cfg.pair_chunk - ia // cfg.pair_chunk) <= 1:
                return True
        return False

    assert all(allowed(a, b) for a, b in got)
    # the bucket still collapses to one cluster through CC chaining
    labels = {
        r["image_id"]: r["cluster_id"] for r in out["clusters"].collect()
    }
    assert len({labels[c] for c in clone_ids}) == 1


def test_dense_bucket_interleaved_families(spark):
    """Pin the dense-degrade CHAINING assumption on a heterogeneous bucket
    (ADVICE r4): two clone families share one caption, so the caption-family
    LSH bucket interleaves them in sorted-id order and degrades tri-diagonal.
    Cross-family neighbors fail the score gate (caption-only overlap ≪ tau),
    so each family must chain through its OWN members — via the intra-family
    image/combined buckets and the surviving same-family caption-bucket
    edges — and resolve to exactly two clusters, not fragments."""
    import pandas as pd

    from sylph_spark.pipeline import run_volatile

    base, _ = fixtures.generate_corpus(n_base=8, seed=13)
    # two rows with distinct image content (exact dups share phash+caption)
    row_a = base.iloc[[0]]
    row_b_idx = next(
        i
        for i in range(1, len(base))
        if base.at[i, "phash"] != base.at[0, "phash"]
        and base.at[i, "caption"] != base.at[0, "caption"]
    )
    row_b = base.iloc[[row_b_idx]]
    shared_caption = "a red cat sits near the blue tree"
    rows = []
    for i in range(16):
        src = row_a if i % 2 == 0 else row_b
        r = src.copy(deep=True)
        r["image_id"] = [f"imgz{i:02d}"]
        r["caption"] = [shared_caption]
        rows.append(r)
    corpus = pd.concat(rows, ignore_index=True)

    cfg = SketchConfig(bucket_degrade_size=4, pair_chunk=2)
    out = run_volatile(spark, images_df_from_pandas(spark, corpus), cfg)
    fam_a = [f"imgz{i:02d}" for i in range(0, 16, 2)]
    fam_b = [f"imgz{i:02d}" for i in range(1, 16, 2)]

    cand = {(r["id_a"], r["id_b"]) for r in out["candidates"].collect()}
    # the shared-caption bucket really mixed the families ...
    assert any(
        (a in fam_a) != (b in fam_a) for a, b in cand
    ), "no cross-family candidate — families never shared a bucket"
    # ... and the degrade dropped at least one same-family direct edge
    assert ("imgz00", "imgz14") not in cand

    labels = {r["image_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    lab_a = {labels[i] for i in fam_a}
    lab_b = {labels[i] for i in fam_b}
    assert len(lab_a) == 1, f"family A fragmented: {lab_a}"
    assert len(lab_b) == 1, f"family B fragmented: {lab_b}"
    assert lab_a != lab_b, "families merged across the heterogeneous bucket"


def test_distributed_cc_pipeline_parity(spark, corpus, monkeypatch):
    """VERDICT r4 #3: run the FULL pipeline with the CC driver threshold
    (``cc.DEFAULT_DRIVER_THRESHOLD``, read at call time) at 0 so both
    clusterings (the clusters stage and the rescore competition scope) take
    the distributed propagation path — the code that actually runs at
    100-TB edge counts — and assert clusters, rescored pairs and survivors
    identical to the driver fast path."""
    from sylph_spark import cc
    from sylph_spark.pipeline import run_volatile

    images, _ = corpus
    df = images_df_from_pandas(spark, images)
    cfg = SketchConfig()

    def stages(out):
        return {
            "clusters": sorted(
                (r["image_id"], r["cluster_id"]) for r in out["clusters"].collect()
            ),
            "survivors": sorted(
                (r["image_id"], r["cluster_id"]) for r in out["survivors"].collect()
            ),
            "rescored": sorted(
                (r["id_a"], r["id_b"], round(r["adj_sim"], 9), r["kmers_lost"])
                for r in out["rescored"].collect()
            ),
        }

    base = stages(run_volatile(spark, df, cfg))
    monkeypatch.setattr(cc, "DEFAULT_DRIVER_THRESHOLD", 0)
    dist = stages(run_volatile(spark, df, cfg))
    assert dist == base


def test_banding_join_path_parity(spark, corpus, volatile_result, monkeypatch):
    """Above ``VOCAB_BROADCAST_MAX`` cnt ≥ 2 shingles nothing is broadcast:
    the pair_shingles kernel reads side a's ``sh_cnt`` (explode ⋈
    shingle_counts → regroup per image) in place of the vocab broadcast,
    and the band kernel's stop set is collected on its own. Forcing that
    path (cap 0) must give the same candidates, pair_shingles, scored,
    cluster labels and survivors as the default broadcast path, and the
    stop set cut from the vocab slice must equal the one collected at
    cap 0, under the default limit and under one low enough to mask
    shingles of this corpus."""
    from sylph_spark import pipeline
    from sylph_spark.pipeline import DedupStages, run_volatile

    images, _ = corpus
    cfg = SketchConfig()
    broadcast, _ = volatile_result
    sketches, counts = broadcast["sketches"], broadcast["shingle_counts"]
    n_items = sketches.count()
    sliced = {}
    for low in (False, True):
        c = replace(cfg, band_max_df_min=2) if low else cfg
        vocab = DedupStages(spark, c)._stage_vocab(counts, n_items)
        assert vocab.counts is not None
        sliced[low] = vocab.stop
    assert sliced[True].size > sliced[False].size

    monkeypatch.setattr(pipeline, "VOCAB_BROADCAST_MAX", 0)
    joined = run_volatile(spark, images_df_from_pandas(spark, images), cfg)
    assert broadcast["candidates"].count() > 0
    # pair_shingles from sh_cnt against the broadcast (inter_cnt compared
    # as a sorted array)
    for stage in ("candidates", "pair_shingles", "scored", "clusters", "survivors"):
        assert _canon(joined[stage]) == _canon(broadcast[stage]), stage
        assert joined[stage].columns == broadcast[stage].columns, stage

    for low in (False, True):
        c = replace(cfg, band_max_df_min=2) if low else cfg
        vocab = DedupStages(spark, c)._stage_vocab(counts, n_items)
        assert vocab.counts is None
        assert vocab.stop.dtype == np.int64
        assert np.array_equal(vocab.stop, sliced[low]), low


@pytest.fixture(scope="module")
def mid_corpus():
    images, planted = fixtures.generate_mid_jaccard_corpus()
    return images, planted, oracle.run_oracle(images, SketchConfig())


@pytest.mark.parametrize("rare_max", [None, 0])
def test_mid_jaccard_pairs_match_oracle(spark, mid_corpus, rare_max, monkeypatch):
    """Planted pairs in the middle of the LSH S-curve make banding recall
    visible: with the counts from the vocab broadcast and from per-image
    ``sh_cnt`` (``VOCAB_BROADCAST_MAX`` at 0), the candidates must equal
    the oracle's and the scores must match it. A
    change to rows_per_band, to the stop-shingle masking or to the
    pair_shingles prefilter moves pairs in or out here, where the
    near-identical duplicates of the main fixture collide under any
    banding."""
    from sylph_spark import pipeline
    from sylph_spark.pipeline import run_volatile

    images, planted, want = mid_corpus
    cfg = SketchConfig()
    planted = set(zip(planted["id_a"], planted["id_b"]))
    # the fixture sits mid-curve: banding keeps some planted pairs, not all
    assert 0 < len(planted & want.candidates) < len(planted)
    if rare_max is not None:
        monkeypatch.setattr(pipeline, "VOCAB_BROADCAST_MAX", rare_max)
    out = run_volatile(spark, images_df_from_pandas(spark, images), cfg)
    got = {(r["id_a"], r["id_b"]) for r in out["candidates"].collect()}
    assert got == want.candidates
    scored = {
        (r["id_a"], r["id_b"]): (r["contain_count"], r["total_kmers"], r["adj_sim"])
        for r in out["scored"].collect()
    }
    exp = {
        (r.id_a, r.id_b): (r.contain_count, r.total_kmers, r.adj_sim)
        for r in want.scored.itertuples()
    }
    assert set(scored) == set(exp)
    for k, (cc, total, adj) in exp.items():
        assert scored[k][:2] == (cc, total), k
        assert scored[k][2] == pytest.approx(adj), k


def test_read_images_validates_and_routes(spark, corpus, tmp_path):
    """The images reader checks the table against ``IMAGES_SCHEMA`` as
    stored (a missing or mistyped column raises a ValueError naming it) and
    routes out rows with no native codec before they reach the sketch
    stage."""
    from sylph_spark.pipeline import IMAGES_SCHEMA, read_images

    images, _ = corpus
    native = images_df_from_pandas(spark, images.iloc[:12])
    jpeg = spark.createDataFrame(
        [("img_jpeg", b"\xff\xd8\xff", 8, 8, "jpeg", "a caption", 0)],
        IMAGES_SCHEMA,
    )
    path = str(tmp_path / "images")
    native.unionByName(jpeg).write.parquet(path)
    routed = read_images(spark, path)
    assert sorted(r["image_id"] for r in routed.collect()) == sorted(
        images.iloc[:12]["image_id"]
    )

    no_phash = str(tmp_path / "no_phash")
    native.drop("phash").write.parquet(no_phash)
    with pytest.raises(ValueError, match="phash"):
        read_images(spark, no_phash)

    wide_w = str(tmp_path / "wide_w")
    native.withColumn("w", F.col("w").cast("long")).write.parquet(wide_w)
    with pytest.raises(ValueError, match=r"images\.w"):
        read_images(spark, wide_w)
