"""The staged Spark dedup pipeline (SURVEY.md §3 graft lifecycle): one stage
graph, one runner, two materialisers.

``GRAPH`` lists every node once: its name, its inputs and what the volatile
path does with it. ``DedupStages.run_graph`` submits each node as soon as its
inputs are ready, so independent stages run as concurrent Spark jobs
(shingle_counts ∥ the sketch row count, then clusters ∥ rescored, both
starting as soon as the pair barrier is done). The runner owns that order
and overlap, times the volatile barriers and labels each stage's Spark jobs
with the stage name. What materialising a stage means belongs to the
materialiser:

- ``Durable`` (``DedupPipeline.run``): each stage commits a table through
  StageCatalog, or is skipped when a committed manifest matches the config
  hash and input fingerprint, so a killed job resumes at the first stage
  without one.
- ``Volatile`` (``run_volatile``): localCheckpoint barriers, no catalog.
  Checkpoints truncate lineage, so a lost executor fails the run: this
  path is not fault-tolerant.

Stages:

  1. sketches       images → per-item shingle sets + SimHash  (sketch.rs:276-475 analog)
  2. shingle_counts corpus-wide shingle multiplicities        (A1, sketch.rs:690-731)
  3. candidates     MinHash/LSH banding → candidate pairs     (replaces all-pairs contain.rs:266-292)
  4. pair_shingles  pair → intersecting shingles + corpus multiplicities (J1, contain.rs:632-652)
                    + first-pass corrected-containment scores (E1/E6/E7, contain.rs:601-745)
                    + tau, SimHash hamming and suffix-automaton LCS gate
                    (north-rule verification), one Arrow kernel per partition
  5. scored         the score columns of pair_shingles        (a projection, no barrier)
  6. gated          the pairs that pass the gate              (a filter, no barrier; cluster edges)
  7. rescored       per-cluster winner-table reassignment + derep, one cogrouped
                    Arrow kernel per bucket of clusters (contain.rs:410-459,637-645,353-375)
  8. verified       rescored ∩ gated — the report table       (second-pass results, contain.rs:637-645)
  9. clusters       connected components over GATED edges
 10. survivors      argmax representative per cluster         (winner argmax, contain.rs:410-459)

Both clusterings, rescored's preliminary clusters over the tau edges and the
clusters stage over the gated edges, go through one function,
``cc.connected_components``.

Clustering uses first-pass gated edges, not rescored ones: sylph's winner
pass reattributes k-mers WITHIN one sample's result set — it refines
attribution and which rows get reported, never which reads belong to the
sample. The dedup analog: reassignment refines per-pair scores, kmers_lost
and the surviving representative inside a cluster, but a pair whose content
is explained by a same-cluster winner is still a duplicate pair — dropping
its edge would split true clusters and break dedup idempotence.

Scale design notes (for the 10^12-row cluster, tested at local[*]):
- AQE, its skew-join splitting and partition coalescing are left at Spark
  4.1's defaults (session.py says why);
- LSH buckets are one (band, band_hash) aggregate, and their pairs are
  generated in CHUNKS keyed (ci, cj) so a single hot bucket fans out
  across ~(size/chunk)² tasks instead of one — the salted-key skew
  mitigation required by the north rule;
- shingle_counts is a map-side-combined hash aggregate. One driver
  value (the ``vocab`` node, the only stage that reads the sketch row
  count) carries what both kernels read of it: the cnt ≥ 2 slice as one
  broadcast, which the pair kernel looks multiplicities up in, and the
  stop set (count above the band df limit), which the banding kernel
  masks and the rescore kernel keeps out of the winner competition. The
  stop set has fewer than Σcnt/limit shingles, at most mean shingles per
  image / band_max_df_frac whatever the corpus size, so it rides in both
  kernels' closures. Below ``VOCAB_BROADCAST_MAX`` shingles it is cut from
  the slice on the driver; above it nothing is broadcast, the stop set is
  its own bounded collect, and the one (image_id, shingle) join, explode
  ⋈ shingle_counts → regroup per image, gives pair side a its own counts;
- the pair kernel reads both items' captions, so the captions of every
  candidate pair cross into Python, not only those of the pairs the gate's
  LCS looks at; in exchange the gate needs no join and no Python crossing
  of its own;
- every stage is a materialized columnar table: column pruning means later
  stages never reread ``bytes``.
"""

from __future__ import annotations

import contextlib
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codecs, udfs
from .cc import connected_components
from .config import SketchConfig
from .io.catalog import StageCatalog
from .session import heavy_payload_batches

# the most cnt ≥ 2 shingles the vocab node broadcasts (12 bytes each); above
# it the pair kernel reads side a's per-image counts and the stop set is
# collected on its own (DedupStages._stage_vocab). It picks a plan, not
# an output, so it is not part of SketchConfig.
VOCAB_BROADCAST_MAX = 5_000_000
# the most stop shingles the driver collects above the vocab cap. Fewer
# than Σcnt/limit exist, at most mean shingles per image /
# band_max_df_frac (6,734 at 48k images, 388 of them real), so a corpus
# reaches this only if its images average 20k shingles.
STOP_SHINGLES_MAX = 1_000_000


def input_fingerprint(images: DataFrame) -> str:
    """Cheap identity of the input table for checkpoint validity.

    File-backed inputs (the production case — Iceberg/parquet snapshots)
    fingerprint by their sorted file list: zero data scan, and any new
    snapshot/compaction changes the set. Non-file inputs (test DataFrames)
    fall back to an order-insensitive CONTENT probe (count + bit_xor of a
    row hash over id, payload bytes, caption and phash — one pass, no
    overflow under ANSI mode): regenerated fixtures with the same ids but
    different bytes/captions must invalidate the checkpoint, not revalidate
    it. The payload hashes by VALUE (xxhash64 over the binary) — the
    earlier length(bytes) proxy let a same-length byte edit revalidate a
    stale checkpoint; the full hash costs one extra scan of a test-sized
    input only (file-backed inputs never take this path)."""
    import hashlib
    import json

    files = sorted(images.inputFiles())
    if files:
        token = json.dumps(files)
    else:
        row = images.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "bit_xor(xxhash64(image_id, bytes, caption, phash))"
            ).alias("x"),
        ).collect()[0]
        token = f"{row['n']}:{row['x']}"
    return hashlib.sha256(token.encode()).hexdigest()[:16]


def lcs_prefilter_stats(
    spark: SparkSession, scored: DataFrame, sketches: DataFrame, cfg: SketchConfig
) -> dict:
    """Pair volume entering the LCS gate (tau and SimHash hamming passed)
    vs actually reaching the Python suffix automaton (after the kernel's
    equal-caption short-circuit) — ONE aggregation over ``scored`` and the
    sketches' SimHash and captions, no kernel run (the bench counter for the
    short-circuit's effectiveness). It states in the JVM the cut the pair
    kernel applies before its LCS: ``hamming_pairs`` equals the
    pair_shingles rows whose ``lcs`` is not null."""
    prof = sketches.select("image_id", "simhash", "caption")

    def side(s: str) -> DataFrame:
        return prof.withColumnsRenamed(
            {"image_id": f"id_{s}", "simhash": f"sim_{s}", "caption": f"cap_{s}"}
        )

    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    automaton = F.col("cap_a") != F.col("cap_b")
    row = (
        scored.filter(F.col("adj_sim") >= cfg.tau)
        .join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .filter(hamming <= cfg.simhash_max_hamming)
        .agg(
            F.count(F.lit(1)).alias("hamming_pairs"),
            F.sum(automaton.cast("long")).alias("lcs_udf_pairs"),
        )
        .collect()[0]
    )
    h = row["hamming_pairs"]
    u = row["lcs_udf_pairs"] or 0
    return {
        "hamming_pairs": h,
        "lcs_udf_pairs": u,
        "lcs_udf_skipped_frac": round(1.0 - u / h, 4) if h else 0.0,
    }


class Node(NamedTuple):
    """One node of the stage graph. ``volatile`` is what the volatile path
    does with it: "checkpoint" (localCheckpoint), "lazy" (left as built:
    Catalyst fuses it into the next barrier's job, unless its builder runs
    jobs of its own) or "value" (a driver-side value its builder computes,
    on both paths, not a stage table). The durable path commits every
    stage. A node with a ``barrier`` is timed under that key."""

    name: str
    inputs: tuple[str, ...]
    volatile: str
    barrier: str | None = None


class Vocab(NamedTuple):
    """What the kernels read of shingle_counts (``DedupStages._stage_vocab``):
    ``counts``, the broadcast sorted (shingles, counts) of its cnt ≥ 2
    slice, None above ``VOCAB_BROADCAST_MAX``; ``stop``, the sorted
    shingles whose count exceeds the band df limit."""

    counts: Broadcast | None
    stop: np.ndarray


GRAPH = (
    Node("sketches", ("images",), "checkpoint", "sketches"),
    Node("shingle_counts", ("sketches",), "checkpoint", "shingle_counts"),
    Node("n_items", ("sketches",), "value", "counts(2)"),
    # the one driver collect of shingle_counts and the only reader of
    # n_items: the kernels below read the df limit through its stop set
    Node("vocab", ("shingle_counts", "n_items"), "value", "counts(2)"),
    Node("candidates", ("sketches", "vocab"), "lazy"),
    # pair_shingles feeds both scoring passes; lazy candidates
    # materialises inside its barrier
    Node(
        "pair_shingles",
        ("candidates", "sketches", "shingle_counts", "vocab"),
        "checkpoint",
        "cands+pair_shingles",
    ),
    # the first-pass scores and the gate are pair_shingles columns: scored
    # selects them and gated filters on them
    Node("scored", ("pair_shingles",), "lazy"),
    Node("gated", ("pair_shingles",), "lazy"),
    Node("rescored", ("pair_shingles", "sketches", "vocab"), "checkpoint", "rescored"),
    # verified's one consumer (survivors' rep_score) references it once and
    # both its join inputs read checkpoints: the tiny join fuses into the
    # survivors job instead of paying its own barrier
    Node("verified", ("rescored", "gated"), "lazy"),
    # the CC driver loop (bounded Arrow collect + numpy) materialises itself
    Node("clusters", ("sketches", "gated"), "lazy", "clusters(cc)"),
    Node("survivors", ("clusters", "verified"), "lazy"),
)
STAGES = [n.name for n in GRAPH if n.volatile != "value"]


class DedupStages:
    """The stage builders (``_stage_<name>``, one per stage of ``GRAPH``)
    and the runner that walks the graph; they need only the session and the
    config."""

    def __init__(self, spark: SparkSession, cfg: SketchConfig):
        self.spark = spark
        self.cfg = cfg

    # -- stage bodies ------------------------------------------------------

    def _stage_sketches(self, images: DataFrame) -> DataFrame:
        # explicit repartition: input tables often arrive as few large files;
        # decode+shingle is CPU-bound, so spread it across all cores
        # (north-rule explicit repartitioning; sized to cluster parallelism)
        par = self.spark.sparkContext.defaultParallelism
        src = images.select("image_id", "bytes", "fmt", "caption")
        # only shuffle when the input arrives under-partitioned. File count
        # is a plan-only proxy (no RDD conversion, no job): it can undercount
        # when one big file splits by maxPartitionBytes, in which case we pay
        # one extra shuffle before a CPU-bound stage — cheap insurance. The
        # RDD probe only runs for non-file sources (test DataFrames).
        files = images.inputFiles()
        n_parts = len(files) if files else images.rdd.getNumPartitions()
        if n_parts < par:
            src = src.repartition(par * 2, "image_id")
        return src.mapInArrow(
            udfs.make_sketch_arrow_fn(self.cfg), schema=udfs.SKETCH_SCHEMA
        )

    def _stage_shingle_counts(self, sketches: DataFrame) -> DataFrame:
        return (
            sketches.select(F.explode("shingles").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).cast("int").alias("cnt"))
        )

    def _stage_n_items(self, sketches: DataFrame) -> int:
        return sketches.count()

    def _stage_vocab(self, counts: DataFrame, n_items: int) -> Vocab:
        """What both kernels read of shingle_counts, decided once as sylph
        decides its repeat mask (sketch.rs:590-600):

        - ``counts``, the multiplicities the pair kernel reads
          (udfs._count_table): the cnt ≥ 2 slice, sorted by shingle and
          broadcast; a shingle absent from it occurs once. One action
          probes the size and fetches the slice, ``limit(cap + 1).toArrow()``
          (the probe-and-fetch of cc.connected_components), which bounds
          the driver transfer. Above ``VOCAB_BROADCAST_MAX`` rows it is
          None, and the pair kernel reads side a's own counts
          (``_stage_pair_shingles``).
        - ``stop``, the shingles whose count exceeds the band df limit over
          ``n_items``: the band kernel masks them and the rescore kernel
          keeps them out of the winner competition. Below the cap they are
          cut from the slice with no Spark job (the limit is ≥ 1, so no
          shingle missing from it is one); above it one more action fetches
          ``cnt > limit``, probed and bounded the same way.

        A driver value is not committed, so the durable path runs these
        collects on every pass, a fully resumed one included."""
        limit = self.cfg.band_df_limit(n_items)
        tbl = (
            counts.filter(F.col("cnt") >= 2)
            .limit(VOCAB_BROADCAST_MAX + 1)
            .toArrow()
        )
        if tbl.num_rows <= VOCAB_BROADCAST_MAX:
            keys = tbl.column("shingle").to_numpy()
            order = np.argsort(keys)
            keys, cnts = keys[order], tbl.column("cnt").to_numpy()[order]
            bc = self.spark.sparkContext.broadcast((keys, cnts))
            return Vocab(bc, keys[cnts > limit])
        tbl = (
            counts.filter(F.col("cnt") > limit)
            .select("shingle")
            .limit(STOP_SHINGLES_MAX + 1)
            .toArrow()
        )
        if tbl.num_rows > STOP_SHINGLES_MAX:
            raise ValueError(f"over {STOP_SHINGLES_MAX} shingles occur in > {limit} images")
        return Vocab(None, np.sort(tbl.column("shingle").to_numpy()))

    def _stage_candidates(self, sketches: DataFrame, vocab: Vocab) -> DataFrame:
        """MinHash/LSH banding → distinct candidate pairs (id_a < id_b).
        One mapInArrow kernel (udfs.make_multi_band_fn) drops the
        stop-shingles (``vocab.stop``) and bands all three LSH families
        (source-aware banding, see SketchConfig)."""
        cfg = self.cfg
        # stop-shingle masking (corpus analog of sylph's repeat masking,
        # sketch.rs:590-600): drop shingles with document frequency above the
        # limit from BANDING input — boilerplate shingles otherwise create
        # dense buckets and quadratic candidate growth. Scoring still uses
        # the full sets.
        bands = sketches.select("image_id", "img_shingles", "cap_shingles").mapInArrow(
            udfs.make_multi_band_fn(cfg, vocab.stop), schema=udfs.BAND_SCHEMA
        )
        # Bucketize in ONE hash aggregate (no window: the previous
        # row_number/count-over pair forced a full sort-shuffle of the band
        # rows and recomputed it for both join sides). sort_array makes the
        # bucket order deterministic regardless of task scheduling.
        #
        # Then collapse buckets with IDENTICAL member lists before any pair
        # generation: near-identical items collide in MANY of the bands (an
        # exact-dup pair collides in all of them), so the same id list shows
        # up once per colliding (band, hash) key and would generate the same
        # pairs each time, all discarded by the final distinct. Measured at
        # bench scale: 196k buckets → 11k distinct member lists (and raw
        # pair volume 255k → 15k) for one extra exchange of the (small)
        # bucket rows — the pair-explode + distinct shuffle shrinks ~17×.
        # The generated pair SET is unchanged: identical ids ⇒ identical
        # chunked pairs, and union-of-buckets feeds a distinct anyway.
        chunk = cfg.pair_chunk
        buckets = (
            bands.groupBy("band", "band_hash")
            .agg(F.sort_array(F.collect_list("image_id")).alias("ids"))
            .filter(F.size("ids") >= 2)
            .select("ids")
            .distinct()
            .withColumn("nc", F.ceil(F.size("ids") / chunk).cast("int"))
            .withColumn(
                "dense", F.size("ids") > F.lit(cfg.bucket_degrade_size)
            )
        )
        # chunked pair generation (salted-key skew mitigation, north rule):
        # one row per (ci <= cj) chunk pair carrying only the two id slices,
        # so a bucket of size s becomes ~ceil(s/chunk)² bounded work items.
        # DENSE buckets (> cfg.bucket_degrade_size members — degenerate
        # boilerplate buckets, possible once the df limit scales with n)
        # degrade to banded tri-diagonal pairing (cj ≤ ci+1): candidate
        # volume drops from s²/2 to ~1.5·chunk·s, linear in s, while every
        # member still pairs with ≥ chunk bucket neighbors so the bucket
        # clusters via CC chaining rather than needing every pairwise edge.
        chunks = buckets.select(
            "ids",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, nc - 1), ci -> "
                    "transform(sequence(ci, IF(dense, least(ci + 1, nc - 1), nc - 1)), cj -> "
                    "named_struct('ci', ci, 'cj', cj))))"
                )
            ).alias("cc"),
        ).select(
            F.slice("ids", F.col("cc.ci") * chunk + 1, chunk).alias("ids_i"),
            F.slice("ids", F.col("cc.cj") * chunk + 1, chunk).alias("ids_j"),
            (F.col("cc.ci") == F.col("cc.cj")).alias("diag"),
        )
        # the explode above happens inside the bucket's own partition: spread
        # the quadratic in-task pair generation of a hot bucket across the
        # cluster by round-robin shuffling the (small) chunk rows first
        chunks = chunks.repartition(
            self.spark.sparkContext.defaultParallelism * 2
        )
        # ids are bucket-sorted and chunks are contiguous ranges: off-diagonal
        # (ci < cj) pairs are ordered by construction; diagonal chunks pair
        # each element with its strict successors only
        pair_expr = (
            "explode(flatten(transform(ids_i, (x, i) -> transform("
            "CASE WHEN diag THEN slice(ids_j, i + 2, size(ids_j)) ELSE ids_j END, "
            "y -> named_struct('id_a', x, 'id_b', y)))))"
        )
        return (
            chunks.select(F.expr(pair_expr).alias("p"))
            .select("p.id_a", "p.id_b")
            .distinct()
        )

    def _stage_pair_shingles(
        self,
        candidates: DataFrame,
        sketches: DataFrame,
        counts: DataFrame,
        vocab: Vocab,
    ) -> DataFrame:
        """(id_a, id_b) → (id_a, id_b, total_kmers, inter_cnt) + the
        first-pass score columns + the gate columns (hamming, lcs, gated),
        where inter_cnt pairs every shingle the two items share with its
        corpus multiplicity. Materialized ONCE and consumed by both scoring
        passes and both clusterings; ``scored`` is a projection of it and
        ``gated`` a filter.

        The pair table joins the two items' shingle ARRAYS, SimHash and
        captions (it shuffles pairs, not pair × shingle rows: the probe-join
        J1, contain.rs:632-652, without a 10⁹-row exchange), and one
        mapInArrow kernel (udfs.make_pair_shingles_fn) intersects them,
        applies the size prefilter, looks up the multiplicities, scores and
        gates every pair: no explode, no regrouping aggregate and no second
        crossing into Python. The counts come from the ``vocab.counts``
        broadcast or, above its cap, from side a's ``sh_cnt`` (every shared
        shingle is in a): the image's shingles that occur more than once in
        the corpus, with their counts (null when there are none), from one
        explode ⋈ shingle_counts → regroup per image."""
        cols = ["image_id", "n_shingles", "shingles", "simhash", "caption"]
        prof_a = sketches.select(*cols)
        if vocab.counts is None:
            sh_cnt = (
                sketches.select("image_id", F.explode("shingles").alias("shingle"))
                .join(counts.filter(F.col("cnt") >= 2), "shingle")
                .groupBy("image_id")
                .agg(F.collect_list(F.struct("shingle", "cnt")).alias("sh_cnt"))
            )
            prof_a = prof_a.join(sh_cnt, "image_id", "left")

        def side(df: DataFrame, s: str) -> DataFrame:
            return df.withColumnsRenamed(
                {
                    "image_id": f"id_{s}",
                    "n_shingles": f"n_{s}",
                    "shingles": f"sh_{s}",
                    "simhash": f"sim_{s}",
                    "caption": f"cap_{s}",
                }
            )

        pairs = (
            candidates.join(side(prof_a, "a"), "id_a")
            .join(side(sketches.select(*cols), "b"), "id_b")
            .select(
                "id_a",
                "id_b",
                F.least("n_a", "n_b").alias("total_kmers"),
                "sh_a",
                "sh_b",
                "sim_a",
                "sim_b",
                "cap_a",
                "cap_b",
                *prof_a.columns[len(cols) :],
            )
        )
        return pairs.mapInArrow(
            udfs.make_pair_shingles_fn(self.cfg, vocab.counts),
            schema=udfs.PAIR_SHINGLES_SCHEMA,
        )

    def _stage_scored(self, pair_shingles: DataFrame) -> DataFrame:
        # the first-pass scores are computed with the intersections
        return pair_shingles.select(*udfs.SCORE_PA_SCHEMA.names)

    def _stage_rescored(
        self, pair_shingles: DataFrame, sketches: DataFrame, vocab: Vocab
    ) -> DataFrame:
        """Two-pass winner-table rescoring (contain.rs:410-459 winner table,
        consumption at contain.rs:637-645, derep at contain.rs:353-375).

        Each INFORMATIVE shingle (corpus df ≤ the banding stop-shingle
        limit) is owned, WITHIN each preliminary cluster, by the
        highest-scoring first-pass item that contains it (ties break toward
        the larger image_id — the reference breaks by result iteration
        order, which has no distributed analog); every first-pass pair is
        rescored counting only shingles it still owns; ``kmers_lost``
        counts the reassigned ones, and pairs whose reassignment reaches
        tau^ani_k · total_kmers are dropped.

        Two scoping rules keep the graft faithful AND recall-safe at corpus
        scale: (1) competition runs inside the pair's own preliminary
        cluster (CC over first-pass edges) — sylph's winner table
        arbitrates among genomes claimed present in the SAME sample
        (contain.rs:410), and the sample analog is the duplicate cluster,
        so unrelated clusters never steal a pair's shingles; (2) shingles
        above the banding df limit (``vocab.stop``) never compete — the
        corpus analog of removing repeat k-mers from genome sketches BEFORE
        the winner table sees them (sketch.rs:595-600).

        Scale shape: the winner table is state local to one cluster, so the
        stage is ONE cogroup keyed by a bucket of clusters,
        pmod(xxhash64(pre_cluster), spark.sql.shuffle.partitions). The
        preliminary clusters come from connected_components over the tau
        edges of pair_shingles (the first-pass scores are its columns). The
        pair side is those pair_shingles rows (intersections with
        multiplicities, already materialized) joined to the node labels by
        id_a, since both endpoints of an edge share a component; the item
        side is the sketch shingle arrays joined to the same labels. Each bucket
        crosses into Python once, where udfs.make_rescore_arrow_fn ranks
        items, picks winners, counts kmers_lost, applies derep and scores
        in whole-bucket numpy: two shuffles, no explode, no aggregate. A
        bucket, not a cluster, is the group so each Arrow call carries many
        small clusters (one call per cluster took 1.4 s against 0.95 s for
        this barrier on a 1,500-image corpus, 4-core VM). A two-item
        cluster is the trivial case: every winner is one of its own pair,
        so the pair keeps its first-pass score with kmers_lost = 0."""
        cfg = self.cfg
        # preliminary clusters = competition scope (first-pass edges only);
        # below the driver threshold the labels come out of one driver CC
        # pass and are broadcast into both joins below
        first = pair_shingles.filter(F.col("adj_sim") >= cfg.tau)
        labels = connected_components(None, first).withColumnRenamed(
            "cluster_id", "pre_cluster"
        )
        n_buckets = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        bucket = F.pmod(F.xxhash64("pre_cluster"), F.lit(n_buckets))
        pairs = first.join(
            labels.withColumnRenamed("image_id", "id_a"), "id_a"
        ).select(
            bucket.alias("bucket"),
            "id_a",
            "id_b",
            "adj_sim",
            "total_kmers",
            "inter_cnt",
        )
        items = sketches.select("image_id", "shingles").join(
            labels, "image_id"
        ).select(bucket.alias("bucket"), "image_id", "pre_cluster", "shingles")
        return (
            pairs.groupBy("bucket")
            .cogroup(items.groupBy("bucket"))
            .applyInArrow(
                udfs.make_rescore_arrow_fn(cfg, vocab.stop),
                schema=udfs.SCORE_SCHEMA,
            )
        )

    def _stage_gated(self, pair_shingles: DataFrame) -> DataFrame:
        """The pairs that pass first-pass tau and the two score-independent
        confirmation gates (SimHash hamming, suffix-automaton LCS on
        captions) — the north-rule verification, decided for every pair in
        the pair kernel (udfs._gate). These edges drive CLUSTERING; the
        winner rescore refines attribution within them (see module
        docstring)."""
        return pair_shingles.filter("gated").select("id_a", "id_b", "hamming", "lcs")

    def _stage_verified(self, rescored: DataFrame, gated: DataFrame) -> DataFrame:
        """Second-pass report table (contain.rs:637-645 re-filtered results):
        winner-rescored pairs that still clear tau AND passed the gates."""
        return rescored.filter(F.col("adj_sim") >= self.cfg.tau).join(
            gated, ["id_a", "id_b"]
        )

    def _stage_clusters(self, sketches: DataFrame, gated: DataFrame) -> DataFrame:
        return connected_components(sketches.select("image_id"), gated)

    def _stage_survivors(self, clusters: DataFrame, verified: DataFrame) -> DataFrame:
        """One representative per cluster = argmax by mean verified
        similarity (the winner-table argmax, contain.rs:410-459), ties and
        singleton clusters falling back to the min image_id."""
        # one reference to `verified` instead of a two-branch union (explode
        # of the 2-element id array emits the identical (image_id, adj_sim)
        # multiset) — with a single subtree reference the verified stage can
        # stay LAZY in run_volatile (no checkpoint barrier) without its join
        # being recomputed per branch
        contrib = verified.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("image_id"),
            "adj_sim",
        )
        rep_score = contrib.groupBy("image_id").agg(
            (F.sum("adj_sim") / F.count(F.lit(1))).alias("rep_score")
        )
        return (
            clusters.join(rep_score, "image_id", "left")
            .withColumn("rep_score", F.coalesce("rep_score", F.lit(0.0)))
            .groupBy("cluster_id")
            .agg(
                F.expr(
                    "min_by(image_id, struct(-rep_score, image_id))"
                ).alias("image_id")
            )
            .select("image_id", "cluster_id")
        )

    # -- orchestration -----------------------------------------------------

    def run_graph(
        self, images: DataFrame, mat, stage_times: dict | None = None
    ) -> dict[str, DataFrame]:
        """Materialise every node of ``GRAPH`` through ``mat.commit`` and
        return the ten stages.

        Each node runs on its own thread as soon as its inputs are ready:
        nodes that do not depend on each other run as concurrent Spark jobs,
        so one barrier's straggler tail back-fills with the other's tasks.
        Results are unchanged, since every plan is deterministic and the
        scheduler only interleaves tasks. A node's jobs carry its name as
        their Spark job description. With ``stage_times``, the wall seconds
        of each node with a ``barrier`` accumulate under that key (the sketch
        row count and the vocab collects under "counts(2)"); overlapping
        barriers overlap on the wall clock, so their sum can exceed the
        elapsed time."""
        sc = self.spark.sparkContext
        lock = threading.Lock()

        def run_node(node: Node, futures: dict[str, Future]):
            args = [futures[i].result() for i in node.inputs]
            # only the sketch stage reads the ~100 KB image rows; its small
            # batch confs are session-wide, which is safe because every
            # other node depends on sketches and so cannot run beside it
            scope = (
                heavy_payload_batches(self.spark)
                if "images" in node.inputs
                else contextlib.nullcontext()
            )
            sc.setJobDescription(node.name)
            try:
                with scope:
                    t0 = time.time()
                    build = getattr(self, "_stage_" + node.name)
                    out = mat.commit(node, partial(build, *args))
                    dt = time.time() - t0
            finally:
                sc.setJobDescription(None)
            if node.barrier is not None and stage_times is not None:
                with lock:
                    stage_times[node.barrier] = round(
                        stage_times.get(node.barrier, 0.0) + dt, 3
                    )
            return out

        futures: dict[str, Future] = {"images": Future()}
        futures["images"].set_result(images)
        # one thread per node, so a node blocked on its inputs never holds
        # back one that is ready
        with ThreadPoolExecutor(max_workers=len(GRAPH)) as pool:
            for node in GRAPH:
                futures[node.name] = pool.submit(run_node, node, futures)
            return {name: futures[name].result() for name in STAGES}


@dataclass
class Durable:
    """Catalog materialiser: commit each stage unless a committed manifest
    matches the config hash and input fingerprint (checkpoint/resume, north
    rule; the input side mirrors contain.rs:503-516 compatibility)."""

    catalog: StageCatalog
    h: str
    fp: str
    force: bool

    def commit(self, node: Node, build) -> DataFrame:
        if node.volatile == "value":
            return build()
        cat = self.catalog
        if self.force or not cat.has_valid(node.name, self.h, self.fp):
            cat.write(build(), node.name, self.h, extra={"input_fp": self.fp})
        return cat.read(node.name)


class Volatile:
    """In-memory materialiser: localCheckpoint the "checkpoint" nodes, leave
    the others as built."""

    def commit(self, node: Node, build) -> DataFrame:
        df = build()
        return df.localCheckpoint() if node.volatile == "checkpoint" else df


class DedupPipeline(DedupStages):
    def __init__(self, spark: SparkSession, cfg: SketchConfig, workdir: str):
        super().__init__(spark, cfg)
        self.catalog = StageCatalog(spark, workdir)
        self.h = cfg.config_hash()

    def run(self, images: DataFrame, force: bool = False) -> dict[str, DataFrame]:
        """The shipped path: walk ``GRAPH`` with the ``Durable``
        materialiser. Every stage is committed to (or resumed from) the
        workdir catalog; ``force`` rewrites every stage. Returns the ten
        committed stage tables."""
        fp = input_fingerprint(images)
        return self.run_graph(images, Durable(self.catalog, self.h, fp, force))


def run_volatile(
    spark: SparkSession,
    images: DataFrame,
    cfg: SketchConfig,
    stage_times: dict | None = None,
) -> dict[str, DataFrame]:
    """Walk ``GRAPH`` with the ``Volatile`` materialiser: the same stages,
    order and job overlap as ``DedupPipeline.run``, with localCheckpoint
    barriers and no catalog. Checkpoints truncate lineage, so the run is not
    fault-tolerant and cannot resume; use it for tests, smoke runs and the
    bench, and ``DedupPipeline.run`` for production.

    ``stage_times``: optional dict filled with the wall seconds of each
    eager barrier (see ``GRAPH``) — the per-stage attribution behind the
    scaling-efficiency evidence (BENCH/BASELINE.md). Lazy stages
    (candidates, scored, gated, verified, survivors) are fused by Catalyst
    into the next barrier and show up there."""
    return DedupStages(spark, cfg).run_graph(images, Volatile(), stage_times)


IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def images_df_from_pandas(spark: SparkSession, images: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(images, schema=IMAGES_SCHEMA)


def validate_images_schema(df: DataFrame) -> None:
    """Raise ``ValueError`` naming every ``IMAGES_SCHEMA`` column that is
    missing from ``df`` or has another type. Extra columns are allowed."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = [f.name for f in IMAGES_SCHEMA.fields if f.name not in actual]
    if missing:
        raise ValueError(f"images table missing columns: {missing}")
    for f in IMAGES_SCHEMA.fields:
        want = f.dataType.simpleString()
        if actual[f.name] != want:
            raise ValueError(
                f"images.{f.name}: expected {want}, got {actual[f.name]}"
            )


def read_images(spark: SparkSession, path_or_table: str, native_only: bool = True) -> DataFrame:
    """Load the images table from a parquet path (or a catalog table name
    if it contains no '/'), check it against ``IMAGES_SCHEMA`` and route out
    the rows whose format has no native codec, so they never reach the sketch
    stage (the extension-dispatch analog, sketch.rs:95-121). ``native_only=False``
    keeps every row, for counting what the routing leaves out."""
    if "/" in path_or_table:
        df = spark.read.parquet(path_or_table)
    else:
        df = spark.read.table(path_or_table)
    validate_images_schema(df)
    return df.filter(F.col("fmt").isin(*sorted(codecs.ALL_FMTS))) if native_only else df
