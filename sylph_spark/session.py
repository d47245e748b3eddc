"""SparkSession factory: one fixed table of measured settings.

``SETTINGS`` is every conf this engine sets, each tuned value next to the
measurement that keeps it; ``build_spark`` applies it and nothing else — no
warm-up jobs, no environment switches. ``extra_conf`` is the one override
path (it wins over the table); ``SYLPH_DRIVER_MEM`` is the one environment
knob, because the callers that size the driver heap (perfbench, bench.py)
need different values. With no ``master`` argument the launcher's master
applies (``spark-submit --master``, spark-defaults, or spark-submit's own
``local[*]`` for a plain ``python`` launch).

AQE (+skew-join splitting) replaces sylph's hand-built memory gating and
two-level thread scheduling (src/sketch.rs:27-51, contain.rs:240-256);
Arrow batching is the analog of its AVX2 batch kernels
(avx2_seeding.rs:33-148).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

SETTINGS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Python workers are forked from the daemon process, so what the daemon
    # holds at fork time is inherited by every worker for free.
    # sylph_spark.daemon puts three things there, then defers to the stock
    # pyspark daemon loop: the heavy imports (numpy+pandas+pyarrow cost
    # ~1.5 s per cold worker, guide §4.5 "heavyweight init once"), and a cut
    # of the two fixed costs every Python task pays: on Python < 3.12 a
    # stat-checked zip directory re-read (each task's invalidate_caches
    # re-parsed pyspark.zip, py4j and the spark-core jar, 130-240 ms per
    # task on a 4-core VM; now ~0.2 ms), and a frozen preloaded heap (a
    # reused worker's gc.collect after each task walked the ~88k inherited
    # objects, 37-80 ms; now ~0.3 ms). The repo root goes on the workers'
    # path so the daemon module resolves.
    "spark.python.daemon.module": "sylph_spark.daemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
    # collect_list aggregations (the LSH buckets; above the vocab
    # broadcast cap also the per-image shingle counts of
    # pipeline._with_sh_cnt) run as ObjectHashAggregate, which silently
    # degrades to SORT-based aggregation once a task sees more than this
    # many distinct keys (default 128!) — the bench-scale bucket aggregate
    # has ~200k groups, so every task paid a full sort of its band rows.
    # Keys here are small (two longs, or one image id), so a
    # multi-million-entry hash map is still far cheaper than the sort it
    # replaces.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "8388608",
    # AQE coalescing is byte-based and blind to per-row CPU. On the
    # 32k-image bench corpus (OPTIMIZATION_r06.md) the candidate-pair
    # distinct wrote ~1.5 MB of shuffle, and the default 1 MB floor
    # coalesced it, with everything fused downstream of it, into ONE task:
    # a measured 6-8 s serial stage inside the pipeline's heaviest
    # barrier. With a 64 KB floor that exchange splits into partitions of
    # ≥ 64 KB. On perfbench's families corpus (~1,500 images) the same
    # distinct writes ~87 KB, and candidates, pair_shingles and gated each
    # still run as one partition, so there the floor changes nothing. At
    # production scale shuffles are orders of magnitude past either floor
    # (guide §2.2).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Let the planner choose shuffled-hash over sort-merge when the
    # per-partition build side fits (guide §3.1/§9): the pipeline's
    # pair/profile joins have small, well-partitioned build sides, and
    # skipping the two sorts won 4-5% of pipeline wall in every
    # interleaved round. AQE's 64 MB local-map threshold is the OOM
    # guard — a build partition over it stays sort-merge, so the
    # setting is safe at any scale.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # generic small-row batch sizes; image-bytes stages override them via
    # heavy_payload_batches (see HEAVY_BATCH_CONFS below)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.columnarReaderBatchSize": "4096",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}

# Stages that materialize ~100 KB binary image rows need SMALL row batches
# (bytes, not rows, is what matters): at that payload, 4096-row vectorized
# parquet batches need ~0.5-1 GB of contiguous buffer per task and 10000-row
# Arrow batches buffer ~1 GB before Python sees a row (measured 11× sketch
# slowdown from allocator/GC churn). 512 rows ≈ 50 MB worst-case per batch.
# These settings are scoped (heavy_payload_batches) rather than session-wide:
# applying them to small-row SQL scans costs 8× more batch dispatch per scan
# (measured +48% on dd_minhash_sig / +28% on dd_ngram_jaccard in round 2).
HEAVY_BATCH_CONFS = (
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.parquet.columnarReaderBatchSize",
)
HEAVY_BATCH_ROWS = "512"


@contextmanager
def heavy_payload_batches(spark: SparkSession):
    """Temporarily cap parquet/Arrow batch sizes for heavy-binary-row stages;
    restores the previous values (or unsets the confs) on exit. Runtime confs
    — they take effect for any action executed inside the scope."""
    old = {k: spark.conf.get(k, None) for k in HEAVY_BATCH_CONFS}
    for k in HEAVY_BATCH_CONFS:
        spark.conf.set(k, HEAVY_BATCH_ROWS)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _driver_memory() -> str:
    """``SYLPH_DRIVER_MEM``, else half the host's physical RAM, 1g-16g."""
    mem = os.environ.get("SYLPH_DRIVER_MEM")
    if mem:
        return mem
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 31
    return f"{min(max(half_gib, 1), 16)}g"


def build_spark(
    app_name: str = "sylph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    conf = {
        **SETTINGS,
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        "spark.driver.memory": _driver_memory(),
        **(extra_conf or {}),
    }
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
