"""SparkSession factory: one fixed table of settings.

``SETTINGS`` is every conf this engine sets, and only confs whose value
differs from Spark 4.1's default: each tuned value sits next to the
measurement that keeps it, each other entry next to its purpose
(``tests/test_session.py`` fails on a restated default). ``build_spark``
applies it and nothing else — no warm-up jobs, no environment switches.
``extra_conf`` is the one override path (it wins over the table);
``SYLPH_DRIVER_MEM`` is the one environment knob, because the callers that
size the driver heap (perfbench, bench.py) need different values. With no
``master`` argument the launcher's master applies (``spark-submit
--master``, spark-defaults, or spark-submit's own ``local[*]`` for a plain
``python`` launch).

Left at Spark's defaults on purpose: AQE with skew-join splitting and
partition coalescing (on by default; it replaces sylph's hand-built memory
gating and two-level thread scheduling, src/sketch.rs:27-51,
contain.rs:240-256), the generic 10000-row Arrow and 4096-row parquet
batches (``heavy_payload_batches`` narrows both for image-bytes stages),
the 10 MB broadcast threshold (a 64 MB override changed no wall time on
the families corpus or a 24k-image audit, in interleaved in-process
pairs), and the objectHashAggregate sort-based fallback at 128 keys per
task. The
last one holds the ``collect_list`` aggregates (the LSH buckets of
``_stage_candidates``; above the vocab broadcast cap also the per-image
``sh_cnt`` regroup) to one group at a time once a task passes 128 keys,
and that sort spills. An 8,388,608-key override kept millions of mostly
singleton bucket buffers in the heap instead: with it the 480k-image
recall audit (``scripts/recall_at_scale.py``, n_base 300,000, local[4],
4g heap) died with OutOfMemoryError in
``ObjectAggregationIterator.createNewAggregationBuffer`` after 232 s;
without it the audit finishes in 163 s. The sort has a CPU price where
nearly every bucket is a singleton: perfbench's unique workload spends
~0.09 s more per warm pass in ``cands+pair_shingles`` (0.78 s, against
0.69 s with the override).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

SETTINGS = {
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
    # objects, 37-80 ms; now ~0.3 ms).
    "spark.python.daemon.module": "sylph_spark.daemon",
    # the repo root on the workers' path, so the daemon module resolves
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
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
    # pandas <-> Spark conversions (createDataFrame from pandas, toPandas)
    # go through Arrow instead of row-by-row pickling
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # no web UI server (and no port to bind) for a batch job or a test
    "spark.ui.enabled": "false",
    # one time zone for every timestamp, whatever the host's zone
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
