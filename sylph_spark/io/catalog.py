"""Checkpointed stage catalog — the persistence layer of the pipeline.

The reference persists sketches as bincode files with parameter metadata
(/root/reference/src/sketch.rs:355-361,470-475; types.rs:101-143) and
enforces compatibility by comparing (k, c) at load (contain.rs:503-516).
Here every stage commits a columnar table plus a manifest carrying the
SketchConfig hash; a stage is resumable iff a committed manifest with the
same config hash exists (the batch analog of streaming state recovery —
SURVEY.md §2.8).

Backend: Parquet directories with ``_MANIFEST.json`` / ``_LINEAGE``
metadata: atomic commit (manifest written last), snapshot id, per-file
lineage rows read from the written part-file footers, and an append-only
``_metrics`` table. Commits of different stages may run concurrently.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class StageManifest:
    stage: str
    config_hash: str
    snapshot_id: str
    rows: int
    partitions: int
    written_at: float
    extra: dict


class StageCatalog:
    """Directory-backed table catalog with manifest-gated atomic commits."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._metrics_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_MANIFEST.json")

    # -- manifest ---------------------------------------------------------
    def manifest(self, name: str) -> StageManifest | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            d = json.load(f)
        return StageManifest(**d)

    def has_valid(
        self, name: str, config_hash: str, input_fp: str | None = None
    ) -> bool:
        """A committed stage is reusable iff BOTH the config hash and (when
        given) the input fingerprint match — the input-side half of the
        reference's sketch-compatibility check (contain.rs:503-516): a
        resumed run against a different source table must not silently
        reuse stages computed from the old corpus."""
        m = self.manifest(name)
        if m is None or m.config_hash != config_hash:
            return False
        return input_fp is None or m.extra.get("input_fp") == input_fp

    # -- io ---------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        name: str,
        config_hash: str,
        extra: dict | None = None,
    ) -> StageManifest:
        """Write a stage output. Data first, lineage second, manifest last —
        a killed job leaves no manifest, so the stage re-runs on resume."""
        t0 = time.time()
        data_dir = os.path.join(self._table_dir(name), "data")
        if os.path.exists(self._table_dir(name)):
            shutil.rmtree(self._table_dir(name))
        df.write.mode("overwrite").parquet(data_dir)

        # per-file lineage (north rule) from the part-file footers: one row
        # per written file (an empty stage writes one 0-row file), read on
        # the driver without re-reading the table
        files = sorted(f for f in os.listdir(data_dir) if f.startswith("part-"))
        counts = [pq.read_metadata(os.path.join(data_dir, f)).num_rows for f in files]
        lineage_dir = os.path.join(self._table_dir(name), "_LINEAGE")
        os.makedirs(lineage_dir)
        pq.write_table(
            pa.table(
                {
                    # the writing task's partition id, part-<id>-<uuid>...
                    "part_id": pa.array([int(f.split("-")[1]) for f in files], pa.int32()),
                    "file": pa.array(files, pa.string()),
                    "rows": pa.array(counts, pa.int64()),
                    "stage": pa.array([name] * len(files), pa.string()),
                }
            ),
            os.path.join(lineage_dir, "part-00000.parquet"),
        )
        rows = sum(counts)

        m = StageManifest(
            stage=name,
            config_hash=config_hash,
            snapshot_id=uuid.uuid4().hex,
            rows=rows,
            partitions=len(files),
            written_at=time.time(),
            extra=extra or {},
        )
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m.__dict__, f)
        os.replace(tmp, self._manifest_path(name))  # atomic commit
        self._append_metric(name, "rows", rows)
        self._append_metric(name, "write_sec", time.time() - t0)
        return m

    def read(self, name: str) -> DataFrame:
        if self.manifest(name) is None:
            raise FileNotFoundError(f"stage {name} has no committed manifest")
        return self.spark.read.parquet(os.path.join(self._table_dir(name), "data"))

    def lineage(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._table_dir(name), "_LINEAGE"))

    # -- metrics ----------------------------------------------------------
    def _append_metric(self, stage: str, metric: str, value: float) -> None:
        p = os.path.join(self.root, "_metrics.jsonl")
        with self._metrics_lock, open(p, "a") as f:
            f.write(
                json.dumps(
                    {"stage": stage, "metric": metric, "value": float(value), "ts": time.time()}
                )
                + "\n"
            )

    def metrics(self) -> list[dict]:
        p = os.path.join(self.root, "_metrics.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f]
