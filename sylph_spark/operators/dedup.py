"""Dedup-gated counting over any DataFrame with a key and a fingerprint
column. All JVM-side; no Python UDFs."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_gated_counts(df: DataFrame, key_col: str, fingerprint_col: str) -> DataFrame:
    """A2 dedup-gated counting (sketch.rs:690-731): per key, count DISTINCT
    fingerprints rather than raw occurrences — the reference counts a k-mer's
    multiplicity only once per deduplicated read pair. One map-side-combined
    hash aggregate (Spark rewrites count(distinct) as a two-phase agg, no
    per-key state on any single task)."""
    return (
        df.groupBy(key_col)
        .agg(F.countDistinct(fingerprint_col).alias("dedup_cnt"))
    )
