"""Distributed connected components for the clustering stage.

Min-label propagation with pointer jumping, checkpointed every iteration to
cut lineage (SURVEY.md §4 custom work #3 — the reference has no analog; its
"clusters" are implicit in the winner table contain.rs:410-459).

Each iteration:
  1. every node takes the min label over itself and its neighbors;
  2. pointer jumping: label(u) <- label(label(u)) (halves chain depth, so
     convergence is O(log diameter), not O(diameter));
  3. ``localCheckpoint`` truncates the plan; convergence is an exact
     count of changed labels == 0.

Inputs/outputs are plain DataFrames, so the one routine labels both of the
pipeline's clusterings (rescored's preliminary clusters over the tau edges,
and the clusters stage over the gated edges), and any graph at 100 TB scale
with the same shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# edge-count cutoff for the driver fast path, read at call time: setting it
# to 0 forces the distributed propagation loop (the path that runs at 100-TB
# scale) through a whole pipeline run
DEFAULT_DRIVER_THRESHOLD = 2_000_000
# the pipeline's id columns: node ids, and the two endpoints of an edge
NODE, SRC, DST = "image_id", "id_a", "id_b"
MAX_ITER = 50


def connected_components(nodes: DataFrame | None, edges: DataFrame) -> DataFrame:
    """Returns (image_id, cluster_id) where cluster_id = min node id in the
    component. Deterministic; independent of input partitioning. ``edges``
    may carry other columns beside id_a and id_b; only those two are read.

    ``nodes=None`` labels only the edge endpoints (no isolated nodes) —
    callers whose node universe IS the edge set (e.g. first-pass pair
    participants) skip the node left-join and, on the driver path, get a
    single Arrow local table with no Spark-side joins at all.

    Node and edge ids MUST be non-null strings (the framework's image_ids
    are): both paths label a component by its MIN id, and "min" is
    lexicographic only for strings — the driver path factorizes ids into a
    fixed-width unicode array (so e.g. int ids would sort '10' < '2' there
    but 2 < 10 in the distributed F.min path). The driver path asserts this.

    Adaptive execution (same spirit as AQE's broadcast decision): when the
    edge set is at most ``DEFAULT_DRIVER_THRESHOLD`` rows the component
    labels are computed driver-side with vectorized min-label propagation
    over the Arrow-collected edge codes: zero iterative shuffles, and the
    labels, which already sit on the driver, carry a broadcast hint, so a
    consumer join ships them instead of shuffling its other side. Above it,
    the distributed propagation loop runs, with no hint. Both paths produce
    identical labels.
    """
    # Path probe and edge fetch in ONE action: limit(k+1).toArrow() bounds
    # the driver transfer at threshold+1 id pairs (~tens of MB as Arrow
    # columns — no Row objects), and when the probe says "small" the same
    # table IS the edge list, so the small-graph case pays a single job
    # instead of a count followed by a collect.
    threshold = DEFAULT_DRIVER_THRESHOLD
    probe = edges.select(SRC, DST).limit(threshold + 1).toArrow()
    if probe.num_rows <= threshold:
        return _driver_cc(nodes, edges.sparkSession, probe)
    return _distributed_cc(nodes, edges)


def _check_edge_tbl(edge_tbl) -> None:
    import pyarrow as pa

    for col in (SRC, DST):
        t = edge_tbl.schema.field(col).type
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)):
            raise TypeError(
                f"connected_components requires string node ids; edge column "
                f"{col!r} is {t} (cast to string — min-label semantics are "
                f"lexicographic on both paths)"
            )
        if edge_tbl.column(col).null_count:
            raise ValueError(
                f"connected_components: edge column {col!r} contains nulls "
                f"(they would stringify to the literal 'None')"
            )


def _numpy_cc(edge_tbl):
    """Core driver-side CC: factorize string ids into codes (np.unique on a
    fixed-width string array — C-speed sort, no per-edge Python), then
    min-label hooking + full pointer-jumping compression until fixpoint.
    Returns (uniq, label): uniq[label] is each node's cluster id
    (lexicographic-min member, code order = np.unique sort order)."""
    import numpy as np

    a_obj = edge_tbl.column(SRC).to_numpy(zero_copy_only=False)
    b_obj = edge_tbl.column(DST).to_numpy(zero_copy_only=False)
    both = np.concatenate([a_obj, b_obj]).astype("U")
    uniq, codes = np.unique(both, return_inverse=True)
    ca, cb = codes[: a_obj.size], codes[a_obj.size :]
    label = np.arange(uniq.size, dtype=np.int64)
    while True:
        before = label.copy()
        m = np.minimum(label[ca], label[cb])
        np.minimum.at(label, ca, m)
        np.minimum.at(label, cb, m)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, before):
            break
    return uniq, label


def _driver_cc(nodes: DataFrame | None, spark, edge_tbl) -> DataFrame:
    """Vectorized driver-side CC over an Arrow edge table (see _numpy_cc).
    Replaces the dict union-find whose per-edge Python loop was ~2 s of
    core-count-invariant driver time at bench scale (serial floor in the
    scaling legs). The label table is broadcast-hinted."""
    import pandas as pd

    _check_edge_tbl(edge_tbl)
    schema = f"{NODE} string, cluster_id string"
    if edge_tbl.num_rows:
        uniq, label = _numpy_cc(edge_tbl)
        pdf = pd.DataFrame({NODE: uniq, "cluster_id": uniq[label]})
        lbl_df = spark.createDataFrame(pdf, schema)
    else:
        lbl_df = spark.createDataFrame([], schema)
    lbl_df = F.broadcast(lbl_df)
    if nodes is None:
        return lbl_df
    return (
        nodes.select(NODE)
        .join(lbl_df, NODE, "left")
        .select(NODE, F.coalesce(F.col("cluster_id"), F.col(NODE)).alias("cluster_id"))
    )


def _distributed_cc(nodes: DataFrame | None, edges: DataFrame) -> DataFrame:
    sym = (
        edges.select(F.col(SRC).alias("u"), F.col(DST).alias("v"))
        .union(edges.select(F.col(DST).alias("u"), F.col(SRC).alias("v")))
        .distinct()
    )
    if nodes is None:
        node_src = sym.select(F.col("u").alias(NODE)).distinct()
    else:
        node_src = nodes.select(NODE)
    labels = node_src.select(
        F.col(NODE).alias("u"), F.col(NODE).alias("lbl")
    ).localCheckpoint()
    sym = sym.localCheckpoint()

    for _ in range(MAX_ITER):
        nbr = (
            sym.join(labels.withColumnRenamed("u", "v2"), sym["v"] == F.col("v2"))
            .select(F.col("u"), F.col("lbl"))
        )
        new_labels = (
            labels.select("u", "lbl")
            .union(nbr)
            .groupBy("u")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer jumping: lbl <- lbl(lbl)
        jumped = (
            new_labels.alias("a")
            .join(
                new_labels.select(
                    F.col("u").alias("lu"), F.col("lbl").alias("llbl")
                ).alias("b"),
                F.col("a.lbl") == F.col("lu"),
                "left",
            )
            .select(
                F.col("a.u").alias("u"),
                F.coalesce(F.col("llbl"), F.col("a.lbl")).alias("lbl"),
            )
        ).localCheckpoint()
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), F.col("n.u") == F.col("o.u"))
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    else:
        # loop exhausted MAX_ITER without changed == 0: labels may still be
        # mid-propagation (split components). Pointer jumping converges in
        # O(log diameter) iterations, so hitting 50 means a pathological
        # graph — surface it instead of returning silently-wrong clusters.
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITER} iterations "
            f"(last delta: {changed} labels still changing)"
        )
    return labels.select(
        F.col("u").alias(NODE), F.col("lbl").alias("cluster_id")
    )
