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

Inputs/outputs are plain DataFrames, so the same routine serves any edge set
(dedup clusters here, but any graph at 100 TB scale with the same shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# edge-count cutoff for the driver fast path when a caller passes none; read
# at call time, so setting it to 0 forces the distributed propagation loop
# (the path that runs at 100-TB scale) through a whole pipeline run
DEFAULT_DRIVER_THRESHOLD = 2_000_000


def connected_components(
    nodes: DataFrame | None,
    edges: DataFrame,
    node_col: str = "image_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Returns (node_col, cluster_id) where cluster_id = min node id in the
    component. Deterministic; independent of input partitioning.

    ``nodes=None`` labels only the edge endpoints (no isolated nodes) —
    callers whose node universe IS the edge set (e.g. first-pass pair
    participants) skip the node left-join and, on the driver path, get a
    single Arrow local table with no Spark-side joins at all.

    Node and edge id columns MUST be non-null strings (the framework's
    image_ids are): both paths label a component by its MIN id, and "min"
    is lexicographic only for strings — the driver path factorizes ids into
    a fixed-width unicode array (so e.g. int ids would sort '10' < '2'
    there but 2 < 10 in the distributed F.min path). The driver path
    asserts this; pass string-cast columns for other id types.

    Adaptive execution (same spirit as AQE's broadcast decision): when the
    edge set is below ``driver_threshold`` the component labels are computed
    driver-side with vectorized min-label propagation over the Arrow-collected
    edge codes and joined back — zero iterative shuffles. Above it, the
    distributed propagation loop runs. Both paths produce identical labels.
    """
    # Path probe and edge fetch in ONE action: limit(k+1).toArrow() bounds
    # the driver transfer at threshold+1 id pairs (~tens of MB as Arrow
    # columns — no Row objects), and when the probe says "small" the same
    # table IS the edge list, so the small-graph case pays a single job
    # instead of a count followed by a collect.
    if driver_threshold is None:
        driver_threshold = DEFAULT_DRIVER_THRESHOLD
    pairs = edges.select(src_col, dst_col)
    probe = pairs.limit(driver_threshold + 1).toArrow()
    if probe.num_rows <= driver_threshold:
        return _driver_cc(
            nodes, edges.sparkSession, probe, node_col, src_col, dst_col
        )
    return _distributed_cc(
        nodes, edges, node_col, src_col, dst_col, max_iter
    )


def _check_edge_tbl(edge_tbl, src_col: str, dst_col: str) -> None:
    import pyarrow as pa

    for col in (src_col, dst_col):
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


def _numpy_cc(edge_tbl, src_col: str, dst_col: str):
    """Core driver-side CC: factorize string ids into codes (np.unique on a
    fixed-width string array — C-speed sort, no per-edge Python), then
    min-label hooking + full pointer-jumping compression until fixpoint.
    Returns (uniq, label, src_codes) — uniq[label] is each node's cluster
    id (lexicographic-min member, code order = np.unique sort order) and
    uniq[label[src_codes]] labels each EDGE by gather, for free."""
    import numpy as np

    a_obj = edge_tbl.column(src_col).to_numpy(zero_copy_only=False)
    b_obj = edge_tbl.column(dst_col).to_numpy(zero_copy_only=False)
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
    return uniq, label, ca


def _driver_cc(
    nodes: DataFrame | None,
    spark,
    edge_tbl,
    node_col: str,
    src_col: str,
    dst_col: str,
) -> DataFrame:
    """Vectorized driver-side CC over an Arrow edge table (see _numpy_cc).
    Replaces the dict union-find whose per-edge Python loop was ~2 s of
    core-count-invariant driver time at bench scale (serial floor in the
    scaling legs)."""
    import pandas as pd

    _check_edge_tbl(edge_tbl, src_col, dst_col)
    if edge_tbl.num_rows:
        uniq, label, _ = _numpy_cc(edge_tbl, src_col, dst_col)
        cols = {node_col: uniq, "cluster_id": uniq[label]}
        lbl_df = spark.createDataFrame(pd.DataFrame(cols))
    else:
        lbl_df = spark.createDataFrame([], f"{node_col} string, cluster_id string")
    if nodes is None:
        return lbl_df
    return (
        nodes.select(node_col)
        .join(lbl_df, node_col, "left")
        .select(
            node_col,
            F.coalesce(F.col("cluster_id"), F.col(node_col)).alias("cluster_id"),
        )
    )


def pair_cluster_labels(
    edges: DataFrame,
    node_col: str = "image_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    driver_threshold: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Label every EDGE and every endpoint NODE with its connected
    component, in one pass.

    Returns ``(pair_df, node_df)``:
      pair_df — every column of ``edges`` plus ``pre_cluster``, one row per
      input edge, labeled by the lexicographic-min member of its component
      (extra edge columns, e.g. a similarity, ride through, so callers need
      no join back onto the edge table);
      node_df — (node_col, pre_cluster) over the edge endpoints.

    Below ``driver_threshold`` edges, both tables come out of ONE driver
    numpy CC pass over the collected Arrow edge table: the edge→label
    assignment is a vectorized gather (uniq[label[src_codes]]), so the
    caller pays a single bounded collect and ZERO Spark joins or eager
    checkpoints. Both tables then carry a broadcast hint: they hold at most
    ``driver_threshold`` rows and already sit on the driver, so a consumer
    join ships them instead of shuffling its other side. Above the
    threshold, node labels come from the distributed propagation loop and
    pair labels from one shuffle join on ``src_col`` (both edge endpoints
    share a component, so one side suffices), with no hint. String-id
    contract identical to connected_components."""
    import pandas as pd

    spark = edges.sparkSession
    if driver_threshold is None:
        driver_threshold = DEFAULT_DRIVER_THRESHOLD
    probe = edges.limit(driver_threshold + 1).toArrow()
    if probe.num_rows > driver_threshold:
        node_df = _distributed_cc(
            None, edges, node_col, src_col, dst_col, 50
        ).withColumnRenamed("cluster_id", "pre_cluster")
        pair_df = edges.join(
            node_df.withColumnRenamed(node_col, src_col), src_col
        ).select(*edges.columns, "pre_cluster")
        return pair_df, node_df
    _check_edge_tbl(probe, src_col, dst_col)
    label_field = T.StructField("pre_cluster", T.StringType())
    pair_schema = T.StructType(edges.schema.fields + [label_field])
    node_schema = T.StructType(
        [T.StructField(node_col, T.StringType()), label_field]
    )
    if probe.num_rows == 0:
        pair_pdf, node_pdf = [], []
    else:
        uniq, label, ca = _numpy_cc(probe, src_col, dst_col)
        node_pdf = pd.DataFrame({node_col: uniq, "pre_cluster": uniq[label]})
        pair_pdf = probe.to_pandas()
        pair_pdf["pre_cluster"] = uniq[label[ca]]
    return (
        F.broadcast(spark.createDataFrame(pair_pdf, pair_schema)),
        F.broadcast(spark.createDataFrame(node_pdf, node_schema)),
    )


def _distributed_cc(
    nodes: DataFrame | None,
    edges: DataFrame,
    node_col: str,
    src_col: str,
    dst_col: str,
    max_iter: int,
) -> DataFrame:
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .distinct()
    )
    if nodes is None:
        node_src = sym.select(F.col("u").alias(node_col)).distinct()
    else:
        node_src = nodes.select(node_col)
    labels = node_src.select(
        F.col(node_col).alias("u"), F.col(node_col).alias("lbl")
    ).localCheckpoint()
    sym = sym.localCheckpoint()

    for _ in range(max_iter):
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
        # loop exhausted max_iter without changed == 0: labels may still be
        # mid-propagation (split components). Pointer jumping converges in
        # O(log diameter) iterations, so hitting 50 means a pathological
        # graph — surface it instead of returning silently-wrong clusters.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"(last delta: {changed} labels still changing)"
        )
    return labels.select(
        F.col("u").alias(node_col), F.col("lbl").alias("cluster_id")
    )
