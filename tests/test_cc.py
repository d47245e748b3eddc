"""Connected-components tests: driver and distributed paths must agree."""

import numpy as np
import pytest

from sylph_spark import cc
from sylph_spark.cc import _distributed_cc, _driver_cc, connected_components


@pytest.fixture(scope="module")
def graph(spark):
    rng = np.random.default_rng(5)
    nodes = [f"n{i:04d}" for i in range(400)]
    # chains + cliques + singletons
    edges = []
    for c in range(40):
        members = [f"n{i:04d}" for i in range(c * 8, c * 8 + 5)]
        for a, b in zip(members, members[1:]):  # chain of 5
            edges.append((a, b))
    for extra in range(30):  # random cross edges
        a = f"n{rng.integers(0, 320):04d}"
        b = f"n{rng.integers(0, 320):04d}"
        if a != b:
            edges.append((min(a, b), max(a, b)))
    ndf = spark.createDataFrame([(n,) for n in nodes], ["image_id"])
    edf = spark.createDataFrame(edges, ["id_a", "id_b"])
    return ndf, edf


def _labels(df):
    return {r["image_id"]: r["cluster_id"] for r in df.collect()}


class TestCC:
    def test_driver_equals_distributed(self, graph, spark):
        ndf, edf = graph
        a = _labels(_driver_cc(ndf, spark, edf.toArrow()))
        b = _labels(_distributed_cc(ndf, edf))
        assert a == b

    def test_endpoint_nodes_paths_agree(self, graph, spark):
        """nodes=None labels exactly the edge endpoints, identically on both
        paths."""
        _, edf = graph
        a = _labels(_driver_cc(None, spark, edf.toArrow()))
        b = _labels(_distributed_cc(None, edf))
        assert a == b
        touched = {r["id_a"] for r in edf.collect()} | {
            r["id_b"] for r in edf.collect()
        }
        assert set(a) == touched

    def test_labels_are_min_member(self, graph):
        ndf, edf = graph
        lbl = _labels(connected_components(ndf, edf))
        # group members by label; each label must equal min member
        from collections import defaultdict

        comp = defaultdict(set)
        for n, c in lbl.items():
            comp[c].add(n)
        for c, members in comp.items():
            assert c == min(members)

    def test_singletons_self_labeled(self, graph):
        ndf, edf = graph
        lbl = _labels(connected_components(ndf, edf))
        touched = {r["id_a"] for r in edf.collect()} | {
            r["id_b"] for r in edf.collect()
        }
        for n in lbl:
            if n not in touched and lbl[n] != n:
                raise AssertionError(f"singleton {n} mislabeled {lbl[n]}")

    def test_empty_edges(self, spark):
        ndf = spark.createDataFrame([("a",), ("b",)], ["image_id"])
        edf = spark.createDataFrame([], "id_a string, id_b string")
        lbl = _labels(connected_components(ndf, edf))
        assert lbl == {"a": "a", "b": "b"}


class TestPairClusterLabels:
    """The labels of the pair clustering (rescored's preliminary clusters):
    ``connected_components(None, edges)`` over edges that carry another
    column, on the driver path and, with ``DEFAULT_DRIVER_THRESHOLD`` at 0,
    on the distributed one."""

    SCHEMA = "id_a string, id_b string, adj_sim double"

    @pytest.mark.parametrize("threshold", [None, 0])
    def test_endpoint_labels(self, spark, threshold, monkeypatch):
        if threshold is not None:
            monkeypatch.setattr(cc, "DEFAULT_DRIVER_THRESHOLD", threshold)
        edges = spark.createDataFrame(
            [("a", "b", 0.9), ("b", "c", 0.7), ("x", "y", 0.8)], self.SCHEMA
        )
        node_df = connected_components(None, edges)
        assert node_df.columns == ["image_id", "cluster_id"]
        assert sorted(tuple(r) for r in node_df.collect()) == [
            ("a", "a"),
            ("b", "a"),
            ("c", "a"),
            ("x", "x"),
            ("y", "x"),
        ]
        # one join by id_a labels every edge: both endpoints share a component
        pair_df = edges.join(node_df.withColumnRenamed("image_id", "id_a"), "id_a")
        assert sorted(tuple(r) for r in pair_df.collect()) == [
            ("a", "b", 0.9, "a"),
            ("b", "c", 0.7, "a"),
            ("x", "y", 0.8, "x"),
        ]

    @pytest.mark.parametrize("threshold", [None, 0])
    def test_zero_edges(self, spark, threshold, monkeypatch):
        if threshold is not None:
            monkeypatch.setattr(cc, "DEFAULT_DRIVER_THRESHOLD", threshold)
        edges = spark.createDataFrame([], self.SCHEMA)
        node_df = connected_components(None, edges)
        assert node_df.dtypes == [("image_id", "string"), ("cluster_id", "string")]
        assert node_df.count() == 0
