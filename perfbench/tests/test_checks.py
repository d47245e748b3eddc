"""Ground-truth checker: a dropped id is a miss, survivors are checked."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402

TRUTH = {
    "variants": [["v1", "b1"], ["v2", "b1"], ["v3", "b2"]],
    "negatives": [["n1", "b1"]],
}


def test_all_recalled():
    labels = {"b1": "b1", "v1": "b1", "v2": "b1", "b2": "b2", "v3": "b2", "n1": "n1"}
    q = checks.dedup_quality(labels, TRUTH)
    assert q["dup_pair_recall"] == 1.0
    assert q["false_merge_rate"] == 0.0


def test_dropped_variant_is_a_miss():
    labels = {"b1": "b1", "v1": "b1", "b2": "b2", "v3": "b2", "n1": "n1"}
    q = checks.dedup_quality(labels, TRUTH)
    assert q["variants_missed"] == 1
    assert q["dup_pair_recall"] == 2 / 3


def test_dropped_variant_and_base_is_not_a_hit():
    # both ids missing: a labels.get(a) == labels.get(b) check would call
    # this None == None a hit
    labels = {"b1": "b1", "v1": "b1", "v2": "b1", "n1": "n1"}
    q = checks.dedup_quality(labels, TRUTH)
    assert q["variants_missed"] == 1
    assert q["dup_pair_recall"] == 2 / 3


def test_recall_is_unrounded():
    variants = [[f"v{i}", f"b{i}"] for i in range(3001)]
    labels = {f"b{i}": f"b{i}" for i in range(3001)}
    labels.update({f"v{i}": f"b{i}" for i in range(3000)})
    q = checks.dedup_quality(labels, {"variants": variants, "negatives": []})
    assert q["dup_pair_recall"] == 3000 / 3001


def test_false_merge_counted():
    labels = {"b1": "b1", "v1": "b1", "v2": "b1", "b2": "b2", "v3": "b2", "n1": "b1"}
    q = checks.dedup_quality(labels, TRUTH)
    assert q["false_merge_rate"] == 1.0
    assert checks.dedup_problems(q)


def test_survivor_invariants():
    labels = {"a": "a", "b": "a", "c": "c"}
    ids = {"a", "b", "c"}
    assert checks.survivor_problems(labels, [("b", "a"), ("c", "c")], ids) == []
    # a cluster without a survivor
    assert checks.survivor_problems(labels, [("b", "a")], ids)
    # two survivors for one cluster
    assert checks.survivor_problems(labels, [("a", "a"), ("b", "a"), ("c", "c")], ids)
    # survivor not a member of the cluster it represents
    assert checks.survivor_problems(labels, [("c", "a"), ("c", "c")], ids)
    # an input id missing from the clusters
    assert checks.survivor_problems(labels, [("b", "a"), ("c", "c")], ids | {"d"})


def test_singletons_must_stay_alone():
    truth = {"variants": [], "negatives": [], "singletons": ["a", "b", "c", "d"]}
    q = checks.dedup_quality({"a": "a", "b": "b", "c": "c", "d": "d"}, truth)
    assert q["match_frac"] == 1.0 and q["negatives_merged"] == 0
    q = checks.dedup_quality({"a": "a", "b": "a", "c": "c"}, truth)
    # a and b merged; d missing from the clusters
    assert q["negatives_merged"] == 3
    assert q["match_frac"] == 1 / 4
    assert checks.dedup_problems(q)


def test_match_frac_counts_every_truth_row():
    labels = {"b1": "b1", "v1": "b1", "b2": "b2", "v3": "b2", "n1": "n1"}
    q = checks.dedup_quality(labels, TRUTH)
    # v2 dropped: 2 of 3 variants, 1 of 1 negatives
    assert q["match_frac"] == 3 / 4
