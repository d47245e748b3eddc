"""Output checks: dedup ground truth, survivor invariants, DuckDB parity."""

from __future__ import annotations

import importlib.util
import os


def dedup_quality(labels: dict[str, str], truth: dict) -> dict:
    """Recall, false merges and the share of ground-truth rows placed
    correctly, from cluster ``labels`` (image_id → cluster_id).

    A variant is recalled only when it AND its base are both labelled and
    share a label: an id missing from the clusters is a miss, never a
    ``None == None`` hit. A negative counts as a false merge only when both
    ids are labelled alike; a singleton (a corpus of distinct images) only
    when its cluster has other members. Values are unrounded."""
    variants, negatives = truth["variants"], truth["negatives"]
    singletons = truth.get("singletons", [])
    hit = sum(
        1
        for vid, bid in variants
        if vid in labels and bid in labels and labels[vid] == labels[bid]
    )
    merged = sum(
        1
        for nid, bid in negatives
        if nid in labels and bid in labels and labels[nid] == labels[bid]
    )
    sizes: dict[str, int] = {}
    for c in labels.values():
        sizes[c] = sizes.get(c, 0) + 1
    alone = sum(1 for i in singletons if i in labels and sizes[labels[i]] == 1)
    checked = len(variants) + len(negatives) + len(singletons)
    return {
        "dup_pair_recall": hit / len(variants) if variants else 1.0,
        "false_merge_rate": (merged + len(singletons) - alone)
        / max(len(negatives) + len(singletons), 1),
        "match_frac": (hit + len(negatives) - merged + alone) / checked,
        "variants": len(variants),
        "variants_missed": len(variants) - hit,
        "negatives": len(negatives) + len(singletons),
        "negatives_merged": merged + len(singletons) - alone,
    }


def survivor_problems(
    labels: dict[str, str], survivors: list[tuple[str, str]], input_ids: set[str]
) -> list[str]:
    """Invariants of a pipeline pass: every input id is labelled exactly
    once, each cluster has exactly one survivor, and each survivor is a
    member of the cluster it represents."""
    problems = []
    missing = input_ids - labels.keys()
    if missing:
        problems.append(f"{len(missing)} input ids missing from clusters")
    extra = labels.keys() - input_ids
    if extra:
        problems.append(f"{len(extra)} cluster ids not in the input")
    per_cluster: dict[str, int] = {}
    for image_id, cluster_id in survivors:
        per_cluster[cluster_id] = per_cluster.get(cluster_id, 0) + 1
        if labels.get(image_id) != cluster_id:
            problems.append(f"survivor {image_id} is not a member of {cluster_id}")
    clusters = set(labels.values())
    if set(per_cluster) != clusters:
        problems.append(
            f"{len(clusters - set(per_cluster))} clusters without a survivor"
        )
    dup = [c for c, n in per_cluster.items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} clusters with more than one survivor")
    return problems[:5]


def dedup_problems(quality: dict, min_recall: float = 0.99) -> list[str]:
    problems = []
    if quality["dup_pair_recall"] < min_recall:
        problems.append(f"recall {quality['dup_pair_recall']} < {min_recall}")
    if quality["negatives_merged"]:
        problems.append(f"{quality['negatives_merged']} negatives merged")
    return problems


def load_canon():
    """``canon`` from scripts/check_entry.py: the project's own
    order-insensitive, 6-dp canonical form for comparing query results."""
    path = os.path.join(os.getcwd(), "scripts", "check_entry.py")
    spec = importlib.util.spec_from_file_location("_check_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def frames_match(canon, got, want) -> bool:
    """The comparison scripts/check_entry.py makes: same columns, same row
    count, values equal within 1e-6 after canonicalisation."""
    import pandas as pd

    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        pd.testing.assert_frame_equal(
            a, b, check_dtype=False, check_exact=False, atol=1e-6, rtol=1e-6
        )
    except AssertionError:
        return False
    return True
