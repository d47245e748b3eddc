"""Recall audit at bench scale: run the pipeline on the distributed fixture
corpus and measure dup-pair recall / false-merge rate against the generator's
implicit ground truth (every exact/reencode/near_* row belongs to its base's
cluster; negatives must not).

    python scripts/recall_at_scale.py [path] [n_base] [cpus]

``path`` (default ``.bench_cache/images_big.parquet``) is written first as
the ``fixtures_spark`` corpus of ``n_base`` bases (seed 42) when it does not
exist; ``cpus`` defaults to the host's core count."""
import json, os, sys
sys.path.insert(0, ".")
from sylph_spark.session import build_spark
from sylph_spark.config import SketchConfig
from sylph_spark.pipeline import run_volatile
from sylph_spark.fixtures_spark import _plan, write_corpus

def main(path=".bench_cache/images_big.parquet", n_base=300_000, cpus=os.cpu_count()):
    n_base, cpus = int(n_base), int(cpus)
    spark = build_spark("recall", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    if not os.path.exists(path):
        write_corpus(spark, n_base, path, seed=42)
    images = spark.read.parquet(path)
    out = run_volatile(spark, images, SketchConfig())
    labels = {r["image_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    # survivor ground truth at scale: one representative per pipeline
    # cluster, drawn from that cluster's members
    survivors = {r["image_id"]: r["cluster_id"] for r in out["survivors"].collect()}
    assert len(survivors) == len(set(labels.values())), "1 survivor / cluster"
    assert all(labels[s] == c for s, c in survivors.items()), "member of own cluster"
    plan = _plan(n_base)
    hits = misses = neg_bad = neg_total = 0
    by_kind = {}
    for row_idx, (kind, base_idx) in enumerate(plan):
        if kind == "base":
            continue
        rid, bid = f"img{row_idx:010d}", f"img{base_idx:010d}"
        # an id missing from the labels is a miss (and never a merge)
        same = rid in labels and bid in labels and labels[rid] == labels[bid]
        if kind == "negative":
            neg_total += 1
            neg_bad += int(same)
        else:
            d = by_kind.setdefault(kind, [0, 0])
            d[same] += 1
            if same: hits += 1
            else: misses += 1
    rec = hits / max(hits + misses, 1)
    print(json.dumps({
        "recall": rec, "hits": hits, "misses": misses,
        "neg_merged": neg_bad, "neg_total": neg_total,
        "by_kind": {k: {"miss": v[0], "hit": v[1]} for k, v in by_kind.items()},
    }))
    spark.stop()

if __name__ == "__main__":
    main(*sys.argv[1:4])
