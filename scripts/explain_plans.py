"""Plan audit: dump .explain('formatted') for every pipeline stage and the
key entry queries to PLANS.md, and grep for the properties we require —
pushed filters, pruned schemas, broadcast/codegen spans, no cartesian
products. Run after plan-affecting changes.

Covers the full 10-stage graph (sketches → shingle_counts → candidates →
pair_shingles → scored → gated → rescored → verified → clusters →
survivors). The CC stage is iterative (plan depends on convergence), so the
audit captures its first-iteration edge/label plan via the stage inputs.
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

from sylph_spark import fixtures
from sylph_spark.config import SketchConfig
from sylph_spark.pipeline import DedupPipeline, images_df_from_pandas
from sylph_spark.session import build_spark


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = build_spark("plans", master="local[8]", shuffle_partitions=8)
    images, _ = fixtures.generate_corpus(60, 42)
    cfg = SketchConfig()
    p = DedupPipeline.__new__(DedupPipeline)
    p.spark, p.cfg = spark, cfg
    idf = images_df_from_pandas(spark, images)

    sections = {}
    sk = p._stage_sketches(idf)
    sections["stage1_sketches"] = explain_str(sk)
    sk = sk.localCheckpoint()
    cnt = p._stage_shingle_counts(sk)
    sections["stage2_shingle_counts"] = explain_str(cnt)
    cnt = cnt.localCheckpoint()
    n_items = sk.count()
    n_vocab = cnt.count()
    cand = p._stage_candidates(sk, cnt, n_items, n_vocab)
    sections["stage3_candidates"] = explain_str(cand)
    cand = cand.localCheckpoint()
    pairsh = p._stage_pair_shingles(cand, sk, cnt)
    sections["stage4_pair_shingles"] = explain_str(pairsh)
    pairsh = pairsh.localCheckpoint()
    scored = p._stage_scored(pairsh)
    sections["stage5_scored"] = explain_str(scored)
    scored = scored.localCheckpoint()
    gated = p._stage_gated(scored, sk)
    sections["stage6_gated"] = explain_str(gated)
    gated = gated.localCheckpoint()
    rescored = p._stage_rescored(scored, pairsh, sk, n_items)
    sections["stage7_rescored"] = explain_str(rescored)
    rescored = rescored.localCheckpoint()
    verified = p._stage_verified(rescored, gated)
    sections["stage8_verified"] = explain_str(verified)
    verified = verified.localCheckpoint()
    clusters = p._stage_clusters(sk, gated)
    sections["stage9_clusters(post-CC label join)"] = explain_str(clusters)
    clusters = clusters.localCheckpoint()
    sections["stage10_survivors"] = explain_str(
        p._stage_survivors(clusters, verified)
    )

    import __spark_entry__ as E

    for q in ["j1_containment", "e1_ratio_lambda", "dd_ngram_jaccard", "emb_knn"]:
        sections[f"query_{q}"] = explain_str(
            E.queries()[q](spark, "/root/testdata/sf0.001")
        )

    with open("PLANS.md", "w") as f:
        f.write("# Physical plan audit (generated by scripts/explain_plans.py)\n")
        for name, text in sections.items():
            f.write(f"\n## {name}\n\n```\n{text}\n```\n")

    issues = []
    for name, text in sections.items():
        if "CartesianProduct" in text:
            issues.append(f"{name}: CartesianProduct!")
    all_text = "\n".join(sections.values())
    # AQE plans print isFinalPlan=false pre-execution, so codegen ids only
    # appear on non-adaptive subtrees here; runtime plans fuse more.
    print(
        "codegen spans:",
        all_text.count("WholeStageCodegen") + all_text.count("codegen id"),
    )
    print("BroadcastHashJoin:", all_text.count("BroadcastHashJoin"))
    print("SortMergeJoin:", all_text.count("SortMergeJoin"))
    print("CartesianProduct:", all_text.count("CartesianProduct"))
    print("PLANS.md written.", "ISSUES:" if issues else "no issues")
    for i in issues:
        print(" -", i)
    spark.stop()


if __name__ == "__main__":
    main()
