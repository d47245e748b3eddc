"""Plan audit: dump .explain('formatted') for every pipeline stage and the
key entry queries to PLANS.md, and grep for the properties we require —
pushed filters, pruned schemas, broadcast/codegen spans, no cartesian
products. Run after plan-affecting changes.

Walks the pipeline's own stage graph (``pipeline.GRAPH``), so every stage
is covered: each one is explained, then checkpointed, so the next stage's
plan starts from materialised inputs. The CC stage is iterative (its plan
depends on convergence), so the audit captures its post-CC label join.
"""

from __future__ import annotations

import contextlib
import io
import sys
import threading

sys.path.insert(0, ".")

from sylph_spark import fixtures
from sylph_spark.config import SketchConfig
from sylph_spark.pipeline import STAGES, DedupStages, Volatile, images_df_from_pandas
from sylph_spark.session import build_spark


_STDOUT = threading.Lock()


def explain_str(df) -> str:
    # run_graph builds stages on concurrent threads, and redirect_stdout
    # swaps the process-wide sys.stdout: unserialised, two overlapping
    # redirects can leave it pointing at a stage's buffer
    buf = io.StringIO()
    with _STDOUT, contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class Explain(Volatile):
    """Volatile materialiser that records each stage's formatted plan
    before checkpointing it."""

    def __init__(self):
        self.plans: dict[str, str] = {}

    def commit(self, node, build):
        if node.volatile == "value":
            return build()
        df = build()
        self.plans[node.name] = explain_str(df)
        return df.localCheckpoint()


def main() -> None:
    spark = build_spark("plans", master="local[8]", shuffle_partitions=8)
    images, _ = fixtures.generate_corpus(60, 42)
    explain = Explain()
    DedupStages(spark, SketchConfig()).run_graph(
        images_df_from_pandas(spark, images), explain
    )
    sections = {
        f"stage{i}_{name}": explain.plans[name] for i, name in enumerate(STAGES, 1)
    }

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
