"""Isolation benchmarks for the optimization round (guide §1.4): times each
declared bench query through the noop sink with per-phase breakdown
(register / plan / execute) and times the dedup pipeline per stage at
local[$SPARK_GRAFT_CPUS]. Physical plans: scripts/explain_plans.py.

NOT part of the driver contract — bench.py is the frozen headline bench.

Usage:
    python bench_extra.py queries   [names...]   # per-query phases
    python bench_extra.py pipeline               # dedup stage times
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _build():
    from sylph_spark.session import build_spark

    return build_spark(
        "sylph_bench_extra", master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )


def run_queries(names=None):
    import __spark_entry__ as E

    spark = _build()
    qs = E.queries()
    names = names or BENCH_QUERIES
    # warm-up identical to bench.py
    E._register(spark, SF_DIR)
    spark.sql("SELECT COUNT(*) FROM lineitem").collect()
    spark.sql(
        "SELECT event_type, COUNT(*) c FROM events GROUP BY event_type"
    ).collect()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        reps = []
        for _ in range(3):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            reps.append((round(t1 - t0, 3), round(t2 - t1, 3)))
        out[name] = {"build_exec": reps}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    spark.stop()


def run_pipeline():
    from bench import _fixture_parquet, run_dedup

    spark = _build()
    n_base = int(os.environ.get("SYLPH_BENCH_IMAGES", "32000"))
    path = _fixture_parquet(n_base, spark=spark)
    for i in range(3):
        st = {}
        dt, n = run_dedup(spark, path, stage_times=st)
        print(json.dumps({"run": i, "sec": round(dt, 3), "stages": st}), flush=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        run_queries(sys.argv[2:] or None)
    elif mode == "pipeline":
        run_pipeline()
