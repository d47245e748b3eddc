"""spark-submit entrypoint for the dedup pipeline (north rule: runs via
``spark-submit --py-files sylph_spark.zip scripts/run_pipeline.py ...``).

Stages checkpoint to the workdir catalog; a killed job resumes at the first
stage without a committed manifest (same config hash). Examples:

  # package the library (from the repo root)
  zip -qr /tmp/sylph_spark.zip sylph_spark

  # full run on an images parquet/iceberg table
  spark-submit --py-files /tmp/sylph_spark.zip scripts/run_pipeline.py \
      --images /data/images_parquet --workdir /data/dedup_run --cpus 32

  # demo run on the built-in deterministic fixture corpus
  spark-submit --py-files /tmp/sylph_spark.zip scripts/run_pipeline.py \
      --fixture 500 --workdir /tmp/dedup_demo
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--images",
        help="images table: parquet path, or catalog table name (no '/'); "
        "rows in formats with no native codec are left out (counted as images_routed_out)",
    )
    ap.add_argument("--fixture", type=int, default=0, help="generate N-base fixture corpus instead")
    ap.add_argument("--workdir", required=True, help="checkpoint/catalog directory")
    ap.add_argument("--cpus", type=int, default=0, help="local[N] cores (0 = spark default)")
    ap.add_argument("--config", default=None, help="JSON SketchConfig overrides")
    ap.add_argument("--force", action="store_true", help="ignore checkpoints, rerun all stages")
    args = ap.parse_args()

    from sylph_spark.config import SketchConfig
    from sylph_spark.pipeline import (
        STAGES,
        DedupPipeline,
        images_df_from_pandas,
        read_images,
    )
    from sylph_spark.session import build_spark

    cfg = SketchConfig(**json.loads(args.config)) if args.config else SketchConfig()
    master = f"local[{args.cpus}]" if args.cpus else None
    spark = build_spark("sylph_dedup", master=master)

    routed_out = 0
    if args.fixture:
        from sylph_spark import fixtures

        pdf, _ = fixtures.generate_corpus(n_base=args.fixture, seed=cfg.seed)
        images = images_df_from_pandas(spark, pdf)
    elif args.images:
        images = read_images(spark, args.images)
        routed_out = read_images(spark, args.images, native_only=False).count() - images.count()
    else:
        ap.error("one of --images / --fixture is required")

    t0 = time.time()
    pipe = DedupPipeline(spark, cfg, args.workdir)
    out = pipe.run(images, force=args.force)
    n_in = out["sketches"].count()
    n_out = out["survivors"].count()
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "images_in": n_in,
                "images_routed_out": routed_out,
                "survivors": n_out,
                "removed": n_in - n_out,
                "wall_sec": round(dt, 2),
                "images_per_sec": round(n_in / dt, 2),
                "config_hash": cfg.config_hash(),
                "stages": {m.stage: m.rows for m in map(pipe.catalog.manifest, STAGES) if m},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
