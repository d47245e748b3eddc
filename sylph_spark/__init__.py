"""sylph_spark — a from-scratch PySpark-native near-duplicate detection and
clustering engine with the query/data-processing capabilities of
bluenote-1577/sylph, re-expressed Spark-first.

Layout:
- ``kernels``    pure-numpy math (hashing, FracMinHash, λ estimators, CI)
- ``codecs``     self-contained image codecs (ppm/bmp/qpng/qjpg) + PSNR/phash
- ``fixtures``   deterministic image+caption corpus generator (seed 42);
                 ``fixtures_spark`` is its distributed counterpart
- ``oracle``     single-node numpy reference pipeline (ground truth)
- ``config``     SketchConfig — shingle/signature/band parameters
- ``udfs``       Arrow-vectorized pandas UDF wrappers of the kernels
- ``pipeline``   the Spark stages: sketch → counts → LSH → score → verify →
                 cluster → survivors; ``read_images`` loads, checks and
                 format-routes the input table
- ``cc``         connected components (driver-side or distributed)
- ``session``    SparkSession factory (one fixed table of settings);
                 ``daemon`` preloads imports into the Python worker daemon
                 and cuts the fixed cost of each Python task
- ``io.catalog`` checkpointed table catalog (Parquet + manifest/snapshot
                 metadata)
- ``operators``  the DataFrame operators entry queries call (dedup-gated
                 counts, image features, running-state thinning)
"""

__version__ = "0.1.0"
