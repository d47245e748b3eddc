"""Session layer: the fixed settings table, the scoped heavy-payload batch
sizes, and a spark-submit launch that keeps its own master."""

import json
import os
import subprocess
import sys
import textwrap

from pyspark.find_spark_home import _find_spark_home

from sylph_spark.session import heavy_payload_batches

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARROW_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"
PARQUET_ROWS = "spark.sql.parquet.columnarReaderBatchSize"


def test_settings_table_and_heavy_payload_scope(spark):
    expected = {
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "8388608",
        ARROW_ROWS: "10000",
        PARQUET_ROWS: "4096",
    }
    assert {k: spark.conf.get(k) for k in expected} == expected

    with heavy_payload_batches(spark):
        assert spark.conf.get(ARROW_ROWS) == spark.conf.get(PARQUET_ROWS) == "512"
    assert spark.conf.get(ARROW_ROWS) == "10000"
    assert spark.conf.get(PARQUET_ROWS) == "4096"

    # a conf that was unset before the scope is unset again after it
    spark.conf.unset(PARQUET_ROWS)
    try:
        with heavy_payload_batches(spark):
            assert spark.conf.get(PARQUET_ROWS) == "512"
        assert spark.conf.get(PARQUET_ROWS, None) is None
        assert spark.conf.get(ARROW_ROWS) == "10000"
    finally:
        spark.conf.set(PARQUET_ROWS, "4096")


PROBE = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, {repo!r})
    before = os.environ.get("PYTHONPATH")
    from sylph_spark.session import build_spark

    spark = build_spark("submit_probe")
    after = os.environ.get("PYTHONPATH")


    def kernels_module(batches):
        import pyarrow as pa
        from sylph_spark import kernels

        for b in batches:
            yield pa.RecordBatch.from_pydict({{"m": [kernels.__name__] * b.num_rows}})


    rows = spark.range(0, 2, 1, 2).mapInArrow(kernels_module, "m string").collect()
    print("PROBE " + json.dumps({{
        "master": spark.sparkContext.master,
        "pythonpath_unchanged": before == after,
        "modules": sorted(r.m for r in rows),
    }}))
    spark.stop()
    """
)


def test_spark_submit_keeps_master_and_environment(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(PROBE.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the same Spark a plain `python` launch of pyspark would use
    proc = subprocess.run(
        [os.path.join(_find_spark_home(), "bin", "spark-submit"),
         "--master", "local[2]", "--driver-memory", "1g", str(script)],
        capture_output=True, text=True, timeout=600, env=env, cwd=tmp_path,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    assert json.loads(lines[-1][len("PROBE "):]) == {
        "master": "local[2]",
        "pythonpath_unchanged": True,
        "modules": ["sylph_spark.kernels"] * 2,
    }
