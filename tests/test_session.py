"""Session layer: the fixed settings table (no restated Spark default), the
scoped heavy-payload batch sizes, a spark-submit launch that keeps its own
master, and the worker daemon's per-task fixed cost (zip directories
re-read only on change, a frozen preloaded heap)."""

import json
import os
import re
import subprocess
import sys
import textwrap

import pytest
from pyspark.find_spark_home import _find_spark_home

from sylph_spark.session import SETTINGS, heavy_payload_batches

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARROW_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"
PARQUET_ROWS = "spark.sql.parquet.columnarReaderBatchSize"


def test_settings_table_and_heavy_payload_scope(spark):
    expected = {
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    }
    assert {k: spark.conf.get(k) for k in expected} == expected
    # left to Spark's defaults, not set by the table: the values in effect
    defaults = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        ARROW_ROWS: "10000",
        PARQUET_ROWS: "4096",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "128",
    }
    assert {k: spark.conf.get(k) for k in defaults} == defaults

    with heavy_payload_batches(spark):
        assert spark.conf.get(ARROW_ROWS) == spark.conf.get(PARQUET_ROWS) == "512"
    assert spark.conf.get(ARROW_ROWS) == "10000"
    assert spark.conf.get(PARQUET_ROWS) == "4096"
    # confs that were unset before the scope are unset again after it
    assert spark.conf.get(ARROW_ROWS, None) is None
    assert spark.conf.get(PARQUET_ROWS, None) is None

    # a conf that was set before the scope gets its value back
    spark.conf.set(PARQUET_ROWS, "1024")
    try:
        with heavy_payload_batches(spark):
            assert spark.conf.get(PARQUET_ROWS) == "512"
        assert spark.conf.get(PARQUET_ROWS) == "1024"
    finally:
        spark.conf.unset(PARQUET_ROWS)


def _conf_value(v: str):
    """A conf string in one form: sizes as bytes, words lowercased."""
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)i?b?", v.strip().lower())
    if m is None:
        return v.strip().lower()
    return int(m.group(1)) << (10 * " kmgt".index(m.group(2) or " "))


def test_settings_restate_no_spark_default(spark):
    """Every ``spark.sql.*`` entry of ``SETTINGS`` changes what Spark would
    do without it: unset on the live session, Spark's default differs from
    the table's value. (``session.timeZone`` is left out: its default is
    the host's zone.)"""
    keys = [k for k in SETTINGS if k.startswith("spark.sql.") and k != "spark.sql.session.timeZone"]
    assert keys
    for k in keys:
        value = spark.conf.get(k)
        assert _conf_value(value) == _conf_value(SETTINGS[k]), k
        spark.conf.unset(k)
        try:
            default = spark.conf.get(k)
        finally:
            spark.conf.set(k, value)
        assert _conf_value(default) != _conf_value(value), (k, default)


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


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="zip directories are lazy on 3.12+")
def test_worker_invalidate_caches_rereads_no_unchanged_zip(spark):
    """A task's ``importlib.invalidate_caches()`` (pyspark runs one per task)
    re-reads none of the unchanged zips on the worker's path, and the worker
    inherits the daemon's frozen heap."""

    def zip_rereads(batches):
        import gc
        import importlib
        import zipimport

        import pyarrow as pa

        cache = zipimport._zip_directory_cache
        zips = [i for i in sys.path_importer_cache.values() if isinstance(i, zipimport.zipimporter)]
        before = {i.archive: cache.get(i.archive) for i in zips}
        importlib.invalidate_caches()
        reread = sorted(a for a, files in before.items() if cache.get(a) is not files)
        for b in batches:
            n = b.num_rows
            yield pa.RecordBatch.from_pydict(
                {"zips": [len(zips)] * n, "reread": [json.dumps(reread)] * n,
                 "frozen": [gc.get_freeze_count()] * n}
            )

    rows = spark.range(0, 4, 1, 4).mapInArrow(
        zip_rereads, "zips long, reread string, frozen long"
    ).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.zips > 0  # pyspark.zip and py4j are always on the path
        assert json.loads(r.reread) == []
        assert r.frozen > 0


ZIP_PROBE = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport
    sys.path.insert(0, {repo!r})
    import sylph_spark.daemon  # noqa: F401

    changed, unchanged = sys.argv[1:3]


    def write(path, module, text, ns):
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(module + ".py", text)
        os.utime(path, ns=(ns, ns))


    write(changed, "probe_changed", "VALUE = 1\\n", 10**18)
    write(unchanged, "probe_unchanged", "VALUE = 1\\n", 10**18)
    sys.path[:0] = [changed, unchanged]
    import probe_changed, probe_unchanged  # noqa: E401

    importlib.invalidate_caches()  # the first call stamps both importers
    kept = zipimport._zip_directory_cache[unchanged]
    write(changed, "probe_changed", "VALUE = 'rewritten'\\n", 2 * 10**18)
    importlib.invalidate_caches()
    del sys.modules["probe_changed"]
    import probe_changed

    print("PROBE " + json.dumps({{
        "changed_value": probe_changed.VALUE,
        "unchanged_kept": zipimport._zip_directory_cache[unchanged] is kept,
    }}))
    """
)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="nothing is patched on 3.12+")
def test_daemon_rereads_only_changed_zip(tmp_path):
    """With ``sylph_spark.daemon`` imported, a zip on ``sys.path`` rewritten
    with new module text is re-read (the new text imports) while an
    unchanged zip keeps the directory it read before."""
    script = tmp_path / "probe.py"
    script.write_text(ZIP_PROBE.format(repo=REPO))
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "a.zip"), str(tmp_path / "b.zip")],
        capture_output=True, text=True, timeout=300, cwd=tmp_path,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    assert json.loads(lines[-1][len("PROBE "):]) == {
        "changed_value": "rewritten",
        "unchanged_kept": True,
    }
