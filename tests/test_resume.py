"""Kill-and-resume integration test (north rule: 'a killed job resumes from
the last completed stage'): run the spark-submit entrypoint, kill it mid-run,
rerun, and verify the result equals an uninterrupted run — the reference's
path-equivalence pattern (integration_test.rs:246-295) applied to resume."""

import json
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workdir: str, timeout_kill: float | None = None):
    cmd = [
        sys.executable,
        os.path.join(REPO, "scripts", "run_pipeline.py"),
        "--fixture",
        "80",
        "--workdir",
        workdir,
        "--cpus",
        "4",
    ]
    proc = subprocess.Popen(
        cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
    )
    if timeout_kill is not None:
        time.sleep(timeout_kill)
        proc.send_signal(signal.SIGKILL)
        proc.wait()
        return None
    out, _ = proc.communicate(timeout=600)
    assert proc.returncode == 0, out
    return json.loads(out.strip().splitlines()[-1])


@pytest.mark.slow
class TestKillResume:
    def test_killed_job_resumes_and_matches_fresh(self, tmp_path):
        killed_dir = str(tmp_path / "killed")
        fresh_dir = str(tmp_path / "fresh")
        # kill mid-run (after sketch stage likely started/committed)
        _run(killed_dir, timeout_kill=30.0)
        # resume: must complete, reusing any committed stages
        resumed = _run(killed_dir)
        fresh = _run(fresh_dir)
        assert resumed["images_in"] == fresh["images_in"]
        assert resumed["survivors"] == fresh["survivors"]
        assert resumed["stages"] == fresh["stages"]
        assert resumed["config_hash"] == fresh["config_hash"]


def test_cli_images_routes_unknown_formats(tmp_path, spark, monkeypatch, capsys):
    """``--images`` on a parquet table holding one row in a format with no
    native codec: the run completes on the native rows instead of failing
    in the sketch stage. The CLI runs in this process on the shared test
    session: a fresh driver JVM's start and first-job warm-up would be
    most of the cost (the 14-row corpus is negligible), and fresh-process
    CLI runs are covered by ``TestKillResume``."""
    import runpy

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sylph_spark import fixtures, session

    images, _ = fixtures.generate_corpus(n_base=8, seed=42)
    jpeg = {
        "image_id": "img_jpeg",
        "bytes": b"\xff\xd8\xff",
        "w": 8,
        "h": 8,
        "fmt": "jpeg",
        "caption": "a caption",
        "phash": 0,
    }
    rows = {col: images[col].tolist() + [jpeg[col]] for col in jpeg}
    schema = pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    )
    src = tmp_path / "images"
    src.mkdir()
    pq.write_table(pa.table(rows, schema=schema), str(src / "part-0.parquet"))
    monkeypatch.setattr(session, "build_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(
        sys,
        "argv",
        ["run_pipeline.py", "--images", str(src), "--workdir", str(tmp_path / "run"), "--cpus", "4"],
    )
    # exits 0: main() returns without raising (a usage error is SystemExit)
    runpy.run_path(os.path.join(REPO, "scripts", "run_pipeline.py"), run_name="__main__")
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["images_in"] == len(images)
    assert out["images_routed_out"] == 1
