"""spark-submit --py-files deployment contract (north_rule).

The package must be importable from the shipped zip alone: the driver
script is COPIED outside the repo so the repo root is not on sys.path,
and the subprocess runs with a scratch cwd — imports can only resolve
via --py-files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.package import build_zip  # noqa: E402


def _spark_submit() -> str:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    import pyspark

    return os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )


def test_package_zip_is_deterministic(tmp_path):
    a, b = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    names = build_zip(REPO, a)
    build_zip(REPO, b)
    assert open(a, "rb").read() == open(b, "rb").read()
    assert any(n.endswith("operators/index_build.py") for n in names)
    assert not any("__pycache__" in n for n in names)


def test_spark_submit_py_files_end_to_end(tmp_path):
    """Build 300 synthetic docs + query them via spark-submit with the
    package shipped ONLY as a --py-files zip."""
    zip_path = str(tmp_path / "gxdindexer_spark.zip")
    build_zip(REPO, zip_path)
    driver = str(tmp_path / "build_index.py")
    shutil.copy(os.path.join(REPO, "jobs", "build_index.py"), driver)
    idx = str(tmp_path / "idx")
    cmd = [
        _spark_submit(),
        "--master",
        "local[4]",
        "--py-files",
        zip_path,
        driver,
        "--synth-docs",
        "300",
        "--index-dir",
        idx,
        "--docs-per-shard",
        "100",
        "--query",
        "if return",
        "--topk",
        "3",
    ]
    env = {
        k: v for k, v in os.environ.items() if k != "PYTHONPATH"
    }
    out = subprocess.run(
        cmd,
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = [
        json.loads(ln)
        for ln in out.stdout.splitlines()
        if ln.startswith("{")
    ]
    build = next(ln["build"] for ln in lines if "build" in ln)
    assert build["n_docs"] == 300 and build["shards_built"] == 3
    hits = next(ln["hits"] for ln in lines if "hits" in ln)
    assert len(hits) == 3
    assert hits[0]["score"] >= hits[-1]["score"]
    assert os.path.isdir(f"{idx}/postings")
