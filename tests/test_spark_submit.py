"""The north-rule deployment path, literally: ``spark-submit --py-files
engine.zip job.py`` in a subprocess whose cwd and PYTHONPATH cannot see
the repo — the zip is the only way the package can import, on the
driver and inside executor Python workers alike. (The reference runs as
a bare script, certificate_ocr.py:446-469; the cluster analog of "run
the driver" is spark-submit, SURVEY §7.)"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    from ocr_award_extractor_spark.config import find_spark_submit

    found = find_spark_submit()
    if found is None:
        pytest.skip("no spark-submit available")
    return found


def test_spark_submit_pyfiles_extract_job(tmp_path):
    from ocr_award_extractor_spark.config import build_pyfiles_zip
    from ocr_award_extractor_spark.sources.tables import ensure_fixture

    pages = ensure_fixture(n_docs=40)          # input parquet, built here
    zip_path = build_pyfiles_zip(str(tmp_path / "engine.zip"))
    job_py = str(tmp_path / "job.py")          # the script a user deploys
    shutil.copyfile(os.path.join(REPO, "ocr_award_extractor_spark", "cli.py"), job_py)

    env = dict(os.environ)
    env["PYTHONPATH"] = ""                     # the zip must do ALL the shipping
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [_spark_submit(), "--master", "local[2]", "--py-files", zip_path, job_py,
         "--input", pages, "--output", str(tmp_path / "out"),
         "--run-id", "submit-test", "--n-splits", "2"],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["run_id"] == "submit-test"
    assert summary["committed_rows"] == 40     # error docs ride the error-row contract
    assert summary["checksum_anomalies"] == 0
    assert os.path.isdir(str(tmp_path / "out" / "_lineage"))  # lineage committed
