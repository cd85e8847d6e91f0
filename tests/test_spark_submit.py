"""The north-rule deployment path, literally: ``spark-submit --py-files
engine.zip job.py`` in a subprocess whose cwd and PYTHONPATH cannot see
the repo — the zip is the only way the package can import, on the
driver and inside executor Python workers alike. (The reference runs as
a bare script, certificate_ocr.py:446-469; the cluster analog of "run
the driver" is spark-submit, SURVEY §7.) Sessions the package did not
build get the same zip at runtime through ``addPyFile``, once per
SparkContext."""

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


NATIVE_JOB = """
import json

import pandas as pd
from pyspark.sql import SparkSession

from ocr_award_extractor_spark.functions import htmltext


def report(batches):
    from ocr_award_extractor_spark.functions import htmltext

    for _ in batches:
        pass
    yield pd.DataFrame({"file": [htmltext.__file__],
                        "native": [htmltext._NATIVE is not None]})


spark = SparkSession.builder.getOrCreate()
rows = spark.range(0, 4, numPartitions=2).mapInPandas(
    report, "file string, native boolean").collect()
print(json.dumps({"driver": [htmltext.__file__, htmltext._NATIVE is not None],
                  "workers": [[r.file, r.native] for r in rows]}))
spark.stop()
"""


def test_spark_submit_workers_load_the_native_scanner(tmp_path):
    """The package shipped only as a --py-files zip, with an empty cache
    directory: the driver builds the native scanner from the C source it
    reads out of the zip, and the job's Python workers, importing
    htmltext from the zip too, report it loaded."""
    from ocr_award_extractor_spark.config import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path / "engine.zip"))
    job_py = tmp_path / "native_job.py"
    job_py.write_text(NATIVE_JOB)
    env = dict(os.environ)
    env["PYTHONPATH"] = ""
    env["HOME"] = str(tmp_path / "home")      # no cached library yet
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [_spark_submit(), "--master", "local[2]", "--py-files", zip_path, str(job_py)],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["driver"][1] is True and ".zip" in report["driver"][0], report
    assert len(report["workers"]) == 2, report
    for file, native in report["workers"]:
        assert native is True and ".zip" in file, report
    assert os.listdir(tmp_path / "home" / ".cache" / "ocr_award_extractor_spark")


def test_package_ships_once_per_context(spark):
    """Every session on one SparkContext shares its workers: shipping the
    package to a ``newSession()`` clone (what ``state_session`` makes)
    adds no second py-file include to the context."""
    from ocr_award_extractor_spark.config import ensure_package_on_workers

    ensure_package_on_workers(spark)
    includes = list(spark.sparkContext._python_includes)
    ensure_package_on_workers(spark.newSession())
    ensure_package_on_workers(spark)
    assert spark.sparkContext._python_includes == includes
