"""Resume test (SURVEY.md §5.2.5): kill after k batch commits, restart,
assert no duplicate and no missing urls, checksums consistent."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_award_extractor_spark.plans.lineage import (
    read_committed, run_resumable_extraction, verify_lineage,
)
from ocr_award_extractor_spark.sources.tables import load_fixture

N_DOCS = 200


def test_kill_and_resume(spark, tmp_path):
    out = str(tmp_path / "run")
    docs = load_fixture(spark, n_docs=N_DOCS)

    # first run "dies" after 2 of 4 batch commits
    r1 = run_resumable_extraction(spark, docs, out, "run-1",
                                  n_splits=8, n_batches=4, max_batches=2)
    assert r1["batches_committed"] == 2
    partial = read_committed(spark, out)
    n_partial = partial.count()
    assert 0 < n_partial < N_DOCS

    # restart commits only the remaining batches: exactly the documents
    # of the splits the first run did not commit
    r2 = run_resumable_extraction(spark, docs, out, "run-2",
                                  n_splits=8, n_batches=4)
    assert r2["splits_previously_committed"] > 0
    assert r2["rows_written"] == N_DOCS - n_partial

    final = read_committed(spark, out)
    urls = [r["url"] for r in final.select("url").collect()]
    assert len(urls) == N_DOCS
    assert len(set(urls)) == N_DOCS          # no duplicates, no gaps

    # checksum audit finds nothing wrong
    assert verify_lineage(spark, out).count() == 0

    # extracted text matches ground truth end-to-end through the write path
    truth = docs.select("url", "text")
    bad = (
        final.where(F.col("status") == "success")
        .join(truth, "url")
        .where(F.col("ocr_text") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_rerun_after_complete_is_noop(spark, tmp_path):
    out = str(tmp_path / "run2")
    docs = load_fixture(spark, n_docs=50)
    run_resumable_extraction(spark, docs, out, "a", n_splits=4, n_batches=2)
    r = run_resumable_extraction(spark, docs, out, "b", n_splits=4, n_batches=2)
    assert r["batches_committed"] == 0
    assert r["splits_previously_committed"] == 4
    assert read_committed(spark, out).count() == 50


def test_corrupt_lineage_fails_resume_loudly(spark, tmp_path):
    """A corrupt lineage file must stop the resume before any batch runs
    — not read as "nothing committed", which would silently recompute
    every split and hide the damage — and must leave the committed data
    untouched."""
    import glob
    import os

    import pytest

    out = str(tmp_path / "corrupt")
    docs = load_fixture(spark, n_docs=60)
    run_resumable_extraction(spark, docs, out, "first", n_splits=4,
                             n_batches=2, max_batches=1)
    lineage = glob.glob(os.path.join(out, "_lineage", "*.parquet"))
    assert len(lineage) == 1
    with open(lineage[0], "wb") as fh:
        fh.write(b"not a parquet file")

    def data_state():
        paths = [os.path.join(r, f)
                 for r, _, fs in os.walk(os.path.join(out, "data")) for f in fs]
        return sorted((p, os.stat(p).st_size, os.stat(p).st_mtime_ns)
                      for p in paths)

    before = data_state()
    assert before
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_resumable_extraction(spark, docs, out, "resume", n_splits=4,
                                 n_batches=2)
    assert data_state() == before


def test_batch_readback_reads_only_its_own_splits(spark, tmp_path):
    """A batch's checksum read-back must not touch files in other splits'
    directories: a killed run leaves stray files there, and a concurrent
    batch's overwrite deletes them at any moment. Here a pending split
    outside the one batch that runs holds an unreadable stray file that
    sorts before every file the batch writes (split 0 is left empty)."""
    import os

    from ocr_award_extractor_spark.plans.lineage import with_split_id

    out = str(tmp_path / "run")
    docs = (with_split_id(load_fixture(spark, n_docs=N_DOCS), 12)
            .where(F.col("split_id") != 0).drop("split_id"))
    stray = os.path.join(out, "data", "split_id=1")
    os.makedirs(stray)
    with open(os.path.join(stray, "part-00000-stray.parquet"), "wb") as fh:
        fh.write(b"left behind by a killed run")
    # batches [0, 2, 4, 6, 8, 10] and [1, 3, ...]; only the first runs
    r = run_resumable_extraction(spark, docs, out, "run-1", n_splits=12,
                                 n_batches=2, max_batches=1)
    assert r["batches_committed"] == 1
    want = docs.where(F.pmod(F.xxhash64("url"), F.lit(12)) % 2 == 0).count()
    assert 0 < r["rows_written"] == want


def test_verify_lineage_detects_corruption(spark, tmp_path):
    """The checksum audit must actually DETECT damage (VERDICT r2 #7):
    corrupt one committed split by dropping a row (row_count mismatch),
    another by altering one document's ocr_text with the row count intact
    (checksum-only mismatch), and DELETE a third outright (the
    NULL-comparison trap: a plain != audit passes a dataset missing a
    whole split) — the auditor flags exactly those three splits."""
    import os
    import shutil

    out = str(tmp_path / "run3")
    docs = load_fixture(spark, n_docs=80)
    run_resumable_extraction(spark, docs, out, "audit", n_splits=4, n_batches=2)
    assert verify_lineage(spark, out).count() == 0

    def rewrite_split(split_id, mutate):
        path = os.path.join(out, "data", f"split_id={split_id}")
        rows = spark.read.parquet(path).collect()
        schema = spark.read.parquet(path).schema
        spark.createDataFrame(mutate([r.asDict() for r in rows]), schema) \
            .coalesce(1).write.mode("overwrite").parquet(path)

    # split 1: silently lose one row (valid parquet, wrong row_count)
    rewrite_split(1, lambda rows: rows[1:])

    # split 2: same row count, one ocr_text altered (checksum-only damage)
    def tamper(rows):
        rows[0]["ocr_text"] = (rows[0]["ocr_text"] or "") + " TAMPERED"
        return rows

    rewrite_split(2, tamper)

    # split 3: the whole committed split's data vanishes
    shutil.rmtree(os.path.join(out, "data", "split_id=3"))

    bad = {r["split_id"]: r for r in verify_lineage(spark, out).collect()}
    assert set(bad) == {1, 2, 3}
    assert bad[1]["row_count"] != bad[1]["actual_rows"]
    assert bad[2]["row_count"] == bad[2]["actual_rows"]      # count intact
    assert bad[2]["checksum"] != bad[2]["actual_checksum"]   # content caught
    assert bad[3]["actual_rows"] is None                     # gone entirely


def test_real_kill9_and_resume(spark, tmp_path):
    """Hard-kill drive (SURVEY.md §5.2.5 for real): SIGKILL the whole
    process group of a running job after its first batch commit, then
    resume with a fresh session — full output, no duplicates, checksums
    clean, and at least one split genuinely survives from the killed run."""
    import os
    import signal
    import subprocess
    import sys
    import time

    out = str(tmp_path / "out")
    child_src = tmp_path / "child.py"
    child_src.write_text(f'''
import sys, time
sys.path.insert(0, {repr(os.getcwd())})
from pyspark.sql import functions as F
from ocr_award_extractor_spark.config import get_spark
from ocr_award_extractor_spark.operators.extract_pipeline import extract_documents
from ocr_award_extractor_spark.plans.lineage import run_resumable_extraction
from ocr_award_extractor_spark.sources.tables import load_fixture

spark = get_spark("kill-child", master="local[2]", shuffle_partitions=4)
docs = load_fixture(spark, n_docs=120)

def slow_extract(pending):
    time.sleep(4)   # widen the between-commit window the parent kills in
    out = extract_documents(pending.drop("split_id"))
    return out.withColumn("split_id",
                          F.pmod(F.xxhash64("url"), F.lit(8)).cast("int"))

run_resumable_extraction(spark, docs, {repr(str(tmp_path / "out"))},
                         "killed-run", n_splits=8, n_batches=8,
                         extract=slow_extract)
''')
    proc = subprocess.Popen([sys.executable, str(child_src)],
                            start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    lineage_dir = os.path.join(out, "_lineage")
    try:
        deadline = time.time() + 240
        while time.time() < deadline:
            if os.path.isdir(lineage_dir) and any(
                f.endswith(".parquet") for f in os.listdir(lineage_dir)
            ):
                break
            if proc.poll() is not None:
                raise AssertionError("child finished before it could be killed")
            time.sleep(0.5)
        else:
            raise AssertionError("no lineage commit appeared in time")
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()

    from ocr_award_extractor_spark.plans.lineage import (
        committed_splits, read_committed, run_resumable_extraction,
        verify_lineage,
    )

    survivors = {r["run_id"] for r in committed_splits(spark, out).collect()}
    assert survivors == {"killed-run"}

    docs = load_fixture(spark, n_docs=120)
    stats = run_resumable_extraction(spark, docs, out, "resume-run",
                                     n_splits=8, n_batches=8)
    assert stats["splits_previously_committed"] >= 1   # work truly survived

    committed = read_committed(spark, out)
    urls = [r["url"] for r in committed.select("url").collect()]
    assert len(urls) == 120 and len(set(urls)) == 120  # complete, no dupes
    assert verify_lineage(spark, out).count() == 0     # checksums clean
    runs = {r["run_id"] for r in committed_splits(spark, out).collect()}
    assert runs == {"killed-run", "resume-run"}        # both runs contributed
