"""Resume test (SURVEY.md §5.2.5): kill after k batch commits, restart,
assert no duplicate and no missing urls, checksums consistent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_award_extractor_spark.plans.lineage import (
    read_committed, run_resumable_extraction, verify_lineage,
)
from ocr_award_extractor_spark.sources.tables import load_fixture

N_DOCS = 200


def _file_state(out, *subdirs):
    """(path, size, mtime) of every file under ``out``'s ``subdirs``."""
    import os

    paths = [os.path.join(r, f) for d in subdirs
             for r, _, fs in os.walk(os.path.join(out, d)) for f in fs]
    return sorted((p, os.stat(p).st_size, os.stat(p).st_mtime_ns)
                  for p in paths)


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
    import re

    import pytest

    out = str(tmp_path / "corrupt")
    docs = load_fixture(spark, n_docs=60)
    run_resumable_extraction(spark, docs, out, "first", n_splits=4,
                             n_batches=2, max_batches=1)
    lineage = sorted(glob.glob(os.path.join(out, "_lineage", "*.parquet")))
    assert lineage
    with open(lineage[0], "wb") as fh:
        fh.write(b"not a parquet file")

    before = _file_state(out, "data")
    assert before
    with pytest.raises(Exception, match=re.escape(lineage[0])):
        run_resumable_extraction(spark, docs, out, "resume", n_splits=4,
                                 n_batches=2)
    assert _file_state(out, "data") == before


def test_verify_lineage_detects_corruption(spark, tmp_path):
    """The checksum audit must actually DETECT damage (VERDICT r2 #7):
    corrupt one committed split by dropping a row (row_count mismatch),
    another by altering one document's ocr_text with the row count intact
    (checksum-only mismatch), and DELETE a third outright (the
    NULL-comparison trap: a plain != audit passes a dataset missing a
    whole split) — the auditor flags exactly those three splits."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "run3")
    docs = load_fixture(spark, n_docs=80)
    run_resumable_extraction(spark, docs, out, "audit", n_splits=4, n_batches=2)
    assert verify_lineage(spark, out).count() == 0

    def rewrite_split(split_id, mutate):
        path = os.path.join(out, "data", f"split-{split_id}.parquet")
        table = pq.read_table(path)
        pq.write_table(pa.Table.from_pylist(mutate(table.to_pylist()),
                                            schema=table.schema), path)

    # split 1: silently lose one row (valid parquet, wrong row_count)
    rewrite_split(1, lambda rows: rows[1:])

    # split 2: same row count, one ocr_text altered (checksum-only damage)
    def tamper(rows):
        rows[0]["ocr_text"] = (rows[0]["ocr_text"] or "") + " TAMPERED"
        return rows

    rewrite_split(2, tamper)

    # split 3: the whole committed split's data vanishes
    os.remove(os.path.join(out, "data", "split-3.parquet"))

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
from ocr_award_extractor_spark.config import get_spark
from ocr_award_extractor_spark.operators.extract_pipeline import extract_record
from ocr_award_extractor_spark.plans.lineage import run_resumable_extraction
from ocr_award_extractor_spark.sources.tables import load_fixture

spark = get_spark("kill-child", master="local[2]", shuffle_partitions=4)
docs = load_fixture(spark, n_docs=120)

def slow_extract(*page):
    # ~1.5 s per split of ~15 rows: the commits of one writer task come
    # that far apart, wider than the parent's 0.5 s poll and its kill
    time.sleep(0.1)
    return extract_record(*page)

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

    survivors = set(committed_splits(out).column("run_id").to_pylist())
    assert survivors == {"killed-run"}

    docs = load_fixture(spark, n_docs=120)
    stats = run_resumable_extraction(spark, docs, out, "resume-run",
                                     n_splits=8, n_batches=8)
    assert stats["splits_previously_committed"] >= 1   # work truly survived

    committed = read_committed(spark, out)
    urls = [r["url"] for r in committed.select("url").collect()]
    assert len(urls) == 120 and len(set(urls)) == 120  # complete, no dupes
    assert verify_lineage(spark, out).count() == 0     # checksums clean
    runs = set(committed_splits(out).column("run_id").to_pylist())
    assert runs == {"killed-run", "resume-run"}        # both runs contributed


# ------------------------------------------------ split-commit protocol
# The writer commits each split by three file-system steps (plans/lineage.py
# module docstring): close the tmp, rename it to data/split-<k>.parquet,
# rename the lineage row into _lineage/split-<k>.parquet. Each test below
# builds the on-disk state a crash or retry leaves, resumes, and checks
# the committed rows against the oracle.

def _out_cols():
    from ocr_award_extractor_spark.operators.extract_pipeline import OUT_SCHEMA

    return [f.name for f in OUT_SCHEMA.fields]


def _rows_by_url(df, cols):
    rows = df.select(*cols).collect()
    by_url = {r["url"]: tuple(r) for r in rows}
    assert len(by_url) == len(rows)          # no url committed twice
    return by_url


def _assert_oracle(spark, docs, out):
    """Committed rows carry the urls and texts of a clean extraction, and
    the lineage audit finds nothing."""
    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )

    cols = ["url", "ocr_text"]
    assert (_rows_by_url(read_committed(spark, out), cols)
            == _rows_by_url(extract_documents(docs), cols))
    assert verify_lineage(spark, out).count() == 0


def _split_files(out):
    """Every entry of ``data/``, hidden tmps included."""
    import os

    return sorted(os.listdir(os.path.join(out, "data")))


def _one_file_per_split(splits):
    return sorted(f"split-{k}.parquet" for k in splits)


def test_crash_after_data_rename_before_lineage_row(spark, tmp_path):
    """A split whose data file was renamed into place but whose lineage
    row was never written is pending: the resume rewrites it alone."""
    import os

    import pyarrow.parquet as pq

    out = str(tmp_path / "a")
    docs = load_fixture(spark, n_docs=N_DOCS)
    run_resumable_extraction(spark, docs, out, "killed", n_splits=4)
    os.remove(os.path.join(out, "_lineage", "split-1.parquet"))
    n1 = pq.read_metadata(os.path.join(out, "data", "split-1.parquet")).num_rows

    r = run_resumable_extraction(spark, docs, out, "resume", n_splits=4)
    assert r["splits_previously_committed"] == 3
    assert 0 < r["rows_written"] == n1
    assert _split_files(out) == _one_file_per_split(range(4))
    _assert_oracle(spark, docs, out)


def test_batch_readback_reads_only_its_own_splits(spark, tmp_path):
    """A batch's commit must not touch files of other splits: a killed run
    leaves files in ``data/`` for splits it never committed. Here a pending
    split outside the one batch that runs holds an unreadable file that
    sorts before every file the batch writes (split 0 is left empty): the
    batch counts exactly its own rows and leaves that file as it was, and
    the batch that later commits the split replaces it."""
    import json
    import os

    from ocr_award_extractor_spark.plans.lineage import ROW_HASH, with_split_id

    out = str(tmp_path / "run")
    docs = (with_split_id(load_fixture(spark, n_docs=N_DOCS), 12)
            .where(F.col("split_id") != 0).drop("split_id"))
    os.makedirs(os.path.join(out, "data"))
    with open(os.path.join(out, "_meta.json"), "w", encoding="utf-8") as fh:
        json.dump({"n_splits": 12, "row_hash": ROW_HASH}, fh)  # the killed run's
    stray = os.path.join(out, "data", "split-1.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"left behind by a killed run")
    # batches [0, 2, 4, 6, 8, 10] and [1, 3, ...]; only the first runs
    r = run_resumable_extraction(spark, docs, out, "run-1", n_splits=12,
                                 n_batches=2, max_batches=1)
    assert r["batches_committed"] == 1
    want = docs.where(F.pmod(F.xxhash64("url"), F.lit(12)) % 2 == 0).count()
    assert 0 < r["rows_written"] == want
    with open(stray, "rb") as fh:
        assert fh.read() == b"left behind by a killed run"

    r = run_resumable_extraction(spark, docs, out, "run-2", n_splits=12,
                                 n_batches=2)
    assert r["rows_written"] == docs.count() - want
    assert _split_files(out) == _one_file_per_split(range(1, 12))
    _assert_oracle(spark, docs, out)


def test_crash_leaves_tmp_and_stray_file_in_pending_split(spark, tmp_path):
    """A pending split holding a killed attempt's tmp and a readable stray
    file in its place (another split's rows) ends with exactly its one
    committed file and its own rows."""
    import os
    import shutil

    out = str(tmp_path / "stray")
    docs = load_fixture(spark, n_docs=N_DOCS)
    # batches [0, 2] and [1, 3]; the killed run committed the first
    run_resumable_extraction(spark, docs, out, "killed", n_splits=4,
                             n_batches=2, max_batches=1)
    data = os.path.join(out, "data")
    with open(os.path.join(data, ".split-1-0badc0de.tmp"), "wb") as fh:
        fh.write(b"half-written by a killed attempt")
    shutil.copy(os.path.join(data, "split-0.parquet"),
                os.path.join(data, "split-1.parquet"))

    r = run_resumable_extraction(spark, docs, out, "resume", n_splits=4)
    assert r["splits_previously_committed"] == 2
    assert _split_files(out) == _one_file_per_split(range(4))
    _assert_oracle(spark, docs, out)


def test_killed_attempt_tmp_is_hidden_then_removed(spark, tmp_path):
    """A killed attempt's tmp in ``data/`` holds rows of a pending split:
    the committed read never shows them, and the resume removes the tmp,
    so ``data/`` ends with exactly one file per non-empty split."""
    import os
    import shutil

    from ocr_award_extractor_spark.plans.lineage import with_split_id

    out = str(tmp_path / "b")
    # split 0 has no rows, so it commits no data file
    docs = (with_split_id(load_fixture(spark, n_docs=N_DOCS), 4)
            .where(F.col("split_id") != 0).drop("split_id"))
    # batches [0, 2] and [1, 3]; the killed run committed the first
    run_resumable_extraction(spark, docs, out, "killed", n_splits=4,
                             n_batches=2, max_batches=1)
    assert _split_files(out) == _one_file_per_split([2])
    n_committed = read_committed(spark, out).count()
    tmp = os.path.join(out, "data", ".split-1-0badc0de.tmp")
    shutil.copy(os.path.join(out, "data", "split-2.parquet"), tmp)
    assert read_committed(spark, out).count() == n_committed > 0

    r = run_resumable_extraction(spark, docs, out, "resume", n_splits=4)
    assert r["splits_previously_committed"] == 2
    assert _split_files(out) == _one_file_per_split([1, 2, 3])
    _assert_oracle(spark, docs, out)


def test_task_retry_rewrites_split_idempotently(spark, tmp_path):
    """A retried writer task (the kernel run twice on the same Arrow
    batches, no Spark) overwrites its splits: one data file and one
    lineage row per split, identical checksums."""
    import os

    import pyarrow as pa

    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )
    from ocr_award_extractor_spark.plans.lineage import (
        _write_splits, row_hash, with_split_id,
    )

    out = str(tmp_path / "c")
    docs = load_fixture(spark, n_docs=N_DOCS)
    batches = (with_split_id(extract_documents(docs), 4).withColumn("_h", row_hash())
               .toArrow().sort_by("split_id").to_batches(max_chunksize=64))
    assert len(batches) > 1           # several batches, several splits each
    kw = dict(data_dir=os.path.join(out, "data"),
              lineage_dir=os.path.join(out, "_lineage"), run_id="retried")

    def attempt():
        return pa.Table.from_batches(
            list(_write_splits(iter(batches), **kw))).sort_by("split_id")

    first, second = attempt(), attempt()
    assert first.equals(second)
    assert first.column("split_id").to_pylist() == [0, 1, 2, 3]
    assert sum(first.column("row_count").to_pylist()) == N_DOCS
    assert _split_files(out) == _one_file_per_split(range(4))
    assert sorted(os.listdir(os.path.join(out, "_lineage"))) == [
        f"split-{k}.parquet" for k in range(4)]
    _assert_oracle(spark, docs, out)


def test_committed_rows_equal_extraction_on_every_column(spark, tmp_path):
    """The Arrow writer is faithful: read_committed equals
    extract_documents on all 15 output columns (timestamps, the
    winner/teacher arrays, error rows with NULL ocr_text), and the
    dataset reads back with the schema Spark's partitioned writer gave."""
    import os

    from pyspark.sql.types import IntegerType

    from ocr_award_extractor_spark.operators.extract_pipeline import (
        OUT_SCHEMA, extract_documents,
    )

    out = str(tmp_path / "fidelity")
    docs = load_fixture(spark, n_docs=N_DOCS)
    run_resumable_extraction(spark, docs, out, "fidelity", n_splits=4)

    cols = _out_cols()
    want = _rows_by_url(extract_documents(docs), cols)
    text, status, winner = (cols.index(c) for c in ("ocr_text", "status", "winner"))
    assert any(r[status] == "error" and r[text] is None for r in want.values())
    assert any(r[winner] for r in want.values())
    assert _rows_by_url(read_committed(spark, out), cols) == want

    schema = spark.read.parquet(os.path.join(out, "data")).schema
    assert [(f.name, f.dataType) for f in schema] == (
        [(f.name, f.dataType) for f in OUT_SCHEMA.fields]
        + [("split_id", IntegerType())])


def test_old_layout_root_is_refused_untouched(spark, tmp_path):
    """A root of the older layout (one ``data/split_id=<k>/`` directory
    per split, written here by Spark's partitioned writer, with its
    lineage row and pinned n_splits) is refused with an error naming the
    root, before any file under it changes."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )
    from ocr_award_extractor_spark.plans.lineage import row_hash, with_split_id

    out = str(tmp_path / "old")
    docs = load_fixture(spark, n_docs=N_DOCS)
    split0 = with_split_id(extract_documents(docs), 4).where(F.col("split_id") == 0)
    split0.write.partitionBy("split_id").parquet(os.path.join(out, "data"))
    n, checksum = split0.agg(F.count(F.lit(1)), F.bit_xor(row_hash())).first()
    os.makedirs(os.path.join(out, "_lineage"))
    pq.write_table(pa.table({
        "run_id": ["old-run"], "split_id": pa.array([0], pa.int32()),
        "row_count": [n], "checksum": [checksum]}),
        os.path.join(out, "_lineage", "split-0.parquet"))
    with open(os.path.join(out, "_meta.json"), "w", encoding="utf-8") as fh:
        json.dump({"n_splits": 4}, fh)
    before = _file_state(out, "")
    assert any("split_id=0" in p for p, _, _ in before)

    with pytest.raises(ValueError, match=f"output {out} has the old"):
        run_resumable_extraction(spark, docs, out, "new-run", n_splits=4)
    assert _file_state(out, "") == before


def test_root_of_older_row_hash_is_refused_untouched(spark, tmp_path):
    """A root whose ``_meta.json`` names no row hash holds checksums of an
    older one (XXH64): it is refused with an error naming the root, before
    any file under it changes."""
    import json
    import os

    out = str(tmp_path / "xxh64")
    docs = load_fixture(spark, n_docs=N_DOCS)
    run_resumable_extraction(spark, docs, out, "first", n_splits=4,
                             n_batches=2, max_batches=1)
    with open(os.path.join(out, "_meta.json"), "w", encoding="utf-8") as fh:
        json.dump({"n_splits": 4}, fh)
    before = _file_state(out, "")

    with pytest.raises(ValueError, match=f"output {out} has the old"):
        run_resumable_extraction(spark, docs, out, "new-run", n_splits=4)
    assert _file_state(out, "") == before


def _jobs(spark, group, fn):
    """Spark jobs ``fn()`` starts: those of its job group plus ungrouped
    ones, because jobs submitted from other driver threads do not inherit
    the job group. Returns (job ids, fn's result)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return (set(tracker.getJobIdsForGroup(group))
            | set(tracker.getJobIdsForGroup(None)) - ungrouped), result


def test_commit_job_budget(spark, tmp_path):
    """One commit job: a fresh directory costs at most 2 Spark jobs (the
    AQE stages of the one commit plan: the page shuffle and the writer), a
    fully committed one none (the driver reads the lineage with pyarrow).
    Jobs submitted from other driver threads do not inherit the job group,
    so ungrouped jobs started meanwhile count too."""
    out = str(tmp_path / "budget")
    docs = load_fixture(spark, n_docs=N_DOCS)

    def jobs(group, run_id):
        return _jobs(spark, group, lambda: run_resumable_extraction(
            spark, docs, out, run_id, n_splits=4))[0]

    assert 1 <= len(jobs("lineage-budget-fresh", "fresh")) <= 2
    assert jobs("lineage-budget-rerun", "rerun") == set()
    assert read_committed(spark, out).count() == N_DOCS


@pytest.mark.parametrize("n_splits", [16, 64])
def test_committed_read_job_budget(spark, tmp_path, n_splits):
    """The committed read takes the split ids from ``_lineage`` on the
    driver and reads the flat ``data/`` with the committed schema: building
    it starts no Spark job, also above the 32 paths from which Spark lists
    in a job, and the WET export over it runs exactly one."""
    from ocr_award_extractor_spark.sources.warc import write_wet

    out = str(tmp_path / "read")
    docs = load_fixture(spark, n_docs=N_DOCS)
    run_resumable_extraction(spark, docs, out, "read", n_splits=n_splits)
    jobs, committed = _jobs(spark, f"committed-read-{n_splits}",
                            lambda: read_committed(spark, out))
    assert jobs == set()
    jobs, written = _jobs(spark, f"committed-read-wet-{n_splits}", lambda: write_wet(
        committed, str(tmp_path / "wet")))
    assert len(jobs) == 1
    assert written == committed.where(F.col("status") == "success").count() > 0


def test_commit_plan_sorts_each_writer_task_by_split(spark, tmp_path, monkeypatch):
    """The writer's input is the pages, one hash shuffle by split_id into
    one task per core (not one per split), then a sort by split_id within
    each task: the plan's only exchange, with no Python operator under the
    writer kernel, which runs the extraction itself."""
    import re

    docs = load_fixture(spark, n_docs=60)
    plans = []
    real = type(docs).mapInArrow

    def capture(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(docs), "mapInArrow", capture)
    run_resumable_extraction(spark, docs, str(tmp_path / "plan"), "plan",
                             n_splits=16)
    cores = spark.sparkContext.defaultParallelism
    assert cores < 16 and len(plans) == 1
    lines = plans[0].splitlines()
    sort = next(i for i, ln in enumerate(lines) if re.search(r"\bSort \[", ln))
    assert re.search(r"Sort \[split_id#\d+ ASC", lines[sort]), plans[0]
    assert re.search(rf"Exchange hashpartitioning\(split_id#\d+, {cores}\)",
                     lines[sort + 1]), plans[0]
    assert sum("Exchange" in ln for ln in lines) == 1, plans[0]
    assert not re.search(r"MapIn|EvalPython|FlatMap", plans[0]), plans[0]


def test_split_filters_are_one_in_expression(spark, tmp_path, monkeypatch):
    """A fresh commit plans no split_id filter (every split is pending), a
    resume plans one IN over its pending ids. The committed read of a
    clean root scans the flat ``data/`` with no filter at all; on a root
    killed between commit steps 2 and 3 it filters out exactly the stray
    splits (data file, no lineage row) by one NOT IN pushed to parquet,
    not a partition filter; with no committed id the read is empty."""
    import os
    import re
    import shutil

    import pyarrow.parquet as pq

    docs = load_fixture(spark, n_docs=60)
    plans = []
    real = type(docs).mapInArrow

    def capture(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(docs), "mapInArrow", capture)
    fresh, out = str(tmp_path / "fresh"), str(tmp_path / "resume")
    run_resumable_extraction(spark, docs, fresh, "fresh", n_splits=16)
    run_resumable_extraction(spark, docs, out, "killed", n_splits=16,
                             max_batches=1)
    run_resumable_extraction(spark, docs, out, "resume", n_splits=16)
    filters = [[ln for ln in p.splitlines() if re.search(r"Filter .*xxhash64", ln)]
               for p in plans]
    assert len(filters) == 3 and filters[0] == [], plans[0]
    for lines in filters[1:]:
        assert len(lines) == 1 and re.search(r"\b(IN|INSET)\b", lines[0]), lines

    def scan(root):
        return read_committed(spark, root)._jdf.queryExecution().executedPlan().toString()

    for root in (fresh, out):
        plan = scan(root)
        assert "DataFilters: []" in plan and "PushedFilters: []" in plan, plan
        assert "Filter " not in plan, plan
    strays = [3, 11]
    kept = 0
    for k in range(16):
        path = os.path.join(out, "data", f"split-{k}.parquet")
        if k in strays:
            assert os.path.exists(path)
            os.remove(os.path.join(out, "_lineage", f"split-{k}.parquet"))
        elif os.path.exists(path):
            kept += pq.read_metadata(path).num_rows
    plan = scan(out)
    assert re.search(r"DataFilters: \[.*NOT split_id#\d+ (IN|INSET) \(?3, ?11\)?\]", plan), plan
    assert re.search(r"PushedFilters: \[.*Not\(In\(split_id, \[(3,11|11,3)\]\)\)", plan), plan
    assert "PartitionFilters: []" in plan, plan
    assert read_committed(spark, out).count() == kept
    shutil.rmtree(tmp_path / "resume" / "_lineage")
    assert read_committed(spark, out).count() == 0


def test_committed_read_refuses_a_file_that_is_not_a_split(spark, tmp_path):
    """A file in ``data/`` that is not ``split-<k>.parquet`` (here a copy
    of a committed split) is refused by name, never read unchecked."""
    import os
    import shutil

    out = str(tmp_path / "a")
    run_resumable_extraction(spark, load_fixture(spark, n_docs=N_DOCS), out, "r",
                             n_splits=4)
    data = os.path.join(out, "data")
    shutil.copy(os.path.join(data, "split-0.parquet"), os.path.join(data, "copy.parquet"))
    with pytest.raises(ValueError, match="copy.parquet"):
        read_committed(spark, out)


def test_writer_holds_one_open_file(spark, tmp_path, monkeypatch):
    """Fed batches sorted by split_id that each span several splits, the
    writer has at most one ParquetWriter open at a time and commits one
    file and one lineage row per split."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )
    from ocr_award_extractor_spark.plans.lineage import (
        _write_splits, row_hash, with_split_id,
    )

    n_splits = 32
    rows = (with_split_id(extract_documents(load_fixture(spark, n_docs=N_DOCS)),
                          n_splits).withColumn("_h", row_hash()).toArrow())
    state = {"open": 0, "peak": 0}

    class Counting(pq.ParquetWriter):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            state["open"] += 1
            state["peak"] = max(state["peak"], state["open"])

        def close(self):
            if self.is_open:
                state["open"] -= 1
            super().close()

    monkeypatch.setattr(pq, "ParquetWriter", Counting)

    out = str(tmp_path / "sorted")
    batches = rows.sort_by("split_id").to_batches(max_chunksize=16)
    assert sum(len(set(b.column("split_id").to_pylist())) > 1 for b in batches) > 1
    got = pa.Table.from_batches(list(_write_splits(
        iter(batches), data_dir=os.path.join(out, "data"),
        lineage_dir=os.path.join(out, "_lineage"), run_id="r"))).sort_by("split_id")
    assert state == {"open": 0, "peak": 1}
    assert got.column("split_id").to_pylist() == list(range(n_splits))
    assert _split_files(out) == _one_file_per_split(range(n_splits))
    assert sorted(os.listdir(os.path.join(out, "_lineage"))) == (
        _one_file_per_split(range(n_splits)))


def test_writer_raises_on_unsorted_input(spark, tmp_path):
    """Fed unsorted batches, a split comes back after its commit: the
    writer raises instead of rewriting a committed split, and leaves no
    tmp behind."""
    import os

    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )
    from ocr_award_extractor_spark.plans.lineage import (
        _write_splits, row_hash, with_split_id,
    )

    rows = (with_split_id(extract_documents(load_fixture(spark, n_docs=N_DOCS)), 4)
            .withColumn("_h", row_hash()).toArrow())
    ids = rows.column("split_id").to_pylist()
    assert ids != sorted(ids)
    out = str(tmp_path / "unsorted")
    with pytest.raises(ValueError, match="came back after its commit"):
        list(_write_splits(iter(rows.to_batches(max_chunksize=16)),
                           data_dir=os.path.join(out, "data"),
                           lineage_dir=os.path.join(out, "_lineage"), run_id="r"))
    assert not [f for f in _split_files(out) if f.startswith(".")]


@pytest.mark.parametrize("n_docs,n_splits", [(0, 4), (10, 64)])
def test_empty_splits_commit_once(spark, tmp_path, n_docs, n_splits):
    """A pending split with no input rows commits a zero-row lineage row
    and no data: the rerun starts no job and finds every split committed, the committed read holds every input
    row (none on an empty input, which writes no data/), and the audit
    finds nothing."""
    from ocr_award_extractor_spark.operators.webify import PAGE_SCHEMA

    out = str(tmp_path / "empty")
    docs = (load_fixture(spark, n_docs=n_docs) if n_docs
            else spark.createDataFrame([], PAGE_SCHEMA))
    first = run_resumable_extraction(spark, docs, out, "first", n_splits=n_splits)
    assert first["rows_written"] == n_docs
    jobs, again = _jobs(spark, f"empty-rerun-{n_docs}", lambda: (
        run_resumable_extraction(spark, docs, out, "again", n_splits=n_splits)))
    assert jobs == set()
    assert again["splits_previously_committed"] == n_splits
    assert again["batches_committed"] == again["rows_written"] == 0
    assert read_committed(spark, out).count() == n_docs
    assert verify_lineage(spark, out).count() == 0


def test_n_splits_mismatch_on_resume_raises_and_leaves_output(spark, tmp_path):
    """Resuming with another n_splits would re-key every split: the call
    names the pinned value and touches neither data nor lineage."""
    import pytest

    out = str(tmp_path / "pinned")
    docs = load_fixture(spark, n_docs=60)
    run_resumable_extraction(spark, docs, out, "first", n_splits=4,
                             n_batches=2, max_batches=1)
    before = _file_state(out, "data", "_lineage")
    assert before
    with pytest.raises(ValueError, match="n_splits=4"):
        run_resumable_extraction(spark, docs, out, "second", n_splits=8)
    assert _file_state(out, "data", "_lineage") == before


# ------------------------------------------------------------- row hash
# The commit kernel hashes each row in Python with hashlib's md5;
# verify_lineage recomputes the checksum with Spark's md5 in the JVM. The
# two must agree bit for bit.

def _hash_cases(spark):
    """(url, ocr_text) pairs: the fixture's extracted rows and edge cases."""
    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )

    fixture = [tuple(r) for r in extract_documents(load_fixture(spark, n_docs=N_DOCS))
               .select("url", "ocr_text").collect()]
    assert any(text is None for _, text in fixture)      # error rows
    edges = [(None, "text"), ("u", None), (None, None), ("u", ""), ("", ""),
             ("http://例え.jp/获奖", "获奖学生：张三、李四 😀🎉\n一等奖"),
             ("u" * 33, "é \U0001f600" * 9), ("big", "获" * 400_000)]
    assert len(edges[-1][1].encode()) > 1 << 20
    lengths = [("x" * n, "y" * n) for n in range(71)]   # 0-70 bytes: every tail
    return fixture + edges + lengths


def test_row_hash_equals_spark_md5(spark):
    """The writer's Python row hash gives Spark's row_hash() on every
    case."""
    from ocr_award_extractor_spark.plans.lineage import _row_hashes, row_hash

    cases = _hash_cases(spark)
    df = spark.createDataFrame(cases, "url string, ocr_text string")
    want = [r[0] for r in df.select(row_hash()).collect()]
    assert _row_hashes([u for u, _ in cases], [t for _, t in cases]) == want


def test_commit_without_native_library_writes_same_lineage(spark, tmp_path,
                                                           monkeypatch):
    """The commit kernel run in-process on the same page batches, with the
    native segmenter on and monkeypatched off, commits the same lineage rows
    as the Spark commit, and the JVM audit passes on the stdlib parser's
    root."""
    import os

    from ocr_award_extractor_spark.functions import htmltext
    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_record, page_columns,
    )
    from ocr_award_extractor_spark.plans.lineage import (
        _extract_and_write, committed_splits, with_split_id,
    )

    docs = load_fixture(spark, n_docs=N_DOCS)
    batches = (page_columns(with_split_id(docs, 4), "split_id").toArrow()
               .sort_by("split_id").to_batches(max_chunksize=64))

    def lineage(out):
        return committed_splits(out).drop(["run_id"]).sort_by("split_id").to_pylist()

    def commit_in_process(out):
        list(_extract_and_write(iter(batches), extract=extract_record,
                                data_dir=os.path.join(out, "data"),
                                lineage_dir=os.path.join(out, "_lineage"), run_id="r"))
        return lineage(out)

    spark_root = str(tmp_path / "spark")
    run_resumable_extraction(spark, docs, spark_root, "spark", n_splits=4)
    native = commit_in_process(str(tmp_path / "native"))
    monkeypatch.setattr(htmltext, "_NATIVE", None)
    fallback_root = str(tmp_path / "fallback")
    fallback = commit_in_process(fallback_root)
    assert sum(r["row_count"] for r in native) == N_DOCS
    assert fallback == native == lineage(spark_root)
    assert verify_lineage(spark, fallback_root).count() == 0
