"""Both job entrypoints driven exactly as an operator would run them —
`python -m` subprocesses with their own SparkSession — asserting the
JSON contract on stdout and a zero exit code."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, "-m", *args],
        capture_output=True, text=True, timeout=420, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_extract_job_cli(tmp_path):
    summary = _run([
        "ocr_award_extractor_spark.cli",
        "--fixture", "40", "--output", str(tmp_path / "out"),
        "--run-id", "cli-test", "--master", "local[4]",
        "--n-splits", "2", "--summary",
    ])
    assert summary["run_id"] == "cli-test"
    assert summary["committed_rows"] == 40
    assert summary["checksum_anomalies"] == 0


def test_full_pipeline_cli(tmp_path):
    from ocr_award_extractor_spark.sources.tables import ensure_fixture

    pages = ensure_fixture(n_docs=50)
    summary = _run([
        "ocr_award_extractor_spark.plans.full_pipeline",
        "--input", pages, "--output", str(tmp_path / "out"),
        "--run-id", "cli-test", "--master", "local[4]",
        "--n-splits", "2",
        "--frontier-out", str(tmp_path / "frontier"),
        "--frontier-host-limit", "5",
    ])
    assert [s["stage"] for s in summary["stages"]] == [
        "extract", "frontier", "gopher_gate", "exact_dedup",
        "neardup_clusters", "stratified_sample", "verify_lineage"]
    frontier = [s for s in summary["stages"] if s["stage"] == "frontier"][0]
    # injected outlinks point at srcN.example/ref/... urls that are NOT
    # in the crawled corpus, so the frontier must be non-empty
    assert frontier["rows_out"] > 0
    rows = summary["rows"]
    # the seeded fixture plants a few error docs; those exit the pipeline
    # at the status filter, everything else flows through
    assert rows["pages"] == 50 and 40 <= rows["extracted"] <= 50
    seq = [rows[k] for k in ("extracted", "gated", "exact_unique",
                             "neardup_unique", "sampled")]
    assert all(a >= b for a, b in zip(seq, seq[1:])) and rows["sampled"] >= 0


def test_full_pipeline_cli_warc_input(tmp_path, spark):
    """Crawl-in → crawl-out in ONE command (round 6): the rehearsal CLI
    accepts raw WARC shards via --input-format warc, runs the whole
    chain, and exports WET. The WARC fixture is written by write_warc
    from the same seeded corpus the parquet-input test uses, so the row
    story must match that path's (minus nothing: read_warc is
    byte-identical on clean shards)."""
    from ocr_award_extractor_spark.sources.tables import ensure_fixture
    from ocr_award_extractor_spark.sources.warc import write_warc

    pages = spark.read.parquet(ensure_fixture(n_docs=50))
    warc_dir = str(tmp_path / "warc_in")
    write_warc(pages.repartition(2), warc_dir)

    summary = _run([
        "ocr_award_extractor_spark.plans.full_pipeline",
        "--input", warc_dir, "--input-format", "warc",
        "--output", str(tmp_path / "out"),
        "--run-id", "cli-warc", "--master", "local[4]",
        "--n-splits", "2",
        "--wet-out", str(tmp_path / "wet_out"),
    ])
    assert [s["stage"] for s in summary["stages"]] == [
        "extract", "wet_export", "gopher_gate", "exact_dedup",
        "neardup_clusters", "stratified_sample", "verify_lineage"]
    rows = summary["rows"]
    assert rows["pages"] == 50 and 40 <= rows["extracted"] <= 50
    anomalies = [s for s in summary["stages"]
                 if s["stage"] == "verify_lineage"][0]["rows_out"]
    assert anomalies == 0
