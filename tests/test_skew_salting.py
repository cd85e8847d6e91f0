"""Skew defense: on host-clustered input (the realistic Common-Crawl file
layout), the salted repartition must even out per-partition BYTE load —
the thing that decides straggler time in the UDF stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_award_extractor_spark.config import SALT_SEED
from ocr_award_extractor_spark.sources.tables import load_fixture

N_PARTS = 8


def _bytes_per_partition(df):
    rows = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").agg(F.sum(F.length("html")).alias("b"))
        .collect()
    )
    sizes = [r["b"] for r in rows]
    return max(sizes) / (sum(sizes) / len(sizes))


def test_salting_evens_host_clustered_input(spark):
    docs = load_fixture(spark, n_docs=400)

    # host-clustered layout: hash-partition on the HOST (what a crawl's
    # per-host WARC files look like) — the Zipf head host dominates its
    # partition's byte load
    host = F.regexp_extract("url", "//([^.]+)", 1)
    clustered = docs.repartition(N_PARTS, host)
    skew_before = _bytes_per_partition(clustered)

    salted = clustered.repartition(N_PARTS, F.xxhash64("url", F.lit(SALT_SEED)))
    skew_after = _bytes_per_partition(salted)

    assert skew_before > 1.5, f"fixture should be skewed, got {skew_before:.2f}"
    assert skew_after < skew_before
    assert skew_after < 1.6, f"salted max/mean still {skew_after:.2f}"


def test_null_html_rows_come_back_as_errors(spark):
    """NULL html must surface as an error row from the salted extraction
    stage — a NULL dropped anywhere between scan and kernel is data
    loss."""
    from datetime import datetime

    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )

    cols = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = [("u://ok", datetime(2024, 3, 1), b"<p>fine text here</p>", "", "en"),
            ("u://null", datetime(2024, 3, 1), None, "", "en")]
    docs = spark.createDataFrame(rows, cols)
    got = {r["url"]: (r["status"], r["message"])
           for r in extract_documents(docs, salt_partitions=2).collect()}
    assert got == {"u://ok": ("success", None),
                   "u://null": ("error", "unreadable document")}


def test_spread_small_scans_warns_when_estimate_fails(caplog):
    """A failed plan-statistics estimate leaves the frame as it is and
    says so with a WARNING carrying the exception text."""
    import logging
    from types import SimpleNamespace

    from ocr_award_extractor_spark.sources.tables import spread_small_scans

    def broken_plan():
        raise RuntimeError("no stats for this plan")

    df = SimpleNamespace(
        sparkSession=SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=4)),
        _jdf=SimpleNamespace(queryExecution=broken_plan))
    with caplog.at_level(logging.WARNING):
        assert spread_small_scans(df) is df
    warned = [r for r in caplog.records if r.levelno == logging.WARNING
              and "no stats for this plan" in r.getMessage()]
    assert len(warned) == 1
