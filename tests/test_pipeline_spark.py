"""End-to-end Spark tests of the extraction pipeline on the seeded
web-page fixture: byte-identity vs ground truth, the error-row contract,
and invariance of results across partition counts (the per-row pipeline
must not depend on parallelism — SURVEY.md §7.4 trap 7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_award_extractor_spark.operators.extract_pipeline import (
    award_summary, extract_documents, extract_record,
)
from ocr_award_extractor_spark.sources.fixture_gen import generate_rows
from ocr_award_extractor_spark.sources.tables import load_fixture

N_DOCS = 300


@pytest.fixture(scope="module")
def extracted(spark):
    docs = load_fixture(spark, n_docs=N_DOCS)
    df = extract_documents(docs, salt_partitions=8)
    df.cache()
    yield df
    df.unpersist()


def test_byte_identical_text_per_url(spark, extracted):
    """north rule: byte-identical extracted text per url vs ground truth."""
    truth = load_fixture(spark, n_docs=N_DOCS).select("url", "text")
    joined = (
        extracted.where(F.col("status") == "success")
        .join(truth, "url")
        .select("url", "ocr_text", "text")
    )
    mismatched = joined.where(F.col("ocr_text") != F.col("text")).count()
    assert mismatched == 0
    assert joined.count() > 0


def test_error_contract(extracted):
    """Malformed/empty docs come back as error ROWS with null payloads."""
    meta = {r["url"]: r["_meta"] for r in generate_rows(N_DOCS, with_meta=True)}
    rows = extracted.collect()
    assert len(rows) == N_DOCS
    for row in rows:
        kind = meta[row["url"]]["kind"]
        if kind in ("normal", "jumbo"):
            assert row["status"] == "success"
            assert row["message"] is None
            assert row["ocr_text"] == "\n".join(meta[row["url"]]["intended"])
        if row["status"] == "error":
            assert row["message"] in ("unreadable document", "no text extracted")
            assert row["ocr_text"] is None and row["ocr_confidence"] is None
            assert kind in ("truncated", "empty")


def test_fields_match_kernel_on_distractors(extracted):
    """Non-zh distractor docs must yield completely empty fields."""
    rows = (
        extracted.where((F.col("lang") != "zh") & (F.col("status") == "success"))
        .select("competition_name", "award_level", "project_name", "winner", "teacher")
        .collect()
    )
    assert rows, "fixture must contain distractor docs"
    for r in rows:
        assert r["competition_name"] == "" and r["award_level"] == ""
        assert r["project_name"] == "" and r["winner"] == [] and r["teacher"] == []


def test_zh_docs_extract_fields(extracted):
    """The zh certificate docs must produce non-empty award fields."""
    got = award_summary(extracted).collect()
    assert sum(r["docs"] for r in got) > 50
    for r in got:
        assert 0.0 < r["avg_conf"] <= 1.0


def test_partition_count_invariance(spark, extracted):
    """Same results at a different parallelism: per-row extraction cannot
    depend on partitioning (scaling-test precondition)."""
    docs = load_fixture(spark, n_docs=N_DOCS)
    again = extract_documents(docs.repartition(1), salt_partitions=2)
    a = {r["url"]: (r["ocr_text"], r["status"], r["competition_name"],
                    tuple(r["winner"] or ()))
         for r in extracted.collect()}
    b = {r["url"]: (r["ocr_text"], r["status"], r["competition_name"],
                    tuple(r["winner"] or ()))
         for r in again.collect()}
    assert a == b


def test_image_payloads_route_to_ocr_slot(spark):
    """Raster payloads (the reference's true input type) must route to the
    pluggable OCR slot: clean error rows without a backend, real lines with
    one — never garbage-parsed as markup."""
    import datetime

    from ocr_award_extractor_spark.functions.ocr_slot import register_ocr_backend

    ts = datetime.datetime(2024, 3, 1)
    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
    jpg = b"\xff\xd8\xff\xe0" + b"junk" * 16
    rows = [("img://a.png", ts, "zh", png), ("img://b.jpg", ts, "zh", jpg)]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, lang string, html binary")

    got = {r["url"]: r for r in extract_documents(df).collect()}
    assert all(r["status"] == "error" for r in got.values())
    assert "OCR backend" in got["img://a.png"]["message"]
    assert "png" in got["img://a.png"]["message"]
    assert "jpeg" in got["img://b.jpg"]["message"]

    # a registered backend turns the same payload into extracted fields —
    # exercised through extract_record (same code the workers run; module
    # state is per-process, so cluster registration goes through the
    # SPARK_GRAFT_OCR_BACKEND=module:attr env spec instead)
    register_ocr_backend(lambda payload: (
        ["全国大学生物联网设计大赛", "荣获一等奖", "获奖学生：张三、李四"],
        [0.99, 0.98, 0.97],
    ))
    try:
        r = extract_record("img://a.png", ts, "zh", png)
        assert r["status"] == "success" and r["strategy"] == "ocr-png"
        assert r["award_level"] == "一等奖" and r["winner"] == ["张三", "李四"]
        assert r["ocr_confidence"] == round((0.99 + 0.98 + 0.97) / 3, 4)
    finally:
        register_ocr_backend(None)

    # env-spec loading (how executors get the backend): resolvable path
    from ocr_award_extractor_spark.functions import ocr_slot

    try:
        assert ocr_slot._load_backend_spec("") is False
        assert ocr_slot._load_backend_spec("math:sqrt") is True  # resolves+installs
    finally:
        register_ocr_backend(None)


def test_ocr_slot_conf_pairing_and_sniff_precision():
    """Blank lines drop their confidences WITH them (cert:139-143), the
    2-byte BM prefix alone must not classify text as bmp, and a broken
    backend spec degrades to attributed error rows, never an exception."""
    from ocr_award_extractor_spark.functions import ocr_slot
    from ocr_award_extractor_spark.functions.ocr_slot import (
        ocr_image_page, register_ocr_backend, sniff_image,
    )

    register_ocr_backend(lambda p: (["", "一等奖", "  ", "张三"],
                                    [0.2, 0.99, 0.3, 0.88]))
    try:
        page = ocr_image_page(b"\x89PNG...", "png")
        assert page["lines"] == ["一等奖", "张三"]
        assert page["confs"] == [0.99, 0.88]   # paired, not truncated
    finally:
        register_ocr_backend(None)

    assert sniff_image(b"BMW is a carmaker, not a bitmap") is None
    assert sniff_image(b"BM" + b"\x36\x00\x00\x00" + b"\x00\x00\x00\x00" + b"x" * 20) == "bmp"
    assert sniff_image(b"\xff\xd8\xff\xe0jpeg") == "jpeg"

    # bad spec: recorded, surfaced per image row, never raised
    try:
        ocr_slot._load_backend_spec("no_such_module_xyz:fn")
        raise AssertionError("expected import failure")
    except ImportError:
        pass
    ocr_slot._BACKEND_SPEC_ERROR = "OCR backend spec failed to load: boom"
    try:
        page = ocr_image_page(b"\x89PNG...", "png")
        assert page["status"] == "error" and "boom" in page["message"]
    finally:
        ocr_slot._BACKEND_SPEC_ERROR = None


def test_driver_corpus_text_invariants():
    """The extract_pipeline_text/pdf oracles reconstruct the expected text
    with a regex that assumes single-space-separated, stripped, non-trivial
    text. Pin that the driver corpus satisfies the precondition at every
    scale present (a reseeded corpus violating it would otherwise fail the
    gate mysteriously)."""
    import os

    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        bad = duckdb.sql(f"""
            SELECT count(*) FROM read_parquet('{path}')
            WHERE text LIKE '%  %' OR text LIKE ' %' OR text LIKE '% '
               OR length(text) < 2
               OR regexp_matches(text, '[\\t\\n\\r]')
        """).fetchone()[0]
        assert bad == 0, f"{sf}: {bad} docs violate the oracle text precondition"


def test_webify_urls_projection_matches_wrap_row(spark):
    """webify_urls_df (the JVM closed-form of wrap_row's url/warc_ts,
    used by the stateful-dedup staging so it never builds html) must be
    byte/value-identical to the mapInArrow output — a drift in either
    spelling of the url format or the timestamp arithmetic fails here."""
    from ocr_award_extractor_spark.operators.webify import (
        webify_documents, webify_urls_df,
    )
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    want = {(r["url"], r["warc_ts"])
            for r in webify_documents(docs).select("url", "warc_ts").collect()}
    got = {(r["url"], r["warc_ts"])
           for r in webify_urls_df(docs).collect()}
    assert got == want and len(got) == docs.count()
