"""The flagship extraction pipeline: documents(html) → structured fields.

Spark plan (SURVEY.md §3.4):

    scan documents                        (page_columns: url/warc_ts/lang/html;
                                           warc_ts predicates push into the scan)
      → repartition(P, xxhash64(url, salt))  explicit salted repartition — input
                                           splits are host-correlated and AQE does
                                           NOT split skewed MapInArrow tasks, so
                                           this is a deliberate shuffle (§4)
      → map_rows(extract_record)          ONE mapInArrow stage fusing the whole
                                           reference dataflow: decode → two-strategy
                                           parse → pick-best → blank filter → join
                                           → field extraction (certificate_ocr.py
                                           :85-167 and :314-407), no per-row Python
                                           at the DataFrame level

The lineage commit (plans/lineage.py) does not use this stage: it runs
extract_record (by map_batches) inside its writer kernel, on page_columns.

Error rows carry status='error' + message with NULL payload fields — the
reference's error-record-not-exception contract (certificate_ocr.py:100-105,
:122-128). ocr_confidence is the 4-dp-rounded mean per-line confidence
(certificate_ocr.py:146,:162).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from ocr_award_extractor_spark.config import SALT_SEED
from ocr_award_extractor_spark.functions.batching import map_rows
from ocr_award_extractor_spark.functions.extract import extract_fields
from ocr_award_extractor_spark.functions.htmltext import extract_page

OUT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("status", StringType()),
    StructField("message", StringType()),
    StructField("strategy", StringType()),
    StructField("competition_name", StringType()),
    StructField("award_level", StringType()),
    StructField("project_name", StringType()),
    StructField("winner", ArrayType(StringType())),
    StructField("teacher", ArrayType(StringType())),
    StructField("ocr_text", StringType()),
    StructField("ocr_confidence", DoubleType()),
    StructField("n_lines", IntegerType()),
    StructField("n_html_bytes", LongType()),
])
PAGE_COLUMNS = ("url", "warc_ts", "lang", "html")   # the extraction's input


def page_columns(df: DataFrame, *extra: str) -> DataFrame:
    """The extraction's input columns (plus ``extra``), ``warc_ts`` cast
    to ``timestamp`` in the JVM: one projection for both extraction paths."""
    return df.select("url", F.col("warc_ts").cast("timestamp").alias("warc_ts"),
                     "lang", "html", *extra)


def extract_record(url, warc_ts, lang, html) -> dict:
    """One document through the full reference dataflow: the row kernel
    :func:`extract_documents` and the lineage commit map over every page
    (all patterns compile once per worker at module import). Pure
    function — also used by the kernel probe and unit tests."""
    page = extract_page(html)
    n_bytes = len(html) if html is not None else 0
    if page["status"] == "error":
        return {
            "url": url, "warc_ts": warc_ts, "lang": lang,
            "status": "error", "message": page["message"], "strategy": None,
            "competition_name": None, "award_level": None, "project_name": None,
            "winner": None, "teacher": None,
            "ocr_text": None, "ocr_confidence": None,
            "n_lines": 0, "n_html_bytes": n_bytes,
        }
    lines, confs = page["lines"], page["confs"]
    full_text = "\n".join(lines)
    avg_conf = sum(confs) / len(confs) if confs else 0.0
    fields = extract_fields(lines, full_text)
    return {
        "url": url, "warc_ts": warc_ts, "lang": lang,
        "status": "success", "message": None, "strategy": page["strategy"],
        "competition_name": fields["competition_name"],
        "award_level": fields["award_level"],
        "project_name": fields["project_name"],
        "winner": fields["winner"], "teacher": fields["teacher"],
        "ocr_text": full_text, "ocr_confidence": round(avg_conf, 4),
        "n_lines": len(lines), "n_html_bytes": n_bytes,
    }


def extract_documents(
    df: DataFrame,
    *,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Attach the extraction stage to a documents DataFrame.

    ``salt_partitions``: explicit shuffle width for the skew-defusing
    repartition; None keeps the scan partitioning (cheapest — use when the
    input is already well-balanced, e.g. the small fixture). At cluster
    scale pass ~2-4× total cores so jumbo-doc stragglers stay short.
    """
    df = page_columns(df)   # column pruning: html never flows past this stage
    if salt_partitions:
        df = df.repartition(salt_partitions, F.xxhash64("url", F.lit(SALT_SEED)))
    return map_rows(df, PAGE_COLUMNS, extract_record, OUT_SCHEMA)


def award_summary(extracted: DataFrame) -> DataFrame:
    """Flagship reporting query: award-level distribution of successful
    extractions (the groupBy-status summary of certificate_ocr.py:461-463,
    widened per SURVEY.md §7.3)."""
    return (
        extracted
        .where((F.col("status") == "success") & (F.col("award_level") != ""))
        .groupBy("award_level")
        .agg(F.count(F.lit(1)).alias("docs"),
             F.round(F.avg("ocr_confidence"), 4).alias("avg_conf"))
    )
