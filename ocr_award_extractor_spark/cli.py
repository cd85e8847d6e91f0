"""Job entry point (the reference's argparse driver, certificate_ocr.py
:446-469, rebuilt for spark-submit).

    spark-submit --py-files engine.zip -m ... ocr_award_extractor_spark/cli.py \
        --input /data/documents --output /data/extracted --run-id nightly-01 \
        --from-ts 2024-03-01 --to-ts 2024-03-08 --n-splits 4096

Locally: python -m ocr_award_extractor_spark.cli --fixture 500 --output /tmp/out

The warc_ts window becomes a scan predicate BEFORE the UDF stage, so on a
date-partitioned table (Iceberg days(warc_ts) or hive-style warc_date=)
partition pruning happens at planning time. The job is resumable: rerunning
with the same --output skips committed splits (plans/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="web-document extraction job")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet directory of documents(url, warc_ts, html, text, lang)")
    src.add_argument("--fixture", type=int, metavar="N",
                     help="use the seeded N-doc fixture (local testing)")
    p.add_argument("--output", required=True,
                   help="output dir: data/split-<k>.parquet files and _lineage/; "
                        "an output written before the md5 row hash is refused")
    p.add_argument("--run-id", default="run", help="lineage run id")
    p.add_argument("--from-ts", help="inclusive warc_ts lower bound (scan predicate)")
    p.add_argument("--to-ts", help="exclusive warc_ts upper bound (scan predicate)")
    p.add_argument("--n-splits", type=int, default=16)
    p.add_argument("--master", default=None, help="override spark master")
    p.add_argument("--use-model", action="store_true",
                   help="attach the batch model-inference slot (O20) after extraction")
    p.add_argument("--summary", action="store_true", help="print the award summary table")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from ocr_award_extractor_spark.config import get_spark
    from ocr_award_extractor_spark.plans.lineage import (
        read_committed, run_resumable_extraction, verify_lineage,
    )
    from ocr_award_extractor_spark.sources.tables import load_fixture

    spark = get_spark("extract-job", master=args.master)
    try:
        if args.fixture:
            docs = load_fixture(spark, n_docs=args.fixture)
        else:
            docs = spark.read.parquet(args.input)
        # pruning predicates land BEFORE the UDF ⇒ pushed into the scan
        if args.from_ts:
            docs = docs.where(F.col("warc_ts") >= F.lit(args.from_ts).cast("timestamp"))
        if args.to_ts:
            docs = docs.where(F.col("warc_ts") < F.lit(args.to_ts).cast("timestamp"))

        import time

        t0 = time.monotonic()
        stats = run_resumable_extraction(
            spark, docs, args.output, args.run_id, n_splits=args.n_splits)
        extract_wall_s = round(time.monotonic() - t0, 2)
        anomalies = verify_lineage(spark, args.output).count()
        committed = read_committed(spark, args.output)
        summary = {
            "run_id": args.run_id,
            **stats,
            "extract_wall_s": extract_wall_s,
            "committed_rows": committed.count(),
            "checksum_anomalies": anomalies,
        }
        if args.use_model:
            from ocr_award_extractor_spark.operators.llm_slot import extract_with_model

            modeled = extract_with_model(committed)
            summary["model_paths"] = {
                r["path"]: r["count"]
                for r in modeled.groupBy("path").count().collect()
            }
        if args.summary:
            from ocr_award_extractor_spark.operators.extract_pipeline import award_summary

            for row in award_summary(committed).orderBy(F.desc("docs")).collect():
                print(f"  {row['award_level']}: {row['docs']} docs "
                      f"(avg conf {row['avg_conf']})", file=sys.stderr)
        print(json.dumps(summary, ensure_ascii=False))
        return 1 if anomalies else 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
