"""The one Arrow boundary for Python kernels: every per-row and bucket
Python stage plans as a ``MapInArrow``, no package module but the
streaming extractor touches pandas, and timestamps cross the boundary as
UTC instants whatever the session time zone."""

from __future__ import annotations

import ast
import gzip
import pathlib

from pyspark.sql import functions as F

from ocr_award_extractor_spark.sources.tables import load_fixture, load_table
from tests.test_warc_source import _http, _record

MIDNIGHT_UTC = 1_709_251_200          # 2024-03-01T00:00:00Z
SF = "/root/testdata/sf0.001"
# applyInPandasWithState has no Arrow spelling: streaming keeps pandas
PANDAS_MODULES = {"streaming/extract_stream.py"}


def _pandas_uses(tree: ast.AST):
    """Line numbers of ``import pandas``/``from pandas ...`` statements
    and of ``.mapInPandas`` attribute uses in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            hit = any(a.name.split(".")[0] == "pandas" for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            hit = (node.module or "").split(".")[0] == "pandas"
        else:
            hit = isinstance(node, ast.Attribute) and node.attr == "mapInPandas"
        if hit:
            yield node.lineno


def test_no_pandas_outside_streaming():
    """No module of the package except the streaming extractor imports
    pandas or calls mapInPandas. Static: the sources are parsed, not
    imported, and no Spark session is needed."""
    import ocr_award_extractor_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        lines = list(_pandas_uses(ast.parse(path.read_text(encoding="utf-8"))))
        if lines:
            found[rel] = lines
    assert set(found) <= PANDAS_MODULES, found


def test_row_stages_plan_map_in_arrow_only(spark, tmp_path):
    """extract_documents, read_warc, read_wet, webify_documents,
    extract_media_features, both paths of extract_with_model, and the LSH
    and MinHash-LSH bucket operators plan a MapInArrow and no
    MapInPandas. The plans are only built, over local rows, one WARC file
    and the sf0.001 tables: no Spark job starts."""
    from ocr_award_extractor_spark.operators import similarity
    from ocr_award_extractor_spark.operators.dedup import minhash_lsh_pairs_df
    from ocr_award_extractor_spark.operators.extract_pipeline import extract_documents
    from ocr_award_extractor_spark.operators.llm_slot import extract_with_model
    from ocr_award_extractor_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_media_features,
    )
    from ocr_award_extractor_spark.operators.webify import webify_documents
    from ocr_award_extractor_spark.sources.warc import read_warc, read_wet

    (tmp_path / "a.warc.wet").write_bytes(
        _record("response", "https://a.example/", "2024-03-01T00:00:00Z",
                _http(b"<p>a page</p>")))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp_ntz, lang string, html binary")
    docs = spark.createDataFrame(
        [(1, "one two", "en", "web")], "doc_id long, text string, lang string, source string")
    extracted = spark.createDataFrame([("u", "t")], "url string, ocr_text string")
    frames = {
        "extract_documents": extract_documents(pages, salt_partitions=4),
        "read_warc": read_warc(spark, str(tmp_path)),
        "read_wet": read_wet(spark, str(tmp_path)),
        "webify_documents": webify_documents(docs),
        "extract_media_features": extract_media_features(
            spark.createDataFrame([], MEDIA_SCHEMA)),
        "extract_with_model": extract_with_model(extracted),
        "extract_with_model(use_model=False)": extract_with_model(extracted, use_model=False),
        "lsh_buckets": similarity.lsh_buckets(spark, SF),
        "lsh_candidate_pairs": similarity.lsh_candidate_pairs(spark, SF),
        "lsh_neardup_pairs": similarity.lsh_neardup_pairs(spark, SF),
        "minhash_lsh_pairs_df": minhash_lsh_pairs_df(load_table(spark, SF, "documents")),
    }
    plans = {name: df._jdf.queryExecution().executedPlan().toString()
             for name, df in frames.items()}
    assert set(tracker.getJobIdsForGroup(None)) == before
    for name, plan in plans.items():
        assert "MapInArrow" in plan and "MapInPandas" not in plan, (name, plan)


def test_load_table_schema_from_footers_starts_no_job(spark):
    """load_table's schema, built from the parquet footers, equals the one
    Spark infers (nullability and timestamp_ntz included) for every table
    at sf0.001 and sf0.01, and building its frames starts no Spark job."""
    import os

    from ocr_award_extractor_spark.sources.tables import TABLE_NAMES

    tracker = spark.sparkContext.statusTracker()
    for sf in (SF, os.path.join(os.path.dirname(SF), "sf0.01")):
        before = set(tracker.getJobIdsForGroup(None))
        frames = {t: load_table(spark, sf, t) for t in TABLE_NAMES}
        assert set(tracker.getJobIdsForGroup(None)) == before, sf
        for t, frame in frames.items():
            inferred = spark.read.parquet(os.path.join(sf, f"{t}.parquet")).schema
            assert frame.schema == inferred, (sf, t)


def test_timestamps_ignore_the_session_time_zone(spark, tmp_path):
    """Under America/New_York (a newSession clone, so the shared session's
    conf is never written): read_warc reads 2024-03-01T00:00:00Z as that
    instant, write_wet writes that instant as that Zulu time, and
    extract_documents gives each timestamp_ntz warc_ts of the fixture the
    value the lineage commit gives it."""
    from ocr_award_extractor_spark.operators.extract_pipeline import extract_documents
    from ocr_award_extractor_spark.plans.lineage import (
        read_committed, run_resumable_extraction,
    )
    from ocr_award_extractor_spark.sources.warc import read_warc, write_wet

    ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    warc = tmp_path / "warc"
    warc.mkdir()
    (warc / "a.warc").write_bytes(
        _record("response", "https://a.example/", "2024-03-01T00:00:00Z",
                _http(b"<p>a page</p>")))
    pages = read_warc(ny, str(warc))
    assert [r[0] for r in pages.select(F.unix_seconds("warc_ts")).collect()] == [
        MIDNIGHT_UTC]

    instant = ny.range(1).select(
        F.lit("https://a.example/").alias("url"), F.lit("a page").alias("text"),
        F.timestamp_seconds(F.lit(MIDNIGHT_UTC)).alias("warc_ts"))
    wet = tmp_path / "wet"
    assert write_wet(instant, str(wet), text_col="text") == 1
    (shard,) = wet.iterdir()
    assert b"WARC-Date: 2024-03-01T00:00:00Z\r\n" in gzip.decompress(shard.read_bytes())

    docs = load_fixture(ny, n_docs=50)
    assert dict(docs.dtypes)["warc_ts"] == "timestamp_ntz"
    out = str(tmp_path / "commit")
    run_resumable_extraction(ny, docs, out, "ny", n_splits=4)

    def micros(df):
        return dict(df.select("url", F.unix_micros("warc_ts")).collect())

    committed = micros(read_committed(ny, out))
    assert len(committed) == 50 and micros(extract_documents(docs)) == committed
