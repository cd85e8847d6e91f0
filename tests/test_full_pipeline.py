"""The full-stack rehearsal (plans/full_pipeline.py) on a PLANTED corpus
where every stage provably does work: a gate-failing spam doc, an exact
duplicate pair, and a near-duplicate — each must fall out at exactly its
stage, and the lineage audit must pass."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# doc_ids avoid webify's CJK award injection (doc_id % 10 == 3) so the
# extracted text is exactly the chunked original
BASE = ["the", "and"] + [f"alpha{i}bet" for i in range(58)]   # 60 words
DOCS = [
    (0, " ".join(BASE)),                                # keeper
    (1, " ".join(BASE)),                                # exact dup of 0
    (2, " ".join(BASE[:-2] + ["zulu", "zebra"])),       # near-dup of 0
    (4, " ".join(["spam"] * 50)),                       # fails ok_dup gate
]


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    from ocr_award_extractor_spark.operators.webify import webify_documents
    from ocr_award_extractor_spark.plans.full_pipeline import (
        run_training_data_pipeline,
    )

    d = tmp_path_factory.mktemp("fullpipe")
    rows = [{"doc_id": i, "text": t, "lang": "en", "source": f"s{i}",
             "n_chars": len(t)} for i, t in DOCS]
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(d, "documents.parquet"))
    pages_dir = str(d / "pages")
    webify_documents(spark.read.parquet(
        os.path.join(d, "documents.parquet"))) \
        .write.parquet(pages_dir)
    out_dir = str(d / "out")
    summary = run_training_data_pipeline(
        spark, spark.read.parquet(pages_dir), out_dir, "pytest",
        n_splits=2, wet_out=str(d / "wet"))
    return summary, out_dir


def test_wet_export_stage_is_complete_and_byte_identical(pipeline_run, spark):
    """--wet-out (r5 verdict #2): the WET export stage runs after the
    extraction commit, writes exactly the committed success rows, and the
    shards read back with byte-identical text per url."""
    summary, out_dir = pipeline_run
    from ocr_award_extractor_spark.sources.warc import read_wet

    wet_dir = os.path.join(os.path.dirname(out_dir), "wet")
    stage = {s["stage"]: s for s in summary["stages"]}["wet_export"]
    assert stage["rows_out"] == summary["rows"]["extracted"]
    back = {r["url"]: r["text"]
            for r in read_wet(spark, wet_dir).collect()}
    docs = {r["url"]: r["text"]
            for r in spark.read.parquet(os.path.join(out_dir, "docs")).collect()}
    assert back == docs and len(back) == summary["rows"]["extracted"]


def test_stage_rowcounts_tell_the_planted_story(pipeline_run):
    rows = pipeline_run[0]["rows"]
    assert rows["pages"] == rows["extracted"] == 4   # all extract cleanly
    assert rows["gated"] == 3          # spam doc fails the dup-frac gate
    assert rows["exact_unique"] == 2   # docs 0/1 collapse to one keeper
    assert rows["neardup_unique"] == 1  # near-dup 2 clusters with the keeper
    assert rows["sampled"] <= rows["neardup_unique"]


def test_stage_outputs_are_staged_tables(pipeline_run, spark):
    """Every stage hand-off is a readable parquet table whose row count
    matches the reported stats — staging IS the contract, so a stage that
    silently recomputed upstream work instead of reading its input table
    would show up here."""
    summary, out_dir = pipeline_run
    expected = {
        "docs": summary["rows"]["extracted"],
        "gated": summary["rows"]["gated"],
        "exact_dedup": summary["rows"]["exact_unique"],
        "neardup_dedup": summary["rows"]["neardup_unique"],
        "sample": summary["rows"]["sampled"],
    }
    for sub, n in expected.items():
        got = spark.read.parquet(os.path.join(out_dir, sub)).count()
        assert got == n, (sub, got, n)
    # stage chain is monotone non-increasing after extraction
    seq = [summary["rows"][k] for k in
           ("extracted", "gated", "exact_unique", "neardup_unique", "sampled")]
    assert all(a >= b for a, b in zip(seq, seq[1:])), seq


def test_pipeline_resumes_after_partial_extraction(pipeline_run, spark,
                                                   tmp_path):
    """North-rule resumability at the COMPOSED level: extraction dies
    after one committed batch; re-running the WHOLE pipeline over the
    same output root resumes the extraction from the lineage (committed
    splits skipped via the anti-join) and the downstream stages produce
    exactly the clean run's row story."""
    from ocr_award_extractor_spark.operators.webify import webify_documents
    from ocr_award_extractor_spark.plans.full_pipeline import (
        run_training_data_pipeline,
    )
    from ocr_award_extractor_spark.plans.lineage import (
        run_resumable_extraction,
    )

    from ocr_award_extractor_spark.plans.lineage import with_split_id

    rows = [{"doc_id": i, "text": t, "lang": "en", "source": f"s{i}",
             "n_chars": len(t)} for i, t in DOCS]
    pages_dir = str(tmp_path / "pages")
    webify_documents(spark.createDataFrame(rows)).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    out_dir = str(tmp_path / "out")

    # PRECONDITION (not luck): the planted urls must hash into BOTH
    # splits, or max_batches=1 would not actually be partial — surface a
    # DOCS/url-scheme change here instead of a confusing downstream fail
    split_ids = {r["split_id"]
                 for r in with_split_id(pages, n_splits=2)
                 .select("split_id").distinct().collect()}
    assert split_ids == {0, 1}, split_ids

    # simulate the kill: only ONE of two batches commits
    stats = run_resumable_extraction(
        spark, pages, os.path.join(out_dir, "extracted"), "pytest",
        n_splits=2, n_batches=2, max_batches=1)
    assert 0 < stats["rows_written"] < len(DOCS)     # genuinely partial

    summary = run_training_data_pipeline(
        spark, pages, out_dir, "pytest", n_splits=2)
    assert summary["rows"] == pipeline_run[0]["rows"]   # identical story


def test_doc_id_width_collision_freedom(spark):
    """r4 verdict #6: the birthday tradeoff is a flag, not prose. Over a
    640k-url corpus (the rehearsal's stress size) BOTH widths must be
    collision-free; the 128-bit id must be a 32-hex string (two salted
    halves — really 128 bits, not one hash repeated)."""
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.plans.full_pipeline import doc_id_expr

    urls = spark.range(640_000).select(
        F.format_string("https://host%04d.example/p/%08d",
                        (F.col("id") % 9973).cast("int"),
                        F.col("id").cast("int")).alias("url"))
    for bits in (64, 128):
        ids = urls.select(doc_id_expr(bits))
        n, nd = ids.agg(F.count("doc_id"),
                        F.count_distinct("doc_id")).first()
        assert (n, nd) == (640_000, 640_000), bits
    one = urls.limit(1).select(doc_id_expr(128)).first()["doc_id"]
    assert len(one) == 32 and one[:16] != one[16:]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="64 or 128"):
        doc_id_expr(96)


def test_pipeline_with_128_bit_ids_same_story(pipeline_run, spark, tmp_path):
    """The whole rehearsal runs on string 128-bit ids (minhash kernel,
    connected components, sampling all id-type-generic) and tells the
    SAME planted row story as the 64-bit run — except sampling, whose
    md5(doc_id) gate is id-representation-dependent by design."""
    from ocr_award_extractor_spark.plans.full_pipeline import (
        run_training_data_pipeline,
    )

    summary64, out_dir = pipeline_run
    pages_dir = os.path.join(os.path.dirname(out_dir), "pages")
    summary = run_training_data_pipeline(
        spark, spark.read.parquet(pages_dir), str(tmp_path / "out128"),
        "pytest128", n_splits=2, id_bits=128)
    for k in ("pages", "extracted", "gated", "exact_unique",
              "neardup_unique"):
        assert summary["rows"][k] == summary64["rows"][k], k
    # the staged doc table really carries the wide ids
    docs = spark.read.parquet(str(tmp_path / "out128" / "docs"))
    assert dict(docs.dtypes)["doc_id"] == "string"
    assert {len(r["doc_id"]) for r in docs.select("doc_id").collect()} == {32}


def test_decontaminate_stage_drops_exactly_bench_gated_docs(spark, tmp_path):
    """--decontaminate (r6): every doc body is doc-tagged-unique (no two
    docs share a 5-gram), so organic contamination is impossible and the
    stage must drop EXACTLY the md5-bench-gated survivors of the dedup
    stages (eval-set stand-ins leave the training corpus)."""
    import hashlib

    from ocr_award_extractor_spark.operators.textstats import (
        DECON_BENCH_MOD,
    )
    from ocr_award_extractor_spark.operators.webify import webify_documents
    from ocr_award_extractor_spark.plans.full_pipeline import (
        run_training_data_pipeline,
    )

    # ids i*10 avoid webify's CJK injection (doc_id % 10 == 3), which
    # could otherwise plant shared 5-grams across docs
    rows = [{
        "doc_id": i * 10,
        "text": "the and " + " ".join(f"d{i}w{j}" for j in range(58)),
        "lang": "en", "source": f"s{i}", "n_chars": 400,
    } for i in range(40)]
    pages_dir = str(tmp_path / "pages")
    webify_documents(spark.createDataFrame(rows)).write.parquet(pages_dir)

    out = str(tmp_path / "out")
    summary = run_training_data_pipeline(
        spark, spark.read.parquet(pages_dir), out, "pytest-decon",
        n_splits=2, decontaminate=True)

    neardup = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(out, "neardup_dedup")).select("doc_id").collect()}
    clean = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(out, "decontaminated")).select("doc_id").collect()}

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    bench = {i for i in neardup if bucket(i) % DECON_BENCH_MOD == 0}
    assert bench, "fixed corpus must land ≥1 doc in the bench gate"
    assert clean == neardup - bench

    st = {s["stage"]: s for s in summary["stages"]}["decontaminate"]
    assert st["rows_in"] == len(neardup) and st["rows_out"] == len(clean)
    assert summary["rows"]["decontaminated"] == len(clean)
    assert summary["rows"]["neardup_unique"] == len(neardup)


def test_host_cap_and_pack_stages(spark, tmp_path):
    """--host-cap / --pack-budget (r6): the cap stage keeps exactly the
    first `cap` docs per url host under the (md5 bucket, doc_id) order
    (checked against an independent naive window over the staged
    neardup table), the sample stays inside the capped set, and the
    shard manifest is the exclusive token cumsum with the reported
    shard count."""
    import hashlib

    from ocr_award_extractor_spark.operators.webify import webify_documents
    from ocr_award_extractor_spark.plans.full_pipeline import (
        run_training_data_pipeline,
    )

    # 40 unique-word docs over TWO sources → hosts s0.example/s1.example
    # carry ~20 docs each, so cap=5 bites on both (ids i*10 avoid the
    # CJK injection branch)
    rows = [{
        "doc_id": i * 10,
        "text": "the and " + " ".join(f"h{i}w{j}" for j in range(58)),
        "lang": "en", "source": f"s{i % 2}", "n_chars": 400,
    } for i in range(40)]
    pages_dir = str(tmp_path / "pages")
    webify_documents(spark.createDataFrame(rows)).write.parquet(pages_dir)

    out = str(tmp_path / "out")
    summary = run_training_data_pipeline(
        spark, spark.read.parquet(pages_dir), out, "pytest-cap",
        n_splits=2, host_cap=5, pack_budget=64)

    neardup = spark.read.parquet(os.path.join(out, "neardup_dedup"))
    capped = spark.read.parquet(os.path.join(out, "host_capped"))
    assert summary["rows"]["host_capped"] == capped.count() == 10

    # independent naive expectation: md5-bucket rank per host
    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)

    by_host: dict[str, list] = {}
    for r in neardup.select("doc_id", "url").collect():
        host = r["url"].split("/")[2]
        by_host.setdefault(host, []).append(r["doc_id"])
    want = set()
    for host, ids in by_host.items():
        assert len(ids) > 5            # the cap must actually bite
        want |= set(sorted(ids, key=lambda d: (bucket(d), d))[:5])
    got = {r["doc_id"] for r in capped.select("doc_id").collect()}
    assert got == want

    sampled = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(out, "sample")).select("doc_id").collect()}
    assert sampled <= got and summary["rows"]["sampled"] == len(sampled)

    shards = spark.read.parquet(os.path.join(out, "shards"))
    srows = sorted(shards.collect(), key=lambda r: r["tok_offset"])
    assert {r["doc_id"] for r in srows} == sampled
    run = 0
    for r in srows:
        assert r["tok_offset"] == run and r["shard"] == run // 64
        run += r["n_toks"]
    assert summary["rows"]["shards"] == srows[-1]["shard"] + 1
    st = {s["stage"]: s for s in summary["stages"]}
    assert st["host_cap"]["rows_out"] == 10
    assert st["pack_shards"]["rows_in"] == len(sampled)


def test_pipeline_job_budget(pipeline_run, spark, tmp_path):
    """Stage tables count themselves: row counts are Observations on the
    stage writes and staged tables read back with their known schema, and
    the committed read starts no job, so the planted run with WET export
    and packing stays within 43 Spark jobs (39 measured). Jobs submitted
    from other driver threads do not inherit the job group, so ungrouped
    jobs started meanwhile count too."""
    from ocr_award_extractor_spark.plans.full_pipeline import (
        run_training_data_pipeline,
    )

    pages_dir = os.path.join(os.path.dirname(pipeline_run[1]), "pages")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "full-pipeline-budget"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        summary = run_training_data_pipeline(
            spark, spark.read.parquet(pages_dir), str(tmp_path / "out"),
            "pytest-budget", n_splits=2, wet_out=str(tmp_path / "wet"),
            pack_budget=64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = (set(tracker.getJobIdsForGroup(group))
            | set(tracker.getJobIdsForGroup(None)) - ungrouped)
    rows = dict(summary["rows"])
    assert rows.pop("shards") >= 1 and rows == pipeline_run[0]["rows"]
    assert 1 <= len(jobs) <= 43, len(jobs)


def test_all_gate_failures_leave_an_empty_chain(spark, tmp_path):
    """Every doc fails the Gopher gate: every stage after extraction
    writes an empty table. Each reports 0 rows, packing reports shards=0
    (an empty sample has no max shard), and each staged table reads back
    with 0 rows and its columns."""
    from ocr_award_extractor_spark.operators.webify import webify_documents
    from ocr_award_extractor_spark.plans.full_pipeline import (
        run_training_data_pipeline,
    )

    spam = " ".join(["spam"] * 50)
    rows = [{"doc_id": i * 10, "text": spam, "lang": "en",
             "source": f"s{i}", "n_chars": len(spam)} for i in range(4)]
    pages_dir = str(tmp_path / "pages")
    webify_documents(spark.createDataFrame(rows)).write.parquet(pages_dir)

    out = str(tmp_path / "out")
    summary = run_training_data_pipeline(
        spark, spark.read.parquet(pages_dir), out, "pytest-empty",
        n_splits=2, decontaminate=True, host_cap=5, pack_budget=64)
    got = summary["rows"]
    assert got["pages"] == got["extracted"] == 4
    for k in ("gated", "exact_unique", "neardup_unique", "decontaminated",
              "host_capped", "sampled", "shards"):
        assert got[k] == 0, k
    assert all(s["rows_out"] == 0 for s in summary["stages"][1:])

    doc_cols = ["doc_id", "url", "text", "lang"]
    for sub in ("gated", "exact_dedup", "neardup_dedup", "decontaminated",
                "host_capped", "sample"):
        t = spark.read.parquet(os.path.join(out, sub))
        assert (t.count(), t.columns) == (0, doc_cols), sub
    t = spark.read.parquet(os.path.join(out, "shards"))
    assert (t.count(), t.columns) == (0, ["doc_id", "n_toks", "tok_offset",
                                          "shard"])
