"""The workloads: inputs, one timed job, its correctness check, and
the layer probes of the traced run.

Each workload's ``iteration`` runs one batch job (the closed loop's unit of
work), returns its wall time for the timed calls only, and counts the docs
whose output failed the check. Calls into a layer go through
``Context.call`` so the traced run can wrap them in spans and job groups.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from observe import median

KERNEL_SAMPLE = 400        # pages in the in-process kernel probe
BOUNDARY_REPEATS = 3


def checksum_cols(url: str, text: str):
    """Order-free (count, checksum) of (url, text) pairs: the lineage
    checksum spelling, so NULL text reads as ''."""
    return [F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.col(url), F.lit("\0"),
                                 F.coalesce(F.col(text), F.lit(""))))
            .alias("checksum")]


def text_mismatches(extracted, truth) -> int:
    """Urls whose extracted text differs from the truth, or that appear on
    one side only (the slow per-url check behind a checksum mismatch)."""
    a = extracted.select("url", F.coalesce("ocr_text", F.lit("")).alias("got"))
    b = truth.select("url", F.coalesce("text", F.lit("")).alias("want"))
    return a.join(b, "url", "full").where(
        ~F.col("got").eqNullSafe(F.col("want"))).count()


class Context:
    """What a workload needs from the runner: the session, core count, a
    scratch directory, and the (optional) tracer and status reader."""

    def __init__(self, spark, cores, work_dir, tracer, status):
        self.spark = spark
        self.cores = cores
        self.work_dir = work_dir
        self.tracer = tracer
        self.status = status
        self.calls: list[tuple[dict, dict]] = []    # (span, job window)

    def call(self, label: str, fn):
        if self.status is None:
            return fn()
        t0 = time.perf_counter()
        with self.tracer.span(label) as span:
            with self.status.group(label) as window:
                t1 = time.perf_counter()
                out = fn()
                t2 = time.perf_counter()
        # what the span and job-group bookkeeping added to the call
        window["overhead_s"] = (time.perf_counter() - t0) - (t2 - t1)
        self.calls.append((span, window))
        return out

    def timed(self, label: str, fn):
        t0 = time.perf_counter()
        out = self.call(label, fn)
        return out, time.perf_counter() - t0


class Workload:
    name = ""
    pages = ""            # parquet of the workload's pages (url, warc_ts, html, text, lang)
    extract_partitions = 0
    off_path: tuple = ()  # per-layer prefixes this workload's calls never reach
    min_jobs = 1          # timed jobs a run makes even past --seconds

    def docs(self) -> int:
        raise NotImplementedError

    def prepare(self, seed: int, workers: int, trace: bool) -> None:
        """Generate the seeded inputs (before any JVM starts)."""

    def after_setup(self, spark, cores: int, trace: bool) -> None:
        """Inputs that need Spark, and the expected results."""

    def iteration(self, ctx: Context, i: int) -> dict:
        raise NotImplementedError

    def layer_metrics(self, ctx: Context, iters: list[dict]) -> dict:
        return {}

    def extract_wall(self, iters: list[dict]) -> float:
        raise NotImplementedError


# ----------------------------------------------------------- extract_mixed
class ExtractMixed(Workload):
    """fixture_gen pages from parquet through ``extract_documents`` with
    salt_partitions = 4 x cores, forced by the checksum aggregate."""

    name = "extract_mixed"
    n_docs = 2000
    off_path = ("lineage.", "warc.", "full_pipeline.")

    def docs(self):
        return self.n_docs

    def prepare(self, seed, workers, trace):
        self.pages = inputs.fixture_pages(self.name, seed, self.n_docs, workers)

    def after_setup(self, spark, cores, trace):
        self.extract_partitions = 4 * cores
        self.expected = _truth_checksum(spark, self.pages)

    def iteration(self, ctx, i):
        from ocr_award_extractor_spark.operators.extract_pipeline import (
            extract_documents,
        )

        spark = ctx.spark
        pages = spark.read.parquet(self.pages)

        def run():
            out = extract_documents(pages, salt_partitions=self.extract_partitions)
            return out.agg(*checksum_cols("url", "ocr_text")).first()

        row, wall = ctx.timed("operators.extract_pipeline.extract_documents", run)
        failed = 0
        if (row["n"], row["checksum"]) != self.expected:
            failed = max(1, text_mismatches(
                extract_documents(pages, salt_partitions=self.extract_partitions),
                pages))
        return {"wall_s": wall, "failed": failed}

    def extract_wall(self, iters):
        return median([it["wall_s"] for it in iters])


def _truth_checksum(spark, pages_path: str) -> tuple:
    """(count, checksum) of the generator's (url, text) ground truth, cached
    beside the pages."""
    path = os.path.join(os.path.dirname(pages_path), "truth_checksum.json")
    if not os.path.exists(path):
        row = spark.read.parquet(pages_path).agg(*checksum_cols("url", "text")).first()
        inputs._write_json(path, [row["n"], row["checksum"]])
    return tuple(inputs.read_json(path))


# ------------------------------------------------------------- lineage probe
LINEAGE_DOCS = 1000
LINEAGE_SPLITS = 32
LINEAGE_BATCHES = 4


def lineage_probe(ctx: Context, pages_path: str, expected: tuple) -> dict:
    """Resumable commits of a fixture_gen corpus: a full commit into a fresh
    directory; into a second one a commit stopped at half the batches, then
    the resume; then ``verify_lineage`` and ``read_committed`` of both.
    Raises when the audit finds anomalies or a committed checksum differs
    from the generator's ground truth."""
    from ocr_award_extractor_spark.plans.lineage import (
        read_committed, run_resumable_extraction, verify_lineage,
    )

    spark = ctx.spark
    docs = spark.read.parquet(pages_path)
    base = os.path.join(ctx.work_dir, "lineage")
    full, part = os.path.join(base, "full"), os.path.join(base, "resumed")
    kw = dict(n_splits=LINEAGE_SPLITS, n_batches=LINEAGE_BATCHES)
    run = "plans.lineage.run_resumable_extraction"
    _, commit_s = ctx.timed(f"{run}[full]", lambda: run_resumable_extraction(
        spark, docs, full, "full", **kw))
    commit_jobs = len(ctx.calls[-1][1]["jobs"])
    ctx.timed(f"{run}[partial]", lambda: run_resumable_extraction(
        spark, docs, part, "partial", max_batches=LINEAGE_BATCHES // 2, **kw))
    resumed, resume_s = ctx.timed(f"{run}[resume]", lambda: run_resumable_extraction(
        spark, docs, part, "resume", **kw))
    anomalies, audit_s = ctx.timed("plans.lineage.verify_lineage", lambda: (
        verify_lineage(spark, part).count()))

    def read_both():
        return [tuple(read_committed(spark, d).agg(
            *checksum_cols("url", "ocr_text")).first()) for d in (full, part)]

    sums, read_s = ctx.timed("plans.lineage.read_committed", read_both)
    if anomalies or sums != [expected, expected]:
        raise RuntimeError(f"lineage check failed: {anomalies} audit anomalies, "
                           f"committed (rows, checksum) {sums}, expected {expected}")
    files = [os.path.join(r, f) for r, _, fs in os.walk(os.path.join(full, "data"))
             for f in fs if f.endswith(".parquet")]
    pending = 1 - resumed["splits_previously_committed"] / LINEAGE_SPLITS
    out = {
        "lineage.commit_s": commit_s,
        "lineage.resume_s": resume_s,
        "lineage.audit_s": audit_s,
        "lineage.read_committed_s": read_s,
        "lineage.data_files": len(files),
        "lineage.bytes_written_mb": sum(os.path.getsize(f) for f in files) / 1e6,
        "lineage.jobs_per_batch": commit_jobs / LINEAGE_BATCHES,
        "lineage.resume_cost_ratio": (resume_s / commit_s) / pending,
    }
    shutil.rmtree(base, ignore_errors=True)
    return out


def _calls_by_iter(ctx, iters):
    return [ctx.calls[it["calls"][0]:it["calls"][1]] for it in iters]


# ------------------------------------------------------- crawl_warc_to_wet
FULL_PIPELINE_STAGES = ("extract", "wet_export", "gopher_gate", "exact_dedup",
                        "neardup_clusters", "stratified_sample", "pack_shards",
                        "verify_lineage")
PINNED_ROWS = ("gated", "exact_unique", "neardup_unique", "sampled", "shards")


class CrawlWarcToWet(Workload):
    """sf0.1-shaped documents webified into WARC shards. One job is crawl
    in to crawl out: ``read_warc`` through ``run_resumable_extraction``
    (lineage commits at the default splits and batches), then the committed
    rows exported by ``write_wet`` and read back. The traced run adds one
    run of the full training-data pipeline (gate, dedup, sampling, packing)
    and the lineage probe."""

    name = "crawl_warc_to_wet"
    n_docs = 200           # base documents; seeded copies come on top
    n_shards = 8
    min_jobs = 2           # a job takes most of a run's --seconds

    def docs(self):
        return self.meta["pages"]

    def prepare(self, seed, workers, trace):
        self.cache = inputs.crawl_pages(seed, self.n_docs)
        self.pages = os.path.join(self.cache, "pages.parquet")
        self.meta = inputs.read_json(os.path.join(self.cache, "meta.json"))
        if trace:
            self.lineage_pages = inputs.fixture_pages(
                "lineage", seed, LINEAGE_DOCS, workers)

    def after_setup(self, spark, cores, trace):
        if trace:
            self.lineage_expected = _truth_checksum(spark, self.lineage_pages)
        self.extract_partitions = cores
        self.warc = inputs.ensure_warc(spark, self.cache, self.n_shards)
        self.warc_bytes = sum(os.path.getsize(os.path.join(self.warc, f))
                              for f in os.listdir(self.warc))
        table = pq.read_table(self.pages, columns=["url", "text"])
        self.truth = dict(zip(table.column("url").to_pylist(),
                              table.column("text").to_pylist()))

    def iteration(self, ctx, i):
        from ocr_award_extractor_spark.plans.lineage import (
            read_committed, run_resumable_extraction,
        )
        from ocr_award_extractor_spark.sources.warc import (
            read_warc, read_wet, write_wet,
        )

        spark = ctx.spark
        base = os.path.join(ctx.work_dir, f"crawl-{i}")
        extracted, wet = os.path.join(base, "extracted"), os.path.join(base, "wet")
        _, extract_s = ctx.timed("plans.lineage.run_resumable_extraction", lambda: (
            run_resumable_extraction(spark, read_warc(spark, self.warc),
                                     extracted, f"it{i}")))
        written, wet_s = ctx.timed("sources.warc.write_wet", lambda: write_wet(
            read_committed(spark, extracted), wet, mode="overwrite"))
        back = read_wet(spark, wet).select("url", "text").collect()
        shutil.rmtree(base, ignore_errors=True)
        return {"wall_s": extract_s + wet_s, "extract_s": extract_s,
                "failed": self._check_wet(written, back)}

    def _check_wet(self, written: int, rows) -> int:
        """Docs failing the check: per-url byte identity of the WET text
        read back, plus every doc when a count is off."""
        got = {r["url"]: r["text"] for r in rows}
        failed = sum(1 for u, t in self.truth.items() if got.get(u) != t)
        failed += sum(1 for u in got if u not in self.truth)
        if not written == len(rows) == self.meta["pages"]:
            return self.meta["pages"]
        return failed

    def _pipeline_probe(self, ctx) -> dict:
        """One run of the full pipeline on the same WARC shards, checked
        like a job; per-stage walls and row counts from its summary."""
        from ocr_award_extractor_spark.operators.corpus import PACK_BUDGET
        from ocr_award_extractor_spark.plans.full_pipeline import (
            run_training_data_pipeline,
        )
        from ocr_award_extractor_spark.sources.warc import read_warc

        spark = ctx.spark
        base = os.path.join(ctx.work_dir, "pipeline")
        summary = ctx.call("plans.full_pipeline.run_training_data_pipeline",
                           lambda: run_training_data_pipeline(
                               spark, read_warc(spark, self.warc),
                               os.path.join(base, "p"), "probe",
                               wet_out=os.path.join(base, "wet"),
                               pack_budget=PACK_BUDGET))
        failed = self._check(summary, os.path.join(base, "p"))
        shutil.rmtree(base, ignore_errors=True)
        if failed:
            raise RuntimeError(f"full pipeline check failed for {failed} docs")
        out = {}
        stages = {s["stage"]: s for s in summary["stages"]}
        for stage in FULL_PIPELINE_STAGES:
            out[f"full_pipeline.{stage}.wall_s"] = stages[stage]["wall_sec"]
            out[f"full_pipeline.{stage}.rows_out"] = stages[stage]["rows_out"]
        return out

    def _check(self, summary, out) -> int:
        """Docs failing the check: per-url byte identity of the committed
        text, plus every doc when a stage count is off."""
        rows = summary["rows"]
        stages = {s["stage"]: s for s in summary["stages"]}
        docs = pq.read_table(os.path.join(out, "docs"), columns=["url", "text"])
        got = dict(zip(docs.column("url").to_pylist(), docs.column("text").to_pylist()))
        failed = sum(1 for u, t in self.truth.items() if got.get(u) != t)
        failed += sum(1 for u in got if u not in self.truth)
        gated = pq.read_table(os.path.join(out, "gated"), columns=["text"])
        pinned = inputs.pinned_counts(self.cache, {k: rows[k] for k in PINNED_ROWS})
        counts_ok = (
            rows["pages"] == rows["extracted"] == self.meta["pages"]
            and stages["wet_export"]["rows_out"] == rows["extracted"]
            and rows["exact_unique"] == len(pc.unique(gated.column("text")))
            and all(rows[k] == pinned[k] for k in PINNED_ROWS))
        return failed if counts_ok else self.meta["pages"]

    def layer_metrics(self, ctx, iters):
        out = self._pipeline_probe(ctx)
        scanned = [ctx.status.scan_bytes(calls[0][1]["jobs"], "binaryFile", self.warc)
                   for calls in _calls_by_iter(ctx, iters)]
        out["warc.scan_amplification"] = median(scanned) / self.warc_bytes
        out.update(self._warc_read(ctx))
        out.update(lineage_probe(ctx, self.lineage_pages, self.lineage_expected))
        return out

    def _warc_read(self, ctx) -> dict:
        """``read_warc`` alone: forced through the noop sink, then counted."""
        from ocr_award_extractor_spark.sources.warc import read_warc

        spark = ctx.spark
        times = []
        for _ in range(2):
            _, t = ctx.timed("sources.warc.read_warc[noop]", lambda: (
                read_warc(spark, self.warc).write.format("noop")
                .mode("overwrite").save()))
            times.append(t)
        row = ctx.call("sources.warc.read_warc[count]", lambda: read_warc(
            spark, self.warc).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("url").startswith("warc-error://").cast("int")).alias("err"),
            ).first())
        return {"warc.read_s": median(times),
                "warc.records": row["n"] - (row["err"] or 0),
                "warc.error_rows": row["err"] or 0}

    def extract_wall(self, iters):
        return median([it["extract_s"] for it in iters])


WORKLOADS = {w.name: w for w in (ExtractMixed, CrawlWarcToWet)}


# ------------------------------------------------------------ layer probes
def kernel_probe(ctx: Context, pages_path: str, seed: int) -> dict:
    """``functions`` in-process on a seeded sample, no Spark: docs/s of the
    per-document kernel and the segmenter's share of the kernel time."""
    from ocr_award_extractor_spark.functions.extract import extract_fields
    from ocr_award_extractor_spark.functions.htmltext import extract_page, segment_html
    from ocr_award_extractor_spark.operators.extract_pipeline import extract_record

    table = pq.read_table(pages_path, columns=["url", "warc_ts", "lang", "html"])
    idx = sorted(random.Random(f"kernel:{seed}").sample(
        range(table.num_rows), min(KERNEL_SAMPLE, table.num_rows)))
    rows = table.take(idx).to_pylist()
    clock = time.perf_counter
    t_record = t_segment = t_fields = 0.0
    errors = 0
    with ctx.tracer.span("functions.kernel_probe", docs=len(rows)):
        for r in rows:
            t0 = clock()
            rec = extract_record(r["url"], r["warc_ts"], r["lang"], r["html"])
            t_record += clock() - t0
            errors += rec["status"] == "error"
            html = r["html"] or b""
            text = html.decode("utf-8", errors="replace")
            t0 = clock()
            segment_html(text)
            t_segment += clock() - t0
            page = extract_page(html)
            if page["status"] == "success":
                t0 = clock()
                extract_fields(page["lines"], "\n".join(page["lines"]))
                t_fields += clock() - t0
    return {"functions.kernel_docs_per_s_core": len(rows) / t_record,
            "functions.segment_share": t_segment / (t_segment + t_fields),
            "functions.error_rows": errors}


def boundary_probe(ctx: Context, wl: Workload) -> float:
    """Seconds for an identity ``mapInPandas`` over the workload's pages,
    with the extraction's columns and salted partitioning, forced by the
    same kind of checksum aggregate."""
    from ocr_award_extractor_spark.config import SALT_SEED

    spark = ctx.spark
    cols = ("url", "warc_ts", "lang", "html")

    def identity(batches):
        yield from batches

    pages = spark.read.parquet(wl.pages).select(*cols).repartition(
        wl.extract_partitions, F.xxhash64("url", F.lit(SALT_SEED)))
    schema = pages.schema
    times = []
    for _ in range(BOUNDARY_REPEATS):
        _, t = ctx.timed("extract_pipeline.identity_mapInPandas", lambda: (
            pages.mapInPandas(identity, schema)
            .agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64("url", "html"))).first()))
        times.append(t)
    return median(times)
