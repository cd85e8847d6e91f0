"""Resumable write path: per-partition lineage rows + split-set resume.

The reference has NO fault tolerance — a crash loses the whole run
(SURVEY.md §4). The north rule requires resumable jobs with per-partition
lineage (input split, row counts, checksum). Design:

* every document gets a deterministic ``split_id = pmod(xxhash64(url), N)``
  — stable across runs and cluster sizes, so resume is content-addressed,
  not file-order-addressed;
* splits are committed in BATCHES: each batch is one Spark job that writes
  its data partitions (dynamic partition overwrite — a re-run of a
  half-written batch replaces stray files instead of duplicating) and THEN
  appends one lineage row per split. The lineage append is the commit
  point: readers only trust splits present in the lineage dataset, which
  is exactly Iceberg's snapshot-visibility semantics done manually on
  parquet (no Iceberg jars in this sandbox; with Iceberg, data+lineage
  append in one transaction — see BASELINE.json north_star);
* on restart, the committed split ids are collected from lineage (≤ N
  rows) and each batch reads only its own pending splits through an
  ``isin`` filter on split_id — already-committed work is never
  recomputed or re-shuffled;
* checksum per split = bit_xor over xxhash64(url, chr0, ocr_text) —
  order-insensitive, overflow-free (ANSI mode safe), cheap to recompute
  for audit.

Layout under ``out_dir``:
    data/split_id=<k>/…parquet      extracted rows
    _lineage/…parquet               (run_id, split_id, row_count, checksum,
                                     committed_seq)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_SPLITS_DEFAULT = 16

_LINEAGE_SCHEMA = "run_id string, split_id int, row_count long, checksum long, committed_seq int"


def with_split_id(docs: DataFrame, n_splits: int = N_SPLITS_DEFAULT) -> DataFrame:
    return docs.withColumn(
        "split_id", F.pmod(F.xxhash64("url"), F.lit(n_splits)).cast("int")
    )


def committed_splits(spark: SparkSession, out_dir: str) -> DataFrame:
    """Lineage rows of committed splits (empty DataFrame if none yet).
    The schema-pinned read opens no file at plan time, so a corrupt
    lineage file fails the first action that reads it — never a silent
    "nothing committed"."""
    path = os.path.join(out_dir, "_lineage")
    if not os.path.exists(path):        # avoids a noisy JVM-side stack trace
        return spark.createDataFrame([], _LINEAGE_SCHEMA)
    return spark.read.schema(_LINEAGE_SCHEMA).parquet(path)


def _append_lineage_rows(lineage_dir: str, rows: list[tuple]) -> None:
    """Append one parquet file of lineage rows (schema exactly
    _LINEAGE_SCHEMA, so committed_splits' schema-pinned read sees it) via
    tmp + atomic rename — the dotfile tmp is invisible to parquet reads,
    so a crash mid-write leaves nothing half-committed."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(lineage_dir, exist_ok=True)
    schema = pa.schema([
        ("run_id", pa.string()), ("split_id", pa.int32()),
        ("row_count", pa.int64()), ("checksum", pa.int64()),
        ("committed_seq", pa.int32()),
    ])
    cols = list(zip(*rows)) if rows else [[], [], [], [], []]
    table = pa.table(
        {f.name: pa.array(list(c), type=f.type)
         for f, c in zip(schema, cols)}, schema=schema)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(lineage_dir, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(lineage_dir, name))


def _split_checksum_rows(extracted: DataFrame) -> DataFrame:
    return extracted.groupBy("split_id").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.bit_xor(
            F.xxhash64(F.col("url"), F.lit("\0"), F.coalesce(F.col("ocr_text"), F.lit("")))
        ).alias("checksum"),
    )


def run_resumable_extraction(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    *,
    n_splits: int = N_SPLITS_DEFAULT,
    n_batches: int = 4,
    max_batches: int | None = None,
    extract=None,
) -> dict:
    """Run (or resume) the extraction job with batch-granular commits.

    ``max_batches`` exists for tests: commit only the first N pending
    batches to simulate a killed job. Returns counters. ``extract`` defaults to the flagship
    extraction stage and must map a documents DataFrame (with split_id) to
    an output DataFrame that keeps url/ocr_text/split_id.
    """
    if extract is None:
        from ocr_award_extractor_spark.operators.extract_pipeline import (
            extract_documents,
        )

        def extract(pending: DataFrame) -> DataFrame:  # noqa: F811
            # split_id is a pure function of url, so recompute it JVM-side
            # AFTER the fast columnar extraction stage instead of threading
            # it through a bespoke per-row UDF (the list-of-dicts build was
            # the known 2× stage cost).
            # salt_partitions (round 7): each batch reads a split-filtered
            # slice whose scan parallelism can collapse to a couple of
            # bin-packed splits on small staged tables — the production
            # skew-defusing repartition (same as the flagship bench plan)
            # spreads the slice across the session's cores either way
            cores = spark.sparkContext.defaultParallelism
            out = extract_documents(pending.drop("split_id"),
                                    salt_partitions=cores)
            return out.withColumn(
                "split_id",
                F.pmod(F.xxhash64("url"), F.lit(n_splits)).cast("int"),
            )

    data_dir = os.path.join(out_dir, "data")
    lineage_dir = os.path.join(out_dir, "_lineage")

    # split ids are content-addressed MOD n_splits — changing n_splits
    # between runs on the same output would re-key splits and duplicate
    # rows, so the first run pins it and later runs must match.
    import json as _json

    meta_path = os.path.join(out_dir, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            pinned = _json.load(fh)["n_splits"]
        if pinned != n_splits:
            raise ValueError(
                f"output {out_dir} was created with n_splits={pinned}; "
                f"got {n_splits} — rerun with --n-splits {pinned}"
            )
    else:
        os.makedirs(out_dir, exist_ok=True)
        with open(meta_path, "w", encoding="utf-8") as fh:
            _json.dump({"n_splits": n_splits}, fh)

    already = {r["split_id"] for r in committed_splits(spark, out_dir).collect()}
    todo = sorted(set(range(n_splits)) - already)
    batches = [todo[i::n_batches] for i in range(n_batches)]
    batches = [b for b in batches if b]

    def commit_batch(seq_splits) -> int:
        """One batch: extract → partitioned data write → read-back
        checksums → lineage append (the commit point). Returns rows
        committed."""
        seq, splits = seq_splits
        pending = with_split_id(docs, n_splits).where(F.col("split_id").isin(splits))
        # cluster by split_id before the partitioned write: the salted
        # extraction stage otherwise leaves every task holding rows of
        # every split in the batch — tasks × splits tiny files per batch
        # (guide §6 file sizing). One narrow shuffle of the batch's
        # output puts each split in one writer task → one file per split.
        out = extract(pending).repartition(len(splits), "split_id")
        # dynamic partition overwrite: a rerun of a crashed batch replaces
        # stray files rather than appending duplicates
        (out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("split_id")
            .parquet(data_dir))
        # ONE checksum job per batch: collect the per-split stats rows
        # (≤ len(splits) rows) and write the lineage append from the
        # collected values — the old spelling ran the read-back aggregate
        # twice (once for the lineage write, once for the rows_written
        # collect). It lists only this batch's split directories: a
        # concurrent batch's overwrite deletes the stray files a killed
        # run left in ITS splits, and a listing of all of data/ that
        # caught one failed with FileNotFound when reading it
        own = [p for p in (os.path.join(data_dir, f"split_id={s}")
                           for s in splits) if os.path.isdir(p)]
        stats = (_split_checksum_rows(
            spark.read.option("basePath", data_dir).parquet(*own)).collect()
            if own else [])
        # the commit point: append the ≤len(splits) lineage rows as one
        # parquet file written driver-side (tmp + atomic rename). The
        # values are already collected for the row counter, so a whole
        # Spark write job (~0.5 s of fixed overhead per batch) bought
        # nothing — and concurrent Spark APPEND jobs race on the shared
        # _temporary committer dir, while unique-named rename-committed
        # files cannot collide. Driver state stays ≤ n_splits rows — the
        # same budget committed_splits() already collects on resume.
        _append_lineage_rows(
            lineage_dir,
            [(run_id, int(r["split_id"]), r["row_count"], r["checksum"], seq)
             for r in stats])
        return sum(r["row_count"] for r in stats)

    # resume is keyed on the committed split SET, so "the first N
    # batches" is well-defined however the pool below orders them
    batches = batches[:max_batches]
    rows_written = 0
    if batches:
        # Overlap the independent batch jobs (guide §2.6): each batch owns
        # a DISJOINT set of split partitions and its own lineage append
        # (unique part filenames), so in-flight batches never touch the
        # same files; overlapping back-fills one batch's commit/checksum
        # tail with the next batches' extraction. Measured ladder on the
        # 80k-doc rehearsal corpus (8 batches): sequential ~18 s → 2-deep
        # 11.7 s → 3-deep 6.8–10.1 s → 4-deep 5.9 s → 6-deep 5.7 s; the
        # batches are commit-overhead-bound, so the guide's 2-3 guidance
        # (sized for compute-bound jobs) undershoots — 4 captures the
        # win, beyond it is noise. Crash-ordering is unchanged in kind:
        # resume is content-addressed on the lineage split set, so any
        # committed subset — contiguous or not — resumes correctly.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, len(batches))) as pool:
            rows_written = sum(pool.map(commit_batch, enumerate(batches)))

    return {"batches_committed": len(batches),
            "splits_total": n_splits,
            "splits_previously_committed": len(already),
            "rows_written": rows_written}


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read ONLY committed data: inner-join the data partitions against the
    lineage split list (the snapshot-visibility read path)."""
    lin = committed_splits(spark, out_dir).select("split_id").distinct()
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    return data.join(F.broadcast(lin), "split_id")


def verify_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Audit: recompute per-split checksums from data and diff vs lineage.
    NULL-safe comparison: a split present on only ONE side (data deleted
    after commit, or stray uncommitted data) yields NULLs on the other —
    a plain != would drop exactly those rows and pass the audit on a
    dataset missing a whole split."""
    lin = committed_splits(spark, out_dir).select("split_id", "row_count", "checksum")
    actual = _split_checksum_rows(read_committed(spark, out_dir)).withColumnRenamed(
        "row_count", "actual_rows").withColumnRenamed("checksum", "actual_checksum")
    return (
        lin.join(actual, "split_id", "full")
        .where(~F.col("row_count").eqNullSafe(F.col("actual_rows"))
               | ~F.col("checksum").eqNullSafe(F.col("actual_checksum")))
    )
