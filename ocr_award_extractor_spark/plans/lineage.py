"""Resumable write path: per-split commits with lineage rows.

The reference has NO fault tolerance — a crash loses the whole run
(SURVEY.md §4). The north rule requires resumable jobs with per-partition
lineage (input split, row counts, checksum). Design:

* every document gets a deterministic ``split_id = pmod(xxhash64(url), N)``
  — stable across runs and cluster sizes, so resume is content-addressed,
  not file-order-addressed;
* ONE Spark job commits every pending split (the splits without a lineage
  row): it reads the input once, keeps only pending splits AHEAD of the
  extraction kernel (a resume never re-extracts a committed split), and
  shuffles once by ``split_id`` so each split's rows reach one task of
  the writer kernel :func:`_write_splits`. At the end of its input the
  writer commits each split by four file-system steps, in order:

  1. close the split's tmp file ``data/split_id=<k>/.part-<uuid>.tmp``;
  2. remove every other entry of ``data/split_id=<k>/`` (a killed
     attempt's tmp, files an older writer left);
  3. ``os.replace`` the tmp to ``data/split_id=<k>/part-00000.parquet``;
  4. write the lineage row to a dot-prefixed tmp and ``os.replace`` it to
     ``_lineage/split-<k>.parquet`` — the commit point.

  Readers only trust splits present in the lineage dataset: Iceberg's
  snapshot-visibility semantics done manually on parquet (with Iceberg,
  data+lineage append in one transaction — see BASELINE.json
  north_star). A crash before step 4 leaves the split pending, and the
  fixed file names make a task retry overwrite instead of duplicate;
* checksum per split = bit_xor over :func:`row_hash` — order-insensitive,
  overflow-free (ANSI mode safe), cheap to recompute for audit.

The writer runs on the executors, so ``out_dir`` must be on a filesystem
the driver and executors share — as for ``write_wet`` and ``write_warc``.
Layout under ``out_dir``: ``data/split_id=<k>/part-00000.parquet`` (the
extracted rows) and ``_lineage/split-<k>.parquet`` (run_id, split_id,
row_count, checksum).
"""

from __future__ import annotations

import functools
import json
import os

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_SPLITS_DEFAULT = 16

_LINEAGE_SCHEMA = "run_id string, split_id int, row_count long, checksum long"
_COMMIT_SCHEMA = "split_id int, row_count long, checksum long"
_LINEAGE_ARROW_SCHEMA = pa.schema([("run_id", pa.string()), ("split_id", pa.int32()),
                                   ("row_count", pa.int64()), ("checksum", pa.int64())])


def with_split_id(docs: DataFrame, n_splits: int = N_SPLITS_DEFAULT) -> DataFrame:
    return docs.withColumn(
        "split_id", F.pmod(F.xxhash64("url"), F.lit(n_splits)).cast("int")
    )


def row_hash() -> Column:
    """One row's term of its split's checksum. The writer's checksum and
    :func:`verify_lineage`'s audit both use it, so they cannot drift."""
    return F.xxhash64(F.col("url"), F.lit("\0"),
                      F.coalesce(F.col("ocr_text"), F.lit("")))


def committed_splits(spark: SparkSession, out_dir: str) -> DataFrame:
    """Lineage rows of committed splits (empty DataFrame if none yet).
    The schema-pinned read opens no file at plan time, so a corrupt
    lineage file fails the first action that reads it — never a silent
    "nothing committed"."""
    path = os.path.join(out_dir, "_lineage")
    if not os.path.exists(path):        # avoids a noisy JVM-side stack trace
        return spark.createDataFrame([], _LINEAGE_SCHEMA)
    return spark.read.schema(_LINEAGE_SCHEMA).parquet(path)


def _write_splits(batches, *, data_dir: str, lineage_dir: str, run_id: str):
    """``mapInArrow`` writer kernel: commits every split in its input by
    the steps of the module docstring. Input rows carry ``split_id`` and
    the row hash ``_h``, which are dropped before the write. Streams —
    memory is O(batch × splits in this task). Yields one
    (split_id, row_count, checksum) row per committed split."""
    import uuid

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tmp_name = f".part-{uuid.uuid4().hex}.tmp"
    writers, counts, checksums = {}, {}, {}     # keyed by split_id
    try:
        for batch in batches:
            ids, hashes = batch.column("split_id"), batch.column("_h")
            rows = batch.drop_columns(["split_id", "_h"])
            present = pc.unique(ids).to_pylist()
            for k in present:
                part, h = rows, hashes
                if len(present) > 1:
                    mask = pc.equal(ids, k)
                    part, h = rows.filter(mask), hashes.filter(mask)
                if k not in writers:
                    d = os.path.join(data_dir, f"split_id={k}")
                    os.makedirs(d, exist_ok=True)
                    writers[k] = pq.ParquetWriter(os.path.join(d, tmp_name),
                                                  part.schema)
                    counts[k] = checksums[k] = 0
                writers[k].write_batch(part)
                counts[k] += part.num_rows
                checksums[k] ^= int(np.bitwise_xor.reduce(h.to_numpy()))
        os.makedirs(lineage_dir, exist_ok=True)
        for k in list(writers):
            writers.pop(k).close()
            d = os.path.join(data_dir, f"split_id={k}")
            for entry in os.listdir(d):
                if entry != tmp_name:
                    os.remove(os.path.join(d, entry))
            os.replace(os.path.join(d, tmp_name), os.path.join(d, "part-00000.parquet"))
            tmp = os.path.join(lineage_dir, f".split-{k}{tmp_name}")
            pq.write_table(pa.table(
                [[run_id], [k], [counts[k]], [checksums[k]]],
                schema=_LINEAGE_ARROW_SCHEMA), tmp)
            os.replace(tmp, os.path.join(lineage_dir, f"split-{k}.parquet"))
    except BaseException:
        for k, w in writers.items():    # splits not yet renamed into place
            w.close()
            os.remove(os.path.join(data_dir, f"split_id={k}", tmp_name))
        raise
    yield pa.RecordBatch.from_pydict(
        {"split_id": list(counts), "row_count": list(counts.values()),
         "checksum": list(checksums.values())},
        schema=_LINEAGE_ARROW_SCHEMA.remove(0))


def _split_checksum_rows(extracted: DataFrame) -> DataFrame:
    return extracted.groupBy("split_id").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.bit_xor(row_hash()).alias("checksum"),
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
    """Run (or resume) the extraction job: one Spark job commits every
    pending split, each split on its own.

    ``n_batches`` and ``max_batches`` are a test hook that simulates a
    killed job: only the pending splits ``todo[i::n_batches]`` for
    ``i < max_batches`` commit (all in the one job). Returns counters.
    ``extract`` defaults to the flagship extraction stage and must map a
    documents DataFrame (with split_id) to an output DataFrame that keeps
    url/ocr_text/split_id.
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
            # salt_partitions (round 7): a split-filtered read can collapse
            # to a couple of bin-packed scan splits on small staged tables
            # — the production skew-defusing repartition (same as the
            # flagship bench plan) spreads it across the session's cores
            cores = spark.sparkContext.defaultParallelism
            out = extract_documents(pending.drop("split_id"),
                                    salt_partitions=cores)
            return out.withColumn(
                "split_id",
                F.pmod(F.xxhash64("url"), F.lit(n_splits)).cast("int"),
            )

    # split ids are content-addressed MOD n_splits — changing n_splits
    # between runs on the same output would re-key splits and duplicate
    # rows, so the first run pins it and later runs must match.
    meta_path = os.path.join(out_dir, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            pinned = json.load(fh)["n_splits"]
        if pinned != n_splits:
            raise ValueError(
                f"output {out_dir} was created with n_splits={pinned}; "
                f"got {n_splits} — rerun with --n-splits {pinned}"
            )
    else:
        os.makedirs(out_dir, exist_ok=True)
        with open(meta_path, "w", encoding="utf-8") as fh:
            json.dump({"n_splits": n_splits}, fh)

    lineage_dir = os.path.join(out_dir, "_lineage")
    already = ({r["split_id"] for r in committed_splits(spark, out_dir).collect()}
               if os.path.exists(lineage_dir) else set())    # fresh: no job
    todo = sorted(set(range(n_splits)) - already)
    batches = [b for b in (todo[i::n_batches] for i in range(n_batches)) if b]
    batches = batches[:max_batches]
    pending_ids = sorted(s for b in batches for s in b)

    rows_written = 0
    if pending_ids:
        from ocr_award_extractor_spark.config import ensure_package_on_workers

        ensure_package_on_workers(spark)
        pending = with_split_id(docs, n_splits).where(
            F.col("split_id").isin(pending_ids))
        # one hash shuffle by split_id puts every row of a split in one
        # writer task, which makes the split's file and lineage row its own
        out = (extract(pending).withColumn("_h", row_hash())
               .repartition(len(pending_ids), "split_id"))
        writer = functools.partial(
            _write_splits, data_dir=os.path.join(out_dir, "data"),
            lineage_dir=lineage_dir, run_id=run_id)
        rows_written = sum(r["row_count"] for r in
                           out.mapInArrow(writer, _COMMIT_SCHEMA).collect())

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
