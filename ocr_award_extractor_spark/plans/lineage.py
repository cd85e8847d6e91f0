"""Resumable write path: per-split commits with lineage rows.

The reference has NO fault tolerance — a crash loses the whole run
(SURVEY.md §4). The north rule requires resumable jobs with per-partition
lineage (input split, row counts, checksum). Design:

* every document gets a deterministic ``split_id = pmod(xxhash64(url), N)``
  — stable across runs and cluster sizes, so resume is content-addressed,
  not file-order-addressed;
* ONE Spark job commits every pending split (the splits without a lineage
  row), with one Python stage: it reads the input once, keeps only
  pending splits AHEAD of extraction (a resume never re-extracts a
  committed split), projects the page columns and shuffles them once by
  ``split_id`` into at most one task per core, sorted by ``split_id``
  within each task. Each task runs one ``mapInArrow`` kernel,
  :func:`_extract_and_write`: it runs the per-row extraction kernel
  (``extract_record``) on one split's pages at a time by
  ``batching.map_batches``, hashes each row, and hands the batch to the writer
  :func:`_write_splits`. The writer streams a split into its tmp file
  and, as soon as the next split begins (or its input ends), commits it
  by three file-system steps, in order:

  1. close the split's tmp file ``data/.split-<k>-<uuid>.tmp``;
  2. ``os.replace`` the tmp to ``data/split-<k>.parquet``;
  3. write the lineage row to a dot-prefixed tmp and ``os.replace`` it to
     ``_lineage/split-<k>.parquet`` — the commit point.

  A task thus holds one open file however many splits it commits. A
  killed attempt's dot-prefixed tmp stays hidden from readers, and the
  next run's driver removes it. A pending split with no input rows
  reaches no writer; after the job the driver commits a zero-row lineage
  row (count 0, checksum 0), so a rerun does not run it again.

  Readers only trust splits present in the lineage dataset, which only
  :func:`committed_splits` reads (with pyarrow, on the driver): Iceberg's
  snapshot-visibility semantics done manually on parquet (with Iceberg,
  data+lineage append in one transaction — see BASELINE.json
  north_star). A crash before step 3 leaves the split pending, and the
  fixed file names make a task retry overwrite instead of duplicate;
* checksum per split = bit_xor of each row's hash: the first 8 bytes of
  ``md5(coalesce(url, '') || '\\0' || coalesce(ocr_text, ''))`` read as a
  big-endian signed int64 — order-insensitive, overflow-free (ANSI mode
  safe), cheap to recompute for audit. The writer computes it in Python
  with stdlib ``hashlib`` (:func:`_row_hashes`), :func:`verify_lineage`
  in the JVM with Spark's ``md5`` (:func:`row_hash`).

Extraction runs on ``min(pending splits, cores)`` tasks, so ``n_splits``
should be at least the cluster's core count. Spark's hash partitioning
also spreads split ids over the tasks unevenly: 16 splits on 4 tasks give
6/4/3/3 splits (230 crawl pages: 86/49/49/46 rows), 16 on 8 tasks
4/3/2/2/2/2/1/0, 64 on 4 tasks 21/16/16/11.

The writer runs on the executors, so ``out_dir`` must be on a filesystem
the driver and executors share — as for ``write_wet`` and ``write_warc``.
Layout under ``out_dir``: ``data/split-<k>.parquet``, one flat directory
of the extracted rows with their ``split_id``, and
``_lineage/split-<k>.parquet`` (run_id, split_id, row_count, checksum).
The first run writes ``_meta.json`` (the pinned ``n_splits`` and
``"row_hash": "md5"``). A root that holds data or lineage but whose
``_meta.json`` is missing or names no md5 row hash is refused: it was
written with an older row hash, or in the older ``data/split_id=<k>/``
layout.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import uuid

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

N_SPLITS_DEFAULT = 16
ROW_HASH = "md5"

_COMMIT_SCHEMA = "split_id int, row_count long, checksum long"
_LINEAGE_ARROW_SCHEMA = pa.schema([("run_id", pa.string()), ("split_id", pa.int32()),
                                   ("row_count", pa.int64()), ("checksum", pa.int64())])


def with_split_id(docs: DataFrame, n_splits: int = N_SPLITS_DEFAULT) -> DataFrame:
    return docs.withColumn(
        "split_id", F.pmod(F.xxhash64("url"), F.lit(n_splits)).cast("int")
    )


def split_id_in(ids) -> Column:
    """``split_id IN (ids)`` as one SQL expression: ``Column.isin`` makes
    one Py4J call per id, ~2.2 s of driver time at 4,096 ids on a 4-core
    host (this: ~0.05 s). ``ids`` must not be empty: ``IN ()`` does not
    parse."""
    return F.expr(f"split_id IN ({', '.join(map(str, ids))})")


def row_hash() -> Column:
    """One row's term of its split's checksum, as :func:`verify_lineage`'s
    audit computes it in the JVM: the first 8 bytes of the md5 as a
    big-endian signed int64, joined from the two 32-bit halves of its hex
    digest. The writer's spelling is :func:`_row_hashes`, next to it."""
    h = F.md5(F.concat(F.coalesce(F.col("url"), F.lit("")), F.lit("\0"),
                       F.coalesce(F.col("ocr_text"), F.lit(""))))

    def word(pos: int) -> Column:
        return F.conv(F.substring(h, pos, 8), 16, 10).cast("long")

    return F.shiftleft(word(1), 32).bitwiseOR(word(9))


def _row_hashes(urls, texts) -> list[int]:
    """:func:`row_hash` of each (url, ocr_text) pair, computed in Python."""
    return [int.from_bytes(hashlib.md5(f"{u or ''}\0{t or ''}".encode(),
                                       usedforsecurity=False).digest()[:8],
                           "big", signed=True)
            for u, t in zip(urls, texts)]


def _committed_schema() -> StructType:
    """The rows :func:`read_committed` reads: the extraction's columns
    plus ``split_id`` (a new StructType: ``OUT_SCHEMA.add`` would mutate
    the constant)."""
    from ocr_award_extractor_spark.operators.extract_pipeline import OUT_SCHEMA

    return StructType(OUT_SCHEMA.fields + [StructField("split_id", IntegerType())])


def committed_splits(out_dir: str) -> pa.Table:
    """Lineage rows of committed splits (an empty table if none yet): the
    only reader of ``_lineage``, a pyarrow read on the driver, so it
    starts no Spark job. A corrupt lineage file raises an error that
    names it — never a silent "nothing committed"."""
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(path):
        return _LINEAGE_ARROW_SCHEMA.empty_table()
    return pq.read_table(path, schema=_LINEAGE_ARROW_SCHEMA)


def _write_lineage_row(lineage_dir: str, uid: str, run_id: str,
                       k: int, row_count: int, checksum: int) -> None:
    """Step 3, the commit point: write split ``k``'s lineage row to a
    dot-prefixed tmp and rename it into place."""
    import pyarrow.parquet as pq

    tmp = os.path.join(lineage_dir, f".split-{k}-{uid}.tmp")
    pq.write_table(pa.table([[run_id], [k], [row_count], [checksum]],
                            schema=_LINEAGE_ARROW_SCHEMA), tmp)
    os.replace(tmp, os.path.join(lineage_dir, f"split-{k}.parquet"))


def _split_runs(ids):
    """(lo, hi) of each run of one split id in a batch's sorted ids."""
    import numpy as np

    bounds = [0, *(np.flatnonzero(np.diff(ids)) + 1), len(ids)]
    return zip(bounds, bounds[1:])


def _write_splits(batches, *, data_dir: str, lineage_dir: str, run_id: str):
    """``mapInArrow`` writer kernel: it writes one split at a time and
    commits it by the steps of the module docstring as soon as the next
    split begins, so it holds one open file. Input rows carry ``split_id``,
    written with them, and the row hash ``_h``, dropped before the write.
    The input must be sorted by ``split_id``, as the plan sorts it: a
    split that comes back after its commit raises. Yields one (split_id,
    row_count, checksum) row per committed split."""
    import numpy as np
    import pyarrow.parquet as pq

    uid = uuid.uuid4().hex
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(lineage_dir, exist_ok=True)
    done = {}                           # split_id -> (row_count, checksum)
    k, tmp, writer, count, checksum = None, None, None, 0, 0

    def commit():
        nonlocal writer
        w, writer = writer, None
        w.close()
        os.replace(tmp, os.path.join(data_dir, f"split-{k}.parquet"))
        _write_lineage_row(lineage_dir, uid, run_id, k, count, checksum)
        done[k] = (count, checksum)

    try:
        for batch in batches:
            if not batch.num_rows:
                continue
            ids, hashes = batch.column("split_id").to_numpy(), batch.column("_h").to_numpy()
            rows = batch.drop_columns(["_h"])
            for lo, hi in _split_runs(ids):
                if ids[lo] != k:
                    if writer is not None:
                        commit()
                    k = int(ids[lo])
                    if k in done:
                        raise ValueError(f"split {k} came back after its commit")
                    tmp = os.path.join(data_dir, f".split-{k}-{uid}.tmp")
                    writer = pq.ParquetWriter(tmp, rows.schema)
                    count, checksum = 0, 0
                writer.write_batch(rows.slice(lo, hi - lo))
                count += hi - lo
                checksum ^= int(np.bitwise_xor.reduce(hashes[lo:hi]))
        if writer is not None:
            commit()
    except BaseException:
        if writer is not None:          # the split not yet renamed into place
            writer.close()
            os.remove(tmp)
        raise
    yield pa.RecordBatch.from_pydict(
        {"split_id": list(done), "row_count": [c for c, _ in done.values()],
         "checksum": [x for _, x in done.values()]},
        schema=_LINEAGE_ARROW_SCHEMA.remove(0))


def _extract_splits(batches, extract):
    """The commit's extraction: ``extract`` on each page row, one Arrow
    batch of :func:`_committed_schema` plus the row hash ``_h``
    (:func:`_row_hashes`) per run of one split, so the writer can commit a
    split once the next one is extracted."""
    from ocr_award_extractor_spark.functions.batching import column_values, map_batches
    from ocr_award_extractor_spark.operators.extract_pipeline import OUT_SCHEMA, PAGE_COLUMNS

    for batch in batches:
        for lo, hi in _split_runs(batch.column("split_id").to_numpy()):
            pages = batch.slice(lo, hi - lo)
            (out,) = map_batches([pages], PAGE_COLUMNS, extract, OUT_SCHEMA)
            hashes = _row_hashes(*column_values(out, ("url", "ocr_text")))
            yield (out.append_column("split_id", pages.column("split_id"))
                   .append_column("_h", pa.array(hashes, pa.int64())))


def _extract_and_write(batches, *, extract, **writer):
    """The commit's one ``mapInArrow`` kernel: :func:`_extract_splits`
    feeding :func:`_write_splits`, one Python runner per task."""
    yield from _write_splits(_extract_splits(batches, extract), **writer)


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
    ``extract`` is the per-row kernel the commit runs on each page,
    ``extract(url, warc_ts, lang, html) -> record`` with the fields of
    ``OUT_SCHEMA``; it defaults to the flagship ``extract_record``.
    """
    if extract is None:
        from ocr_award_extractor_spark.operators.extract_pipeline import (
            extract_record as extract,
        )

    data_dir = os.path.join(out_dir, "data")
    lineage_dir = os.path.join(out_dir, "_lineage")
    # split ids are content-addressed MOD n_splits — changing n_splits
    # between runs on the same output would re-key splits and duplicate
    # rows, so the first run pins it and later runs must match. Its
    # checksums are only comparable under the row hash it names.
    meta_path = os.path.join(out_dir, "_meta.json")
    meta = {}
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            meta = json.load(fh)
    if meta.get("row_hash") != ROW_HASH:
        if os.path.isdir(data_dir) or os.path.isdir(lineage_dir):
            raise ValueError(
                f"output {out_dir} has the old row hash or data/split_id=<k>/ "
                "layout: rewrite it into a new output directory")
        os.makedirs(out_dir, exist_ok=True)
        with open(meta_path, "w", encoding="utf-8") as fh:
            json.dump({"n_splits": n_splits, "row_hash": ROW_HASH}, fh)
    elif meta["n_splits"] != n_splits:
        raise ValueError(
            f"output {out_dir} was created with n_splits={meta['n_splits']}; "
            f"got {n_splits} — rerun with --n-splits {meta['n_splits']}"
        )

    entries = os.listdir(data_dir) if os.path.isdir(data_dir) else []
    for e in entries:
        if e.startswith("."):           # a killed attempt's tmp
            os.remove(os.path.join(data_dir, e))
    already = set(committed_splits(out_dir).column("split_id").to_pylist())
    todo = sorted(set(range(n_splits)) - already)
    batches = [b for b in (todo[i::n_batches] for i in range(n_batches)) if b]
    batches = batches[:max_batches]
    pending_ids = sorted(s for b in batches for s in b)

    rows_written = 0
    if pending_ids:
        from ocr_award_extractor_spark.config import ensure_package_on_workers
        from ocr_award_extractor_spark.operators.extract_pipeline import page_columns

        ensure_package_on_workers(spark)
        pending = with_split_id(docs, n_splits)
        if len(pending_ids) < n_splits:  # no filter when every split is pending
            pending = pending.where(split_id_in(pending_ids))
        # one hash shuffle of the pages by split_id puts every row of a
        # split in one of (at most) one task per core, and the sort hands
        # each task its splits one after another: the kernel extracts and
        # commits one split at a time, so it holds one open file
        width = min(len(pending_ids), spark.sparkContext.defaultParallelism)
        pages = (page_columns(pending, "split_id")
                 .repartition(width, "split_id").sortWithinPartitions("split_id"))
        kernel = functools.partial(
            _extract_and_write, extract=extract, data_dir=data_dir,
            lineage_dir=lineage_dir, run_id=run_id)
        written = {r["split_id"]: r["row_count"] for r in
                   pages.mapInArrow(kernel, _COMMIT_SCHEMA).collect()}
        rows_written = sum(written.values())
        # a pending split with no input rows reached no writer: commit it
        # here as a zero-row lineage row with no data, so reruns skip it
        uid = uuid.uuid4().hex
        os.makedirs(lineage_dir, exist_ok=True)
        for k in pending_ids:
            if k not in written:
                _write_lineage_row(lineage_dir, uid, run_id, k, 0, 0)

    return {"batches_committed": len(batches),
            "splits_total": n_splits,
            "splits_previously_committed": len(already),
            "rows_written": rows_written}


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read ONLY committed data (the snapshot-visibility read path): the
    read of the flat ``data/`` with :func:`_committed_schema`, minus the
    rows of any listed split without a lineage row.

    The frame is built first, and its file list (``inputFiles()``, which
    starts no job) is compared with :func:`committed_splits`, read after
    it: a split renamed into place after the listing is never read, and
    one committed between the listing and the lineage read is trusted.
    When every listed ``split-<k>.parquet`` is committed (a clean root),
    the read is not filtered. A file of a pending split exists only in the
    crash window between commit steps 2 and 3; such stray splits are
    filtered out by one ``split_id NOT IN (…)``. Building the frame starts
    no Spark job. A corrupt lineage file raises here, and so does a file in
    ``data/`` that is not a split's (its rows would be read unchecked).
    With no ``data/`` or no committed split the frame is empty."""
    data = os.path.join(out_dir, "data")
    if not os.path.isdir(data):
        return spark.createDataFrame([], _committed_schema())
    frame = spark.read.schema(_committed_schema()).parquet(data)
    listed = set()
    for path in frame.inputFiles():
        m = re.fullmatch(r"split-(\d+)\.parquet", path.rsplit("/", 1)[-1])
        if m is None:
            raise ValueError(f"{path} in {data} is not a split's data file")
        listed.add(int(m.group(1)))
    committed = set(committed_splits(out_dir).column("split_id").to_pylist())
    strays = sorted(listed - committed)
    if strays:
        frame = frame.where(~split_id_in(strays))
    return frame


def verify_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Audit: recompute per-split checksums from :func:`read_committed`
    and diff vs :func:`committed_splits`, handed to Spark as a table.
    NULL-safe comparison: a committed split whose data was deleted yields
    NULLs on the data side — a plain != would drop exactly those rows and
    pass the audit on a dataset missing a whole split. Data of pending
    splits is not audited: readers never see it. An empty split's zero-row lineage row
    matches no data: a missing count and checksum compare as 0."""
    lin = spark.createDataFrame(committed_splits(out_dir).select(
        ["split_id", "row_count", "checksum"]))
    actual = _split_checksum_rows(read_committed(spark, out_dir)).withColumnRenamed(
        "row_count", "actual_rows").withColumnRenamed("checksum", "actual_checksum")

    def differs(want: str, got: str) -> Column:
        return ~F.col(want).eqNullSafe(F.coalesce(F.col(got), F.lit(0)))

    return (
        lin.join(actual, "split_id", "full")
        .where(differs("row_count", "actual_rows") | differs("checksum", "actual_checksum"))
    )
