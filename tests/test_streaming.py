"""Streaming demos: the streaming extraction must equal the batch pipeline
on the same input; windowed counts must equal the batch groupBy."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from ocr_award_extractor_spark.sources.tables import ensure_fixture
from ocr_award_extractor_spark.streaming import extract_stream


def _crash_after_first_write(monkeypatch, factory: str) -> None:
    """Replace the sink factory ``extract_stream.<factory>`` for the next
    query start: its batch 0 writes its data fully, then raises once,
    before the checkpoint commit. The sink is looked up when the query
    starts, and foreachBatch runs it in the driver."""
    real_factory = getattr(extract_stream, factory)
    state = {"crashed": False}

    def poisoned(output_dir):
        real_sink = real_factory(output_dir)

        def sink(df, batch_id):
            real_sink(df, batch_id)        # data fully written...
            if batch_id == 0 and not state["crashed"]:
                state["crashed"] = True    # ...then die before the commit
                raise RuntimeError("injected crash between write and commit")
        return sink

    monkeypatch.setattr(extract_stream, factory, poisoned)


def test_stream_extract_equals_batch(spark, tmp_path):
    from ocr_award_extractor_spark.operators.extract_pipeline import extract_documents
    from ocr_award_extractor_spark.streaming.extract_stream import stream_extract

    src = tmp_path / "incoming"
    src.mkdir()
    shutil.copy(ensure_fixture(n_docs=120), src / "part-0.parquet")

    q = stream_extract(spark, str(src), str(tmp_path / "ckpt"), str(tmp_path / "out"))
    q.awaitTermination(300)

    got = spark.read.parquet(str(tmp_path / "out"))
    want = extract_documents(spark.read.parquet(str(src)))
    a = {r["url"]: (r["status"], r["ocr_text"]) for r in got.collect()}
    b = {r["url"]: (r["status"], r["ocr_text"]) for r in want.collect()}
    assert a == b and len(a) == 120


def test_windowed_counts_match_batch(spark, tmp_path):
    from ocr_award_extractor_spark.streaming.extract_stream import (
        run_windowed_counts_available_now,
    )

    events_dir = "/root/testdata/sf0.001"
    # file-source streams need a directory of just the events parquet
    src = tmp_path / "events"
    src.mkdir()
    shutil.copy(os.path.join(events_dir, "events.parquet"), src / "events.parquet")

    got = run_windowed_counts_available_now(spark, str(src), str(tmp_path / "ck2"))
    want = (
        spark.read.parquet(str(src / "events.parquet"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             # decimal sum — mirrors windowed_event_counts (order-free)
             F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
             .cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b and len(a) > 0


def test_stateful_dedup_across_microbatches(spark, tmp_path):
    """applyInPandasWithState dedup: duplicate urls arriving in a LATER
    microbatch are suppressed (state carries across batches)."""
    from datetime import datetime, timedelta

    from ocr_award_extractor_spark.streaming.extract_stream import (
        stream_dedup_first_seen,
    )

    src = tmp_path / "pages"
    src.mkdir()
    t0 = datetime(2024, 3, 1)

    def page(u, ts_off):
        return ("https://x.example/" + u, t0 + timedelta(hours=ts_off),
                b"<html></html>", "", "en")

    cols = "url string, warc_ts timestamp, html binary, text string, lang string"
    # batch 1: a, b, c — batch 2: b, c (dups, later ts), d (new)
    spark.createDataFrame([page("a", 0), page("b", 1), page("c", 2)], cols) \
        .coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame([page("b", 5), page("c", 6), page("d", 7)], cols) \
        .coalesce(1).write.parquet(str(src / "b2"))

    out = str(tmp_path / "out3")
    q = stream_dedup_first_seen(
        spark, str(src) + "/*", str(tmp_path / "ck3"), out,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    assert q.lastProgress["batchId"] >= 1  # state really crossed batches

    got = {r["url"]: r["first_ts"]
           for r in spark.read.parquet(out).collect()}
    assert set(got) == {f"https://x.example/{u}" for u in "abcd"}
    # first-seen timestamp wins for the duplicated urls
    assert got["https://x.example/b"] == t0 + timedelta(hours=1)
    assert got["https://x.example/c"] == t0 + timedelta(hours=2)


def test_stream_sink_exactly_once_after_crash(spark, tmp_path, monkeypatch):
    """Crash injected BETWEEN the per-batch data write and the checkpoint
    commit (the exact at-least-once window ADVICE r2 flagged): on restart
    the streaming engine replays the batch under the same batch_id, and
    the batch_id-keyed overwrite sink must leave zero duplicates — the
    blind mode('append') sink this replaced would double every replayed
    row."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from ocr_award_extractor_spark.operators.extract_pipeline import extract_documents
    from ocr_award_extractor_spark.sources.tables import load_fixture
    from ocr_award_extractor_spark.streaming.extract_stream import stream_extract

    src = tmp_path / "incoming"
    src.mkdir()
    docs = load_fixture(spark, n_docs=60)
    b1 = docs.where(F.col("url").rlike("doc000000[0-2]"))
    b2 = docs.where(~F.col("url").rlike("doc000000[0-2]"))
    b1.coalesce(1).write.parquet(str(src / "b1"))
    b2.coalesce(1).write.parquet(str(src / "b2"))

    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    with monkeypatch.context() as m:
        _crash_after_first_write(m, "make_batch_sink")
        q = stream_extract(spark, str(src) + "/*", ck, out,
                           max_files_per_trigger=1)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    # the crash really was post-write: batch 0's data is on disk, uncommitted
    assert os.path.isdir(os.path.join(out, "batch=0"))

    # restart with the same checkpoint: batch 0 replays (same id, same
    # files from the offset WAL), overwrites its own directory, then the
    # stream finishes
    q2 = stream_extract(spark, str(src) + "/*", ck, out,
                        max_files_per_trigger=1)
    q2.awaitTermination(300)

    got = spark.read.parquet(out)
    urls = [r["url"] for r in got.select("url").collect()]
    assert len(urls) == 60 and len(set(urls)) == 60   # complete, NO dupes
    want = extract_documents(spark.read.parquet(str(src) + "/*"))
    a = {r["url"]: (r["status"], r["ocr_text"]) for r in got.collect()}
    b = {r["url"]: (r["status"], r["ocr_text"]) for r in want.collect()}
    assert a == b


def test_stateful_dedup_runs_on_rocksdb_state_store(spark, tmp_path):
    """The 10¹²-doc scale path for streaming state is the RocksDB
    provider (state spills to local disk instead of living on the JVM
    heap). This pins that the dedup operator actually RUNS on it — same
    semantics as the default HDFS-backed provider — so the scale claim in
    stream_dedup_first_seen's docstring is exercised code, not prose."""
    from datetime import datetime, timedelta

    from ocr_award_extractor_spark.streaming.extract_stream import (
        stream_dedup_first_seen,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "pages"
        src.mkdir()
        t0 = datetime(2024, 3, 1)

        def page(u, ts_off):
            return ("https://x.example/" + u, t0 + timedelta(hours=ts_off),
                    b"<html></html>", "", "en")

        cols = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")
        spark.createDataFrame([page("a", 0), page("b", 1)], cols) \
            .coalesce(1).write.parquet(str(src / "b1"))
        spark.createDataFrame([page("b", 5), page("c", 6)], cols) \
            .coalesce(1).write.parquet(str(src / "b2"))

        q = stream_dedup_first_seen(
            spark, str(src) + "/*", str(tmp_path / "ck"),
            str(tmp_path / "out"), max_files_per_trigger=1,
        )
        q.awaitTermination(300)
        assert q.lastProgress["batchId"] >= 1   # state crossed batches
        got = {r["url"]: r["first_ts"]
               for r in spark.read.parquet(str(tmp_path / "out")).collect()}
        assert set(got) == {f"https://x.example/{u}" for u in "abc"}
        assert got["https://x.example/b"] == t0 + timedelta(hours=1)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_driver_streaming_queries_are_reinvocable(spark):
    """ADVICE r2 (low): a second invocation of a streaming queries() entry
    in the same process used to return an EMPTY frame — the checkpoint was
    caught up, so the re-started availableNow query executed zero batches
    and the fresh memory-sink table stayed empty. The materialized-result
    path must return the same non-empty rows on every invocation."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, entrymod._streaming_windowed_counts(spark, sf).collect()))
    b = sorted(map(tuple, entrymod._streaming_windowed_counts(spark, sf).collect()))
    assert a == b and len(a) > 0

    c = entrymod._stream_dedup_first_seen(spark, sf).collect()
    d = entrymod._stream_dedup_first_seen(spark, sf).collect()
    assert sorted(map(tuple, c)) == sorted(map(tuple, d))
    urls = [r["url"] for r in c]
    assert len(urls) > 0 and len(set(urls)) == len(urls)   # deduped, non-empty


def test_state_width_is_set_on_a_clone_not_the_callers_session(
        spark, tmp_path, monkeypatch):
    """Both stateful queries that pick their own state width, the dedup
    operator's ``state_shuffle_partitions`` and the driver's windowed
    counts, start from a clone of the caller's session: the caller's
    ``spark.sql.shuffle.partitions`` is never set (a query planned on it
    meanwhile would get the state width), the width reaches the
    checkpoint, and the caller's runtime settings come along."""
    import json
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.conf import RuntimeConfig

    import __spark_entry__ as entrymod
    from ocr_award_extractor_spark.streaming.extract_stream import (
        stream_dedup_first_seen,
    )

    def state_partitions(ck):
        return len([d for d in os.listdir(os.path.join(ck, "state", "0"))
                    if d.isdigit()])

    key, provider_key = ("spark.sql.shuffle.partitions",
                         "spark.sql.streaming.stateStore.providerClass")
    rocksdb = ("org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider")
    width = spark.conf.get(key)
    caller_writes = []
    real_set = RuntimeConfig.set

    def spy(self, k, v):
        if self is spark.conf and k == key:
            caller_writes.append(v)
        real_set(self, k, v)

    src = tmp_path / "pages"
    spark.createDataFrame(
        [("https://x.example/a", datetime(2024, 3, 1), b"", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1).write.parquet(str(src / "b1"))
    ck = str(tmp_path / "ck")
    spark.conf.set(provider_key, rocksdb)
    monkeypatch.setattr(RuntimeConfig, "set", spy)
    try:
        q = stream_dedup_first_seen(spark, str(src) + "/*", ck,
                                    str(tmp_path / "out"),
                                    state_shuffle_partitions=3)
        q.awaitTermination(300)
    finally:
        monkeypatch.undo()
        spark.conf.unset(provider_key)
    with open(os.path.join(ck, "offsets", "0"), encoding="utf-8") as fh:
        frozen = json.loads(fh.read().splitlines()[1])["conf"]
    assert frozen[key] == "3" and frozen[provider_key] == rocksdb
    assert state_partitions(ck) == 3

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({
        "event_id": [1], "user_id": [7], "event_type": ["click"],
        "ts": pa.array([datetime(2024, 3, 1, 9)], pa.timestamp("us", "UTC")),
        "value": [1.5], "props": ["{}"]}), str(sf / "events.parquet"))
    base = entrymod._tmp_dir(str(sf), "stream_events")
    monkeypatch.setattr(RuntimeConfig, "set", spy)
    try:
        assert entrymod._streaming_windowed_counts(spark, str(sf)).count() == 1
        cores = spark.sparkContext.defaultParallelism
        assert state_partitions(os.path.join(base, "ck")) == max(8, cores // 4)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert caller_writes == [] and spark.conf.get(key) == width


def test_failed_staging_does_not_poison_the_windowed_leg(
        spark, tmp_path, monkeypatch):
    """A staging step that fails leaves nothing a later call trusts: the
    first call's events copy raises, and the second call in the same
    process stages the copy again and returns the oracle's rows (an empty
    staged input would run zero batches and have no snapshot to read)."""
    import duckdb
    import pytest

    import __spark_entry__ as entrymod
    from scripts.check_oracles import compare

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                str(sf / "events.parquet"))
    real_copy, failed = shutil.copy, []

    def copy_failing_once(src, dst, *args, **kwargs):
        if str(src).endswith("events.parquet") and not failed:
            failed.append(src)
            raise OSError("injected failure of the events copy")
        return real_copy(src, dst, *args, **kwargs)

    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{sf / 'events.parquet'}')")
    want = con.sql(entrymod.oracle_sql()["streaming_windowed_counts"])
    base = entrymod._tmp_dir(str(sf), "stream_events")
    monkeypatch.setattr(shutil, "copy", copy_failing_once)
    try:
        with pytest.raises(OSError, match="injected"):
            entrymod._streaming_windowed_counts(spark, str(sf))
        assert failed
        got = entrymod._streaming_windowed_counts(spark, str(sf))
        assert compare("streaming_windowed_counts", got, want.fetchall(),
                       list(want.columns), list(want.types)) == []
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_checkpoint_incremental_resume(spark, tmp_path):
    """Checkpoint resume: a second availableNow run over the same directory
    processes ONLY files that arrived since the first run — no reprocessing,
    no duplicates in the sink."""
    from ocr_award_extractor_spark.sources.tables import load_fixture
    from ocr_award_extractor_spark.streaming.extract_stream import stream_extract

    src = tmp_path / "incoming"
    src.mkdir()
    docs = load_fixture(spark, n_docs=120)
    batch1 = docs.where(F.col("url").rlike("doc000000[0-5]"))
    batch2 = docs.where(~F.col("url").rlike("doc000000[0-5]"))
    batch1.coalesce(1).write.parquet(str(src / "b1"))

    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    q = stream_extract(spark, str(src) + "/*", ck, out)
    q.awaitTermination(300)
    n_first = spark.read.parquet(out).count()
    assert n_first == batch1.count()

    # new files arrive; same checkpoint → only the delta is processed
    batch2.coalesce(1).write.parquet(str(src / "b2"))
    q2 = stream_extract(spark, str(src) + "/*", ck, out)
    q2.awaitTermination(300)

    final = spark.read.parquet(out)
    urls = [r["url"] for r in final.select("url").collect()]
    assert len(urls) == 120 and len(set(urls)) == 120   # complete, no dupes
    assert q2.lastProgress["numInputRows"] == 120 - n_first  # delta only


def test_stateful_dedup_sink_exactly_once_after_crash(spark, tmp_path,
                                                      monkeypatch):
    """The dedup leg's batch_id-keyed sink under the same post-write /
    pre-commit crash as the extract case — plus the STATEFUL wrinkle: the
    replayed batch must re-run against the PRE-batch state-store version
    (state commits ride the checkpoint), so it re-emits the identical
    first-seen rows and the overwrite leaves no dupes, while the later
    batch still sees the state the replay committed."""
    from datetime import datetime, timedelta

    import pytest
    from pyspark.errors import StreamingQueryException

    from ocr_award_extractor_spark.streaming.extract_stream import (
        stream_dedup_first_seen,
    )

    src = tmp_path / "pages"
    src.mkdir()
    t0 = datetime(2024, 3, 1)

    def page(u, ts_off):
        return ("https://x.example/" + u, t0 + timedelta(hours=ts_off),
                b"<html></html>", "", "en")

    cols = "url string, warc_ts timestamp, html binary, text string, lang string"
    spark.createDataFrame([page("a", 0), page("b", 1)], cols) \
        .coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame([page("b", 5), page("c", 6)], cols) \
        .coalesce(1).write.parquet(str(src / "b2"))

    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    with monkeypatch.context() as m:
        _crash_after_first_write(m, "make_batch_sink")
        q = stream_dedup_first_seen(spark, str(src) + "/*", ck, out,
                                    max_files_per_trigger=1)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    assert os.path.isdir(os.path.join(out, "batch=0"))   # post-write crash

    q2 = stream_dedup_first_seen(spark, str(src) + "/*", ck, out,
                                 max_files_per_trigger=1)
    q2.awaitTermination(300)

    got = {r["url"]: r["first_ts"] for r in spark.read.parquet(out).collect()}
    urls = [r["url"] for r in spark.read.parquet(out).select("url").collect()]
    assert len(urls) == len(set(urls)) == 3              # no dupes anywhere
    assert set(got) == {f"https://x.example/{u}" for u in "abc"}
    assert got["https://x.example/b"] == t0 + timedelta(hours=1)  # first seen


def test_windowed_snapshot_sink_exactly_once_after_crash(spark, tmp_path,
                                                         monkeypatch):
    """The complete-mode snapshot sink under the post-write/pre-commit
    crash: the replayed batch re-emits the complete table as of that
    batch and OVERWRITES its own partial snapshot; after catch-up the
    final snapshot equals the batch aggregation exactly — no dupes, no
    frozen intermediate state."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from ocr_award_extractor_spark.streaming.extract_stream import (
        run_windowed_counts_available_now,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "events"
    src.mkdir()
    half = events.count() // 2
    events.limit(half).coalesce(1).write.parquet(str(src / "e1"))
    events.subtract(events.limit(half)).coalesce(1) \
        .write.parquet(str(src / "e2"))

    ck = str(tmp_path / "ck")
    out = ck + "_out"   # the runner's snapshot path
    with monkeypatch.context() as m, \
            pytest.raises(StreamingQueryException):
        _crash_after_first_write(m, "make_complete_snapshot_sink")
        run_windowed_counts_available_now(
            spark, str(src) + "/*", ck, max_files_per_trigger=1)
    assert os.path.isdir(out)   # the crash really was post-write

    got = run_windowed_counts_available_now(
        spark, str(src) + "/*", ck, max_files_per_trigger=1)
    want = (
        spark.read.parquet(str(src) + "/*")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
             .cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))


def test_windowed_snapshot_survives_caught_up_reinvocation(spark, tmp_path):
    """Reinvoking the helper over a CAUGHT-UP checkpoint (zero batches,
    sink never fires) must return the previously-written snapshot — the
    checkpoint-derived output path is what makes the old memory-sink
    reinvocation bug structurally impossible."""
    from ocr_award_extractor_spark.streaming.extract_stream import (
        run_windowed_counts_available_now,
    )

    src = tmp_path / "events"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                str(src / "events.parquet"))
    ck = str(tmp_path / "ck")
    a = sorted(map(tuple,
                   run_windowed_counts_available_now(spark, str(src), ck)
                   .collect()))
    b = sorted(map(tuple,
                   run_windowed_counts_available_now(spark, str(src), ck)
                   .collect()))
    assert a == b and len(a) > 0


def test_stream_dedup_state_ttl_expires(spark, tmp_path):
    """state_ttl (r4 verdict #4): within the revisit horizon duplicates
    are swallowed exactly as before; once the WATERMARK passes
    first_ts + TTL the url's state is dropped, and a later revisit is
    first-seen again and RE-EMITS. Four mtime-pinned single-file batches:
    b0 seeds url a; b1 revisits a inside the horizon (swallowed) while b
    advances the watermark past a's T+1day timeout; b2 runs the timeout
    (state removed); b3 revisits a beyond the horizon (re-emitted)."""
    from datetime import datetime, timedelta

    from ocr_award_extractor_spark.streaming.extract_stream import (
        stream_dedup_first_seen,
    )

    src = tmp_path / "pages"
    src.mkdir()
    t0 = datetime(2024, 3, 1)

    def page(u, ts_off_h):
        return ("https://x.example/" + u, t0 + timedelta(hours=ts_off_h),
                b"<html></html>", "", "en")

    cols = "url string, warc_ts timestamp, html binary, text string, lang string"
    batches = [
        [page("a", 0)],                       # b0: first sight of a
        [page("a", 1), page("b", 48)],        # b1: a in-horizon dup; b
                                              #     advances watermark to T+48h
        [page("c", 48)],                      # b2: a's T+24h timeout fires
        [page("a", 49)],                      # b3: a beyond horizon — re-emit
    ]
    for i, rows in enumerate(batches):
        d = src / f"b{i}"
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(d))
        for f in d.iterdir():                 # pin file-source order
            os.utime(f, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    import pytest

    with pytest.raises(ValueError, match="state_ttl"):
        stream_dedup_first_seen(          # watermark without a TTL would
            spark, str(src) + "/*",       # be silently ignored — rejected
            str(tmp_path / "ckbad"), str(tmp_path / "outbad"),
            watermark="1 hour")

    out = str(tmp_path / "out")
    # explicit 0s watermark: the scenario needs the watermark to track
    # the max seen warc_ts exactly (the default delay equals the TTL)
    q = stream_dedup_first_seen(
        spark, str(src) + "/*", str(tmp_path / "ck"), out,
        max_files_per_trigger=1, state_ttl="1 day", watermark="0 seconds",
    )
    assert q.awaitTermination(300)
    assert q.lastProgress["batchId"] >= 3     # all four batches ran

    rows = sorted((r["url"], r["first_ts"])
                  for r in spark.read.parquet(out).collect())
    assert rows == [
        ("https://x.example/a", t0),                        # first sight
        ("https://x.example/a", t0 + timedelta(hours=49)),  # re-emitted
        ("https://x.example/b", t0 + timedelta(hours=48)),
        ("https://x.example/c", t0 + timedelta(hours=48)),
    ]
