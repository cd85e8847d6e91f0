"""WARC ingestion source: synthesized WARC/1.0 files (plain and
gzip-member-per-record, the Common Crawl layout) must parse into the
engine's page schema, skip non-response records, surface corrupt
records as error rows, and compose with the extraction pipeline."""

from __future__ import annotations

import gzip
import logging
from datetime import datetime

SKIPPED_ONE = "skipped 1 row(s) with a NULL url"


def _record(wtype: str, url: str | None, date: str, block: bytes) -> bytes:
    hdrs = [b"WARC/1.0",
            b"WARC-Type: " + wtype.encode(),
            b"WARC-Date: " + date.encode()]
    if url is not None:
        hdrs.append(b"WARC-Target-URI: " + url.encode())
    hdrs.append(b"Content-Length: " + str(len(block)).encode())
    return b"\r\n".join(hdrs) + b"\r\n\r\n" + block + b"\r\n\r\n"


def _http(body: bytes) -> bytes:
    return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)


HTML_A = b"<html><body><p>alpha page</p></body></html>"
HTML_B = b"<html><body><p>beta page</p></body></html>"


def _good_records() -> list[bytes]:
    return [
        _record("warcinfo", None, "2024-03-01T00:00:00Z",
                b"software: testgen\r\n"),
        _record("response", "https://a.example/x",
                "2024-03-01T01:02:03Z", _http(HTML_A)),
        _record("request", "https://a.example/x",
                "2024-03-01T01:02:03Z", b"GET /x HTTP/1.1\r\n"),
        _record("response", "https://b.example/y",
                "2024-03-02T04:05:06Z", _http(HTML_B)),
    ]


def test_warc_plain_and_gzip_parse_identically(spark, tmp_path):
    from ocr_award_extractor_spark.sources.warc import read_warc

    plain_dir, gz_dir = tmp_path / "plain", tmp_path / "gz"
    plain_dir.mkdir(), gz_dir.mkdir()
    recs = _good_records()
    (plain_dir / "crawl.warc").write_bytes(b"".join(recs))
    # Common Crawl layout: one gzip MEMBER per record, concatenated
    (gz_dir / "crawl.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs))

    for d in (plain_dir, gz_dir):
        rows = {r["url"]: r for r in read_warc(spark, str(d)).collect()}
        assert set(rows) == {"https://a.example/x", "https://b.example/y"}
        a = rows["https://a.example/x"]
        assert bytes(a["html"]) == HTML_A          # HTTP envelope stripped
        assert a["warc_ts"] == datetime(2024, 3, 1, 1, 2, 3)
        assert a["text"] == "" and a["lang"] == ""
        assert bytes(rows["https://b.example/y"]["html"]) == HTML_B


def test_warc_corruption_becomes_error_rows_not_silence(spark, tmp_path):
    from ocr_award_extractor_spark.sources.warc import read_warc

    d = tmp_path / "mixed"
    d.mkdir()
    good = _record("response", "https://ok.example/", "2024-03-01T00:00:00Z",
                   _http(HTML_A))
    # truncated: Content-Length exceeds actual block bytes
    bad = good[:-20]
    (d / "good.warc").write_bytes(good)
    (d / "bad.warc").write_bytes(bad)

    rows = read_warc(spark, str(d)).collect()
    by_url = {r["url"]: r for r in rows}
    assert "https://ok.example/" in by_url          # good file unaffected
    errs = [r for r in rows if r["url"].startswith("warc-error://")]
    assert len(errs) == 1 and "bad.warc" in errs[0]["url"]
    assert "truncated" in errs[0]["text"]           # cause is visible
    # a response record missing its target URI is an error row too
    no_uri = _record("response", None, "2024-03-01T00:00:00Z", _http(HTML_B))
    (d / "nouri.warc").write_bytes(no_uri)
    rows = read_warc(spark, str(d)).collect()
    assert any("missing WARC-Target-URI" in r["text"] for r in rows)


def test_warc_file_without_output_rows(spark, tmp_path):
    """A file whose records all map to no row (one warcinfo record)
    reads as zero rows of each reader's schema: its empty output batch
    is typed by the schema, timestamp field included."""
    from ocr_award_extractor_spark.operators.webify import PAGE_SCHEMA
    from ocr_award_extractor_spark.sources.warc import read_warc, read_wet

    d = tmp_path / "info"
    d.mkdir()
    (d / "info.warc.wet").write_bytes(_good_records()[0])   # both globs
    pages = read_warc(spark, str(d))
    assert pages.schema == PAGE_SCHEMA and pages.collect() == []
    assert read_wet(spark, str(d)).collect() == []


def test_read_warc_ships_package_to_workers(tmp_path):
    """read_warc in a session the engine did not build (plain
    ``SparkSession.builder``, PYTHONPATH unset, cwd outside the repo):
    its Python workers can import the package only if the reader ships
    it, as every other operator does."""
    import json
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "crawl.warc").write_bytes(b"".join(_good_records()))
    job = tmp_path / "job.py"
    job.write_text(textwrap.dedent(f"""
        import json
        import sys

        sys.path.insert(0, {repo!r})   # driver side only
        from pyspark.sql import SparkSession

        from ocr_award_extractor_spark.sources.warc import read_warc

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        rows = read_warc(spark, {str(d)!r}).collect()
        print(json.dumps(sorted(r.url for r in rows)))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT",
                        "PYSPARK_GATEWAY_SECRET")}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run([sys.executable, str(job)], capture_output=True,
                          text=True, timeout=300, cwd=str(tmp_path), env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [
        "https://a.example/x", "https://b.example/y"]


def test_warc_pages_flow_through_extraction(spark, tmp_path):
    """The parsed pages are real PAGE_SCHEMA rows: the flagship
    extraction stage runs on them unchanged (WARC → extract is the
    composed crawl-ingest path the north rule describes)."""
    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )
    from ocr_award_extractor_spark.sources.warc import read_warc

    d = tmp_path / "crawl"
    d.mkdir()
    (d / "crawl.warc").write_bytes(b"".join(_good_records()))
    out = {r["url"]: r for r in
           extract_documents(read_warc(spark, str(d))).collect()}
    assert set(out) == {"https://a.example/x", "https://b.example/y"}
    a = out["https://a.example/x"]
    assert a["status"] == "success" and "alpha page" in a["ocr_text"]


def test_wet_roundtrip_byte_identical(spark, tmp_path):
    """WARC in → extract → WET out → read back: the extracted text per
    url survives the WET serialization BYTE-IDENTICALLY (the north
    rule's per-row invariant, carried through the output format crawl
    consumers read), timestamps intact, error rows excluded."""
    from ocr_award_extractor_spark.operators.extract_pipeline import (
        extract_documents,
    )
    from ocr_award_extractor_spark.sources.tables import load_fixture
    from ocr_award_extractor_spark.sources.warc import read_wet, write_wet

    docs = load_fixture(spark, n_docs=50)      # fixture plants ~2 error docs
    extracted = extract_documents(docs)
    out = str(tmp_path / "wet")
    n = write_wet(extracted.repartition(4), out)

    ok = {r["url"]: (r["ocr_text"], r["warc_ts"])
          for r in extracted.where("status = 'success'").collect()}
    assert n == len(ok) and n > 0              # only success rows written

    back = {r["url"]: (r["text"], r["warc_ts"])
            for r in read_wet(spark, out).collect()}
    assert back == ok                          # byte-identical text + ts

    import os

    shards = [f for f in os.listdir(out) if f.endswith(".warc.wet.gz")]
    assert 1 <= len(shards) <= 4               # one shard per non-empty part
    assert not any(f.endswith(".tmp") for f in os.listdir(out))


def test_warc_parser_roundtrip_fuzz():
    """Property: any serialize(records) → iter_records_resync roundtrip
    (the parser the Spark readers run) yields only ``"ok"`` items and
    recovers every record's type, URI, and block bytes exactly —
    including empty blocks, binary bodies, and odd header values (the
    parser is pure Python, so this runs without Spark)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_award_extractor_spark.sources.warc import iter_records_resync

    wtypes = st.sampled_from(["response", "request", "warcinfo",
                              "metadata", "conversion"])
    # URIs/bodies: no CR/LF in header values (the format forbids them);
    # block bytes unconstrained (Content-Length delimits)
    uris = st.text(st.characters(min_codepoint=33, max_codepoint=126),
                   min_size=1, max_size=40)
    blocks = st.binary(min_size=0, max_size=200)

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.tuples(wtypes, uris, blocks), min_size=0,
                    max_size=8))
    def check(recs):
        blob = b"".join(
            _record(t, u, "2024-03-01T00:00:00Z", b) for t, u, b in recs)
        items = list(iter_records_resync(blob))
        assert all(item[0] == "ok" for item in items), items
        got = [(wtype, headers.get("warc-target-uri"), block)
               for _, _, wtype, headers, block in items]
        assert got == [(t, u, b) for t, u, b in recs]

    check()


def test_warc_resync_one_bad_record_costs_one_row(spark, tmp_path):
    """Mid-file corruption: the parser RESYNCS at the next record marker
    — one error row for the junk, every later record still parsed (the
    old stream-level except dropped the rest of the file)."""
    from ocr_award_extractor_spark.sources.warc import read_warc

    d = tmp_path / "resync"
    d.mkdir()
    good1 = _record("response", "https://one.example/",
                    "2024-03-01T00:00:00Z", _http(HTML_A))
    good2 = _record("response", "https://two.example/",
                    "2024-03-01T00:00:01Z", _http(HTML_B))
    (d / "crawl.warc").write_bytes(good1 + b"JUNK not a record\r\n\r\n"
                                   + good2)
    rows = read_warc(spark, str(d)).collect()
    urls = {r["url"] for r in rows}
    assert {"https://one.example/", "https://two.example/"} <= urls
    errs = [r for r in rows if r["url"].startswith("warc-error://")]
    assert len(errs) == 1 and "WARC/ marker" in errs[0]["text"]


def test_warc_gzip_member_resync(spark, tmp_path):
    """Common Crawl layout, one corrupt gzip MEMBER in the middle: the
    member-wise decompressor skips to the next magic — both neighboring
    records survive, the corruption is one visible error row."""
    from ocr_award_extractor_spark.sources.warc import read_warc

    d = tmp_path / "gzresync"
    d.mkdir()
    g1 = gzip.compress(_record("response", "https://one.example/",
                               "2024-03-01T00:00:00Z", _http(HTML_A)))
    g2 = gzip.compress(_record("response", "https://two.example/",
                               "2024-03-01T00:00:01Z", _http(HTML_B)))
    corrupt = g1[:40]                    # truncated member, magic intact
    (d / "crawl.warc.gz").write_bytes(g1 + corrupt + g2)
    rows = read_warc(spark, str(d)).collect()
    urls = {r["url"] for r in rows}
    assert {"https://one.example/", "https://two.example/"} <= urls
    errs = [r for r in rows if r["url"].startswith("warc-error://")]
    assert len(errs) == 1 and "gzip member" in errs[0]["text"]


def test_warc_http_payload_decoding(spark, tmp_path):
    """Real crawl response envelopes: chunked transfer framing is
    de-chunked, Content-Encoding: gzip is decompressed, and an
    unsupported encoding becomes an error row naming the url — never
    silently-garbled 'success' html."""
    from ocr_award_extractor_spark.sources.warc import read_warc

    d = tmp_path / "http"
    d.mkdir()
    chunked_body = (b"%x\r\n" % len(HTML_A[:10]) + HTML_A[:10] + b"\r\n"
                    + b"%x\r\n" % len(HTML_A[10:]) + HTML_A[10:] + b"\r\n"
                    + b"0\r\n\r\n")
    chunked = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
               + chunked_body)
    gzipped = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
               + gzip.compress(HTML_B))
    br = b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\nxxxx"
    recs = [
        _record("response", "https://chunked.example/",
                "2024-03-01T00:00:00Z", chunked),
        _record("response", "https://gzipped.example/",
                "2024-03-01T00:00:01Z", gzipped),
        _record("response", "https://brotli.example/",
                "2024-03-01T00:00:02Z", br),
    ]
    (d / "crawl.warc").write_bytes(b"".join(recs))
    rows = {r["url"]: r for r in read_warc(spark, str(d)).collect()}
    assert bytes(rows["https://chunked.example/"]["html"]) == HTML_A
    assert bytes(rows["https://gzipped.example/"]["html"]) == HTML_B
    err = [r for u, r in rows.items() if u.startswith("warc-error://")]
    assert len(err) == 1
    assert "Content-Encoding: br" in err[0]["text"]
    assert "brotli.example" in err[0]["text"]   # url visible in the message


def test_wet_writer_hygiene(spark, tmp_path):
    """WET writer contracts from the round-5 review: NULL timestamps
    survive as NULL (no epoch substitution), microseconds survive, urls
    with CR/LF cannot smuggle headers, every record carries a
    WARC-Record-ID, a leftover tmp is invisible to read_wet, and a
    non-empty dir is refused without mode='overwrite'."""
    import os
    from datetime import datetime

    import pytest

    from ocr_award_extractor_spark.sources.warc import read_wet, write_wet

    rows = [
        ("https://a.example/x", None, "plain text a"),
        ("https://b.example/y", datetime(2024, 3, 1, 1, 2, 3, 500000),
         "text b"),
        ("https://evil.example/\r\nContent-Length: 0", None, "smuggle"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, "
                                     "ocr_text string")
    out = str(tmp_path / "wet")
    n = write_wet(df.coalesce(1), out)
    assert n == 3
    # a stale tmp from a killed task must not be readable
    (tmp_path / "wet" / ".part-00099-deadbeef.tmp").write_bytes(b"junk")

    back = {r["url"]: (r["warc_ts"], r["text"])
            for r in read_wet(spark, str(out)).collect()}
    assert back["https://a.example/x"] == (None, "plain text a")
    assert back["https://b.example/y"] == (
        datetime(2024, 3, 1, 1, 2, 3, 500000), "text b")
    # CR/LF escaped: the record parses and the url is percent-encoded
    assert back["https://evil.example/%0D%0AContent-Length: 0"][1] == \
        "smuggle"
    assert not any(u.startswith("warc-error://") for u in back)

    # spec-mandatory record ids present in the raw shard
    import gzip as gz

    shard = [f for f in os.listdir(out) if f.endswith(".warc.wet.gz")][0]
    raw = gz.decompress(open(os.path.join(out, shard), "rb").read())
    assert raw.count(b"WARC-Record-ID: <urn:uuid:") == 3

    # rerun protection: error by default, overwrite clears stale shards
    with pytest.raises(FileExistsError, match="overwrite"):
        write_wet(df.coalesce(1), out)
    n2 = write_wet(df.limit(1).coalesce(1), out, mode="overwrite")
    assert n2 == 1
    assert len(read_wet(spark, str(out)).collect()) == 1  # no ghosts


def test_wet_null_url_skipped_and_counted(spark, tmp_path, caplog):
    """A NULL url row cannot become a WARC record; it is skipped and
    COUNTED in a logged warning (visible-not-fatal), never a job-killing
    task error."""
    from ocr_award_extractor_spark.sources import warc

    rows = [("https://ok.example/", None, "kept"), (None, None, "dropped")]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, "
                                     "ocr_text string")
    out = str(tmp_path / "wet")
    with caplog.at_level(logging.WARNING, logger=warc.__name__):
        n = warc.write_wet(df.coalesce(1), out)
    assert n == 1 and SKIPPED_ONE in caplog.text
    back = warc.read_wet(spark, out).collect()
    assert [r["url"] for r in back] == ["https://ok.example/"]


def test_wet_record_ids_unique_for_duplicate_rows(spark, tmp_path):
    """Duplicate (url, warc_ts) rows must still get DISTINCT
    WARC-Record-IDs (spec-mandatory uniqueness per record)."""
    import gzip as gz
    import os
    import re

    from ocr_award_extractor_spark.sources.warc import write_wet

    rows = [("https://dup.example/", None, "one"),
            ("https://dup.example/", None, "two")]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, "
                                     "ocr_text string")
    out = str(tmp_path / "wet")
    assert write_wet(df.coalesce(1), out) == 2
    shard = [f for f in os.listdir(out) if f.endswith(".warc.wet.gz")][0]
    raw = gz.decompress(open(os.path.join(out, shard), "rb").read())
    ids = re.findall(rb"WARC-Record-ID: <urn:uuid:([0-9a-f-]+)>", raw)
    assert len(ids) == 2 and len(set(ids)) == 2


def test_wet_shards_byte_reproducible(spark, tmp_path):
    """Two writes of one frame with one partitioning, more than a second
    apart, give byte-equal shards: every gzip member header carries MTIME
    0 (bytes 4-8), not the write time."""
    import time
    import zlib

    from ocr_award_extractor_spark.sources.warc import write_wet

    rows = [(f"https://{i}.example/", datetime(2024, 3, 1, i), f"text {i}")
            for i in range(3)]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, "
                                     "ocr_text string").coalesce(1)
    shards = []
    for name in ("a", "b"):
        if shards:
            time.sleep(1.1)
        out = tmp_path / name
        assert write_wet(df, str(out)) == 3
        (shard,) = [p for p in out.iterdir() if p.name.endswith(".warc.wet.gz")]
        shards.append(shard.read_bytes())
    assert shards[0] == shards[1]
    data, members = shards[0], 0
    while data:
        assert data[:2] == b"\x1f\x8b" and data[4:8] == bytes(4), members
        unz = zlib.decompressobj(wbits=31)
        unz.decompress(data)
        data, members = unz.unused_data, members + 1
    assert members == 3


# ----------------------------------------------------------- write_warc
def _pages_df(spark, rows):
    from ocr_award_extractor_spark.operators.webify import PAGE_SCHEMA

    return spark.createDataFrame(
        [(u, ts, h, "", "") for u, ts, h in rows], PAGE_SCHEMA)


def test_write_warc_read_warc_roundtrip_byte_identical(spark, tmp_path):
    """The crawl-input sink must round-trip ARBITRARY html bytes through
    read_warc exactly: framing-hostile payloads (embedded CRLFCRLF, a
    quoted WARC/1.0 marker, non-UTF8 bytes), microsecond timestamps, and
    a NULL warc_ts (WARC-Date omitted → read back as None)."""
    from ocr_award_extractor_spark.sources import warc

    hostile = (b"<html>\r\n\r\nWARC/1.0\r\nquoted marker \xff\xfe raw"
               b" bytes</html>")
    rows = [
        ("https://a.example/x", datetime(2024, 3, 1, 1, 2, 3), HTML_A),
        ("https://b.example/y", datetime(2024, 3, 2, 4, 5, 6, 789012), hostile),
        ("https://c.example/z", None, b""),
    ]
    out = str(tmp_path / "warc")
    assert warc.write_warc(_pages_df(spark, rows).coalesce(1), out) == 3
    back = {r["url"]: r for r in warc.read_warc(spark, out).collect()}
    assert set(back) == {u for u, _, _ in rows}
    for u, ts, h in rows:
        assert bytes(back[u]["html"]) == h        # HTTP envelope stripped
        assert back[u]["warc_ts"] == ts
        assert back[u]["text"] == "" and back[u]["lang"] == ""


def test_write_warc_hygiene_matches_wet_contract(spark, tmp_path, caplog):
    """NULL urls skip-and-count, CR/LF urls are escaped (no framing
    smuggling), mode='error' refuses existing shards, 'overwrite'
    replaces them."""
    import pytest as _pytest

    from ocr_award_extractor_spark.sources import warc

    rows = [("https://ok.example/", datetime(2024, 3, 1), HTML_A),
            (None, None, HTML_B),
            ("https://evil.example/\r\nWARC-Type: sneaky", None, HTML_B)]
    out = str(tmp_path / "warc")
    with caplog.at_level(logging.WARNING, logger=warc.__name__):
        n = warc.write_warc(_pages_df(spark, rows).coalesce(1), out)
    assert n == 2 and SKIPPED_ONE in caplog.text
    back = {r["url"] for r in warc.read_warc(spark, out).collect()}
    # the escaped url reads back escaped — one record, framing intact
    assert back == {"https://ok.example/",
                    "https://evil.example/%0D%0AWARC-Type: sneaky"}
    with _pytest.raises(FileExistsError):
        warc.write_warc(_pages_df(spark, rows).coalesce(1), out)
    n2 = warc.write_warc(_pages_df(spark, rows[:1]).coalesce(1), out,
                         mode="overwrite")
    assert n2 == 1
    assert {r["url"] for r in warc.read_warc(spark, out).collect()} == {
        "https://ok.example/"}


def test_warc_extract_roundtrip_matches_in_memory_pipeline(spark):
    """The driver-graded warc_extract_roundtrip leg equals the in-memory
    flagship pipeline row-for-row at sf0.001 (the same invariant the
    CORRECTNESS oracle checks at sf0.01)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in entrymod.queries()["warc_extract_roundtrip"](
        spark, sf).collect()}
    want = {tuple(r) for r in entrymod.queries()["extract_pipeline_text"](
        spark, sf).collect()}
    assert got == want and len(got) > 0


def test_gunzip_members_resync_fuzz():
    """Property (round 6, amped to 2000 examples offline): junk spliced
    at any member boundary — every clean member's bytes still recovered,
    and the junk reported as an error, never raised."""
    import gzip

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_award_extractor_spark.sources.warc import gunzip_members

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.binary(min_size=1, max_size=200), min_size=1,
                    max_size=6),
           st.binary(min_size=1, max_size=60),
           st.integers(min_value=0, max_value=6))
    def check(parts, junk, pos):
        if b"\x1f\x8b" in junk:        # junk containing the magic may
            return                      # legitimately parse — skip
        members = [gzip.compress(p) for p in parts]
        pos = min(pos, len(members))
        blob = b"".join(members[:pos]) + junk + b"".join(members[pos:])
        out, errs = gunzip_members(blob)
        for p in parts:
            assert p in out, (parts, junk, pos, out, errs)
        assert errs

    check()
