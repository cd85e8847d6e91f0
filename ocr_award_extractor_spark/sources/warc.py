"""WARC ingestion source: raw Common-Crawl-style WARC files → the
engine's page schema (url, warc_ts, html, text, lang) — plus WET output
for the extraction results.

The reference ingests a directory of image files
(certificate_ocr.py:419-430, one os.listdir sweep); the web-scale analog
of "the raw input format crawlers actually produce" is WARC/1.0 — this
module reads it Spark-first with NO external WARC library:

* ``spark.read.format("binaryFile")`` lists and splits per FILE (WARC
  members are not arbitrarily splittable: each record is its own gzip
  member in Common Crawl, so file granularity is the natural unit — at
  100 TB a crawl ships ~1 GB WARC files in the tens of thousands, which
  parallelizes on file count, the same strategy Spark's own
  binary/whole-file sources use);
* a per-file row generator, run by ``functions/batching.flat_map_rows``
  (the engine's one Arrow in/out for row kernels), parses each file's
  records — header block, Content-Length-delimited body, HTTP envelope
  decode (chunked transfer + gzip/deflate content-encoding) — and emits
  one page row per ``response`` record in exactly the
  ``webify.PAGE_SCHEMA`` shape the rest of the engine speaks. No
  shuffle, no driver data path. ``read_warc`` and ``read_wet`` share
  that scan and differ only in their glob and row generator.

Output: ``write_warc`` and ``write_wet`` serialize rows back to
gzip-member-per-record shards through one ``mapInArrow`` writer
kernel. Each task returns its ``(written, skipped)`` counts as a row;
the driver sums the collected rows, so a call's counts are its own.

Error contract (mirrors the extraction pipeline's error-row contract):
anything unparseable becomes a VISIBLE error row — ``url =
"warc-error://<file>#<ref>"``, empty html, the positioned message in
``text`` — at the granularity of the broken thing: a corrupt gzip
member or record RESYNCS to the next member/record marker instead of
killing the rest of the file, and a bad HTTP payload (truncated chunked
framing, undecodable content-encoding) errors that one record only.

Kernel memory bound: binaryFile packs WHOLE files into partitions of
~``spark.sql.files.maxPartitionBytes`` (a larger file gets a partition
to itself), so an Arrow batch holds at most one partition's files —
peak kernel memory is ~max(maxPartitionBytes, largest file) plus its
decompressed form, NOT batch-row-count × file-size. Size
maxPartitionBytes against executor memory when shards are large.

Format notes (public WARC/1.0 spec, ISO 28500): records are
``WARC/1.0\\r\\n`` + header lines + ``\\r\\n`` + Content-Length bytes of
block + ``\\r\\n\\r\\n``. Common Crawl compresses one record per gzip
member; the member-wise decompressor below handles that layout and
plain concatenation alike.
"""

from __future__ import annotations

import functools
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType, StructField, StructType, TimestampType,
)

from ocr_award_extractor_spark.functions.batching import column_values, flat_map_rows

_log = logging.getLogger(__name__)

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"
_GZ_MAGIC = b"\x1f\x8b\x08"


# ------------------------------------------------------------- record parse
def _parse_one(data: bytes, pos: int, idx: int):
    """Parse ONE record at ``pos``; returns ((wtype, headers, block),
    next_pos) or raises ValueError with a positioned message."""
    if not data.startswith(b"WARC/", pos):
        raise ValueError(f"record {idx}: expected WARC/ marker at byte {pos}")
    hdr_end = data.find(_HDR_END, pos)
    if hdr_end < 0:
        raise ValueError(f"record {idx}: unterminated header block")
    header_lines = data[pos:hdr_end].split(_CRLF)
    headers = {}
    for line in header_lines[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().lower().decode("ascii", "replace")] = \
            v.strip().decode("utf-8", "replace")
    try:
        length = int(headers["content-length"])
    except (KeyError, ValueError):
        raise ValueError(f"record {idx}: missing/bad Content-Length")
    body_start = hdr_end + len(_HDR_END)
    block = data[body_start:body_start + length]
    if len(block) != length:
        raise ValueError(f"record {idx}: truncated block "
                         f"({len(block)} of {length} bytes)")
    return (headers.get("warc-type", ""), headers, block), body_start + length


def iter_records_resync(data: bytes):
    """Lenient parse: yield ``('ok', idx, wtype, headers, block)`` per
    record and ``('err', idx, message)`` per corrupt one, RESYNCING at
    the next ``\\r\\nWARC/`` marker — one bad record costs one error
    row, never the rest of the stream."""
    pos, idx, n = 0, 0, len(data)
    while pos < n:
        while pos < n and data[pos:pos + 2] == _CRLF:   # padding
            pos += 2
        if pos >= n:
            return
        try:
            (wtype, headers, block), pos = _parse_one(data, pos, idx)
            yield "ok", idx, wtype, headers, block
        except ValueError as e:
            yield "err", idx, str(e)
            nxt = data.find(_CRLF + b"WARC/", pos + 1)
            if nxt < 0:
                return
            pos = nxt + len(_CRLF)
        idx += 1


_GZ_CHUNK = 1 << 20


def gunzip_members(data: bytes):
    """Member-wise multi-member gzip decompression with RESYNC: returns
    (decompressed_bytes, [error messages]). A corrupt or truncated
    member is reported and skipped by scanning for the next gzip magic —
    the Common Crawl one-record-per-member layout means one bad member
    loses one record, not the file.

    LINEAR in file size: input is fed through zero-copy memoryview
    slices with GEOMETRIC feed sizing (4 KB doubling to 1 MB per
    member), so ``unused_data`` after a member boundary copies at most
    ~the member's own size — feeding the whole remaining tail per member
    (the obvious spelling) copies O(members × filesize) on a
    one-member-per-record CC shard, and a fixed large chunk still
    copies chunk-size bytes per tiny member."""
    import zlib

    mv = memoryview(data)
    out, errs = [], []
    pos, member, n = 0, 0, len(data)
    while pos < n:
        start = pos
        try:
            d = zlib.decompressobj(31)      # gzip wrapper
            parts = []
            fed = start
            feed = 4096
            while not d.eof and fed < n:
                end = min(fed + feed, n)
                parts.append(d.decompress(mv[fed:end]))
                fed = end
                feed = min(feed * 2, _GZ_CHUNK)
            parts.append(d.flush())
            if not d.eof:
                raise zlib.error("truncated member")
            consumed = (fed - start) - len(d.unused_data)
            if consumed <= 0:
                raise zlib.error("no progress")
            out.append(b"".join(parts))
            pos = start + consumed
        except Exception as e:  # noqa: BLE001 — converted to error rows
            errs.append(f"gzip member {member} at byte {start}: {e}")
            nxt = data.find(_GZ_MAGIC, start + 1)
            if nxt < 0:
                break
            pos = nxt
        member += 1
    return b"".join(out), errs


def file_records(name: str, raw: bytes):
    """All records of one WARC file as ``('ok', idx, wtype, headers,
    block)`` / ``('err', ref, message)`` items: gzip-sniffed,
    member-resynced, record-resynced. The single iteration core both
    Spark kernels (read_warc, read_wet) consume.

    Resync honesty: the record-level resync scans for the next
    ``\\r\\nWARC/`` marker, which a corrupt record's BODY could contain
    (a crawled page quoting a WARC example) — heuristic recovery can
    then emit a quoted record as real. The gzip-member layout (what
    Common Crawl actually ships) does not have this ambiguity: member
    boundaries delimit records independently of their contents."""
    data = raw
    if raw[:2] == b"\x1f\x8b":
        data, gz_errs = gunzip_members(raw)
        for i, msg in enumerate(gz_errs):
            yield "err", f"{name}#gz{i}", msg
    for item in iter_records_resync(data):
        if item[0] == "ok":
            yield item
        else:
            yield "err", f"{name}#{item[1]}", item[2]


# --------------------------------------------------------- HTTP envelope
def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer framing; ValueError on bad
    framing (the caller error-rows that record)."""
    out, pos = [], 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            raise ValueError("chunked: missing size line")
        try:
            size = int(body[pos:eol].split(b";")[0], 16)
        except ValueError:
            raise ValueError("chunked: bad size line")
        pos = eol + 2
        if size == 0:
            return b"".join(out)
        chunk = body[pos:pos + size]
        if len(chunk) != size:
            raise ValueError("chunked: truncated chunk")
        # the CRLF after each chunk is mandatory — advancing blindly
        # lets a mis-declared size resynchronize onto garbage that
        # happens to parse as the next size line (silently-spliced html)
        if body[pos + size:pos + size + 2] != _CRLF:
            raise ValueError("chunked: missing chunk terminator")
        out.append(chunk)
        pos += size + 2


def http_payload(block: bytes) -> bytes:
    """Actual page bytes from a response record's block: strips the HTTP
    envelope, undoes ``Transfer-Encoding: chunked`` and
    ``Content-Encoding: gzip/x-gzip/deflate`` (real Common Crawl
    response records preserve both). A block without an HTTP envelope is
    returned whole (resource records, lenient); an undecodable payload
    raises ValueError → one error row."""
    import gzip
    import zlib

    if not block.startswith(b"HTTP/"):
        return block
    split = block.find(_HDR_END)
    if split < 0:
        return block
    headers = {}
    for line in block[:split].split(_CRLF)[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().lower().decode("ascii", "replace")] = \
            v.strip().decode("ascii", "replace").lower()
    body = block[split + len(_HDR_END):]
    if "chunked" in headers.get("transfer-encoding", ""):
        body = _dechunk(body)
    ce = headers.get("content-encoding", "")
    try:
        if ce in ("gzip", "x-gzip"):
            body = gzip.decompress(body)
        elif ce == "deflate":
            try:
                body = zlib.decompress(body)
            except zlib.error:                 # raw-deflate variant
                body = zlib.decompress(body, -zlib.MAX_WBITS)
        elif ce and ce != "identity":
            raise ValueError(f"unsupported Content-Encoding: {ce}")
    except ValueError:
        raise
    except Exception as e:  # noqa: BLE001
        raise ValueError(f"bad {ce} payload: {e}")
    return body


def _parse_ts(s: str):
    """WARC-Date (ISO-8601 Zulu, optional fractional seconds) → naive
    UTC datetime, None if absent/unparseable."""
    import datetime

    for fmt in ("%Y-%m-%dT%H:%M:%S.%fZ", "%Y-%m-%dT%H:%M:%SZ"):
        try:
            return datetime.datetime.strptime(s, fmt)
        except ValueError:
            continue
    return None


def _format_ts(ts) -> str:
    if ts.microsecond:
        return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


# ------------------------------------------------------------------- read
_WARC_GLOB = "*.warc*"
_WET_GLOB = "*.wet*"

_WET_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("text", StringType()),
])


def _scan(spark: SparkSession, path: str, glob: str, fn,
          schema: StructType) -> DataFrame:
    """The files under ``path`` matching ``glob``, each turned into rows
    by the per-file row generator ``fn(path, content)``."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", glob).load(path))
    return flat_map_rows(files, ("path", "content"), fn, schema)


def _page(url: str, ts, html: bytes, text: str) -> dict:
    return {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": ""}


def _page_rows(path: str, content: bytes):
    """One WARC file's page rows: one per ``response`` record, error rows
    per the module contract."""
    name = os.path.basename(path)
    for item in file_records(name, bytes(content)):
        if item[0] == "err":
            yield _page(f"warc-error://{item[1]}", None, b"", item[2])
            continue
        _, idx, wtype, headers, block = item
        if wtype != "response":
            continue      # warcinfo/request/metadata
        url = headers.get("warc-target-uri", "")
        if not url:
            yield _page(f"warc-error://{name}#{idx}", None, b"",
                        "missing WARC-Target-URI")
            continue
        try:
            body = http_payload(block)
        except ValueError as e:
            yield _page(f"warc-error://{name}#{idx}", None, b"",
                        f"{e} (url: {url})")
            continue
        yield _page(url, _parse_ts(headers.get("warc-date", "")), body, "")


def _wet_rows(path: str, content: bytes):
    """One WET file's rows: one per ``conversion`` record, error rows per
    the module contract."""
    name = os.path.basename(path)
    for item in file_records(name, bytes(content)):
        if item[0] == "err":
            yield {"url": f"warc-error://{item[1]}", "warc_ts": None,
                   "text": item[2]}
            continue
        _, idx, wtype, headers, block = item
        if wtype != "conversion":
            continue
        yield {"url": headers.get("warc-target-uri", ""),
               "warc_ts": _parse_ts(headers.get("warc-date", "")),
               "text": block.decode("utf-8", "replace")}


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files (``*.warc*``) under ``path`` → a PAGE_SCHEMA DataFrame
    (url, warc_ts, html, text, lang): one row per ``response`` record,
    error rows per the module contract. ``lang`` is left empty
    (language-ID is a downstream operator — textstats.guessed_lang_expr,
    applied by fill_missing_lang_df);
    ``text`` is empty for good rows (extraction fills it) and carries the
    error message on error rows."""
    from ocr_award_extractor_spark.operators.webify import PAGE_SCHEMA

    return _scan(spark, path, _WARC_GLOB, _page_rows, PAGE_SCHEMA)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET shards (``*.wet*``) → (url, warc_ts, text): one row per
    ``conversion`` record, the read-back side of :func:`write_wet` (same
    file_records core as read_warc — gzip/member/record resync and the
    error-row contract with the message in ``text`` and a
    ``warc-error://`` url)."""
    return _scan(spark, path, _WET_GLOB, _wet_rows, _WET_SCHEMA)


# ---------------------------------------------------------- WARC/WET out
def _escape_header_url(url: str) -> bytes:
    """CR/LF cannot appear in a WARC header value — escape, don't let a
    hostile url split the record framing."""
    return url.replace("\r", "%0D").replace("\n", "%0A").encode("utf-8")


def _prepare_out_dir(out_dir: str, suffix: str, mode: str) -> None:
    """Shared writer-hygiene preamble: ``mode='error'`` (like Spark
    writers) refuses an out_dir that already holds shards — a rerun with
    different partitioning would otherwise leave stale shards that
    read-back merges in; ``'overwrite'`` clears existing shards (and
    stale tmps) first."""
    import glob as globmod

    if mode not in ("error", "overwrite"):
        raise ValueError(f"unknown mode: {mode}")
    os.makedirs(out_dir, exist_ok=True)
    existing = globmod.glob(os.path.join(out_dir, f"part-*{suffix}"))
    stale_tmp = globmod.glob(os.path.join(out_dir, ".part-*.tmp"))
    if existing and mode == "error":
        raise FileExistsError(
            f"{out_dir} already holds {len(existing)} shard(s); pass "
            f"mode='overwrite' to replace them (a rerun with different "
            f"partitioning would otherwise leave stale shards)")
    for p in existing + stale_tmp:
        os.remove(p)


def _warc_record(wtype: bytes, content_type: bytes, url: str, ts,
                 pid: int, seq: int, block: bytes) -> bytes:
    """One WARC/1.0 record as its own gzip member. The ``WARC-Record-ID``
    is a uuid5 of url+ts+partition+seq: spec-mandatory uniqueness,
    reproducible for a fixed partitioning. The url is CR/LF-escaped, and
    ``WARC-Date`` keeps microseconds and is omitted for a NULL ``ts``."""
    import gzip
    import uuid

    rid = uuid.uuid5(uuid.NAMESPACE_URL, f"{url}|{ts}|{pid}|{seq}")
    hdrs = [b"WARC/1.0",
            b"WARC-Type: " + wtype,
            b"WARC-Record-ID: <urn:uuid:" +
            str(rid).encode("ascii") + b">",
            b"WARC-Target-URI: " + _escape_header_url(url)]
    if ts is not None:
        hdrs.append(b"WARC-Date: " + _format_ts(ts).encode("ascii"))
    hdrs.append(b"Content-Type: " + content_type)
    hdrs.append(b"Content-Length: " + str(len(block)).encode("ascii"))
    # level 6 (zlib default): measured ~2× the throughput of the
    # gzip.compress default (9) at byte-identical output size on this
    # corpus; readers are unaffected. mtime=0 keeps the write time out of
    # the member header, so a rewrite of the same rows gives the same bytes
    return gzip.compress(b"\r\n".join(hdrs) + _HDR_END + block + _HDR_END,
                         compresslevel=6, mtime=0)


def _wet_block(text) -> bytes:
    return (text or "").encode("utf-8")


def _warc_block(html) -> bytes:
    """Full HTTP envelope (what real crawl WARCs carry): read_warc's
    http_payload splits at the FIRST \\r\\n\\r\\n — which is this
    envelope's end — so arbitrary html bytes round-trip exactly."""
    html = bytes(html) if html is not None else b""
    return (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html\r\n"
            b"Content-Length: " + str(len(html)).encode("ascii")
            + _HDR_END + html)


def _shard_writer(batches, out_dir: str, suffix: str, wtype: bytes,
                  content_type: bytes, block_of):
    """Task side of :func:`_write_shards`: stream this partition's (url,
    body, warc_ts) rows into a tmp file, rename it to ``part-NNNNN<suffix>``
    and yield one ``(written, skipped)`` row. A NULL warc_ts omits WARC-Date."""
    import uuid

    import pyarrow as pa
    from pyspark import TaskContext

    f = None
    written = skipped = seq = 0
    pid = TaskContext.get().partitionId()
    path = os.path.join(out_dir, f"part-{pid:05d}{suffix}")
    tmp = os.path.join(out_dir, f".part-{pid:05d}-{uuid.uuid4().hex[:8]}.tmp")
    try:
        for batch in batches:
            for url, body, ts in zip(*column_values(batch, batch.schema.names)):
                if url is None:
                    # a record without a target URI is unwritable; skip
                    # it VISIBLY (counted) rather than killing the job
                    skipped += 1
                else:
                    if f is None:   # lazy: empty partitions write nothing
                        f = open(tmp, "wb")
                    f.write(_warc_record(wtype, content_type, url, ts, pid,
                                         seq, block_of(body)))
                    written += 1
                seq += 1
        if f is not None:
            f.close()
            os.rename(tmp, path)
    except BaseException:
        if f is not None:
            f.close()
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    yield pa.RecordBatch.from_pydict({"written": [written], "skipped": [skipped]})


def _write_shards(df: DataFrame, out_dir: str, suffix: str, mode: str,
                  body_col: str, wtype: bytes, content_type: bytes,
                  block_of) -> int:
    """Arrow-batched shard writer shared by :func:`write_wet` /
    :func:`write_warc`: one ``part-NNNNN<suffix>`` per non-empty
    partition, each task STREAMING records into a tmp file (O(batch)
    memory, not O(partition)) committed by os.rename, so a killed job
    leaves no half-visible shard (same idiom as plans/lineage.py; tmp
    names contain no format suffix so the read globs never see them).
    Each record is ``block_of`` of the row's ``body_col`` framed by
    :func:`_warc_record`. Pure per-partition — no shuffle, no driver data
    path; shard count = partition count.

    The writer is a ``mapInArrow`` kernel, not ``foreachPartition``: the
    latter runs on the RDD path, pickling every row (html payloads
    included) one at a time across the Python boundary (guide §4); Arrow
    batches move the same bytes columnar. Each task returns its
    ``(written, skipped)`` counts as a row, so the counts come from the
    collected job — exactly once per partition, private to this call.
    NULL-url rows are skipped and their count is logged as a warning.
    Returns the number of records written."""
    from ocr_award_extractor_spark.config import ensure_package_on_workers

    _prepare_out_dir(out_dir, suffix, mode)
    ts = "warc_ts" if "warc_ts" in df.columns else F.lit(None).cast("timestamp")
    writer = functools.partial(
        _shard_writer, out_dir=out_dir, suffix=suffix, wtype=wtype,
        content_type=content_type, block_of=block_of)
    ensure_package_on_workers(df.sparkSession)
    counts = (df.select("url", body_col, ts)
              .mapInArrow(writer, "written long, skipped long").collect())
    skipped = sum(r["skipped"] for r in counts)
    if skipped:
        _log.warning("%s: skipped %d row(s) with a NULL url (a WARC "
                     "record needs a target URI)", out_dir, skipped)
    return sum(r["written"] for r in counts)


def write_wet(extracted: DataFrame, out_dir: str,
              text_col: str = "ocr_text", mode: str = "error") -> int:
    """Write extraction output as WET shards (WARC/1.0 ``conversion``
    records, gzip member per record — the format crawl consumers already
    read) under ``out_dir``: one ``part-NNNNN.warc.wet.gz`` per
    non-empty partition, each task STREAMING records into a tmp file
    (O(record) memory, not O(partition)) committed by os.rename, so a
    killed job leaves no half-visible shard (same idiom as
    plans/lineage.py; tmp names contain no ``.wet`` so read_wet's glob
    can never see them). Returns the number of records written.

    ``mode`` and writer hygiene per :func:`_prepare_out_dir` /
    :func:`_write_shards`. Record hygiene per :func:`_warc_record`:
    every record carries a deterministic ``WARC-Record-ID``; CR/LF in
    urls is percent-escaped so a hostile url cannot smuggle headers into
    the record framing; ``WARC-Date`` preserves microseconds and is
    OMITTED for a NULL warc_ts (read_wet returns None — no silent epoch
    substitution). NULL-url rows are skipped, and their count is logged
    as a warning.

    Scale shape: one ``mapInArrow`` writer kernel — every task
    serializes its own rows and writes its own shard to the shared
    filesystem; no shuffle, no driver data path, shard count = partition
    count (control it upstream with repartition/coalesce). Only
    ``status == 'success'`` rows are written when a status column exists;
    the text column is UTF-8 encoded and byte-identical on read-back
    (tests/test_warc_source.py::test_wet_roundtrip_byte_identical)."""
    if "status" in extracted.columns:
        extracted = extracted.where(F.col("status") == "success")
    return _write_shards(extracted, out_dir, ".warc.wet.gz", mode, text_col,
                         b"conversion", b"text/plain", _wet_block)


def write_warc(pages: DataFrame, out_dir: str, mode: str = "error") -> int:
    """Crawl-input sink: PAGE_SCHEMA-shaped rows (url, warc_ts, html) →
    WARC/1.0 ``response`` records under ``out_dir``, one gzip member per
    record (the Common Crawl layout, ``part-NNNNN.warc.gz``), each block
    a full HTTP response envelope so :func:`read_warc`'s envelope strip
    returns the html BYTE-IDENTICALLY (pinned by
    tests/test_warc_source.py and the driver's ``warc_extract_roundtrip``
    oracle row). The reference ingests files from a directory
    (certificate_ocr.py:419-430); this is the crawl-native serialization
    of the same corpus, closing the read_warc loop.

    Same ``mode``/commit/hygiene contract as :func:`write_wet`
    (:func:`_prepare_out_dir` / :func:`_write_shards` /
    :func:`_warc_record`): streaming tmp + atomic rename per shard,
    deterministic per-record ``WARC-Record-ID``, CR/LF-escaped urls,
    ``WARC-Date`` omitted for NULL warc_ts, NULL-url rows skipped with
    their count logged as a warning. Returns the number of records
    written."""
    return _write_shards(pages, out_dir, ".warc.gz", mode, "html",
                         b"response", b"application/http; msgtype=response",
                         _warc_block)
