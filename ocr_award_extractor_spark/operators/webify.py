"""Deterministically re-shape the driver's plain-text ``documents`` table
(doc_id, text, lang, source, n_chars) into the engine's canonical web-page
input shape (url, warc_ts, html, text, lang).

The driver's table has no HTML column; the flagship pipeline's input per
BASELINE.json is raw HTML bytes. This stage wraps each document's text in
the same boilerplate shell the fixture generator uses (seeded per doc_id ⇒
byte-stable at any scale/parallelism), so the FULL pipeline — decode,
boilerplate strip, field extraction — runs against driver-provided data.
The emitted ``text`` column is the expected extraction (ground truth),
which downstream checks compare byte-for-byte.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from ocr_award_extractor_spark.functions.batching import map_rows
from ocr_award_extractor_spark.sources.fixture_gen import _build_html

PAGE_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

_EPOCH = datetime(2024, 3, 1)
_WORDS_PER_LINE = 12

# ---------------------------------------------------------------------------
# Deterministic CJK award injection (VERDICT r1 #3): docs with
# doc_id % INJECT_MOD == INJECT_REM get three exact-12-token award lines
# PREPENDED to their text before chunking, so the driver's sf0.01 oracle
# gate exercises the POSITIVE path of every field-extraction rule
# (certificate_ocr.py:336-381 semantics) on driver data — not just the
# no-false-positive property. Prepending whole lines keeps every later
# chunk boundary where it was, so the text-md5 oracles only need the same
# prefix prepended in SQL (award_prefix_sql / injected_text_sql below).
#
# Line design constraints (so the expected fields are closed-form):
# * line A carries competition marker + 《project》 + award keyword; it must
#   not start with a clean_text leading verb (关于/获得/授予), must not be
#   fully quote-wrapped, and holds the doc's FIRST 《/" so the project
#   regex anchors on it;
# * lines B/C carry the winner/teacher markers on SEPARATE lines (the
#   splitter takes the between-1st-and-2nd-colon segment of the whole
#   line, so sharing a line would cross-pollute), with a SECOND full-width
#   colon immediately after the name list so the segment ends cleanly;
# * filler tokens are plain latin — no markers, colons, quotes, keywords.
INJECT_MOD = 10
INJECT_REM = 3

WINNER_NAMES = ("张三", "李四", "王小明")
TEACHER_NAMES = ("陈老师", "刘老师")

_FILL_A = "injA07 injA08 injA09 injA10 injA11 injA12"
_FILL_B = "injB02 injB03 injB04 injB05 injB06 injB07 injB08 injB09 injB10 injB11 injB12"
_FILL_C = "injC02 injC03 injC04 injC05 injC06 injC07 injC08 injC09 injC10 injC11 injC12"


def award_prefix(doc_id: int) -> str | None:
    """The 36-token (3 × 12) award prefix for an injected doc, else None.
    MUST stay in lockstep with award_prefix_sql()."""
    from ocr_award_extractor_spark.functions.extract import AWARD_LEVELS

    if doc_id % INJECT_MOD != INJECT_REM:
        return None
    level = AWARD_LEVELS[doc_id % len(AWARD_LEVELS)]
    winners = "、".join(WINNER_NAMES[: doc_id % len(WINNER_NAMES) + 1])
    teachers = "、".join(TEACHER_NAMES[: doc_id % len(TEACHER_NAMES) + 1])
    line_a = (
        f"第{doc_id % 30 + 1}届全国大学生数据挖掘挑战赛 本项目"
        f" 《智能数据清洗平台{doc_id % 7}号》 荣获{level} 颁奖典礼 在北京举行 {_FILL_A}"
    )
    line_b = f"获奖学生：{winners}：名单 {_FILL_B}"
    line_c = f"指导教师：{teachers}：名单 {_FILL_C}"
    return f"{line_a} {line_b} {line_c}"


def injected_text(doc_id: int, text: str) -> str:
    prefix = award_prefix(doc_id)
    return f"{prefix} {text}" if prefix else text


def _sql_pick(mod_list: tuple[str, ...], joiner: str) -> str:
    """CASE doc_id % len WHEN i THEN first i+1 names joined — the SQL twin
    of the Python prefix-of-list pick."""
    n = len(mod_list)
    arms = " ".join(
        f"WHEN {i} THEN '{joiner.join(mod_list[: i + 1])}'" for i in range(n)
    )
    return f"CASE doc_id % {n} {arms} END"


def _award_level_sql() -> str:
    from ocr_award_extractor_spark.functions.extract import AWARD_LEVELS

    arms = " ".join(
        f"WHEN {i} THEN '{lv}'" for i, lv in enumerate(AWARD_LEVELS)
    )
    return f"CASE doc_id % {len(AWARD_LEVELS)} {arms} END"


def _line_a_sql() -> str:
    return (
        "'第' || CAST(doc_id % 30 + 1 AS VARCHAR) || '届全国大学生数据挖掘挑战赛 本项目"
        " 《智能数据清洗平台' || CAST(doc_id % 7 AS VARCHAR) || '号》 荣获'"
        f" || {_award_level_sql()} || ' 颁奖典礼 在北京举行 {_FILL_A}'"
    )


def injection_oracle_sql() -> dict[str, str]:
    """DuckDB expression fragments (over a ``documents`` row) regenerated
    from the SAME constants as award_prefix: the injected-doc predicate,
    the full text with the prefix applied, and each field's expected
    post-extraction value (empty for non-injected docs)."""
    is_inj = f"doc_id % {INJECT_MOD} = {INJECT_REM}"
    prefix = (
        f"{_line_a_sql()} || ' 获奖学生：' || {_sql_pick(WINNER_NAMES, '、')}"
        f" || '：名单 {_FILL_B}' || ' 指导教师：' || {_sql_pick(TEACHER_NAMES, '、')}"
        f" || '：名单 {_FILL_C}'"
    )
    empty_unless = "CASE WHEN {p} THEN {v} ELSE '' END"
    return {
        "is_injected": is_inj,
        "text_with_prefix":
            f"CASE WHEN {is_inj} THEN ({prefix}) || ' ' || text ELSE text END",
        "competition_name": empty_unless.format(p=is_inj, v=_line_a_sql()),
        "award_level": empty_unless.format(p=is_inj, v=_award_level_sql()),
        "project_name": empty_unless.format(
            p=is_inj,
            v="'智能数据清洗平台' || CAST(doc_id % 7 AS VARCHAR) || '号'"),
        "winners": empty_unless.format(p=is_inj, v=_sql_pick(WINNER_NAMES, "|")),
        "teachers": empty_unless.format(p=is_inj, v=_sql_pick(TEACHER_NAMES, "|")),
    }


# ---------------------------------------------------------------------------
# Deterministic external-link injection (round 6): shared with the
# fixture generator (the helpers live there — webify already imports
# _build_html from it), so BOTH page substrates carry the same
# closed-form absolute links for the link-graph operators. The block is
# pure navigation (tiny latin anchor text, 100% link density) so the
# boilerplate strip drops it and the extracted text is unchanged — same
# invariance contract as the award prefix above.
from ocr_award_extractor_spark.sources.fixture_gen import (  # noqa: E402
    N_LINK_HOSTS, OUTLINK_MOD, outlink_block as _outlink_block, outlink_urls,
)


def outlink_oracle_sql() -> dict[str, str]:
    """DuckDB expression fragments (over a ``documents`` row) regenerated
    from the SAME constants as outlink_urls: link count, the ordered
    '|'-joined target urls, and their hosts."""
    pad = "lpad(CAST(doc_id AS VARCHAR), 8, '0')"
    host = f"'src' || CAST((doc_id * 7 + i * 13) % {N_LINK_HOSTS} AS VARCHAR) || '.example'"
    url = f"'https://' || {host} || '/ref/doc' || {pad} || '-' || CAST(i AS VARCHAR) || '.html'"
    rng = f"range(0, CAST(doc_id % {OUTLINK_MOD} AS BIGINT))"
    # COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — zero-link pages must agree on ''
    return {
        "n_links": f"CAST(doc_id % {OUTLINK_MOD} AS INT)",
        "out_urls":
            f"COALESCE(array_to_string(list_transform({rng}, i -> {url}), '|'), '')",
        "out_hosts":
            f"COALESCE(array_to_string(list_transform({rng}, i -> {host}), '|'), '')",
    }


def text_to_lines(text: str) -> list[str]:
    """Chunk whitespace tokens into fixed-width lines; a trailing runt chunk
    merges into its predecessor so every line survives the segmenter's
    2-char minimum and the round trip stays exact."""
    words = [w for w in (text or "").split(" ") if w]
    lines = [" ".join(words[i:i + _WORDS_PER_LINE])
             for i in range(0, len(words), _WORDS_PER_LINE)]
    if len(lines) >= 2 and len(lines[-1]) < 2:
        lines[-2:] = [lines[-2] + " " + lines[-1]]
    return [ln for ln in lines if len(ln) >= 2]


def wrap_row(doc_id: int, text: str, lang: str, source: str) -> dict:
    rng = random.Random(f"wrap:{doc_id}")
    lines = text_to_lines(injected_text(doc_id, text))
    html = _build_html(rng, lines, lines[0] if lines else "untitled")
    html = html.replace("</body>", _outlink_block(doc_id) + "</body>")
    return {
        "url": f"https://{source}.example/{lang}/doc{doc_id:08d}.html",
        "warc_ts": _EPOCH + timedelta(seconds=(doc_id * 9973) % (30 * 86400)),
        "html": html.encode("utf-8"),
        "text": "\n".join(lines),
        "lang": lang,
    }


def _pages(docs: DataFrame, row_fn) -> DataFrame:
    from ocr_award_extractor_spark.sources.tables import spread_small_scans

    cols = ("doc_id", "text", "lang", "source")
    return map_rows(spread_small_scans(docs.select(*cols)), cols, row_fn,
                    PAGE_SCHEMA)


def webify_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, …) → pages(url, warc_ts, html,
    text, lang), deterministic per doc_id."""
    return _pages(docs, wrap_row)


def webify_urls_df(docs: DataFrame) -> DataFrame:
    """The (url, warc_ts) columns of ``webify_documents(docs)`` as a pure
    JVM projection: wrap_row's url and timestamp are closed-form in
    (doc_id, lang, source), so a caller that needs only page IDENTITY —
    the stateful-dedup staging stages exactly these two columns — can
    skip building any html (guide §4: don't run an opaque Python stage
    for columns a projection can produce). Byte-equality with the
    mapInArrow output is pinned by
    tests/test_webify.py::test_webify_urls_projection_matches_wrap_row.
    Timestamp arithmetic is interval-based (not epoch round-trip), so the
    value is session-timezone-independent like wrap_row's."""
    from pyspark.sql import functions as F

    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example/"),
        F.col("lang"), F.lit("/doc"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0"), F.lit(".html"))
    ts = F.lit(_EPOCH) + F.make_interval(
        secs=(F.col("doc_id") * 9973) % (30 * 86400))
    return docs.select(url.alias("url"), ts.alias("warc_ts"))


def pdf_wrap_row(doc_id: int, text: str, lang: str, source: str) -> dict:
    """Same document as a machine-generated PDF: one Tj show-text per
    12-word line, FlateDecode for every even doc (both decode paths).
    Extraction must return the lines byte-identically, so the DuckDB
    oracle for the PDF leg is the SAME text reconstruction as the HTML
    one — only the url suffix and strategy differ."""
    from ocr_award_extractor_spark.functions.pdftext import make_simple_pdf

    lines = text_to_lines(injected_text(doc_id, text))
    return {
        "url": f"https://{source}.example/{lang}/doc{doc_id:08d}.pdf",
        "warc_ts": _EPOCH + timedelta(seconds=(doc_id * 9973) % (30 * 86400)),
        "html": make_simple_pdf(lines, compress=doc_id % 2 == 0),
        "text": "\n".join(lines),
        "lang": lang,
    }


def pdfify_documents(docs: DataFrame) -> DataFrame:
    """documents → PDF-payload pages (url, warc_ts, html=pdf bytes, text,
    lang); the pipeline routes on the %PDF- magic, nothing else changes."""
    return _pages(docs, pdf_wrap_row)
