"""HTML → main-content text lines (boilerplate strip), pure Python.

This is the web-text analog of the reference's image→text stage
(certificate_ocr.py:85-149): decode the raw document payload, run TWO
recognition strategies, pick the one that recovers more text (first wins on
ties — certificate_ocr.py:131), and emit kept lines + per-line confidences.

Strategy analog map (reference → here):

* ``cv2.imread`` returning None → undecodable/empty payload ⇒ caller emits a
  ``status='error'`` row, never an exception (certificate_ocr.py:100-105).
* raw-image OCR (strategy 1) → STRICT pass: strict UTF-8 decode + segment
  extraction with tight link-density thresholds.
* ``enhance_image`` + OCR (strategy 2, certificate_ocr.py:59-83,:116-117)
  → REPAIR pass: tolerant decode (errors='replace'), control-char strip,
  same segmenter. It only beats the strict pass when strict recovery fails
  or is partial — mirroring "enhancement helps only when raw OCR fails".
* pick-best ``max(results, key=total text)`` with first-wins ties
  (certificate_ocr.py:131) → :func:`extract_page` scores by summed kept-line
  length; the strict pass is listed first so it wins ties.
* per-word OCR confidence (certificate_ocr.py:139-143) → deterministic
  per-line confidence from block link-density + length (formula below).

Boilerplate strip is Readability/trafilatura-style but written from
scratch: the document is cut into text *segments* at block-tag boundaries
(document order preserved), each segment tracks total vs anchor-text
characters, and a segment is kept iff it is not inside a killed container
(script/style/nav/footer/… tags, or class/id matching a boilerplate
pattern, or display:none) and its link density is below threshold.

Scale note: this runs inside mapInArrow batches on executors, one
document at a time. The parser backend is one function,
:func:`segment_html`, with two tiers that must produce the same segments:

1. the native scanner (``_segscan.c``), built with the system C compiler
   and loaded with ctypes when this module is imported (see
   :mod:`~ocr_award_extractor_spark.functions.segscan`; without a
   compiler it is off, with one WARNING);
2. the stdlib ``html.parser`` driving :class:`_Segmenter`, the reference.

The native scanner is faithful-or-bail: a construct it cannot handle
exactly as the reference does makes it decline the whole document, which
then takes the stdlib parser. So it can only change the output by
mis-handling a construct it claims to handle; tests/test_fast_segmenter.py
pins the two tiers equal.
"""

from __future__ import annotations

import logging
import re
from array import array
from dataclasses import dataclass, field
from html import unescape as _unescape
from html.parser import HTMLParser

from ocr_award_extractor_spark.functions import segscan as _segscan
from ocr_award_extractor_spark.functions.ocr_slot import (
    ocr_image_page, sniff_image,
)
from ocr_award_extractor_spark.functions.pdftext import (
    PDF_MAGIC, extract_pdf_page,
)

_log = logging.getLogger(__name__)

# Containers whose entire subtree is never content.
KILL_TAGS = frozenset(
    "script style noscript template head title svg math iframe object embed "
    "form button select option textarea nav footer header aside menu dialog".split()
)
# Tags that delimit text segments (line boundaries).
BLOCK_TAGS = frozenset(
    "p div article section main li ul ol h1 h2 h3 h4 h5 h6 td th tr table "
    "thead tbody blockquote pre figcaption dd dt dl br hr body".split()
)
_BOILER_ATTR = re.compile(
    r"(?:^|[\s_-])(?:nav|menu|footer|header|sidebar|sitemap|comment|comments|"
    r"ad|ads|advert|banner|breadcrumb|breadcrumbs|related|share|social|promo|"
    r"widget|cookie|copyright|disclaimer)(?:$|[\s_-])",
    re.IGNORECASE,
)
_DISPLAY_NONE = re.compile(r"display\s*:\s*none", re.IGNORECASE)
_WS_RUN = re.compile(r"\s+")
_CTRL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f�]")

STRICT_LINK_DENSITY = 0.35
MIN_SEGMENT_CHARS = 2


@dataclass
class Segment:
    """One contiguous text run between block boundaries."""

    parts: list[str] = field(default_factory=list)
    link_chars: int = 0
    killed: bool = False

    def text(self) -> str:
        return _WS_RUN.sub(" ", "".join(self.parts)).strip()


class _Segmenter(HTMLParser):
    """Event-driven segment collector; tolerant of unbalanced markup."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.segments: list[Segment] = []
        self._cur = Segment()
        self._kill_depth = 0          # inside KILL_TAGS subtree
        self._boiler_depth = 0        # inside class/id-flagged boilerplate
        self._a_depth = 0
        self._kill_stack: list[str] = []
        self._boiler_stack: list[str] = []

    # -- segment plumbing ---------------------------------------------------
    def _flush(self) -> None:
        cur = self._cur
        suppressed = self._suppressed()
        if not cur.parts:
            # nothing to emit: reuse the segment, just refresh its killed
            # flag (identical semantics, ~half the allocations — block tags
            # flush ~90×/doc and most flushes are empty)
            cur.killed = suppressed
            return
        self.segments.append(cur)
        self._cur = Segment(killed=suppressed)

    def _suppressed(self) -> bool:
        return self._kill_depth > 0 or self._boiler_depth > 0

    @staticmethod
    def _is_boiler_attrs(attrs) -> bool:
        for name, value in attrs:
            if value is None:
                continue
            if name in ("class", "id") and _BOILER_ATTR.search(value):
                return True
            if name == "style" and _DISPLAY_NONE.search(value):
                return True
        return False

    # -- parser events ------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in KILL_TAGS:
            self._flush()
            if tag != "br" and tag != "hr":
                self._kill_depth += 1
                self._kill_stack.append(tag)
            return
        boiler = self._is_boiler_attrs(attrs)
        if tag in BLOCK_TAGS or boiler:
            self._flush()
        if boiler:
            self._boiler_depth += 1
            self._boiler_stack.append(tag)
        if tag == "a":
            self._a_depth += 1

    def handle_startendtag(self, tag, attrs):
        if tag in BLOCK_TAGS:  # <br/>, <hr/>
            self._flush()

    def handle_endtag(self, tag):
        if tag in KILL_TAGS:
            self._flush()
            if self._kill_stack and tag in self._kill_stack:
                # pop up to and including the matching open (tolerates nesting)
                while self._kill_stack:
                    popped = self._kill_stack.pop()
                    self._kill_depth -= 1
                    if popped == tag:
                        break
            return
        if self._boiler_stack and tag == self._boiler_stack[-1]:
            self._flush()
            self._boiler_stack.pop()
            self._boiler_depth -= 1
        elif tag in BLOCK_TAGS:
            self._flush()
        if tag == "a" and self._a_depth > 0:
            self._a_depth -= 1

    def handle_data(self, data):
        if not data:
            return
        if self._suppressed():
            self._cur.killed = True
            return
        self._cur.parts.append(data)
        if self._a_depth > 0:
            self._cur.link_chars += len(data)

    def close(self):
        super().close()
        self._flush()


def segment_html_stdlib(html_str: str) -> list[Segment]:
    """Reference tokenizer: stdlib HTMLParser driving the segmenter.
    HTMLParser is tolerant of malformed markup by construction; should it
    raise anyway, the exception propagates (:func:`extract_page` turns it
    into an error row). The native scanner must give the same segments
    on every document it accepts — pinned by
    tests/test_fast_segmenter.py."""
    seg = _Segmenter()
    seg.feed(html_str)
    seg.close()
    return [s for s in seg.segments if not s.killed]


def _html_parser_compatible() -> bool:
    """_segscan.c mirrors CPython 3.11 html.parser tokenization details.
    Those are PRIVATE stdlib behaviour — 3.13 changed set_cdata_mode to
    end CDATA at '</script' + space/slash, which the C scanner's CDATA
    close does not do. Probe the live interpreter's patterns at import; on
    any mismatch the native scanner stays off and every document takes the
    stdlib parser (slower, never wrong), with one WARNING that names the
    failed probe."""
    try:
        import _markupbase as _mb
        import html.parser as _hp

        probe = _hp.HTMLParser()
        probe.set_cdata_mode("script")
        checks = {
            "script CDATA close pattern":
                probe.interesting.pattern == r"</\s*script\s*>",
            # markupbase parse_comment closes at '--' + whitespace + '>'
            "comment close pattern": _mb._commentclose.pattern == r"--\s*>",
            "CDATA content elements":
                _hp.HTMLParser.CDATA_CONTENT_ELEMENTS == ("script", "style"),
            "end tag pattern": _hp.endtagfind.pattern
                == r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>",
            "tag name pattern": _hp.tagfind_tolerant.pattern
                == r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*",
            "attribute pattern": _hp.attrfind_tolerant.pattern
                == r"""((?<=[\'"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"""
                   r"""(\'[^\']*\'|"[^"]*"|(?![\'"])[^>\s]*))?(?:\s|/(?!>))*""",
        }
        failed = [name for name, ok in checks.items() if not ok]
    except Exception as e:
        failed = [f"probe raised {e!r}"]
    if failed:
        _log.warning("native HTML segmenter disabled, every document takes the "
                     "stdlib parser; failed probe: %s", ", ".join(failed))
    return not failed


# --------------------------------------------------------------------------
# Native tier: _segscan.c runs html.parser's tokenizing and the _Segmenter
# state machine in C, one call per document (see functions/segscan.py for
# the build). Faithful-or-bail: see the C file's header. It returns the
# kept segments' text chunks as code-point offsets; the Segments are built
# here, and their chunks are unescaped as html.parser unescapes its data.

_NATIVE = _segscan.load() if _html_parser_compatible() else None


def _native_segments(html_str: str) -> list[Segment] | None:
    """The native scanner's segments, None when it declines."""
    try:
        doc = html_str.encode("utf-8")
    except UnicodeEncodeError:          # lone surrogates
        return None
    if len(doc) >= 1 << 31:             # offsets are int32
        return None
    # every chunk ends at a '<' or at the end: one (start, end, tag) each
    out = array("i", bytes(12 * (html_str.count("<") + 1)))
    n = _NATIVE.segscan(doc, len(doc), html_str.isascii(),
                        out.buffer_info()[0], len(out))
    if n < 0:
        return None
    segments = []
    seg_id = -1
    vals = out[:3 * n].tolist()
    for k in range(0, 3 * n, 3):
        part = html_str[vals[k]:vals[k + 1]]
        if "&" in part:
            part = _unescape(part)
        tag = vals[k + 2]
        if tag >> 1 != seg_id:          # the first chunk of a segment
            seg_id = tag >> 1
            cur = Segment([part], len(part) if tag & 1 else 0)
            segments.append(cur)
        else:
            cur.parts.append(part)
            if tag & 1:
                cur.link_chars += len(part)
    return segments


def segment_html(html_str: str) -> list[Segment]:
    """Parse HTML into document-order text segments. Two tiers: the native
    scanner, then the stdlib HTMLParser for every document it declines.
    Only the stdlib one runs when the native one is off (it could not be
    built, or the interpreter's html.parser internals drifted: see
    _html_parser_compatible)."""
    if _NATIVE is not None:
        segments = _native_segments(html_str)
        if segments is not None:
            return segments
    return segment_html_stdlib(html_str)


def line_confidence(text_len: int, link_density: float, repaired: bool) -> float:
    """Deterministic per-line confidence in [0, 1]:
    (1 - link_density) * min(1, 0.5 + len/80), ×0.9 on the repair pass."""
    conf = (1.0 - link_density) * min(1.0, 0.5 + text_len / 80.0)
    if repaired:
        conf *= 0.9
    return max(0.0, min(1.0, conf))


def _segments_to_lines(segments: list[Segment], repaired: bool):
    lines: list[str] = []
    confs: list[float] = []
    for seg in segments:
        text = seg.text()
        if len(text) < MIN_SEGMENT_CHARS:
            continue
        total = sum(len(p) for p in seg.parts)
        density = (seg.link_chars / total) if total else 1.0
        if density > STRICT_LINK_DENSITY:
            continue
        lines.append(text)
        confs.append(line_confidence(len(text), density, repaired))
    return lines, confs


def repair_pass(html_bytes: bytes):
    """Strategy 2 (the ``enhance_image`` analog): tolerant decode + control
    character strip, then the same segmenter."""
    html_str = html_bytes.decode("utf-8", errors="replace")
    html_str = _CTRL.sub("", html_str)
    return _segments_to_lines(segment_html(html_str), repaired=True)


def extract_page(html_bytes) -> dict:
    """Full page→lines stage with the reference's error contract.

    Returns a dict with keys: status, message, lines, confs, strategy.
    ``status='error'`` rows carry a message and empty lines — never raises
    (certificate_ocr.py:100-105,:122-128 contract).
    """
    if html_bytes is None or len(html_bytes) == 0:
        return {"status": "error", "message": "unreadable document",
                "lines": [], "confs": [], "strategy": ""}
    if isinstance(html_bytes, str):
        html_bytes = html_bytes.encode("utf-8")

    # content-type routing: PDF payloads take the PDF/layout leg; raster
    # images take the pluggable OCR slot (the reference's true input type,
    # certificate_ocr.py:98 — clean error row without a backend, never
    # garbage-parsed as markup); the rest is format-agnostic
    if html_bytes[:5] == PDF_MAGIC:
        return extract_pdf_page(html_bytes)
    fmt = sniff_image(html_bytes)
    if fmt is not None:
        return ocr_image_page(html_bytes, fmt)
    try:
        return _html_page(html_bytes)
    except Exception as e:  # the kernel's boundary: an error row, never a raise
        _log.warning("HTML segmenter raised on a document", exc_info=True)
        return {"status": "error", "message": f"HTML segmenter raised {type(e).__name__}",
                "lines": [], "confs": [], "strategy": ""}


def _html_page(html_bytes: bytes) -> dict:
    """:func:`extract_page` for an HTML payload: the strict and repair
    passes and the pick-best."""
    results = []
    strict_str: str | None
    try:
        strict_str = html_bytes.decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        strict_str = None

    if strict_str is not None:
        strict = _segments_to_lines(segment_html(strict_str), repaired=False)
        if strict[0]:
            results.append(("strict", strict))
        # The repair pass differs from strict ONLY via tolerant decode +
        # control-char strip. If the strict-decoded text has no control /
        # replacement chars, repair's input string is IDENTICAL, so its
        # result is identical and the first-wins tie-break would pick
        # strict anyway — skip the second parse (≈2× throughput).
        run_repair = bool(_CTRL.search(strict_str))
    else:
        run_repair = True

    if run_repair:
        repaired = repair_pass(html_bytes)
        if repaired[0]:
            results.append(("repair", repaired))

    if not results:
        return {"status": "error", "message": "no text extracted",
                "lines": [], "confs": [], "strategy": ""}

    # pick-best: most recovered text wins, FIRST result wins ties
    # (max is first-wins, matching certificate_ocr.py:131)
    name, (lines, confs) = max(results, key=lambda r: sum(len(ln) for ln in r[1][0]))
    return {"status": "success", "message": "",
            "lines": lines, "confs": confs, "strategy": name}
