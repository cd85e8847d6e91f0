"""Field-extraction kernel: certificate-style award fields from text lines.

Pure Python, zero dependencies, compiled-once module-level patterns (the
reference recompiles per call — certificate_ocr.py:358,:368,:375; we pay the
compile exactly once per Python worker process).

Semantics are pinned, rule by rule, to the reference's deterministic
fallback extractor (reference: certificate_ocr.py:314-407) and must stay
byte-identical to it:

* competition_name  — longest line containing a competition marker; Python
  ``max`` keeps the FIRST maximal element on length ties
  (certificate_ocr.py:336,:341-346).
* award_level       — scan lines in order, and within each line scan the
  award keywords in fixed list order; first hit wins (line-major,
  keyword-minor, double break — certificate_ocr.py:337,:348-355).
* project_name      — first regex capture of a span wrapped in 《…》 or
  "…" over the full newline-joined text; the reference char classes
  ``[《""]``/``[》""]`` contain only 《/》 and the ASCII double quote
  (certificate_ocr.py:357-360).
* winner / teacher  — lines containing a role marker are split on the
  full-width colon ``：`` and ONLY the segment between the first and second
  colon (``parts[1]``) is tokenized on ``[、，,；;]``; tokens are stripped
  and empties dropped; duplicates are KEPT in encounter order (the
  ``list(set(...))`` dedupe at certificate_ocr.py:305-306 lives on the LLM
  path only and is hash-seed nondeterministic — certificate_ocr.py:363-376).
* clean_text        — whitespace collapse + strip, then strip a leading
  关于/获得/授予 verb (only if at least one char follows), then strip one
  layer of wrapping quotes; applied to the three scalar fields only, never
  to the people lists (certificate_ocr.py:378-381,:385-407).

All regexes run under Python ``re`` (NOT Java regex) because byte-identity
is defined against CPython semantics (``\\s`` Unicode classes differ on the
JVM). Relational ``regexp_extract`` spellings exist only as oracle
cross-checks in ``operators/relational.py``.
"""

from __future__ import annotations

import re

# Marker tables — order matters for award_level (first-match priority).
COMPETITION_MARKERS: tuple[str, ...] = ("大赛", "比赛", "竞赛", "挑战赛")
AWARD_LEVELS: tuple[str, ...] = (
    "一等奖", "二等奖", "三等奖", "特等奖", "金奖", "银奖", "铜奖", "优秀奖",
)
WINNER_MARKERS: tuple[str, ...] = ("获奖学生", "负责人", "队员", "获奖者")
TEACHER_MARKERS: tuple[str, ...] = ("指导教师", "导师")

ROLE_COLON = "："  # full-width colon; ASCII ':' is deliberately NOT split on

_QUOTED_SPAN = re.compile(r'[《"](.+?)[》"]')      # cert_ocr.py:358 ([《""] == [《"])
_NAME_SEP = re.compile(r"[、，,；;]")               # cert_ocr.py:368,:375
_WS_RUN = re.compile(r"\s+")                         # cert_ocr.py:399
_LEAD_VERB = re.compile(r"^(?:关于|获得|授予)(.+)$")  # cert_ocr.py:402
_WRAP_QUOTES = re.compile(r"^[\"'《](.+?)[\"'》]$")   # cert_ocr.py:405

def normalize_field(value: str) -> str:
    """Scalar-field cleanup; byte-identical to clean_text (cert_ocr.py:385-407)."""
    if not value:
        return ""
    value = _WS_RUN.sub(" ", value).strip()
    value = _LEAD_VERB.sub(r"\1", value)          # note: no strip after this step
    return _WRAP_QUOTES.sub(r"\1", value).strip()


def _split_role_names(line: str) -> list[str]:
    """Names from one marker line: segment between the 1st and 2nd full-width
    colon, tokenized on the separator class, stripped, empties dropped."""
    segments = line.split(ROLE_COLON)
    if len(segments) < 2 or not segments[1].strip():
        return []
    return [tok.strip() for tok in _NAME_SEP.split(segments[1]) if tok.strip()]


def extract_fields(lines: list[str], full_text: str | None = None) -> dict:
    """Apply every extraction rule to pre-split text lines.

    Returns a flat dict: competition_name, award_level, project_name (all
    cleaned strings) plus winner/teacher name lists in encounter order.
    """
    if full_text is None:
        full_text = "\n".join(lines)

    competition_hits = [ln for ln in lines if any(m in ln for m in COMPETITION_MARKERS)]
    competition = max(competition_hits, key=len) if competition_hits else ""

    award = ""
    for ln in lines:
        for kw in AWARD_LEVELS:
            if kw in ln:
                award = kw
                break
        if award:
            break

    quoted = _QUOTED_SPAN.search(full_text)
    project = quoted.group(1) if quoted else ""

    winners: list[str] = []
    teachers: list[str] = []
    for ln in lines:
        if any(m in ln for m in WINNER_MARKERS):
            winners.extend(_split_role_names(ln))
        if any(m in ln for m in TEACHER_MARKERS):
            teachers.extend(_split_role_names(ln))

    return {
        "competition_name": normalize_field(competition),
        "award_level": normalize_field(award),
        "project_name": normalize_field(project),
        "winner": winners,
        "teacher": teachers,
    }
