"""Pluggable batch model-inference slot (reference O10/O20/O21/O19).

The reference optionally routes full_text through an LLM and falls back to
the rule extractor on any failure (certificate_ocr.py:152-156,:169-266).
That path is out of the byte-identity scope (generation is nondeterministic
across hardware), but its ARCHITECTURE is first-class here:

* plan-build-time dispatch (O10): ``use_model`` chooses the stage when the
  plan is assembled — never a per-row runtime branch
  (certificate_ocr.py:152-156);
* batched inference (O20): the model callable receives a LIST of texts per
  Arrow batch — on a cluster this is where a per-executor-cached model
  (broadcast weights / local files) runs one forward pass per batch;
* 3-tier JSON location (O21): fenced ```json block → first brace-to-last-
  brace span → whole reply, then json.loads; ANY failure ⇒ the rule
  fallback, mirroring certificate_ocr.py:239-261;
* schema validate/repair (O19): missing keys defaulted, scalars coerced to
  str, people lists coerced/deduped/stringified/compacted
  (certificate_ocr.py:268-312). DIVERGENCE, documented: the reference
  dedupes via ``list(set(...))`` whose order is hash-seed nondeterministic
  (SURVEY.md §7.4.2); we pin FIRST-OCCURRENCE order so results are stable
  across runs and executors.

The default model is a deterministic fake (template echo) so the plumbing
is fully testable in this container; swap ``infer_fn`` for a real client on
a cluster.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ocr_award_extractor_spark.functions.batching import (
    arrow_stage, column_values, map_rows, records_to_batch,
)
from ocr_award_extractor_spark.functions.extract import extract_fields

_FENCED = re.compile(r"```json\s*(.*?)\s*```", re.DOTALL)   # cert:239
_BRACED = re.compile(r"({.*})", re.DOTALL)                   # cert:244

MODEL_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("competition_name", StringType()),
    StructField("award_level", StringType()),
    StructField("project_name", StringType()),
    StructField("winner", ArrayType(StringType())),
    StructField("teacher", ArrayType(StringType())),
    StructField("path", StringType()),     # 'model' | 'fallback'
])

PROMPT_TEMPLATE = (
    "Extract certificate fields as JSON with keys competition_name, "
    "award_level, project_name, people.winner, people.teacher from:\n{text}"
)


def locate_json(response: str) -> str:
    """3-tier JSON locator, same tier order as the reference (cert:239-248)."""
    fenced = _FENCED.findall(response)
    if fenced:
        return fenced[0]
    braced = _BRACED.findall(response)
    if braced:
        return braced[0]
    return response


def repair_result(result: dict) -> dict:
    """Schema validate/repair (cert:268-312) with pinned dedupe order."""
    fixed: dict = {}
    for key in ("competition_name", "award_level", "project_name"):
        val = result.get(key, "")
        fixed[key] = str(val) if val is not None and not isinstance(val, str) else (val or "")
    people = result.get("people")
    if not isinstance(people, dict):
        people = {}
    for role in ("winner", "teacher"):
        vals = people.get(role, [])
        if not isinstance(vals, list):
            vals = [vals] if vals else []
        seen: set = set()
        out = []
        for item in vals:                      # first-occurrence order (pinned;
            if item and item not in seen:      # the reference's set() order is
                seen.add(item)                 # hash-seed nondeterministic)
                out.append(str(item))
        fixed[role] = out
    return fixed


def parse_model_reply(reply: str, full_text: str) -> tuple[dict, str]:
    """Reply → fields, with the rule fallback on any failure (cert:251-261)."""
    try:
        fields = repair_result(json.loads(locate_json(reply)))
        return fields, "model"
    except Exception:
        fields = extract_fields(full_text.split("\n"))
        return ({k: fields[k] for k in
                 ("competition_name", "award_level", "project_name", "winner", "teacher")},
                "fallback")


def fake_infer(texts: list[str]) -> list[str]:
    """Deterministic stand-in 'model': answers with the rule extraction
    wrapped in a fenced JSON block (so the full parse path runs)."""
    out = []
    for text in texts:
        f = extract_fields(text.split("\n"))
        doc = {"competition_name": f["competition_name"],
               "award_level": f["award_level"],
               "project_name": f["project_name"],
               "people": {"winner": f["winner"], "teacher": f["teacher"]}}
        out.append("```json\n" + json.dumps(doc, ensure_ascii=False) + "\n```")
    return out


def _rec(url, fields, path) -> dict:
    return {"url": url, "competition_name": fields["competition_name"],
            "award_level": fields["award_level"],
            "project_name": fields["project_name"],
            "winner": fields["winner"], "teacher": fields["teacher"],
            "path": path}


def _rule_row(url, text) -> dict:
    return _rec(url, extract_fields((text or "").split("\n")), "rule")


def _model_batch(batches: Iterator[pa.RecordBatch], *, schema: StructType,
                 infer_fn: Callable[[list[str]], list[str]]
                 ) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` kernel of the model stage: one ``infer_fn`` call per
    Arrow batch of (url, ocr_text), each reply parsed with the rule
    fallback."""
    for batch in batches:
        urls, texts = column_values(batch, ("url", "ocr_text"))
        texts = [(t or "") for t in texts]
        replies = infer_fn([PROMPT_TEMPLATE.format(text=t) for t in texts])
        recs = [_rec(url, *parse_model_reply(reply, text))
                for url, text, reply in zip(urls, texts, replies)]
        yield records_to_batch(recs, schema)


def extract_with_model(
    extracted: DataFrame,
    infer_fn: Callable[[list[str]], list[str]] = fake_infer,
    use_model: bool = True,
) -> DataFrame:
    """Attach the model-extraction stage to pipeline output (url, ocr_text).

    ``use_model=False`` is the plan-build-time dispatch to the pure rule
    path (O10) — the DataFrame DAG simply doesn't contain the model stage.
    """
    if not use_model:
        return map_rows(extracted, ("url", "ocr_text"), _rule_row,
                        MODEL_SCHEMA)
    return arrow_stage(extracted.select("url", "ocr_text"), _model_batch,
                       MODEL_SCHEMA, "model_batch", infer_fn=infer_fn)
