"""Seeded benchmark inputs, cached per (workload, seed, size).

Everything here runs before the timed section. Inputs live under
``perfbench/.cache/<workload>-s<seed>-n<size>/`` and are built into a
temporary directory that is renamed into place once complete, so a killed
run never leaves a half-written cache entry.

* ``fixture_pages``: the engine's own ``sources.fixture_gen`` corpus
  (60% zh certificates, 40% en/fr/de/es distractors, ~5% jumbo pages, ~2%
  truncated or empty pages, every url unique). Its ``text`` column is the
  ground truth the extraction must reproduce byte for byte.
* ``crawl_pages``: an sf0.1-shaped ``documents`` table (doc_id, text, lang,
  source; 30-word vocabulary, 10-100 words per doc) generated from the
  seed, plus seeded duplicates, turned into pages with ``operators.webify``
  and shuffled into a seeded record order. The WARC shards are written
  from these pages with ``sources.warc.write_warc`` once a Spark session
  exists (:func:`ensure_warc`).
"""

from __future__ import annotations

import json
import os
import random
import shutil
from concurrent.futures import ProcessPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

PAGE_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

# sf0.1 documents shape: a 30-word vocabulary, uniform 10-100 words per
# document, 20 sources, this language mix
SF_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
SF_LANGS = ("en", "zh", "es", "fr", "de")
SF_LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
SF_SOURCES = 20
# share of base documents copied once more, per kind of copy
DUP_SHARE = {"exact": 0.05, "rekeyed": 0.05, "near": 0.05}


def _cached(key: str, build) -> str:
    """Directory of cache entry ``key``; ``build(tmp_dir)`` fills it once."""
    path = os.path.join(CACHE_DIR, key)
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)


def read_json(path: str):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


# ---------------------------------------------------------------- fixture
def _fixture_chunk(args) -> list[dict]:
    from ocr_award_extractor_spark.sources.fixture_gen import synth_document

    seed, lo, hi = args
    rows = [synth_document(i, seed) for i in range(lo, hi)]
    for r in rows:
        r.pop("_meta")
    return rows


def _parallel(fn, seed: int, n: int, workers: int) -> list[dict]:
    step = max(1, -(-n // (workers * 4)))
    chunks = [(seed, lo, min(n, lo + step)) for lo in range(0, n, step)]
    with ProcessPoolExecutor(max_workers=workers) as pool:
        return [row for part in pool.map(fn, chunks) for row in part]


def fixture_pages(workload: str, seed: int, n_docs: int, workers: int) -> str:
    """Parquet file of ``n_docs`` fixture_gen pages for ``seed``."""
    def build(tmp):
        rows = _parallel(_fixture_chunk, seed, n_docs, workers)
        pq.write_table(pa.Table.from_pylist(rows, schema=PAGE_SCHEMA),
                       os.path.join(tmp, "pages.parquet"))

    return os.path.join(
        _cached(f"{workload}-s{seed}-n{n_docs}", build), "pages.parquet")


# ------------------------------------------------------------------ crawl
def sf_documents(seed: int, n_docs: int) -> list[dict]:
    """An sf0.1-shaped documents table, deterministic in ``seed``."""
    docs = []
    for doc_id in range(n_docs):
        rng = random.Random(f"sf:{seed}:{doc_id}")
        n_words = rng.randint(10, 100)
        docs.append({
            "doc_id": doc_id,
            "text": " ".join(rng.choice(SF_WORDS) for _ in range(n_words)),
            "lang": rng.choices(SF_LANGS, SF_LANG_WEIGHTS)[0],
            "source": f"src{doc_id % SF_SOURCES}",
        })
    return docs


def _plain_id(doc_id: int) -> bool:
    # webify prepends an award block to docs with doc_id % 10 == 3; copies
    # keep plain ids on both sides so a copy's text equals its original's
    from ocr_award_extractor_spark.operators.webify import INJECT_MOD, INJECT_REM

    return doc_id % INJECT_MOD != INJECT_REM


def crawl_page_rows(seed: int, n_docs: int) -> tuple[list[dict], dict]:
    """Webified pages for ``sf_documents(seed, n_docs)`` plus seeded copies,
    in seeded record order, and a summary of what was copied.

    * ``exact``: the original page bytes under a new url;
    * ``rekeyed``: the original text wrapped again under a new doc_id, so
      the boilerplate differs but the extracted text is identical;
    * ``near``: the original text with one word replaced, under a new doc_id.
    """
    from ocr_award_extractor_spark.operators.webify import wrap_row

    docs = sf_documents(seed, n_docs)
    pages = [wrap_row(d["doc_id"], d["text"], d["lang"], d["source"])
             for d in docs]
    rng = random.Random(f"dups:{seed}")
    plain = [d for d in docs if _plain_id(d["doc_id"])]
    picks = rng.sample(plain, round(sum(DUP_SHARE.values()) * n_docs))
    next_id = n_docs
    kinds = {}
    cut = 0
    for kind, share in DUP_SHARE.items():
        chosen, cut = picks[cut:cut + round(share * n_docs)], cut + round(share * n_docs)
        kinds[kind] = len(chosen)
        for d in chosen:
            while not _plain_id(next_id):
                next_id += 1
            text = d["text"]
            if kind == "near":
                words = text.split(" ")
                words[rng.randrange(len(words))] = "dup"
                text = " ".join(words)
            row = wrap_row(next_id, text, d["lang"], d["source"])
            if kind == "exact":
                row["html"] = pages[d["doc_id"]]["html"]
            pages.append(row)
            next_id += 1
    rng.shuffle(pages)
    return pages, {"base_docs": n_docs, "copies": kinds, "pages": len(pages)}


def crawl_pages(seed: int, n_docs: int) -> str:
    """Cache dir holding ``pages.parquet`` and ``meta.json`` for the crawl
    workload; the WARC shards are added by :func:`ensure_warc`."""
    def build(tmp):
        pages, meta = crawl_page_rows(seed, n_docs)
        pq.write_table(pa.Table.from_pylist(pages, schema=PAGE_SCHEMA),
                       os.path.join(tmp, "pages.parquet"))
        _write_json(os.path.join(tmp, "meta.json"), meta)

    return _cached(f"crawl_warc_to_wet-s{seed}-n{n_docs}", build)


def ensure_warc(spark, cache_dir: str, n_shards: int) -> str:
    """WARC shards of the cached crawl pages (written once per cache entry)."""
    from ocr_award_extractor_spark.sources.warc import write_warc

    path = os.path.join(cache_dir, "warc")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        pages = spark.read.parquet(os.path.join(cache_dir, "pages.parquet"))
        write_warc(pages.coalesce(1).repartition(n_shards), tmp)
        os.rename(tmp, path)
    return path


def pinned_counts(cache_dir: str, counts: dict) -> dict:
    """The stage row counts first seen for this cache entry; the first
    caller pins ``counts``."""
    path = os.path.join(cache_dir, "pinned_counts.json")
    if not os.path.exists(path):
        _write_json(path, counts)
    return read_json(path)
