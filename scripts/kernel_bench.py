"""In-process speed of the extraction kernel on each segmenter tier.

    python3 scripts/kernel_bench.py [--docs 2000] [--seed 1] [--repeats 7]

Times ``extract_record`` over two seeded corpora, with no Spark:

* ``fixture``: ``sources.fixture_gen`` pages (the ``extract_mixed`` input
  of perfbench for the same seed and size);
* ``webify``: ``operators.webify.wrap_row`` pages over seeded plain-text
  documents (the crawl pages' shell).

Each corpus runs ``--repeats`` times on the native tier and as many on the
stdlib tier (the native scanner switched off through
``htmltext._NATIVE``, so every page takes the stdlib ``html.parser``),
interleaved. For each it prints docs/s/core of the fastest repeat, the
spread ``(slowest - fastest) / fastest``, and the share of pages the
native scanner declined (its bail rate); a declined page takes the stdlib
parser inside the native tier's timing too.
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_award_extractor_spark.functions import htmltext  # noqa: E402
from ocr_award_extractor_spark.operators.extract_pipeline import (  # noqa: E402
    extract_record,
)

WORDS = ("spark window merge table column vector stream value data join "
         "filter group hash sort order line part row key query scan batch "
         "获奖 学生 一等奖 données größe").split()


def fixture_corpus(seed: int, n: int) -> list[dict]:
    from ocr_award_extractor_spark.sources.fixture_gen import synth_document

    return [synth_document(i, seed) for i in range(n)]


def webify_corpus(seed: int, n: int) -> list[dict]:
    from ocr_award_extractor_spark.operators.webify import wrap_row

    rows = []
    for doc_id in range(n):
        rng = random.Random(f"kernel:{seed}:{doc_id}")
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 100)))
        rows.append(wrap_row(doc_id, text, "en", f"src{doc_id % 20}"))
    return rows


def time_kernel(rows: list[dict]) -> float:
    t0 = time.perf_counter()
    for r in rows:
        extract_record(r["url"], r["warc_ts"], r["lang"], r["html"])
    return time.perf_counter() - t0


def bail_rate(rows: list[dict]) -> float:
    """Share of pages the native scanner declines, on the string each page
    first reaches the segmenter with (its strict or tolerant decode)."""
    bails = 0
    for r in rows:
        html = r["html"] or b""
        try:
            text = html.decode("utf-8")
        except UnicodeDecodeError:
            text = html.decode("utf-8", errors="replace")
        bails += htmltext._native_segments(text) is None
    return bails / len(rows)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--docs", type=int, default=2000)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--repeats", type=int, default=7)
    args = p.parse_args(argv)
    native = htmltext._NATIVE
    if native is None:
        print("native tier unavailable (see the WARNING above)", file=sys.stderr)
        return 1

    print(f"extract_record, {args.docs} docs per corpus, seed {args.seed}, "
          f"{args.repeats} repeats per tier, one core")
    for name, build in (("fixture", fixture_corpus), ("webify", webify_corpus)):
        rows = build(args.seed, args.docs)
        times = {"native": [], "stdlib": []}
        for _ in range(args.repeats):
            for tier in times:
                htmltext._NATIVE = native if tier == "native" else None
                times[tier].append(time_kernel(rows))
        htmltext._NATIVE = native
        best = {}
        for tier, ts in times.items():
            best[tier] = args.docs / min(ts)
            print(f"  {name:<8} {tier:<7} {best[tier]:>8.0f} docs/s/core  "
                  f"spread {(max(ts) - min(ts)) / min(ts):6.1%}")
        print(f"  {name:<8} native/stdlib {best['native'] / best['stdlib']:.2f}x  "
              f"native bail rate {bail_rate(rows):.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
