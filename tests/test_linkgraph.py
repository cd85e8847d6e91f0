"""Link-graph operators (operators/linkgraph.py): outlink extraction
from raw html and the crawl frontier.

page_outlinks gets its DuckDB parity from the driver's CORRECTNESS run
(the injected links are closed-form from doc_id); pytest pins what the
driver cannot see — that the regexp extraction really reads the html
bytes (not the closed form), that the injected block never leaks into
extracted main text, that malformed UTF-8 degrades to U+FFFD instead of
an ANSI decode error, and that the frontier drops seen urls and caps
hosts deterministically."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def _pages(spark, n=60):
    from ocr_award_extractor_spark.operators.webify import webify_documents
    from ocr_award_extractor_spark.sources.tables import load_table

    return webify_documents(load_table(spark, SF, "documents").limit(n))


# ----------------------------------------------------------- page_outlinks
def test_page_outlinks_matches_closed_form(spark):
    from ocr_award_extractor_spark.operators.linkgraph import page_outlinks_df
    from ocr_award_extractor_spark.operators.webify import outlink_urls

    got = {r["url"]: r for r in page_outlinks_df(_pages(spark)).collect()}
    assert len(got) == 60
    n_with_links = 0
    for url, r in got.items():
        doc_id = int(url.split("doc")[-1].split(".")[0])
        want = outlink_urls(doc_id)
        assert r["n_links"] == len(want)
        assert r["out_urls"] == "|".join(want)
        assert r["out_hosts"] == "|".join(
            u.split("/")[2] for u in want)
        n_with_links += bool(want)
    assert n_with_links > 0                      # the injection actually fires


def test_outlinks_extracted_from_html_not_formula(spark):
    """Mutate one page's html (drop the extlinks block) — extraction must
    see the mutation, proving it reads bytes, not doc_id."""
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.operators.linkgraph import page_outlinks_df

    pages = _pages(spark).withColumn(
        "html",
        F.encode(
            F.regexp_replace(
                F.col("html").cast("string"),
                '<div class="extlinks">.*?</div>', ""),
            "utf-8"),
    )
    out = page_outlinks_df(pages).collect()
    assert all(r["n_links"] == 0 for r in out)


def test_outlink_block_never_in_extracted_text(spark):
    """The injected link block is boilerplate: the extraction pipeline
    must strip it, leaving extracted text byte-identical to the page's
    ground-truth text column (the invariance that keeps every pre-round-6
    oracle green after the injection)."""
    from ocr_award_extractor_spark.operators.extract_pipeline import extract_documents

    pages = _pages(spark).cache()
    out = extract_documents(pages).select("url", "status", "ocr_text").collect()
    truth = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    good = [r for r in out if r["status"] == "success"]
    assert len(good) == len(out)                 # clean synthetic corpus
    assert all(r["ocr_text"] == truth[r["url"]] for r in good)
    assert not any("extlinks" in (r["ocr_text"] or "") for r in out)
    pages.unpersist()


def test_outlinks_lenient_on_malformed_utf8(spark):
    """cast(binary as string) degrades a truncated multibyte sequence to
    U+FFFD; F.decode would raise MALFORMED_CHARACTER_CODING under ANSI
    (probed in round 6 — this pins the lenient spelling)."""
    from ocr_award_extractor_spark.operators.linkgraph import page_outlinks_df

    bad = '<a href="https://x.example/a">é'.encode("utf-8")[:-1]
    df = spark.createDataFrame([("u1", bad)], "url string, html binary")
    row = page_outlinks_df(df).collect()[0]
    assert row["n_links"] == 1 and row["out_hosts"] == "x.example"


def test_page_outlinks_plan_is_single_projection(spark):
    """Over a materialized pages table: one scan, no exchange, no Python
    worker — the 100-TB shape (webify itself is the test-only page
    synthesizer, so the plan is probed over a direct pages input)."""
    import contextlib
    import io

    from ocr_award_extractor_spark.operators.linkgraph import page_outlinks_df

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        page_outlinks_df(_edge_fixture(spark)).explain(mode="formatted")
    head = buf.getvalue().split("\n\n")[0]       # tree only (details repeat names)
    assert "Exchange" not in head
    assert "Python" not in head and "MapInPandas" not in head


# ----------------------------------------------------------- edge fixture
def _edge_fixture(spark):
    rows = [
        ("a.example", '<a href="https://b.example/1">x</a>'
                      '<a href="https://b.example/2">y</a>'
                      '<a href="https://c.example/1">z</a>'
                      '<a href="/rel">rel</a>'),
        ("b.example", '<a href="https://a.example/1">x</a>'
                      '<a href="https://b.example/self">s</a>'),
        ("c.example", "no links at all"),
    ]
    return spark.createDataFrame(
        [(f"https://{h}/page", html.encode()) for h, html in rows],
        "url string, html binary")


# ------------------------------------------ retired similarity spellings
def test_retired_cosine_slots_duckdb_parity(spark):
    """cosine_to_query / ann_topk_cosine keep the DuckDB parity they used
    to get from the driver (jaccard precedent), and the merged
    cosine_topk_profile agrees with both."""
    import duckdb

    from ocr_award_extractor_spark.operators import similarity

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for name in ("cosine_to_query", "ann_topk_cosine"):
        got = rows(getattr(similarity, name)(spark, SF))
        want = sorted(map(tuple,
                          con.execute(similarity.RETIRED_ORACLES[name])
                          .fetchall()))
        assert got == want and len(got) > 0

    prof = similarity.cosine_topk_profile(spark, SF)
    all_cos = {r["vec_id"]: r["cos_sim"] for r in prof.collect()}
    old_cos = {r["vec_id"]: r["cos_sim"]
               for r in similarity.cosine_to_query(spark, SF).collect()}
    assert all_cos == old_cos
    topk = [r["vec_id"] for r in prof.where("topk_rank IS NOT NULL")
            .orderBy("topk_rank").collect()]
    old_topk = [r["vec_id"]
                for r in similarity.ann_topk_cosine(spark, SF).collect()]
    assert topk == old_topk


# ---------------------------------------------------------- crawl frontier
def test_crawl_frontier_excludes_seen_and_caps(spark):
    from ocr_award_extractor_spark.operators.linkgraph import crawl_frontier_df

    rows = [
        # a links to 3 fresh urls on h1 + 1 already-crawled (tracking params
        # must not defeat the seen-set anti-join) + a duplicate target
        ("https://a.example/p1",
         '<a href="https://h1.example/x1">1</a>'
         '<a href="https://h1.example/x2">2</a>'
         '<a href="https://h1.example/x3">3</a>'
         '<a href="https://b.example/p2?utm_source=feed">seen</a>'
         '<a href="https://h1.example/x1#frag">dup</a>'),
        ("https://b.example/p2", '<a href="https://h2.example/y">y</a>'),
    ]
    pages = spark.createDataFrame(
        [(u, h.encode()) for u, h in rows], "url string, html binary")

    got = {r["canon_url"]: r["host"]
           for r in crawl_frontier_df(pages).collect()}
    assert got == {"https://h1.example/x1": "h1.example",
                   "https://h1.example/x2": "h1.example",
                   "https://h1.example/x3": "h1.example",
                   "https://h2.example/y": "h2.example"}

    capped = crawl_frontier_df(pages, per_host_limit=2).collect()
    by_host = {}
    for r in capped:
        by_host.setdefault(r["host"], []).append(r["canon_url"])
    assert len(by_host["h1.example"]) == 2      # capped
    assert len(by_host["h2.example"]) == 1
    # deterministic under repartitioning (xxhash64 order, not task order)
    again = crawl_frontier_df(pages.repartition(7), per_host_limit=2).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, again))


def test_crawl_frontier_external_seen_set(spark):
    from ocr_award_extractor_spark.operators.linkgraph import crawl_frontier_df

    pages = spark.createDataFrame(
        [("https://a.example/p",
          b'<a href="https://h1.example/x">1</a>'
          b'<a href="https://h2.example/y">2</a>')],
        "url string, html binary")
    seen = spark.createDataFrame(
        [("HTTPS://h1.example/x#old",)], "crawled string")
    got = [r["canon_url"] for r in crawl_frontier_df(pages, seen=seen).collect()]
    assert got == ["https://h2.example/y"]


def test_host_graph_and_frontier_plan_shapes(spark):
    """Frontier with a cap: exactly THREE exchanges (two anti-join sides +
    the per-host window) — the distinct piggybacks the join's canon_url
    partitioning instead of adding a fourth — and the cap runs as a
    map-side WindowGroupLimit before the final one."""
    import contextlib
    import io

    from ocr_award_extractor_spark.operators.linkgraph import crawl_frontier_df

    def head(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue().split("\n\n")[0]

    fr = head(crawl_frontier_df(_edge_fixture(spark), per_host_limit=2))
    assert fr.count("Exchange") == 3
    assert fr.count("WindowGroupLimit") == 2     # map-side partial + final


def test_outlink_regex_parity_randomized(spark):
    """2,000 seeded adversarial pages (quotes, relative links, nested
    tags, CJK filler, unterminated hrefs, scheme look-alikes) — the JVM
    regexp_extract_all must agree with a Python re reference on every
    page, in one Spark job."""
    import random
    import re

    from ocr_award_extractor_spark.operators.linkgraph import (
        ABS_HREF_RE, page_outlinks_df,
    )

    rng = random.Random(63)
    frag = ["<p>正文 text here</p>", '<a href="/rel1">r</a>', "плохой текст",
            'href="ftp://no.example/x"', "<div>href=</div>", 'href="',
            '<a href="HTTPS://Caps.example/x">c</a>',   # regex is case-exact
            "<span>https://bare.example/notahref</span>"]
    rows, want = [], []
    for i in range(2000):
        n = rng.randint(0, 4)
        links = [f"http{'s' if rng.random() < 0.7 else ''}://h{rng.randint(0,99)}"
                 f".example/p{rng.randint(0,9999)}" for _ in range(n)]
        parts = [rng.choice(frag) for _ in range(rng.randint(0, 6))]
        for u in links:
            parts.insert(rng.randint(0, len(parts)), f'<a href="{u}">x</a>')
        html = "<body>" + "".join(parts) + "</body>"
        rows.append((f"u{i}", html.encode("utf-8")))
        want.append("|".join(re.findall(ABS_HREF_RE, html)))
    got = (page_outlinks_df(spark.createDataFrame(rows, "url string, html binary"))
           .orderBy("url").collect())
    got_map = {r["url"]: r["out_urls"] for r in got}
    mismatches = [i for i in range(2000) if got_map[f"u{i}"] != want[i]]
    assert mismatches == []
