"""Outlink extraction and the crawl frontier — the crawl-native
corpus ops a webtext pipeline feeds back into its frontier and quality
scoring. The reference has no analog (its corpus is a flat image
directory, certificate_ocr.py:419-420); these extend the corpus-shaping
family (operators/corpus.py) to the link structure of the pages.

Design for 100 TB:

* outlink extraction is a pure JVM projection — ``cast(html as string)``
  (lenient: truncated multibyte sequences become U+FFFD instead of an
  ANSI MALFORMED_CHARACTER_CODING error, probed in
  tests/test_linkgraph.py) + ``regexp_extract_all`` + higher-order
  ``transform`` for hosts; no Python worker, no shuffle, filters and
  column pruning reach the scan;
* the crawl frontier is one anti-join against the seen set on the
  canonical url, a distinct that rides the join's partitioning, and an
  optional per-host cap planned as a map-side top-K.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# absolute links only: the synthetic link farms are root-relative
# (href="/123") and a crawl's frontier is built from absolute links;
# root-relative links never leave the page's own host
ABS_HREF_RE = r'href="(https?://[^"]+)"'
_HOST_RE = r"^https?://([^/:?#]+)"


def _page_links():
    """array<string> of absolute hrefs in document order."""
    return F.regexp_extract_all(
        F.col("html").cast("string"), F.lit(ABS_HREF_RE), F.lit(1)
    )


def host_of(url) -> F.Column:
    """Lowercased host of an absolute URL — the regexp spelling (not
    parse_url) so the DuckDB oracles can mirror it verbatim."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def page_outlinks_df(pages: DataFrame) -> DataFrame:
    """Per-page outlink profile over (url, html [, ...]) pages:
    ``n_links``, the ordered '|'-joined absolute target urls, and their
    hosts. One projection, zero exchanges."""
    links = _page_links()
    return pages.select(
        "url",
        F.size(links).cast("int").alias("n_links"),
        F.array_join(links, "|").alias("out_urls"),
        F.array_join(F.transform(links, host_of), "|").alias("out_hosts"),
    )


def page_outlinks(spark, sf_dir: str) -> DataFrame:
    """Driver-graded slot (seat freed by merging cosine_to_query +
    ann_topk_cosine into cosine_topk_profile): outlink profile of every
    webified page. The absolute links are injected closed-form from
    doc_id (operators/webify.py OUTLINK block), so the oracle predicts
    the EXACT extraction output — count, target urls in document order,
    and their hosts — while the Spark side does the real work (regexp
    over the raw html bytes + host parse), not the closed form."""
    from ocr_award_extractor_spark.operators.webify import webify_documents
    from ocr_award_extractor_spark.sources.tables import load_table

    return page_outlinks_df(webify_documents(load_table(spark, sf_dir, "documents")))


def _page_outlinks_oracle() -> str:
    from ocr_award_extractor_spark.operators.webify import outlink_oracle_sql

    frag = outlink_oracle_sql()
    return f"""
        SELECT 'https://' || source || '.example/' || lang || '/doc'
                 || lpad(CAST(doc_id AS VARCHAR), 8, '0') || '.html' AS url,
               {frag["n_links"]} AS n_links,
               {frag["out_urls"]} AS out_urls,
               {frag["out_hosts"]} AS out_hosts
        FROM documents
    """


QUERIES = {"page_outlinks": page_outlinks}
ORACLES = {"page_outlinks": _page_outlinks_oracle()}


def crawl_frontier_df(pages: DataFrame, per_host_limit: int | None = None,
                      seen: DataFrame | None = None) -> DataFrame:
    """Next-crawl frontier from this crawl's outlinks: every absolute
    link target that is NOT already crawled, canonicalized, deduplicated,
    and (optionally) politeness-capped per host. Pure composition of
    shipped operators, each already scale-proven on its own:

    * targets   — `page_outlinks` spelling (JVM projection + explode);
    * seen set  — the crawl's own (canonicalized) urls by default, or a
      caller-supplied frame (e.g. the lineage-committed url column of
      every prior crawl) — removed with a null-safe anti-join on the
      canonical key, the same resume idiom as plans/lineage.py;
    * dedup     — one distinct on the canonical url (first host kept —
      targets of the same canon url share it by construction);
    * cap       — `host_cap_sample_df`'s salted two-level rank idea,
      spelled directly on (host, canon_url) since frontier rows are
      naturally unordered: rank within host over the url's xxhash64 (a
      deterministic shuffle-immune order), keep ``rn <= limit`` — Spark 4
      plans it as a map-side WindowGroupLimit top-K, no mega-host funnel.

    Returns (canon_url, host) — the fetch list a scheduler shards by
    host."""
    from pyspark.sql import Window

    from ocr_award_extractor_spark.operators.corpus import canonicalize_url_expr

    targets = (
        pages.select(F.explode(_page_links()).alias("out_url"))
        .select(canonicalize_url_expr(F.col("out_url")).alias("canon_url"))
    )
    if seen is None:
        seen = pages.select(F.col("url").alias("seen_url"))
    else:
        seen = seen.select(F.col(seen.columns[0]).alias("seen_url"))
    seen = seen.select(canonicalize_url_expr(F.col("seen_url")).alias("canon_url"))
    frontier = (
        targets.join(seen, "canon_url", "left_anti")
        .distinct()
        .withColumn("host", host_of(F.col("canon_url")))
    )
    if per_host_limit is not None:
        rn = F.row_number().over(
            Window.partitionBy("host").orderBy(F.xxhash64("canon_url")))
        frontier = (frontier.withColumn("_rn", rn)
                    .where(F.col("_rn") <= per_host_limit).drop("_rn"))
    return frontier.select("canon_url", "host")

