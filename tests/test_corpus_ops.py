"""Corpus-shaping operators (operators/corpus.py) and the round-6
registry reshuffle that paid for their driver slots.

host_cap_sample / pack_token_shards get their DuckDB parity from the
driver's CORRECTNESS run; what pytest pins here is what the driver
CANNOT see — that the distributed spellings (salted two-level rank,
range-partitioned prefix-sum) are equivalent to their naive one-window
counterparts and invariant under input partitioning, and that the O12 /
O13 projections merged into doc_token_profile are the SAME functions as
their standalone spellings in tests/oracle_spellings.py (which keep their
own DuckDB parity here)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests import oracle_spellings  # noqa: E402

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --------------------------------------------------------- host_cap_sample
def test_host_cap_semantics(spark):
    """Every doc gets exactly one verdict row; per host exactly
    min(n_host, cap) rows are kept; the synthetic mega-host exists and
    is capped (the whole point of the synthesized skew)."""
    from ocr_award_extractor_spark.operators import corpus
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = corpus.host_cap_sample_df(docs).collect()
    assert len(out) == docs.count()
    assert len({r["doc_id"] for r in out}) == len(out)
    per_host: dict[str, list] = {}
    for r in out:
        per_host.setdefault(r["host"], []).append(r)
    hub = per_host[corpus.HUB_HOST]
    assert len(hub) > corpus.HOST_CAP          # skew actually synthesized
    for host, rows in per_host.items():
        n_host = rows[0]["n_host"]
        assert n_host == len(rows)
        kept = sum(r["kept"] for r in rows)
        assert kept == min(n_host, corpus.HOST_CAP), host


def test_host_cap_two_level_rank_equals_naive_window(spark, monkeypatch):
    """The salted two-level rank must reproduce the naive single-window
    spelling exactly (same total order ⇒ same kept set), and be
    invariant under input partitioning and HOST_SALT — including
    HOST_SALT=1 (degenerate: the two windows collapse into one)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.operators import corpus
    from ocr_award_extractor_spark.operators.textstats import _md5_bucket
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    base = docs.select(
        "doc_id", corpus.synth_host().alias("host"),
        _md5_bucket(F.col("doc_id")).alias("bucket"))
    w = Window.partitionBy("host").orderBy("bucket", "doc_id")
    naive = _rows(
        base.withColumn("rn", F.row_number().over(w))
        .join(base.groupBy("host").agg(F.count(F.lit(1)).alias("n_host")),
              "host")
        .select("doc_id", "host", "n_host",
                (F.col("rn") <= corpus.HOST_CAP).alias("kept")))
    got = _rows(corpus.host_cap_sample_df(docs))
    assert got == naive
    assert _rows(corpus.host_cap_sample_df(docs.repartition(7))) == naive
    for salt in (1, 3):
        monkeypatch.setattr(corpus, "HOST_SALT", salt)
        assert _rows(corpus.host_cap_sample_df(docs)) == naive


def test_host_cap_production_path_matches_verdict_kept_set(spark):
    """verdict=False (kept rows only, no overflow branch — the shape
    where every window is WindowGroupLimit-optimized) must return
    exactly the kept set of the verdict mode."""
    from ocr_award_extractor_spark.operators import corpus
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    verdict = corpus.host_cap_sample_df(docs)
    want = sorted((r["doc_id"], r["host"], r["n_host"])
                  for r in verdict.collect() if r["kept"])
    got = _rows(corpus.host_cap_sample_df(docs, verdict=False))
    assert got == want


def test_host_cap_null_host_docs_are_not_lost(spark):
    """A NULL host (unparsable url in the pipeline path) must coalesce
    into a pseudo-host group, not ride a NULL join key out of the
    output — the count join is null-unsafe, so without the coalesce
    those DOCUMENTS would silently vanish from the capped corpus."""
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.operators import corpus
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    # every 5th doc gets a NULL host; the rest keep their source
    null_host = F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(
        F.col("source"))
    out = corpus.host_cap_sample_df(docs, host=null_host).collect()
    assert len(out) == docs.count()                      # nothing lost
    nulls = [r for r in out if r["host"] == ""]
    assert len(nulls) == docs.where("doc_id % 5 = 0").count()
    assert sum(r["kept"] for r in nulls) == min(len(nulls), corpus.HOST_CAP)


def test_host_cap_validates(spark):
    from ocr_award_extractor_spark.operators import corpus
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="cap"):
        corpus.host_cap_sample_df(docs, cap=0)


# ------------------------------------------------------- pack_token_shards
def test_pack_shards_equals_naive_global_window(spark):
    """The range-partitioned prefix-sum must equal the one-window global
    cumsum bit-for-bit, under any range_bits (0 = the naive spelling
    itself) and any input partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.operators import corpus
    from ocr_award_extractor_spark.operators.textstats import _md5_bucket
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    n_toks = F.size(F.filter(F.split(F.col("text"), " "),
                             lambda x: F.length(x) > 0)).cast("long")
    w = (Window.orderBy("bucket", "doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    naive = _rows(
        docs.select("doc_id", n_toks.alias("n_toks"),
                    _md5_bucket(F.col("doc_id")).alias("bucket"))
        .withColumn("tok_offset",
                    F.coalesce(F.sum("n_toks").over(w), F.lit(0).cast("long")))
        .select("doc_id", "n_toks", "tok_offset",
                F.expr(f"tok_offset div {corpus.PACK_BUDGET}").alias("shard")))
    got = _rows(corpus.pack_token_shards_df(docs))
    assert got == naive
    assert _rows(corpus.pack_token_shards_df(docs.repartition(7))) == naive
    assert _rows(corpus.pack_token_shards_df(docs, range_bits=0)) == naive
    assert _rows(corpus.pack_token_shards_df(docs, range_bits=7)) == naive


def test_pack_shards_stream_properties(spark):
    """The packing invariants a training loader relies on: offsets are
    the exclusive cumsum of n_toks in (bucket, doc_id) order (so
    consecutive offsets differ by exactly the previous doc's tokens),
    shards are contiguous non-decreasing, and every shard except
    possibly the last spans >= budget tokens from its first doc's offset
    to the next shard's first offset."""
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.operators import corpus
    from ocr_award_extractor_spark.operators.textstats import _md5_bucket
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = corpus.pack_token_shards_df(docs)
    order = {
        r["doc_id"]: i for i, r in enumerate(
            docs.select("doc_id", _md5_bucket(F.col("doc_id")).alias("b"))
            .orderBy("b", "doc_id").collect())
    }
    rows = sorted(out.collect(), key=lambda r: order[r["doc_id"]])
    run = 0
    for r in rows:
        assert r["tok_offset"] == run
        assert r["shard"] == run // corpus.PACK_BUDGET
        run += r["n_toks"]
    shards = [r["shard"] for r in rows]
    assert shards == sorted(shards)
    assert shards[0] == 0 and shards[-1] >= 1    # corpus spans shards


def test_pack_shards_validates(spark):
    from ocr_award_extractor_spark.operators import corpus
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="budget"):
        corpus.pack_token_shards_df(docs, budget=0)
    with pytest.raises(ValueError, match="range_bits"):
        corpus.pack_token_shards_df(docs, range_bits=32)


# ------------------------- round-6 registry reshuffle: merged O12/O13 slots
def test_merged_longest_token_equals_retired_slot(spark):
    """doc_token_profile.longest_tok/longest_len (per-row fold) must be
    the SAME function as the retired explode+window slot wherever that
    slot produced a row; docs it skipped (no non-blank tokens) must be
    NULL in the merged columns."""
    from ocr_award_extractor_spark.operators import relational

    prof = {r["doc_id"]: (r["longest_tok"], r["longest_len"])
            for r in relational.doc_token_profile(spark, SF).collect()}
    old = {r["doc_id"]: (r["tok"], r["tok_len"])
           for r in oracle_spellings.longest_token_per_doc(spark, SF).collect()}
    assert set(old) <= set(prof)
    for did, pair in prof.items():
        assert pair == old.get(did, (None, None)), did


def test_merged_first_kw_equals_retired_slot(spark):
    from ocr_award_extractor_spark.operators import relational

    prof = {r["doc_id"]: r["first_kw"]
            for r in relational.doc_token_profile(spark, SF).collect()}
    old = {r["doc_id"]: r["first_kw"]
           for r in oracle_spellings.first_keyword_hit(spark, SF).collect()}
    assert prof == old


def test_retired_slots_duckdb_parity(spark):
    """The standalone O12/O13 spellings match their DuckDB spellings."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    got = _rows(oracle_spellings.longest_token_per_doc(spark, SF))
    want = sorted(map(tuple,
                      con.execute(oracle_spellings.LONGEST_TOKEN_ORACLE_SQL)
                      .fetchall()))
    assert got == want and len(got) > 0
    got = _rows(oracle_spellings.first_keyword_hit(spark, SF))
    want = sorted(map(tuple,
                      con.execute(oracle_spellings.FIRST_KEYWORD_ORACLE_SQL)
                      .fetchall()))
    assert got == want and len(got) > 0


# ------------------------------------------------------ url canonicalization
URL_CASES = [
    ("HTTP://Site.Example:80/A/b?utm_source=x&b=1&a=2#frag",
     "http://site.example/A/b?a=2&b=1"),
    ("https://site.example:443/", "https://site.example/"),
    ("https://site.example:8443/x", "https://site.example:8443/x"),
    ("http://site.example", "http://site.example/"),
    ("http://site.example?", "http://site.example/"),
    ("http://site.example/x?fbclid=abc", "http://site.example/x"),
    ("http://site.example/x?b=2&a=1&utm_medium=m&gclid=g",
     "http://site.example/x?a=1&b=2"),
    ("http://site.example/CaseKeptPath", "http://site.example/CaseKeptPath"),
    ("mailto:someone@example.com", "mailto:someone@example.com"),
    ("no-scheme/path?a=1#f", "no-scheme/path?a=1"),
    ("", ""),
    (None, None),
]


def test_canonicalize_url_cases(spark):
    from tests.oracle_spellings import canonicalize_url_df

    df = spark.createDataFrame(
        [(u,) for u, _ in URL_CASES], "url string")
    got = {r["url"]: r["canon_url"]
           for r in canonicalize_url_df(df).collect()}
    for u, want in URL_CASES:
        assert got[u] == want, (u, got[u], want)


def test_canonicalize_url_duckdb_parity(spark):
    """Not in the driver registry (50 seats taken) — the DuckDB parity
    lives here, over the crafted cases AND every driver url shape the
    webify generator emits at sf0.001."""
    import duckdb

    from ocr_award_extractor_spark.operators.webify import webify_documents
    from ocr_award_extractor_spark.sources.tables import load_table
    from tests.oracle_spellings import (
        CANONICALIZE_URL_ORACLE_SQL, canonicalize_url_df,
    )

    pages = webify_documents(load_table(spark, SF, "documents"))
    urls = ([r["url"] for r in pages.select("url").collect()]
            + [u for u, _ in URL_CASES])
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = sorted((r["url"], r["canon_url"])
                 for r in canonicalize_url_df(df).collect()
                 if r["url"] is not None)
    con = duckdb.connect()
    con.execute("CREATE TABLE urls (url VARCHAR)")
    con.executemany("INSERT INTO urls VALUES (?)",
                    [(u,) for u in urls if u is not None])
    want = sorted(map(tuple,
                      con.execute(CANONICALIZE_URL_ORACLE_SQL)
                      .fetchall()))
    assert got == want and len(got) > 500


def test_canonicalize_url_is_idempotent_and_collides_trackers(spark):
    from pyspark.sql import functions as F

    from tests.oracle_spellings import canonicalize_url_df

    variants = [
        "http://Site.example/doc?utm_source=a&x=1",
        "HTTP://site.example:80/doc?x=1#top",
        "http://site.example/doc?x=1",
    ]
    df = canonicalize_url_df(
        spark.createDataFrame([(u,) for u in variants], "url string"))
    canon = [r["canon_url"] for r in df.collect()]
    assert len(set(canon)) == 1          # all variants collide
    # idempotent: canonicalizing the canonical form is a no-op
    df2 = canonicalize_url_df(
        df.select(F.col("canon_url").alias("url")))
    assert all(r["canon_url"] == r["url"] for r in df2.collect())


def test_pack_shards_precomputed_n_toks_matches(spark):
    """n_toks_col (the staged-slim fast path — skips the in-plan
    tokenize) must produce the identical manifest."""
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.operators import corpus
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    want = _rows(corpus.pack_token_shards_df(docs))
    n_toks = F.size(F.filter(F.split(F.col("text"), " "),
                             lambda x: F.length(x) > 0)).cast("long")
    slim = docs.select("doc_id", n_toks.alias("n_toks"))
    got = _rows(corpus.pack_token_shards_df(slim, n_toks_col="n_toks"))
    assert got == want
