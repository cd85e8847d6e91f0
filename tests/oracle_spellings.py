"""Alternative spellings of product operators, kept ONLY as test oracles.

Each function here is an independent spelling of something the package
computes another way (or of a projection it merged into a wider query);
the tests compare the live operator against it, and the DuckDB SQL beside
it pins the spelling itself. Nothing in the package imports this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_award_extractor_spark.operators import dedup, relational, similarity
from ocr_award_extractor_spark.operators.corpus import (
    TRACKING_PARAM_RE, canonicalize_url_expr,
)
from ocr_award_extractor_spark.operators.similarity import _cosine
from ocr_award_extractor_spark.operators.textstats import _gopher_precompute
from ocr_award_extractor_spark.sources.tables import load_table


# ---------------------------------------------- MinHash-LSH pairs, self-join
def minhash_lsh_pairs_join(docs: DataFrame) -> DataFrame:
    """Classic band self-equi-join spelling of dedup.minhash_lsh_pairs_df:
    docs agreeing on all MH_R rows of any band, distinct (doc_a < doc_b).
    No mega-bucket guard — oracle inputs are small."""
    sig = dedup.minhash_signature_df(docs)
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[F.col(f"s{b * dedup.MH_R + r}")
                               for r in range(dedup.MH_R)]).alias("key"),
        )
        for b in range(dedup.MH_B)
    ])
    keyed = sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# --------------------------------- embedding LSH near-dup pairs, all-JVM
def lsh_neardup_pairs_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-JVM spelling of similarity.lsh_neardup_pairs: the distinct
    banded candidates, two hash joins fetching the quantized vectors (with
    per-vector norms), then the exact-int64 HOF cosine per pair.
    try_divide makes a zero-norm cosine NULL, which the threshold drops —
    the kernel's NaN exclusion."""
    cand = similarity.lsh_candidate_pairs(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity._quant(F.col("embedding")).alias("qe"))
    ea = emb.select(F.col("vec_id").alias("va"), F.col("qe").alias("ea"),
                    similarity._norm2(F.col("qe")).alias("n2a"))
    eb = emb.select(F.col("vec_id").alias("vb"), F.col("qe").alias("eb"),
                    similarity._norm2(F.col("qe")).alias("n2b"))
    cos = F.try_divide(
        similarity._dot(F.col("ea"), F.col("eb")).cast("double"),
        F.sqrt(F.col("n2a").cast("double") * F.col("n2b").cast("double")))
    return (
        cand.join(ea, "va").join(eb, "vb")
        .select("va", "vb", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= similarity.NEARDUP_THRESHOLD)
    )


# ------------------------------- O12 argmax by length: explode + window
def longest_token_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest token per doc with the (len desc, token asc) tie-break —
    the window spelling of doc_token_profile's longest_tok/longest_len
    fold. Docs without a non-blank token produce no row."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    w = Window.partitionBy("doc_id").orderBy(
        F.length("tok").desc(), F.col("tok").asc()
    )
    return (
        toks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "tok", F.length("tok").cast("long").alias("tok_len"))
    )


LONGEST_TOKEN_ORACLE_SQL = """
    SELECT doc_id, tok, len(tok) AS tok_len FROM (
        SELECT doc_id, tok,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY len(tok) DESC, tok ASC) AS rn
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE len(tok) > 0
    ) WHERE rn = 1
"""


# --------------------------------------- O13 first-match keyword lookup
def first_keyword_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone spelling of doc_token_profile's first_kw column: the
    first keyword of KEYWORD_PRIORITY contained in the text, else ''."""
    docs = load_table(spark, sf_dir, "documents")
    expr = F.lit("")
    for kw in reversed(relational.KEYWORD_PRIORITY):
        expr = F.when(F.col("text").contains(kw), kw).otherwise(expr)
    return docs.select("doc_id", expr.alias("first_kw"))


_KW = relational.KEYWORD_PRIORITY
FIRST_KEYWORD_ORACLE_SQL = f"""
    SELECT doc_id,
           CASE WHEN contains(text, '{_KW[0]}') THEN '{_KW[0]}'
                WHEN contains(text, '{_KW[1]}') THEN '{_KW[1]}'
                WHEN contains(text, '{_KW[2]}') THEN '{_KW[2]}'
                WHEN contains(text, '{_KW[3]}') THEN '{_KW[3]}'
                WHEN contains(text, '{_KW[4]}') THEN '{_KW[4]}'
                ELSE '' END AS first_kw
    FROM documents
"""


# ------------------------------------------- adjacent-doc token Jaccard
def jaccard_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard for adjacent doc_id pairs (doc_a, doc_a + 1):
    exact int counts, the ratio one IEEE division on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    ).where(F.length("tok") > 0)
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.doc_id") + 1 == F.col("b.doc_id"))
               & (F.col("a.tok") == F.col("b.tok")))
        .groupBy(F.col("a.doc_id").alias("doc_a"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    pairs = sa.join(sb, F.col("sa.doc_id") + 1 == F.col("sb.doc_id")).select(
        F.col("sa.doc_id").alias("doc_a"),
        F.col("sa.n").alias("n_a"), F.col("sb.n").alias("n_b"),
    )
    out = pairs.join(inter, "doc_a", "left").na.fill({"n_inter": 0})
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return out.select(
        "doc_a", "n_a", "n_b", F.col("n_inter").cast("long").alias("n_inter"),
        (F.col("n_inter").cast("double") / union.cast("double")).alias("jaccard"),
    )


# ------------------------------------------------ IVF coarse assignment
def ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's nearest seed centroid — the assignment subtree that
    runs inside similarity.ivf_topk_cosine, exposed on its own."""
    emb, cent = similarity._emb_and_centroids(spark, sf_dir)
    return similarity._assign_to_centroids(emb, cent)


IVF_ASSIGN_ORACLE_SQL = similarity._IVF_ASSIGN_CTE + """
    SELECT vec_id, label, CAST(cid AS BIGINT) AS centroid FROM a1
"""


# ------------------------------------- url canonicalization, DuckDB twin
def canonicalize_url_df(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds ``canon_url`` next to ``url_col`` — the projection callers
    feed to url-level dedup / host caps. Not in the driver registry (50
    seats, all taken); DuckDB parity + property tests live in
    tests/test_corpus_ops.py, per the jaccard precedent."""
    return df.withColumn("canon_url", canonicalize_url_expr(F.col(url_col)))


CANONICALIZE_URL_ORACLE_SQL = rf"""
    WITH s AS (
        SELECT url, regexp_replace(url, '#.*$', '') AS u FROM urls
    ), p AS (
        SELECT url, u,
               lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1))
                   AS scheme,
               regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://', '')
                   AS after_scheme,
               regexp_matches(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
                   AS has_scheme
        FROM s
    ), a AS (
        SELECT url, u, scheme, has_scheme,
               lower(regexp_extract(after_scheme, '^([^/?]*)', 1)) AS auth0,
               regexp_replace(after_scheme, '^[^/?]*', '') AS path_q
        FROM p
    ), b AS (
        SELECT url, u, scheme, has_scheme, path_q,
               CASE WHEN scheme = 'http' AND auth0 LIKE '%:80'
                    THEN regexp_replace(auth0, ':80$', '')
                    WHEN scheme = 'https' AND auth0 LIKE '%:443'
                    THEN regexp_replace(auth0, ':443$', '')
                    ELSE auth0 END AS authority,
               CASE WHEN regexp_extract(path_q, '^([^?]*)', 1) = ''
                    THEN '/' ELSE regexp_extract(path_q, '^([^?]*)', 1)
               END AS path,
               -- two DuckDB NULL traps vs Spark's '' semantics:
               -- regexp_extract is NULL on no-match, and sorting/joining
               -- a fully-filtered (empty) list is NULL — either would
               -- poison the final concat for every query-less url
               coalesce(array_to_string(list_sort(list_filter(
                   string_split(coalesce(
                       regexp_extract(path_q, '\?(.*)$', 1), ''), '&'),
                   x -> len(x) > 0
                        AND NOT regexp_matches(x, '{TRACKING_PARAM_RE}')
                        AND NOT regexp_matches(lower(x), '^utm_[a-z]+$')
               )), '&'), '') AS clean_q
        FROM a
    )
    SELECT url,
           CASE WHEN url IS NULL THEN NULL
                WHEN has_scheme THEN
                    scheme || '://' || authority || path ||
                    CASE WHEN clean_q = '' THEN ''
                         ELSE '?' || clean_q END
                ELSE u END AS canon_url
    FROM b
"""


# ------------------------------- hash-bucket classifier, learned weights
def clf_score_join_df(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """The real-model path: score docs against a learned (token, weight
    BIGINT) table — explode tokens, broadcast the weight table (model
    vocabularies are MBs against a 100-TB corpus), one partial-agg
    shuffle on doc_id. Unseen tokens weigh 0 (left join + coalesce).
    Returns (doc_id, clf_wsum, clf_keep) with the SAME contract as the
    in-row spelling; equivalence on a fully-enumerated vocabulary is
    pytest-pinned (tests/test_trainingdata_ops.py)."""
    toks, _ = _gopher_precompute(F.col("text"))
    exploded = (docs.select("doc_id", toks.alias("_toks"))
                .select("doc_id", F.size("_toks").alias("_n"),
                        F.explode_outer("_toks").alias("token")))
    scored = (
        exploded.join(F.broadcast(weights), "token", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("weight"), F.lit(0))).alias("clf_wsum"),
             F.max("_n").alias("_n"))
    )
    # NULL-text contract parity with clf_score_cols: a NULL token array
    # gives _n NULL (size(NULL) is NULL) and must yield clf_wsum NULL —
    # the grouped sum of the explode_outer placeholder row would
    # otherwise report 0 where the in-row spelling reports NULL
    wsum = F.when(F.col("_n").isNotNull(),
                  F.col("clf_wsum").cast("long"))
    return scored.select(
        "doc_id", wsum.alias("clf_wsum"),
        ((F.col("_n") > 0) & (wsum >= 0)).alias("clf_keep"))


# ----------------------------------------- IVF trainer distortion metric
def ivf_mean_cosine_df(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """One-row distortion summary for a centroid set: mean cosine of
    every vector to its assigned centroid (higher = tighter clusters) —
    the quality metric the trainer's tests assert improves."""
    cos_c = _cosine(F.col("qe"), F.col("cv"))
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", cos_c.alias("cos_c"))
    return (scored.groupBy("vec_id").agg(F.max("cos_c").alias("best"))
            .agg(F.avg("best").alias("mean_cos")))
