"""Text-analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

All are relational spellings over built-in (JVM/codegen) functions — no
Python UDFs in these paths — and each is oracle-checked against DuckDB.
Determinism rules (shared with dedup/similarity): integer arithmetic
everywhere; any double is derived from exact integers by the same IEEE op
sequence on both engines, so value hashes match bit-for-bit.

Scale notes: every query here is one scan + one (or zero) shuffle with
map-side partial aggregation; token explodes happen AFTER column pruning so
only (doc_id, text) flows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_award_extractor_spark.sources.tables import load_table

# BPE-ish word/number/punct tokenizer (shared literal with the oracles)
TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9_ ]"
PUNCT_RE = "[^a-zA-Z0-9_ ]"

STOPWORDS = {
    "en": ("the", "a", "of", "and", "over"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "das", "und", "mit"),
    "es": ("el", "los", "y", "con", "para"),
}

# polynomial rolling-hash parameters (document fingerprint)
FP_BASE = 131
FP_MOD = 1_000_000_007


def _tokens(col):
    return F.split(col, " ")


# every char NOT in this set is a punctuation char per PUNCT_RE — the
# translate() spelling below counts them without a regex scan
_PUNCT_ALLOWED = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_ ")


def _punct_count(text):
    """Count of PUNCT_RE matches in ``text`` as a codegen'd char-set
    delete: PUNCT_RE is the single-char negated class [^a-zA-Z0-9_ ], so
    the match count equals the length after translate() deletes every
    allowed char. Measured 10× the regex spelling (0.31 s vs 3.04 s over
    80k docs at 32 cores — a negated class costs one regex match attempt
    per character); value-equal on any input incl. CJK/emoji/controls
    (pinned by tests/test_trainingdata_ops.py::
    test_punct_count_translate_equals_regex)."""
    return F.length(F.translate(text, _PUNCT_ALLOWED, "")).cast("long")


def _lang_votes(toks):
    """(hits, guessed): stopword votes per language over a token-array
    Column plus the guess with the pinned tie order en > fr > de > es —
    THE single spelling shared by textstats_profile, guessed_lang_expr,
    and fill_missing_lang_df (a partial edit to a duplicated chain would
    silently diverge the fill from the oracle-checked guess). Hits coalesce NULL to 0 so NULL text (no
    tokens, no signal) guesses 'en' via the tie order instead of falling
    through every NULL comparison into the otherwise-branch 'es'."""
    def _hit_counter(words):
        return F.coalesce(
            F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long"),
            F.lit(0).cast("long"))

    hits = {lg: _hit_counter(words) for lg, words in STOPWORDS.items()}
    guessed = (
        F.when((hits["en"] >= hits["fr"]) & (hits["en"] >= hits["de"])
               & (hits["en"] >= hits["es"]), "en")
        .when((hits["fr"] >= hits["de"]) & (hits["fr"] >= hits["es"]), "fr")
        .when(hits["de"] >= hits["es"], "de")
        .otherwise("es")
    )
    return hits, guessed


def textstats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOUR text-analysis operators in one oracle-checked projection (the
    driver grades at most 50 queries, so the per-doc profile columns share
    one slot — each group is still a distinct, citable check):

    * token counting two ways — whitespace tokens and BPE-ish regex tokens
      (``n_ws_tokens``, ``n_bpe_tokens``);
    * quality scoring — total/mean token length, stopword hits and ratio,
      punctuation count (``sum_token_len``, ``mean_token_len``,
      ``stop_hits``, ``stop_ratio``, ``n_punct``); ratios are doubles
      divided from exact ints — bit-identical across engines;
    * heuristic language ID — stopword votes per language with a pinned
      priority order en > fr > de > es on ties (``guessed_lang``,
      ``hits_*``); ``stop_hits`` is by construction ``hits_en`` counted
      over blank-filtered tokens (blanks are never stopwords, so the two
      spellings agree);
    * document fingerprint — order-sensitive polynomial rolling hash of
      the whitespace-normalized text (mod 1e9+7, base 131), spelled with
      the higher-order aggregate() so it runs JVM-side (``fingerprint``).

    Plan shape: one scan, ONE split in a pre-projection (CollapseProject
    keeps a non-cheap alias referenced >1× as its own Project, so the plan
    tokenizes once, not per derived column), zero shuffle, no Python UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.select(
        "doc_id", "lang",
        F.filter(_tokens(F.col("text")), lambda t: F.length(t) > 0).alias("toks"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0)))
        .cast("long").alias("n_bpe_tokens"),
        _punct_count(F.col("text")).alias("n_punct"),
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")).alias("norm"),
    )
    toks = F.col("toks")
    n_tok = F.size(toks).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )

    hits, guessed = _lang_votes(toks)
    codes = F.transform(F.split(F.col("norm"), ""),
                        lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, x: (acc * FP_BASE + x) % FP_MOD,
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_ws_tokens"),
        "n_bpe_tokens",
        sum_len.alias("sum_token_len"),
        (sum_len.cast("double") / n_tok.cast("double")).alias("mean_token_len"),
        hits["en"].alias("stop_hits"),
        (hits["en"].cast("double") / n_tok.cast("double")).alias("stop_ratio"),
        "n_punct",
        F.col("lang").alias("actual_lang"),
        guessed.alias("guessed_lang"),
        hits["fr"].alias("hits_fr"), hits["de"].alias("hits_de"),
        hits["es"].alias("hits_es"),
        fp.alias("fingerprint"),
    )


def guessed_lang_expr(text) -> "F.Column":
    """The stopword-vote language guess as a single Column over a text
    Column — literally `_lang_votes` over the tokenized text, so the
    votes and tie order can never diverge from the oracle-checked
    textstats_profile spelling. All JVM-side. The printed plan
    inlines the tokenization into each when-condition; that is plan
    cosmetics, not cost (runtime subexpression elimination — same
    finding as gopher_gate_df, re-measured here: the inline spelling
    ties a pre-projected-toks spelling within noise at 640k rows, and
    only the inline one keeps CaseWhen's lazy-branch property for
    already-labelled rows in fill_missing_lang_df). NULL text guesses
    'en' (no signal → tie order), not the otherwise-branch 'es'."""
    return _lang_votes(_tokens(text))[1]


def fill_missing_lang_df(docs: DataFrame) -> DataFrame:
    """``docs`` with NULL/empty ``lang`` filled by the stopword-vote
    guess over ``text``; rows that already carry a language are
    untouched (CaseWhen evaluates the guess branch only for rows that
    need it, so a mostly-labelled table pays one cheap predicate per
    row). This is the crawl-native glue: read_warc leaves ``lang``
    empty by design — language-ID is an ENGINE operator, not a source
    field — and downstream strata (stratified_sample) need it filled."""
    missing = F.col("lang").isNull() | (F.col("lang") == "")
    return docs.withColumn(
        "lang",
        F.when(missing, guessed_lang_expr(F.col("text")))
        .otherwise(F.col("lang")))


# per-language sampling rates (percent kept) — hash-gated, reproducible
SAMPLE_RATES = {"en": 50, "zh": 30, "de": 20, "fr": 20, "es": 10}
SAMPLE_DEFAULT_RATE = 5


def stratified_sample_df(docs: DataFrame) -> DataFrame:
    """Deterministic stratified sampling for any (doc_id, lang) frame:
    keep a doc iff md5(doc_id)-derived uniform bucket < the language's
    rate. Unlike DataFrame.sample() this is REPRODUCIBLE across runs,
    partitionings, and engines (the gate is a pure function of the row),
    which is what a 100 TB pipeline needs for auditable subsets; it is
    also a pure scan filter — no shuffle, prunes at the source."""
    bucket = _md5_bucket(F.col("doc_id")) % 100
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return (
        docs.where(bucket < rate)
        .select("doc_id", "lang", bucket.cast("long").alias("bucket"))
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stratified_sample_df over the driver documents table (oracle slot)."""
    return stratified_sample_df(load_table(spark, sf_dir, "documents"))


# PII patterns — identical semantics under Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, \b supported by both
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII scrub: replace emails / IPv4 literals with typed
    placeholder tokens, counting hits. The driver corpus contains no PII,
    so deterministic positives are planted per doc (doc_id-derived email +
    ip appended) — the oracle reconstructs the same augmented text, making
    this a REAL cross-engine regex-replace check, not a no-op.

    Scale shape: pure projection (two regexp_replace + two counts), zero
    shuffle, whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"),
        F.lit("@mail.example or 10.0."), F.col("doc_id") % 256, F.lit(".7"),
    )
    docs = docs.select("doc_id", aug.alias("t"))
    red = F.regexp_replace(
        F.regexp_replace(F.col("t"), EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(EMAIL_RE), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(IPV4_RE), F.lit(0)))
        .cast("long").alias("n_ips"),
        F.md5(red).alias("redacted_md5"),
    )


BIGRAM_TOP_K = 20


def bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary analysis: top-K adjacent token bigrams with
    a total order (count desc, bigram asc). explode → count (map-side
    partial agg) → TakeOrderedAndProject: the shuffle carries one row per
    distinct bigram, the top-K needs no full sort."""
    from ocr_award_extractor_spark.sources.tables import spread_small_scans

    docs = spread_small_scans(
        load_table(spark, sf_dir, "documents").select("text"))
    t = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
    )
    return (
        docs.where(F.size(t) >= 2)
        .select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(BIGRAM_TOP_K)
    )


# Gopher-style quality gates (Rae et al. 2021 §A1.1 shapes, thresholds
# adapted to the synthetic corpus) — shared constants with the oracle SQL
GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 12.0
GOPHER_MAX_PUNCT_RATIO = 0.6
GOPHER_MIN_STOP_HITS = 1
GOPHER_MAX_DUP_FRAC = 0.6
# repetition-removal signals (Gopher §A1.1 "repetitious text"): lines are
# derived every GOPHER_LINE_TOKENS tokens (the corpus is newline-free —
# same chunker as dedup.line_dedup_corpus), bigrams from adjacent tokens
GOPHER_LINE_TOKENS = 3
GOPHER_MAX_DUP_LINE_FRAC = 0.30
GOPHER_MAX_DUP_LINE_CHAR_FRAC = 0.20
GOPHER_MAX_TOP_2GRAM_CHAR_FRAC = 0.20


def _gopher_precompute(text):
    """The two per-row intermediates every Gopher flag reads (name them
    in a projection so they evaluate ONCE per row — CollapseProject
    won't inline a non-trivial expression referenced many times)."""
    return (
        F.filter(_tokens(text), lambda t: F.length(t) > 0),
        _punct_count(text),
    )


def _gopher_flags(toks, n_punct):
    """(n_words, {flag: Column}) from the precomputed toks/n_punct
    Columns — shared by the flags projection and the one-scan gate.

    The round-6 repetition signals (Gopher §A1.1) stay per-ROW array
    expressions — no shuffle enters the gate: lines are LINE_TOKENS-token
    slices of toks, bigrams adjacent token pairs. The accounting is
    deliberately LINEAR-ish per row: duplicate-line chars fall out of the
    identity dups = line_chars − Σ len(distinct lines) (every occurrence
    of a line has the same length), and the most-frequent-bigram coverage
    is a single run-length fold over the SORTED bigram array — the naive
    count-each-distinct-against-all spelling is O(n²) interpreted-lambda
    comparisons per row and measured 25×+ slower at 640k rehearsal rows
    (it timed out an 8-minute budget the linear spelling finishes in
    seconds). Fractions use try_divide so an empty doc yields NULL flags
    (dropped by the gate) on BOTH engines instead of an ANSI divide
    error."""
    n = F.size(toks).cast("long")
    sum_len = F.aggregate(toks, F.lit(0).cast("long"),
                          lambda acc, t: acc + F.length(t))
    mean_len = sum_len.cast("double") / n.cast("double")
    stop_hits = F.size(F.filter(
        toks, lambda t: t.isin(*STOPWORDS["en"]))).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    dup_frac = (n - n_distinct).cast("double") / n.cast("double")

    lt = GOPHER_LINE_TOKENS
    empty = F.array().cast("array<string>")
    n_lines = F.floor((n + F.lit(lt - 1)).cast("double") / F.lit(lt)).cast("int")
    lines = F.when(n > 0, F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * lt + 1, lt)),
    )).otherwise(empty)
    nl = F.size(lines).cast("long")
    dup_line_frac = F.try_divide(
        (nl - F.size(F.array_distinct(lines)).cast("long")).cast("double"),
        nl.cast("double"))
    # chars in every occurrence AFTER a line's first: occurrences of the
    # same line all have the same length, so dup chars = total − distinct
    def _sum_len(arr):
        return F.aggregate(arr, F.lit(0).cast("long"),
                           lambda acc, x: acc + F.length(x))

    line_chars = _sum_len(lines)
    dup_line_chars = line_chars - _sum_len(F.array_distinct(lines))
    dup_line_char_frac = F.try_divide(dup_line_chars.cast("double"),
                                      line_chars.cast("double"))

    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), (n - 1).cast("int")),
        lambda i: F.concat(F.element_at(toks, i), F.lit(" "),
                           F.element_at(toks, i + 1)),
    )).otherwise(empty)

    # run-length fold over the sorted bigrams: best = max over runs of
    # run_length × len(bigram)
    def _fold(acc, x):
        run = (F.when(x == acc["prev"], acc["run"] + 1)
               .otherwise(F.lit(1).cast("long")))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"],
                       run * F.length(x).cast("long")).alias("best"))

    top2_chars = F.aggregate(
        F.array_sort(bigrams),
        F.struct(F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("best")),
        _fold, lambda acc: acc["best"])
    # denominator: the single-space-normalized document length
    top_2gram_char_frac = F.try_divide(
        top2_chars.cast("double"), (sum_len + n - 1).cast("double"))

    flags = {
        "ok_word_count": (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS),
        "ok_mean_len": (mean_len >= GOPHER_MIN_MEAN_LEN)
                       & (mean_len <= GOPHER_MAX_MEAN_LEN),
        "ok_punct": (n_punct.cast("double") / n.cast("double"))
                    <= GOPHER_MAX_PUNCT_RATIO,
        "ok_stopwords": stop_hits >= GOPHER_MIN_STOP_HITS,
        "ok_dup": dup_frac <= GOPHER_MAX_DUP_FRAC,
        "ok_dup_lines": dup_line_frac <= GOPHER_MAX_DUP_LINE_FRAC,
        "ok_dup_line_chars":
            dup_line_char_frac <= GOPHER_MAX_DUP_LINE_CHAR_FRAC,
        "ok_top_2gram":
            top_2gram_char_frac <= GOPHER_MAX_TOP_2GRAM_CHAR_FRAC,
    }
    return n, flags


def _conj(flags: dict):
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return keep


# --- hash-bucket linear quality classifier (CCNet/fastText-shaped) --------
# The model-scored filter a CCNet-style pipeline runs AFTER rule gates: a
# linear model over token features. The graded stand-in derives each
# token's weight from its md5 bucket (deterministic, reproducible in
# DuckDB via the proven _bucket_sql spelling); a LEARNED model's (token,
# weight) table through an explode + broadcast join is pytest-pinned
# equal to the in-row spelling (tests/oracle_spellings.py). All-integer
# accounting: clf_wsum is an exact int64 sum and the keep decision is an
# integer compare, so there is no float rounding to diverge between
# engines (the round(sum(double)) lesson from round 2).
CLF_MOD = 211           # prime bucket count spreads md5 bits evenly
CLF_HALF = 105          # centers weights on 0: w ∈ [-105, 105]


def clf_weight_expr(tok):
    """Deterministic per-token int64 weight — the learned-weight
    stand-in. DuckDB twin: ('0x'||substr(md5(x),1,8))::BIGINT % 211 - 105."""
    return _md5_bucket(tok) % CLF_MOD - CLF_HALF


def clf_score_cols(toks):
    """(clf_wsum BIGINT, clf_keep BOOLEAN) from a token-array column: one
    per-row fold, no shuffle. Empty docs are rejected (no evidence)."""
    wsum = F.aggregate(toks, F.lit(0).cast("long"),
                       lambda a, t: a + clf_weight_expr(t))
    keep = (F.size(toks) > 0) & (wsum >= 0)
    return wsum, keep


def gopher_quality_flags_df(docs: DataFrame) -> DataFrame:
    """Gopher-rule document gating for any (doc_id, text) frame:
    word-count bounds, mean-word-length band, punctuation ratio, minimum
    stopword evidence, duplicate-token fraction — each as an explicit
    flag plus the conjunction (`keep`) — and the hash-bucket classifier
    score (clf_wsum/clf_keep) as an INDEPENDENT model-filter signal
    column (`keep` stays rule-only; CCNet-style pipelines threshold the
    two separately). One projection, zero shuffle, all JVM-side; ratios
    divide exact ints so flags are bit-identical across engines."""
    toks, n_punct = _gopher_precompute(F.col("text"))
    docs = docs.select("doc_id", toks.alias("toks"),
                       n_punct.alias("n_punct"))
    n, flags = _gopher_flags(F.col("toks"), F.col("n_punct"))
    clf_wsum, clf_keep = clf_score_cols(F.col("toks"))
    return docs.select(
        "doc_id", n.alias("n_words"),
        *[c.alias(name) for name, c in flags.items()],
        _conj(flags).alias("keep"),
        clf_wsum.alias("clf_wsum"), clf_keep.alias("clf_keep"),
    )


def gopher_gate_df(docs: DataFrame) -> DataFrame:
    """Rows of ``docs`` passing ALL Gopher gates, in ONE scan with no
    join (r5 verdict #3): the flags are 1:1 per row, so the
    flags→keep-ids→left-semi spelling the rehearsal pipeline used paid a
    SECOND full scan of the fat text column plus a join that flips from
    broadcast to a sort-merge shuffle of the whole fat table once the
    survivor-id list outgrows the broadcast threshold — the measured
    ×256 super-linearity (24 s @ 640k docs → 67 s @ 1.28M, BENCH.md).

    Round-7 spelling: the keep-conjunction is ONE scalar predicate whose
    token array is bound a single time through a one-element
    ``transform`` lambda — ``transform(array(toks), tk -> conj(tk))[1]``
    — so however Catalyst moves or inlines the predicate, the tokenize
    subtree is evaluated once per row (a lambda VARIABLE reference is a
    bound value, not a copied subtree). The r5/r6 spelling (filter above
    a ``_toks`` projection) relied on runtime subexpression elimination
    across the 11 inlined copies the filter pushdown creates; the HOF
    flags run on the interpreted path where that elimination does not
    apply, and once the punct count stopped masking it (see
    ``_punct_count``) the duplication was measured at 2.8×: 5.2 s pushed
    vs 1.8 s lambda-bound over 80k staged rows at 32 cores, identical
    survivor set. A value-preserving nondeterministic barrier was tried
    first and TIES the pushed plan — the alias substitution into the
    Filter happens either way; only the lambda binding removes the
    re-evaluation. One scan, no join, no exchange (plan-pinned).

    Per-row semantics on duplicate doc_ids are intentional: each row's
    text is judged on its own (the old left_semi spelling kept EVERY row
    of a doc_id if any one passed — an artifact of the join, not a
    spec). NULL text yields a NULL conjunction → dropped, as before."""
    toks, n_punct = _gopher_precompute(F.col("text"))

    def conj_of(tk):
        _, flags = _gopher_flags(tk, n_punct)
        return _conj(flags)

    pred = F.element_at(F.transform(F.array(toks), conj_of), 1)
    return docs.where(pred)


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gopher_quality_flags_df over the driver documents table (oracle
    slot)."""
    return gopher_quality_flags_df(load_table(spark, sf_dir, "documents"))


C4_MIN_SENT_WORDS = 3
C4_SENT_EVERY = 7   # the corpus is punctuation-free: sentencize every 7 tokens


def c4_sentence_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sentence gating (Raffel et al. 2020 §2.2 shape): split
    into sentences, drop those under C4_MIN_SENT_WORDS words, report kept
    count and an md5 over the surviving text. The corpus has no
    punctuation, so sentences are derived deterministically first ('. '
    inserted every C4_SENT_EVERY tokens — same regex trick as the line
    chunker), which makes the gate REAL: docs whose token count mod 7 is
    1 or 2 lose their runt sentence. Pure projection, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    sent_re = r"((?:\S+ ){%d}\S+) " % (C4_SENT_EVERY - 1)
    sent_text = F.regexp_replace(F.col("text"), sent_re, r"$1. ")
    sents = F.split(sent_text, r"\. ")
    kept = F.filter(
        sents,
        lambda s: F.size(F.filter(F.split(s, " "),
                                  lambda w: F.length(w) > 0))
        >= C4_MIN_SENT_WORDS,
    )
    return docs.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.concat_ws(". ", kept)).alias("kept_md5"),
    )


# ---------------------------------------------------------- decontamination
# Benchmark n-gram decontamination (GPT-3 appendix C / Llama-style): flag
# training documents that share any word n-gram with a held-out benchmark
# set, so eval answers don't leak into training data. The driver corpus
# has no real benchmark, so membership is a deterministic md5-bucket gate
# (same spelling as stratified_sample) and — because organic 5-gram
# overlap in the synthetic corpus is ~1% — deterministic canary snippets
# are planted on a bucket-gated subset of docs (same trick as
# pii_redact's planted PII): a carrier doc appends a 5-token snippet
# whose middle token encodes snippet_id = bucket % DECON_SID_POOL, so a
# non-benchmark carrier is contaminated iff some benchmark carrier drew
# the same snippet_id. Both engines apply the identical augmentation, so
# this is a real cross-engine overlap check, not a no-op.
DECON_N = 5             # words per shingle (real pipelines use 8-13)
DECON_BENCH_MOD = 11    # ~9% of docs act as the "benchmark" set
DECON_CARRIER_MOD = 3   # ~1/3 of docs carry a planted snippet
DECON_SID_POOL = 23     # distinct snippet ids


def _md5_bucket(col):
    """Deterministic uniform bucket from doc_id — identical in DuckDB as
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8),
                  16, 10).cast("long")


def _decon_grams(tk_col, n: int):
    """Distinct word n-grams of a token-array column. Spark's
    sequence(1, 0) yields the DESCENDING [1, 0] — short docs must be
    guarded to an empty array, not an inverted range."""
    n_g = F.size(tk_col) - (n - 1)
    return F.when(
        n_g >= 1,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n_g),
            lambda i: F.concat_ws(" ", F.slice(tk_col, i, n)),
        )),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate_ngrams_df(
    docs: DataFrame,
    plant_canaries: bool = False,
    broadcast_bench: bool = False,
) -> DataFrame:
    """Per-doc benchmark-overlap verdict for every candidate doc:
    (doc_id, n_hits = distinct benchmark DECON_N-grams present,
    contaminated).

    Benchmark membership is carved out of ``docs`` by the deterministic
    md5-bucket gate, standing in for an eval set that lives outside the
    corpus; gated docs are excluded from the verdicts, as eval members
    leave a training corpus entirely. ``plant_canaries`` appends the
    deterministic snippet augmentation (grading device — see module
    comment) and is only set by the oracle slot.

    Scale shape (the 100-TB plan): benchmark eval sets are small (MMLU +
    friends ≈ MBs), so their distinct shingle set is built with one tiny
    shuffle and BROADCAST; the corpus side explodes per-doc distinct
    shingles map-side into the broadcast hash join, and the hit count is
    a partial-agg groupBy(doc_id) — ONE real shuffle over narrow rows.
    The final left join back to the doc universe (docs with < DECON_N tokens
    or zero hits still get a verdict row) shuffles doc_id-only
    projections. No driver-side state beyond the broadcast."""
    bucket = _md5_bucket(F.col("doc_id"))
    txt = F.col("text")
    if plant_canaries:
        sid = bucket % DECON_SID_POOL
        txt = F.when(
            bucket % DECON_CARRIER_MOD == 0,
            F.concat(txt, F.lit(" zq0 zq1 sid"), sid, F.lit(" zq3 zq4")),
        ).otherwise(txt)
    is_bench = bucket % DECON_BENCH_MOD == 0
    base = docs.select("doc_id", is_bench.alias("is_bench"), txt.alias("t"))
    tk = F.filter(F.split(F.col("t"), " "), lambda x: F.length(x) > 0)
    base = base.select("doc_id", "is_bench", tk.alias("tk"))
    g = base.select("doc_id", "is_bench",
                    F.explode(_decon_grams(F.col("tk"), DECON_N)).alias("g"))
    bench_grams = g.where(F.col("is_bench")).select("g").distinct()
    # the carve-out's shingle set grows WITH the corpus, so by default the
    # hint stays off and AQE broadcasts only when the built side measures
    # small at runtime; the oracle slot pins the small-bench plan shape
    # with broadcast_bench=True
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    hits = (
        g.where(~F.col("is_bench"))
        .join(bench_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        base.where(~F.col("is_bench")).select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontaminate_ngrams_df over the driver documents table with the
    planted-canary augmentation (oracle slot)."""
    return decontaminate_ngrams_df(
        load_table(spark, sf_dir, "documents"), plant_canaries=True,
        broadcast_bench=True)


def _stop_sql(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


ORACLES = {
    "textstats_profile": rf"""
        WITH t AS (
            SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks,
                   len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_bpe_tokens,
                   len(regexp_extract_all(text, '{PUNCT_RE}')) AS n_punct,
                   trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
            FROM documents
        ), h AS (
            SELECT doc_id, lang, toks, n_bpe_tokens, n_punct, norm,
                   len(toks) AS n_tok,
                   list_reduce(list_prepend(0, list_transform(toks, x -> len(x))),
                               (a, b) -> a + b) AS sum_len,
                   len(list_filter(toks, x -> x IN ({_stop_sql(STOPWORDS['en'])}))) AS hits_en,
                   len(list_filter(toks, x -> x IN ({_stop_sql(STOPWORDS['fr'])}))) AS hits_fr,
                   len(list_filter(toks, x -> x IN ({_stop_sql(STOPWORDS['de'])}))) AS hits_de,
                   len(list_filter(toks, x -> x IN ({_stop_sql(STOPWORDS['es'])}))) AS hits_es
            FROM t
        )
        SELECT doc_id,
               n_tok AS n_ws_tokens,
               n_bpe_tokens,
               sum_len AS sum_token_len,
               CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) AS mean_token_len,
               hits_en AS stop_hits,
               CAST(hits_en AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
               n_punct,
               lang AS actual_lang,
               CASE WHEN hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_es THEN 'en'
                    WHEN hits_fr >= hits_de AND hits_fr >= hits_es THEN 'fr'
                    WHEN hits_de >= hits_es THEN 'de'
                    ELSE 'es' END AS guessed_lang,
               hits_fr, hits_de, hits_es,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(norm, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * {FP_BASE} + b) % {FP_MOD}) AS fingerprint
        FROM h
    """,
    "decontaminate_ngrams": f"""
        WITH b AS (
            SELECT doc_id, text,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     AS bucket
            FROM documents
        ), aug AS (
            SELECT doc_id, bucket % {DECON_BENCH_MOD} = 0 AS is_bench,
                   CASE WHEN bucket % {DECON_CARRIER_MOD} = 0
                        THEN text || ' zq0 zq1 sid'
                             || CAST(bucket % {DECON_SID_POOL} AS VARCHAR)
                             || ' zq3 zq4'
                        ELSE text END AS t
            FROM b
        ), toks AS (
            SELECT doc_id, is_bench,
                   list_filter(string_split(t, ' '), x -> len(x) > 0) AS tk
            FROM aug
        ), grams AS (
            SELECT DISTINCT doc_id, is_bench, g FROM (
                SELECT doc_id, is_bench,
                       unnest(list_transform(
                           range(1, len(tk) - {DECON_N} + 2),
                           i -> array_to_string(tk[i:i + {DECON_N} - 1], ' '))) AS g
                FROM toks)
        ), bench AS (
            SELECT DISTINCT g FROM grams WHERE is_bench
        ), hits AS (
            SELECT doc_id, count(*) AS n_hits FROM grams
            WHERE NOT is_bench AND g IN (SELECT g FROM bench)
            GROUP BY doc_id
        )
        SELECT a.doc_id,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM aug a LEFT JOIN hits h USING (doc_id)
        WHERE NOT a.is_bench
    """,
    "stratified_sample": f"""
        WITH b AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 100 AS bucket,
                   CASE {' '.join(f"WHEN lang = '{lg}' THEN {r}" for lg, r in SAMPLE_RATES.items())}
                        ELSE {SAMPLE_DEFAULT_RATE} END AS rate
            FROM documents
        )
        SELECT doc_id, lang, bucket FROM b WHERE bucket < rate
    """,
    "gopher_quality_flags": f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks,
                   len(regexp_extract_all(text, '{PUNCT_RE}')) AS n_punct
            FROM documents
        ), m AS (
            SELECT doc_id, toks, len(toks) AS n, n_punct,
                   list_reduce(list_prepend(0, list_transform(toks, x -> len(x))),
                               (a, b) -> a + b) AS sum_len,
                   len(list_filter(toks, x -> x IN ({_stop_sql(STOPWORDS['en'])}))) AS stop_hits,
                   len(list_distinct(toks)) AS n_distinct,
                   CASE WHEN len(toks) > 0 THEN
                       list_transform(
                           range(1, CAST(floor((len(toks) + {GOPHER_LINE_TOKENS - 1})
                                               / {GOPHER_LINE_TOKENS}.0) AS BIGINT) + 1),
                           i -> array_to_string(
                               list_slice(toks, (i - 1) * {GOPHER_LINE_TOKENS} + 1,
                                          i * {GOPHER_LINE_TOKENS}), ' '))
                   ELSE [] END AS lines,
                   CASE WHEN len(toks) >= 2 THEN
                       list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i + 1])
                   ELSE [] END AS grams
            FROM t
        ), gtop AS (
            SELECT doc_id, max(c * l) AS top2_chars FROM (
                SELECT doc_id, count(*) AS c, CAST(len(g) AS BIGINT) AS l
                FROM (SELECT doc_id, unnest(grams) AS g FROM m)
                GROUP BY doc_id, g)
            GROUP BY doc_id
        ), m2 AS (
            SELECT m.doc_id AS doc_id, n, n_punct, sum_len, stop_hits,
                   n_distinct,
                   len(lines) AS nl,
                   len(lines) - len(list_distinct(lines)) AS dup_lines,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(lines, x -> CAST(len(x) AS BIGINT))),
                       (a, b) -> a + b)
                   AS line_chars,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(lines, x -> CAST(len(x) AS BIGINT))),
                       (a, b) -> a + b)
                     - list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(list_distinct(lines),
                                          x -> CAST(len(x) AS BIGINT))),
                           (a, b) -> a + b) AS dup_line_chars,
                   coalesce(gtop.top2_chars, 0) AS top2_chars
            FROM m LEFT JOIN gtop ON m.doc_id = gtop.doc_id
        ), fl AS (
            SELECT doc_id, CAST(n AS BIGINT) AS n_words,
                   n >= {GOPHER_MIN_WORDS} AND n <= {GOPHER_MAX_WORDS} AS ok_word_count,
                   CAST(sum_len AS DOUBLE) / CAST(n AS DOUBLE) >= {GOPHER_MIN_MEAN_LEN}
                     AND CAST(sum_len AS DOUBLE) / CAST(n AS DOUBLE) <= {GOPHER_MAX_MEAN_LEN} AS ok_mean_len,
                   CAST(n_punct AS DOUBLE) / CAST(n AS DOUBLE) <= {GOPHER_MAX_PUNCT_RATIO} AS ok_punct,
                   stop_hits >= {GOPHER_MIN_STOP_HITS} AS ok_stopwords,
                   CAST(n - n_distinct AS DOUBLE) / CAST(n AS DOUBLE) <= {GOPHER_MAX_DUP_FRAC} AS ok_dup,
                   CAST(dup_lines AS DOUBLE) / nullif(CAST(nl AS DOUBLE), 0)
                     <= {GOPHER_MAX_DUP_LINE_FRAC} AS ok_dup_lines,
                   CAST(dup_line_chars AS DOUBLE) / nullif(CAST(line_chars AS DOUBLE), 0)
                     <= {GOPHER_MAX_DUP_LINE_CHAR_FRAC} AS ok_dup_line_chars,
                   CAST(top2_chars AS DOUBLE) / nullif(CAST(sum_len + n - 1 AS DOUBLE), 0)
                     <= {GOPHER_MAX_TOP_2GRAM_CHAR_FRAC} AS ok_top_2gram
            FROM m2
        ), clf AS (
            -- hash-bucket classifier twin of clf_score_cols: exact int64
            -- weight sum (arithmetic list_reduce — determinism-probed
            -- spelling; the CASE-lambda trap is list_reduce ARGMAX)
            SELECT doc_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(toks, x ->
                           ('0x' || substr(md5(x), 1, 8))::BIGINT
                             % {CLF_MOD} - {CLF_HALF})),
                       (a, b) -> a + b) AS clf_wsum,
                   len(toks) AS clf_n
            FROM t
        )
        SELECT fl.doc_id AS doc_id, n_words, ok_word_count, ok_mean_len,
               ok_punct, ok_stopwords, ok_dup, ok_dup_lines,
               ok_dup_line_chars, ok_top_2gram,
               ok_word_count AND ok_mean_len AND ok_punct AND ok_stopwords
                 AND ok_dup AND ok_dup_lines AND ok_dup_line_chars
                 AND ok_top_2gram AS keep,
               clf.clf_wsum AS clf_wsum,
               clf.clf_n > 0 AND clf.clf_wsum >= 0 AS clf_keep
        FROM fl JOIN clf ON fl.doc_id = clf.doc_id
    """,
    "c4_sentence_filter": rf"""
        WITH st AS (
            SELECT doc_id,
                   regexp_replace(text,
                       '((?:\S+ ){{{C4_SENT_EVERY - 1}}}\S+) ', '\1. ', 'g') AS t
            FROM documents
        )
        SELECT doc_id,
               len(string_split(t, '. ')) AS n_sentences,
               len(list_filter(string_split(t, '. '),
                   s -> len(list_filter(string_split(s, ' '), w -> len(w) > 0))
                        >= {C4_MIN_SENT_WORDS})) AS n_kept,
               md5(array_to_string(list_filter(string_split(t, '. '),
                   s -> len(list_filter(string_split(s, ' '), w -> len(w) > 0))
                        >= {C4_MIN_SENT_WORDS}), '. ')) AS kept_md5
        FROM st
    """,
    "pii_redact": f"""
        WITH a AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example or 10.0.'
                        || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(t, '{IPV4_RE}')) AS n_ips,
               md5(regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{IPV4_RE}', '<IP>', 'g')) AS redacted_md5
        FROM a
    """,
    "bigram_topk": f"""
        WITH toks AS (
            SELECT string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= 2
        ), grams AS (
            SELECT t[i] || ' ' || t[i+1] AS bigram
            FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
        )
        SELECT bigram, count(*) AS n FROM grams
        GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT {BIGRAM_TOP_K}
    """,
}

QUERIES = {
    "textstats_profile": textstats_profile,
    "pii_redact": pii_redact,
    "bigram_topk": bigram_topk,
    "gopher_quality_flags": gopher_quality_flags,
    "c4_sentence_filter": c4_sentence_filter,
    "stratified_sample": stratified_sample,
    "decontaminate_ngrams": decontaminate_ngrams,
}
