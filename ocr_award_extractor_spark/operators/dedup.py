"""Deduplication operators for a training-data pipeline: exact, MinHash
(+LSH candidate pairs and near-dup clusters), SimHash, and corpus-level
line dedup.

All spelled with built-in DataFrame ops (explode → groupBy with MAP-SIDE
PARTIAL aggregation — a min/sum per (doc, hash) combines before the
shuffle, so network volume is O(docs × K), not O(shingles)). Shingle/token
hashes derive from md5 prefixes so Spark and DuckDB compute the SAME
integers (Spark conv(hex)=DuckDB '0x'-cast): every oracle is exact, no
float tolerance anywhere.

At 100 TB: exact dedup is one hash-shuffle on the fingerprint; MinHash is
scan → explode shingles → partial-min per band key → one shuffle grouping
band keys into buckets — the classic MinHash-LSH band/bucket scheme
(Broder; Leskovec et al. MMDS ch.3). Candidate PAIRS are enumerated
in-kernel per bucket (k(k-1)/2, so that operator keeps a mega-bucket
guard); near-dup CLUSTERS never enumerate pairs: each bucket is a clique,
so a star to its minimum member carries the same components in k-1 edges
(star contraction, Kiveris et al., SoCC 2014) and no bucket size is
refused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_award_extractor_spark.operators.pairblocks import block_triangles, map_buckets
from ocr_award_extractor_spark.sources.tables import load_table

# MinHash parameters: K hash functions in B bands of R rows (K = B*R)
MH_K = 16
MH_B = 4
MH_R = 4
MH_P = 4_294_967_311          # prime > 2^32
_MH_A = [1009 * j + 31 for j in range(MH_K)]
_MH_B_ = [9176 * j + 907 for j in range(MH_K)]

SH_N = 3                      # shingle width (tokens)
SIM_BITS = 32                 # SimHash width (md5-prefix-derived)


def _md5_int(col):
    """First 8 hex digits of md5 as a bigint — identical in Spark
    (conv(…,16,10)) and DuckDB (('0x'||…)::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ----------------------------------------------------------------- exact
def dedup_exact_df(docs: DataFrame) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint for any
    (doc_id, text) frame: one hash shuffle, keeper = min doc_id per group.

    Round-7 note: deliberately NOT spread_small_scans'd — one md5 per ROW
    is too little map work to amortize the extra exchange (measured
    0.72 s → 0.95 s at sf0.1 and +0.7 s on the rehearsal's exact-dedup
    stage when spread; contrast _shingles, where the map stage does ~50
    md5s per row and spreading wins 4×)."""
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return (
        docs.select(F.md5(norm).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_exact_df over the driver documents table (oracle slot)."""
    return dedup_exact_df(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------- shingles
def _shingles(docs: DataFrame) -> DataFrame:
    """SH_N-token shingle OCCURRENCES per doc, with their 32-bit hash.
    Two round-7 changes, both measured at sf0.1:

    * input spread to session parallelism (no-op at scale —
      sources/tables.spread_small_scans): the explode + md5 map stage is
      the expensive part and a single small input split serialized it;
    * the ``array_distinct`` that deduped shingles per doc is GONE: every
      consumer takes a min over the hashes, and min over the occurrence
      multiset equals min over the distinct set — while array_distinct
      alone cost ~3 s of the 3.5 s map stage (explode+md5 without it:
      0.74 s) for 316 duplicate occurrences in 260k shingles at sf0.1.
      The consumers' map-side partial-min aggs still collapse rows before
      any exchange, so shuffle volume is unchanged (one row per doc)."""
    from ocr_award_extractor_spark.sources.tables import spread_small_scans

    t = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(1), F.size(t) - (SH_N - 1))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
        ),
    )
    return (
        spread_small_scans(docs.select("doc_id", "text"))
        .where(F.size(t) >= SH_N)
        .select("doc_id", F.explode(sh).alias("sh"))
        .select("doc_id", _md5_int(F.col("sh")).alias("v"))
    )


def minhash_signature_df(docs: DataFrame) -> DataFrame:
    """MinHash signatures for any (doc_id, text) frame: K permutation-mins
    per doc. explode → groupBy with K partial-min aggregates (combines
    map-side, so the exchange carries one 17-column row per doc).

    Round-7 note (measured negative, kept for the record): a zero-shuffle
    per-row spelling — shingle hashes as an array<long> pre-projection +
    16 ``array_min(transform(...))`` folds — removes the exchange but runs
    the md5/concat work through Spark's INTERPRETED higher-order-function
    path instead of whole-stage codegen; it measured ~20× the core-seconds
    of this exploded spelling (3.7 s across 32 tasks vs 5.5 s on ONE task
    at sf0.1). The shuffle here is one narrow row per doc — the codegen'd
    Generate+Project map stage is what matters, and spread_small_scans
    (in _shingles) parallelizes it."""
    sh = _shingles(docs)
    aggs = [
        F.min((F.lit(_MH_A[j]) * F.col("v") + F.lit(_MH_B_[j])) % F.lit(MH_P)).alias(f"s{j}")
        for j in range(MH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_signature_df over the driver documents table (oracle slot)."""
    return minhash_signature_df(load_table(spark, sf_dir, "documents"))


def _band_buckets(docs: DataFrame) -> DataFrame:
    """(members) per MinHash band bucket of >= 2 docs: the signature's
    MH_B band keys grouped with ONE shuffle, members = collected doc_ids."""
    sig = minhash_signature_df(docs)
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[F.col(f"s{b * MH_R + r}") for r in range(MH_R)]).alias("key"),
        )
        for b in range(MH_B)
    ])
    keyed = sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    return (
        keyed.groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("members"))
        .where(F.size("members") >= 2)
        .select("members")
    )


def _doc_ids(values):
    """A bucket batch's flat member doc_ids as one numpy column: int64
    zero-copy, a 128-bit hex STRING id as Python str objects, whose sort
    order equals Spark's string order (both by codepoint), so doc_a <
    doc_b stays engine-consistent (r4 verdict #6)."""
    return (values.to_numpy(zero_copy_only=False),)


def _bucket_pairs(ids, pair_block):
    """Every (doc_a, doc_b), doc_a < doc_b, of one bucket, block by block."""
    import numpy as np

    m = np.sort(ids)
    for s, e, tri in block_triangles(len(m), pair_block):
        ri, rj = np.nonzero(tri)
        if len(ri):
            yield m[ri + s], m[rj]   # m sorted ⇒ doc_a < doc_b


def minhash_lsh_pairs_df(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs: docs agreeing on ALL R rows of ANY band.

    BUCKET-LOCAL spelling (mirrors similarity.lsh_neardup_pairs,
    r3 verdict #3): (doc_id, band, key) rows group into buckets with ONE
    shuffle and each bucket's pairs are enumerated inside the Arrow
    kernel (pairblocks.map_buckets, which reads each batch's doc_id
    lists as numpy views), then the tiny cross-band distinct. The
    classic band self-equi-join (the oracle in tests/oracle_spellings.py)
    times within noise of it at sf0.1 (BENCH.md round-4); this spelling
    reads the shuffle once instead of re-reading two exchanges and
    shares the skew-blocked kernel with the similarity side. The pair
    columns take doc_id's own type, 64-bit ints and hex strings alike.

    Skew / mega-bucket guard (ENFORCED, r4 verdict #1): a bucket of k
    members yields k(k-1)/2 pairs — blocked enumeration bounds kernel
    live memory, but nothing bounds the OUTPUT. The contract is "run
    dedup_exact first" (its one fingerprint shuffle collapses exact
    copies before shingling); buckets past pairblocks.MAX_BUCKET_MEMBERS
    fail the job with an actionable error. Clustering needs no pairs and
    no guard: use dedup_clusters_df."""
    from pyspark.sql.types import StructType

    id_type = docs.schema["doc_id"].dataType
    schema = StructType().add("doc_a", id_type).add("doc_b", id_type)
    return (
        map_buckets(_band_buckets(docs), "MinHash-LSH", _doc_ids,
                    _bucket_pairs, schema)
        .distinct()                  # collapse multi-band duplicates
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_lsh_pairs_df over the driver documents table (oracle slot)."""
    return minhash_lsh_pairs_df(load_table(spark, sf_dir, "documents"))


CC_MAX_ITERS = 20


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    candidate graph, component id = min doc_id (the canonical keeper) —
    the step a dedup pipeline runs after banding so each group keeps
    exactly one document. Singletons are their own component.

    Spark shape: each band bucket contributes a STAR (every member linked
    to the bucket minimum) — the same components as the bucket's clique of
    candidate pairs, in k-1 edges instead of k(k-1)/2, so no bucket size
    needs a cap. Components then come from connected_components'
    min-label propagation plus pointer jumping, O(log diameter) rounds,
    each stopped at a true fixpoint by a probe riding the round's own
    checkpoint. At 10⁹ docs the same primitives scale (two checkpointed
    joins per round)."""
    return dedup_clusters_df(load_table(spark, sf_dir, "documents"))


def dedup_clusters_df(docs: DataFrame) -> DataFrame:
    """dedup_clusters for any (doc_id, text) frame. Star edges come from
    plain JVM ops over the band buckets — ``explode(members)`` paired with
    ``array_min(members)``, both directions — with no Python kernel and
    no bucket cap: an exact- or near-duplicate flood of any size collapses
    to one component instead of failing the job."""
    members = F.col("members")
    star = _band_buckets(docs).select(
        F.explode(members).alias("src"), F.array_min(members).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    edges = star.union(star.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    return connected_components(docs.select("doc_id"), edges)


def connected_components(docs: DataFrame, edges: DataFrame,
                         reliable: bool = False) -> DataFrame:
    """Min-label propagation + pointer jumping over (src, dst) edges;
    docs(doc_id) supplies the vertex set (singletons included, NULL ids
    dropped).

    Fixpoint probe: the propagation aggregate keeps each doc's previous
    label as ``own`` beside ``min(comp)``, and a fresh
    ``pyspark.sql.Observation`` counts ``comp < own`` on that frame — the
    checkpoint the round runs anyway delivers it, so the probe costs no
    job of its own. A zero count means propagation changed nothing, and a
    pointer jump cannot move a propagation fixpoint (labels are constant
    on each component and equal to its minimum), so the previous labels
    are returned as they are; ``CC_MAX_ITERS`` rounds without one raise
    ``RuntimeError``. Works for any orderable id type — 64-bit ints and
    the 128-bit hex-string doc_ids alike.

    Fault tolerance is a CONFIG CHOICE (r4 verdict #5): the default
    localCheckpoint materializes to EXECUTOR storage — fast, but an
    executor loss mid-computation loses the truncated lineage and fails
    the job. ``reliable=True`` routes every per-round materialization
    through reliable checkpointing instead (``.checkpoint()`` to the
    cluster's ``sc.setCheckpointDir`` — HDFS/S3 on a real cluster), so a
    lost executor recomputes from the last round's checkpoint rather
    than killing a multi-hour 10⁹-vertex job. The iteration structure is
    identical both ways (pinned by
    tests/test_trainingdata_ops.py::test_connected_components_reliable).
    The checkpoint dir is deliberately NOT auto-defaulted: on a cluster
    it must be SHARED storage, and silently picking a driver-local tmp
    path would produce checkpoints no executor can read back.

    Storage footprint of reliable mode: ~2 label materializations per
    round plus the edges frame accumulate under the checkpoint dir
    (≈ 2·rounds+1 copies) and Spark does NOT delete them when the job
    ends — the result frame still reads the last one lazily. Point
    ``sc.setCheckpointDir`` at job-scoped scratch and delete it after
    the result is written, or set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` to let the
    ContextCleaner reap checkpoints as their RDDs are GC'd."""
    from pyspark.sql import Observation

    if reliable and docs.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "connected_components(reliable=True) needs a reliable "
            "checkpoint location: call sc.setCheckpointDir(<shared path, "
            "e.g. hdfs://.../ckpt>) first"
        )

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if reliable else df.localCheckpoint()

    # materialize once: every propagation round joins against edges, and
    # without this the edge-producing subtree (shingle→minhash→buckets
    # when called from dedup_clusters) re-executes per round
    edges = _ckpt(edges)
    # a NULL id never survives a round's jump join; dropping it up front
    # keeps the vertex set the same when the first round is the fixpoint
    labels = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id", F.col("doc_id").alias("comp"))
    for _ in range(CC_MAX_ITERS):
        nbr = edges.join(labels, edges["src"] == labels["doc_id"]).select(
            F.col("dst").alias("doc_id"), "comp"
        )
        new = (
            labels.withColumn("own", F.col("comp"))
            .unionByName(nbr, allowMissingColumns=True)
            .groupBy("doc_id")
            .agg(F.min("comp").alias("comp"), F.min("own").alias("own"))
        )
        probe = Observation()
        # checkpoint BEFORE the self-join: cuts the per-round lineage,
        # materializes the aggregate once (the join reads it twice) and
        # delivers the probe
        new = _ckpt(new.observe(
            probe, F.count_if(F.col("comp") < F.col("own")).alias("changed")))
        if probe.get["changed"] == 0:
            return labels
        # pointer jumping: comp ← comp[comp] (comp values are doc_ids, so
        # the self-join always hits). Halves the remaining diameter every
        # round — convergence in O(log diameter) rounds, so the iteration
        # cap covers chains of length 2^CC_MAX_ITERS, not CC_MAX_ITERS.
        # (right side column-renamed, not alias()ed: fresh attribute ids —
        # localCheckpoint of an alias self-join trips an analyzer
        # NoSuchElementException on shared ids in Spark 4.1)
        right = new.select(F.col("doc_id").alias("jid"),
                           F.col("comp").alias("jcomp"))
        # materialize the jumped labels too: the next round's edge join
        # AND its union both read this frame
        labels = _ckpt(
            new.join(right, F.col("comp") == F.col("jid"))
            .select("doc_id", F.col("jcomp").alias("comp"))
        )
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ITERS} rounds")


# ---------------------------------------------------------------- simhash
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over whitespace tokens (occurrence-weighted):
    per-bit majority vote of token-hash bits.

    Scale shape (round-5 rewrite): ONE token explode and ONE shuffle —
    the 32 per-bit votes ride as 32 partial-aggregatable sum columns on
    the doc_id groupBy (each combines map-side), and the final hash is a
    pure projection over the vote row. The previous spelling exploded a
    bit index per token: its (doc_id, bit) partial agg still combined
    map-side, but the 32× row blowup ran through the whole map-side
    pipeline and a SECOND per-doc shuffle followed — one exchange and no
    intermediate blowup is strictly the better plan (executed plan
    pinned at one Exchange). Values are identical (same votes, same
    majority, same bit weights), so the DuckDB oracle is unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    v = toks.select("doc_id", _md5_int(F.col("tok")).alias("v"))
    votes = v.groupBy("doc_id").agg(*[
        F.sum(
            F.when(F.expr(f"(v >> {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"vote{b}")
        for b in range(SIM_BITS)
    ])
    hash_col = None
    for b in range(SIM_BITS):
        term = F.when(F.col(f"vote{b}") > 0,
                      F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        hash_col = term if hash_col is None else hash_col + term
    return votes.select("doc_id", hash_col.alias("simhash"))


# ------------------------------------------------- corpus-level line dedup
LINE_TOKENS = 3               # tokens per derived line (corpus has no \n)


def line_dedup_corpus_df(docs: DataFrame) -> DataFrame:
    """Cross-CORPUS line-level deduplication (RefinedWeb §3.4 / CCNet
    shape): every line that appears anywhere earlier in the corpus is
    removed, keeping only its FIRST occurrence in the (doc_id, seq)
    total order; each document is then reassembled from its surviving
    lines in original order. Returns per-doc
    (doc_id, n_lines, n_kept, kept_md5) where kept_md5 fingerprints the
    newline-rejoined surviving text.

    The corpus text is newline-free, so lines are derived
    deterministically first — '\\n' inserted every LINE_TOKENS tokens via
    the same regex chunker the C4 sentence gate uses, which makes the
    dedup REAL on this corpus (~19% of line occurrences are cross-doc
    duplicates at sf0.01).

    Scale shape — the one that survives boilerplate skew: first-occurrence
    selection is a ``min(struct(doc_id, seq, line))`` GROUP BY on the line
    hash, i.e. a map-side-combinable partial aggregation, NOT a
    ``row_number() OVER (PARTITION BY hash)`` window. At crawl scale the
    hot keys are exactly the boilerplate lines ("Share on Facebook" ×10⁹):
    a window funnels each hot hash through one task's sort, while the
    partial agg collapses every map partition's occurrences to one row
    before the exchange, so the shuffle carries one row per distinct line
    per map task regardless of skew. Reassembly and the per-doc totals are
    two narrow per-doc aggregations joined at the end — the fat line text
    crosses the wire once (inside the min-struct), never in a join
    payload. Three shuffles total (line-hash agg, two doc_id aggs), all
    partial-agg; no window, no skew cliff."""
    line_re = r"((?:\S+ ){%d}\S+) " % (LINE_TOKENS - 1)
    lined = F.regexp_replace(F.col("text"), line_re, "$1\n")
    lines = docs.select(
        "doc_id", F.posexplode(F.split(lined, "\n")).alias("seq", "line")
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"))
    firsts = (
        lines.groupBy(F.md5("line").alias("h"))
        .agg(F.min(F.struct("doc_id", "seq", "line")).alias("first"))
        .select(F.col("first.doc_id").alias("doc_id"),
                F.col("first.seq").alias("seq"),
                F.col("first.line").alias("line"))
    )
    kept = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(F.concat_ws("\n", F.transform(
            F.array_sort(F.collect_list(F.struct("seq", "line"))),
            lambda s: s["line"]))).alias("kept_md5"),
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id", "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
    )


def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_dedup_corpus_df over the driver documents table (oracle
    slot)."""
    return line_dedup_corpus_df(load_table(spark, sf_dir, "documents"))


def _mh_min_sql(j: int) -> str:
    return f"min(({_MH_A[j]} * v + {_MH_B_[j]}) % {MH_P}) AS s{j}"


_SHINGLE_CTE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {SH_N}
    ), sh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - {SH_N - 2})) AS i) r
    ), hv AS (
        SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS v FROM sh
    )
"""

_SIG_SQL = (
    _SHINGLE_CTE
    + "SELECT doc_id, "
    + ", ".join(_mh_min_sql(j) for j in range(MH_K))
    + " FROM hv GROUP BY doc_id"
)

_BAND_COND = " OR ".join(
    "(" + " AND ".join(f"a.s{b * MH_R + r} = b.s{b * MH_R + r}" for r in range(MH_R)) + ")"
    for b in range(MH_B)
)

_LINE_CTE = rf"""
    WITH lines AS (
        SELECT doc_id, generate_subscripts(l, 1) - 1 AS seq, unnest(l) AS line
        FROM (SELECT doc_id,
                     string_split(regexp_replace(text,
                         '((?:\S+ ){{{LINE_TOKENS - 1}}}\S+) ',
                         '\1' || chr(10), 'g'), chr(10)) AS l
              FROM documents)
    )
"""

ORACLES = {
    "line_dedup_corpus": _LINE_CTE + """
        , marked AS (
            SELECT doc_id, seq, line,
                   row_number() OVER (PARTITION BY md5(line)
                                      ORDER BY doc_id, seq) AS rn
            FROM lines
        ), totals AS (
            SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
        ), kept AS (
            SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(line, chr(10) ORDER BY seq)) AS kept_md5
            FROM marked WHERE rn = 1 GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_lines,
               coalesce(k.n_kept, 0) AS n_kept,
               coalesce(k.kept_md5, md5('')) AS kept_md5
        FROM totals t LEFT JOIN kept k USING (doc_id)
    """,
    "dedup_exact": r"""
        SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
               count(*) AS n_docs, min(doc_id) AS keeper
        FROM documents GROUP BY 1
    """,
    "minhash_signature": _SIG_SQL,
    "minhash_lsh_pairs": f"""
        WITH sig AS ({_SIG_SQL})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id AND ({_BAND_COND})
    """,
    "simhash": f"""
        WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok
            FROM documents
        ), hv AS (
            SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS v FROM tok
        ), bits AS (
            SELECT doc_id, b.b AS b,
                   CASE WHEN (v >> b.b) & 1 = 1 THEN 1 ELSE -1 END AS c
            FROM hv, LATERAL (SELECT unnest(range({SIM_BITS})) AS b) b
        ), votes AS (
            SELECT doc_id, b, sum(c) AS vote FROM bits GROUP BY doc_id, b
        )
        SELECT doc_id,
               -- CAST: DuckDB sum(BIGINT) returns HUGEINT; values equal
               -- Spark's but the driver hashes the int128 differently
               CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    """,
    # connected components via recursive reachability: comp(doc) = min
    # doc_id reachable over the (bidirectional) LSH candidate edges
    "dedup_clusters": f"""
        WITH RECURSIVE sig AS ({_SIG_SQL}
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b
              ON a.doc_id < b.doc_id AND ({_BAND_COND})
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ), reach(doc_id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.doc_id, e.dst
            FROM reach JOIN edges e ON e.src = reach.r
        )
        SELECT doc_id, min(r) AS comp FROM reach GROUP BY doc_id
    """,
}

QUERIES = {
    "dedup_exact": dedup_exact,
    "minhash_signature": minhash_signature,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "dedup_clusters": dedup_clusters,
    "simhash": simhash,
    "line_dedup_corpus": line_dedup_corpus,
}
