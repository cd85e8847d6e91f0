"""Similarity search over an embedding column (array<float>).

* brute-force cosine scoring / top-k — the correctness baseline;
* all-pairs near-duplicate detection above a cosine threshold;
* random-hyperplane LSH bucket assignment and bucket-local near-dup
  scoring — the scale path (bucketed candidates instead of the O(n²)
  cross join).

Determinism contract: embeddings are QUANTIZED to int64 (round(x·10⁴))
before any arithmetic, dot products and norms are exact integer sums, and
the final cosine is the same IEEE divide/sqrt on both engines — so the
DuckDB oracles match bit-for-bit, including threshold predicates and
top-k cut lines (no float tolerance needed anywhere).

Scale notes (100 TB / 10⁹ vectors): the brute-force scorer broadcasts the
query vector (no shuffle); near-dup pairs must NOT be a cross join at
scale — lsh_neardup_pairs ships each vector with its band keys through one
shuffle into (band, bucket) groups and scores every bucket inside an Arrow
kernel, with no driver state (the cross-join spelling here is the
small-scale oracle baseline the bucketed path is validated against).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_award_extractor_spark.operators import pairblocks
from ocr_award_extractor_spark.sources.tables import load_table

QUANT = 10_000
DIM = 64
NEARDUP_THRESHOLD = 0.35
TOP_K = 10
IVF_K = 8  # coarse centroids; deterministic = embeddings of vec_id 0..K-1

# ---------------------------------------------------------------------------
# Random-hyperplane LSH with banded AND/OR amplification (the MinHash b×r
# scheme applied to sign bits — Charikar's SimHash planes, Leskovec et al.
# MMDS ch.3 banding): R planes per band AND together (bucket key = R sign
# bits), B bands OR together (a pair is a candidate if it collides in ANY
# band).
#
# Candidate-count math (why this survives scale-up, unlike a fixed bucket
# count): P(two vectors agree on one plane) = 1 - θ/π. A random pair
# (cos≈0 ⇒ p≈0.5) collides in a band w.p. ~2⁻ᴿ, so expected candidates ≈
# B·n²/2ᴿ⁺¹. Growing R with log₂(n) (lsh_params below) keeps per-band
# buckets at a CONSTANT size m=n/2ᴿ, so candidates grow ~B·n·m — linear in
# n times the (slowly growing) band count, not quadratic. A pair at the
# design threshold (cos=0.35 ⇒ p≈0.62) survives with recall
# 1-(1-pᴿ)ᴮ, which lsh_params holds at TARGET_RECALL by solving for B.
# Measured at sf0.01→sf0.1 (n 500→2000): candidates ×11.4 while n² ×16,
# recall flat at ~0.76 (see bench.py recall instrumentation).
#
# Weights are a deterministic 64-bit LCG (values in [-1000,1000]) — the
# literal integers are embedded in BOTH the Spark plan and the generated
# DuckDB oracle SQL, so the bucketed candidate set is exactly reproducible.
# (The round-1 affine formula (p·1009+d·917) mod 2001 produced strongly
# correlated planes — single-band collision fraction 20% vs the ~0.4% a
# random R=8 band gives; this LCG restores the independence the math
# above assumes.)
LSH_SEED = 0x5EED
LSH_BANDS = 15   # = lsh_params(500)[0]: the oracle gate runs at sf0.01
LSH_ROWS = 5     # = lsh_params(500)[1]
LSH_TARGET_BUCKET = 16
LSH_DESIGN_P = 0.62      # plane-agreement prob at NEARDUP_THRESHOLD=0.35
LSH_TARGET_RECALL = 0.75


def _lcg_weights(n_planes: int, dim: int = DIM, seed: int = LSH_SEED) -> list[list[int]]:
    """Deterministic hyperplane weights: a 64-bit LCG (Knuth MMIX
    constants), top bits reduced to [-1000, 1000]. Pure integer Python —
    identical on every interpreter, no RNG-module dependency."""
    s = seed
    out = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(int((s >> 33) % 2001) - 1000)
        out.append(row)
    return out


def lsh_params(n: int, design_p: float = LSH_DESIGN_P) -> tuple[int, int]:
    """(bands, rows) for a corpus of n vectors: rows R = log₂(n/m) keeps
    per-band buckets at m = LSH_TARGET_BUCKET vectors (candidates ~ B·n·m,
    sublinear in n²); bands B = ⌈ln(1-ρ)/ln(1-pᴿ)⌉ holds recall
    ρ = LSH_TARGET_RECALL at the design plane-agreement p = ``design_p``."""
    import math

    rows = max(4, math.ceil(math.log2(max(2.0, n / LSH_TARGET_BUCKET))))
    band_miss = 1.0 - design_p ** rows
    bands = max(2, math.ceil(
        math.log(1.0 - LSH_TARGET_RECALL) / math.log(band_miss)))
    return bands, rows


LSH_WEIGHTS = _lcg_weights(LSH_BANDS * LSH_ROWS)


def _corpus_lsh_params(sf_dir: str) -> tuple[int, int]:
    """(bands, rows) for the corpus at sf_dir, sized from the parquet
    FOOTER row counts (a metadata read — no Spark job at plan-build time;
    the table may be one file or a Spark-written directory of parts).
    At the driver's sf0.01 oracle gate n=500 ⇒ exactly (LSH_BANDS,
    LSH_ROWS), matching the static oracle SQL; at larger scale factors the
    same queries() entry gets log(n)-grown planes — the property that
    keeps candidates sublinear in n²."""
    import os

    import pyarrow.dataset as ds

    n = ds.dataset(os.path.join(sf_dir, "embeddings.parquet"),
                   format="parquet").count_rows()
    return lsh_params(n)


def _quant(col):
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT, 0).cast("long"))


def _dot(a, b):
    """Exact integer dot product via the higher-order aggregate. (An
    explicit 64-term element_at sum was measured SLOWER here — the
    expanded expressions blow up the generated code past JIT limits; the
    HOF form stays compact and the lambda loop is array-local.)"""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )


def _norm2(a):
    return _dot(a, a)


def _cosine(a, b):
    """Zero-safe cosine of two quantized vectors. The norm product is in
    DOUBLE (each factor < 2⁵³ ⇒ exact, one rounding either way): immune
    to int64 overflow, bit-equal otherwise. try_divide gives a zero-norm
    vector cosine NULL (DuckDB's double 0/0 is NULL too) instead of an
    ANSI DIVIDE_BY_ZERO error."""
    return F.try_divide(_dot(a, b).cast("double"), F.sqrt(
        _norm2(a).cast("double") * _norm2(b).cast("double")))


def _with_query(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") == 0)
        .select(_quant(F.col("embedding")).alias("qv"))
    )
    scored = (
        # quantize ONCE in a pre-projection: _dot/_norm2 expand to 64
        # element_at terms, which must read a materialized array, not
        # re-run the quantizing transform per term
        emb.select("vec_id", "label", _quant(F.col("embedding")).alias("qe"))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "label",
            _dot(F.col("qe"), F.col("qv")).alias("dot_q"),
            _norm2(F.col("qe")).alias("n2_self"),
            _norm2(F.col("qv")).alias("n2_query"),
        )
    )
    # _cosine spelled over the precomputed columns (dot_q is an output)
    cos = F.try_divide(F.col("dot_q").cast("double"), F.sqrt(
        F.col("n2_self").cast("double") * F.col("n2_query").cast("double")
    ))
    return scored.select("vec_id", "label", "dot_q", cos.alias("cos_sim"))


def cosine_to_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine of every vector to the query vector (vec_id=0): broadcast
    join, zero shuffle, whole-stage-codegen arithmetic."""
    return _with_query(spark, sf_dir)


def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k by cosine (tie-break vec_id asc) — TopK sort over
    the broadcast-scored scan; Spark plans this as TakeOrderedAndProject
    (per-partition heap + driver merge), no full sort."""
    scored = _with_query(spark, sf_dir).where(F.col("vec_id") != 0)
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()).limit(TOP_K)


def cosine_topk_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cosine_to_query`` + ``ann_topk_cosine`` folded into ONE driver
    seat (round 6 — the freed seat went to linkgraph.page_outlinks):
    every vector's cosine to the query vector PLUS its brute-force top-k
    rank (NULL outside the top k, computed excluding the query vector
    itself). The top-k subquery keeps the TakeOrderedAndProject shape
    (plan-pinned on the standalone operator in tests/test_plan_quality.py)
    and rejoins as a TOP_K-row broadcast — the merged slot stays
    broadcast-join + scan shaped; no global sort is introduced."""
    from pyspark.sql import Window

    scored = _with_query(spark, sf_dir)
    order = [F.col("cos_sim").desc(), F.col("vec_id").asc()]
    topk = (
        scored.where(F.col("vec_id") != 0)
        .orderBy(*order).limit(TOP_K)
        .select("vec_id",
                F.row_number().over(Window.orderBy(*order))
                .cast("int").alias("topk_rank"))
    )
    return scored.join(F.broadcast(topk), "vec_id", "left")


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs near-dup baseline: pairs with cosine ≥ threshold. The
    threshold predicate is exact (quantized ints → identical doubles)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quant(F.col("embedding")).alias("qe")
    )
    a = emb.select(F.col("vec_id").alias("va"), F.col("qe").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("qe").alias("eb"))
    pairs = a.join(b, F.col("va") < F.col("vb"))
    # zero-norm vectors get cosine NULL, which the threshold drops —
    # excluded on every engine
    cos = _cosine(F.col("ea"), F.col("eb"))
    return (
        pairs.select("va", "vb", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= NEARDUP_THRESHOLD)
    )


def _band_key_batches(batches, schema, W, bands, rows, carry):
    """The band-key kernel over Arrow batches: one exact int64 matmul of
    the batch's (m, DIM) ``qe`` view gives every sign bit, and each
    ``carry`` column is repeated ``bands`` times by an Arrow ``take``
    (type and NULLs kept)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(schema)
    pack = np.int64(1) << np.arange(rows, dtype=np.int64)
    for batch in batches:
        m = batch.num_rows
        E = batch.column("qe").flatten().to_numpy().reshape(m, DIM)
        keys = (E @ W.T > 0).astype(np.int64).reshape(m, bands, rows) @ pack
        each = pa.array(np.repeat(np.arange(m), bands))
        cols = {c: batch.column(c).take(each) for c in carry}
        cols["band"] = pa.array(np.tile(np.arange(bands, dtype=np.int32), m))
        cols["key"] = pa.array(keys.ravel())
        yield pa.RecordBatch.from_arrays([cols[f.name] for f in schema],
                                         schema=schema)


def lsh_band_keys(emb_q: DataFrame, bands: int = LSH_BANDS,
                  rows: int = LSH_ROWS,
                  passthrough: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id, band, key) for any (vec_id, qe) frame: sign bit per plane,
    R bits packed into the band's bucket key. ``passthrough`` names input
    columns copied onto every emitted row map-side with their own types,
    so a caller that needs them alongside the keys (the label, or ``qe``
    itself for the shuffled-vectors scorer) does not re-scan the table
    and re-join on vec_id.

    Arrow-batched numpy kernel: the whole batch's sign bits are ONE exact
    int64 matmul (E @ Wᵀ > 0; |e|≤10⁴·|w|≤10³·64 dims keeps every product
    far inside int64) — per-vector cost B·R·DIM multiply-adds vectorized
    in C instead of B·R interpreted higher-order-function dots per row
    (measured ~3.1 s → ~0.2 s for 2000×273 planes). Scale shape: pure
    map-side — each input partition emits its own n·B (vec_id, band, key)
    rows, NO shuffle until the band self-join. Sign-of-integer-dot is
    engine-independent, so the DuckDB oracle reproduces the keys
    bit-for-bit."""
    import numpy as np
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from ocr_award_extractor_spark.functions.batching import arrow_stage

    weights = (LSH_WEIGHTS if (bands, rows) == (LSH_BANDS, LSH_ROWS)
               else _lcg_weights(bands * rows))
    schema = StructType([emb_q.schema["vec_id"],
                         StructField("band", IntegerType()),
                         StructField("key", LongType()),
                         *(emb_q.schema[c] for c in passthrough)])
    return arrow_stage(emb_q, _band_key_batches, schema, "lsh_band_keys",
                       W=np.array(weights, dtype=np.int64),   # (B·R, DIM)
                       bands=bands, rows=rows, carry=("vec_id", *passthrough))


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded random-hyperplane LSH bucket assignment: one (band, bucket)
    row per vector per band. At scale, near-dup search joins within
    (band, bucket) instead of all-pairs."""
    # the oracle's vec_id join drops NULL ids; no join here, so say it
    emb = (load_table(spark, sf_dir, "embeddings")
           .where(F.col("vec_id").isNotNull())
           .select("vec_id", _quant(F.col("embedding")).alias("qe"), "label"))
    bands, rows = _corpus_lsh_params(sf_dir)
    # label rides through the kernel map-side (passthrough) instead of a
    # second embeddings scan + vec_id re-join: 2 scans + BroadcastExchange
    # + BHJ -> 1 scan, 0 joins (guide §2 — remove the shuffle outright)
    keys = lsh_band_keys(emb, bands, rows, passthrough=("label",))
    return keys.select(
        "vec_id", "label", F.col("band").cast("long").alias("band"),
        F.col("key").alias("bucket"))


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str,
                        bands: int | None = None,
                        rows: int | None = None) -> DataFrame:
    """Distinct banded-LSH candidate (va, vb) pairs — the pre-scoring
    stage, exposed separately so bench.py can log candidate counts (the
    sublinearity evidence) without scoring. The band self-join moves ONLY
    (vec_id, band, key) — 24 bytes/row, never the vectors. The same
    mega-bucket guard as the scoring kernel runs JVM-side on the keys
    (an in-plan raise) before the self-join can square an oversize
    bucket."""
    if bands is None or rows is None:
        bands, rows = _corpus_lsh_params(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quant(F.col("embedding")).alias("qe")
    )
    keys = pairblocks.guard_keyed_jvm(
        lsh_band_keys(emb, bands, rows), ["band", "key"],
        pairblocks.MAX_BUCKET_MEMBERS, "LSH band")
    a = keys.select(F.col("band").alias("ba"), F.col("key").alias("ka"),
                    F.col("vec_id").alias("va"))
    b = keys.select(F.col("band").alias("bb"), F.col("key").alias("kb"),
                    F.col("vec_id").alias("vb"))
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("ka") == F.col("kb"))
               & (F.col("va") < F.col("vb")))
        .select("va", "vb")
        .distinct()
    )


def _ids_and_vectors(values):
    """A bucket batch's flat (vec_id, qe) members as numpy views: the
    ids (n,) and their (n, DIM) int64 quantized vectors."""
    qe = values.field("qe")
    return (values.field("vec_id").to_numpy(),
            qe.flatten().to_numpy().reshape(len(qe), DIM))


def _score_one_bucket(ids, vecs, pair_block):
    """Blocked ≥threshold pair scoring for ONE bucket of ``ids`` (k,) and
    their (k, DIM) int64 quantized ``vecs``: yields (va, vb, cos)
    survivor arrays per block. The kernel-side half of the arithmetic
    parity contract (see lsh_neardup_pairs docstring); blocks bound
    live memory to ~pair_block floats for any bucket size."""
    import numpy as np

    order = np.argsort(ids)
    m, sub = ids[order], vecs[order]
    # float64 is exact here: every norm² < 2⁵³ (|q|≤~10⁴, 64 dims ⇒
    # ≤ 6.4·10⁹), and taking the PRODUCT in float matches the
    # JVM/DuckDB double-multiply spelling
    norms = np.einsum("ij,ij->i", sub, sub).astype(np.float64)
    for s0, e, tri in pairblocks.block_triangles(len(m), pair_block):
        G = sub[s0:e] @ sub.T                     # exact int64 dots
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (G.astype(np.float64)
                   / np.sqrt(norms[s0:e, None] * norms[None, :]))
        # NaN (zero-norm member) fails >= — excluded, like the join
        # reference's try_divide NULL / DuckDB's NULL
        keep = (cos >= NEARDUP_THRESHOLD) & tri
        ri, rj = np.nonzero(keep)
        if len(ri):
            yield m[ri + s0], m[rj], cos[ri, rj]  # m sorted ⇒ va < vb


def lsh_neardup_pairs(spark: SparkSession, sf_dir: str,
                      bands: int | None = None,
                      rows: int | None = None) -> DataFrame:
    """The scale path: near-dup pairs restricted to banded-LSH candidates
    (recall ~LSH_TARGET_RECALL at the design threshold by construction;
    measured against the brute-force baseline in bench.py), scored
    bucket-locally with the vectors riding the band shuffle — the
    10⁹-vector production shape: (vec_id, qe) structs collect per
    (band, key) bucket in ONE shuffle of B×n rows at ~540 B each (vector
    + key), every intra-bucket pair is enumerated AND scored inside the
    Arrow kernel (pairblocks.map_buckets; per-bucket G = A·Aᵀ int64
    matmul over ~target-bucket-size members, read as numpy views of the
    batch), and only ≥threshold survivors cross Arrow out, deduped
    across bands by the tiny final distinct. There is NO driver state at
    any corpus size and candidate pairs never materialize in the plan.
    Per-bucket executor memory is O(m·dim), which lsh_params pins at
    E[m] = LSH_TARGET_BUCKET.

    Arithmetic parity with the all-JVM join reference
    (tests/oracle_spellings.py — distinct candidates, two vector-fetch
    joins, the HOF cosine; pinned row for row, cos doubles included, by
    tests/test_plan_quality.py::test_lsh_spellings_bit_equal) and the
    DuckDB oracle: the kernel scores the JVM-quantized ``qe`` values
    (NOT re-quantized — numpy's half-even round differs from Spark's
    HALF_UP on exact ties), dots/norms are exact int64, the norm product
    is taken in float64 on all three engines (each norm² < 2⁵³ is
    exactly representable, so the product rounds once either way), and
    the final divide/sqrt is the identical IEEE sequence — bit-equal
    results. A zero-norm (all-zero quantized) vector has UNDEFINED
    cosine, and the parity contract EXCLUDES such pairs on every engine:
    numpy's 0/0 is NaN which ``>=`` drops, Spark's ``try_divide`` yields
    NULL (a bare ``/`` would throw DIVIDE_BY_ZERO under Spark 4's default
    ANSI mode), and DuckDB's double 0/0 is NULL; both NULLs fail the
    threshold (pinned by
    tests/test_trainingdata_ops.py::test_lsh_zero_norm_parity).

    Mega-bucket guard (ENFORCED, r4 verdict #1): a bucket of k members
    implies k(k-1)/2 pairs; buckets past pairblocks.MAX_BUCKET_MEMBERS
    (256× the design bucket) fail the job with an actionable "run
    dedup_exact first" error. Pinned by
    tests/test_trainingdata_ops.py::test_mega_bucket_guard*."""
    from pyspark.sql.types import StructType

    # the join reference and the oracle drop NULL ids in their joins; the
    # kernel's int64 id array cannot hold one, so drop them before it
    emb = (load_table(spark, sf_dir, "embeddings")
           .where(F.col("vec_id").isNotNull())
           .select("vec_id", _quant(F.col("embedding")).alias("qe")))
    if bands is None or rows is None:
        bands, rows = _corpus_lsh_params(sf_dir)
    keys = lsh_band_keys(emb, bands, rows, passthrough=("qe",))
    buckets = (
        keys.groupBy("band", "key")
        .agg(F.collect_list(F.struct("vec_id", "qe")).alias("members"))
        .where(F.size("members") >= 2)
        .select("members")
    )
    schema = StructType.fromDDL("va BIGINT, vb BIGINT, cos_sim DOUBLE")
    return (
        pairblocks.map_buckets(buckets, "LSH score", _ids_and_vectors,
                               _score_one_bucket, schema)
        .distinct()                  # collapse multi-band duplicates
    )


def _assign_to_centroids(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid argmax for any (vec_id, label, qe) frame, by
    cosine with tie-break centroid id asc — the IVF coarse quantizer's
    assignment. Scale shape: centroids broadcast (no shuffle to score),
    argmax via groupBy + max(struct), which plans as a two-phase
    SortAggregate with partial_max BELOW the exchange, so the shuffle
    carries one row per vec_id (never IVF_K candidates, never a window
    sort)."""
    cos_c = _cosine(F.col("qe"), F.col("cv"))
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", cos_c.alias("cos_c"), "cid"
    )
    # maximize (cos_c, -cid): struct-max ⇒ partial-aggregatable argmax
    best = scored.groupBy("vec_id", "label").agg(
        F.max(F.struct(F.col("cos_c").alias("c"),
                       (-F.col("cid")).alias("neg_cid"))).alias("b")
    )
    return best.select(
        "vec_id", "label", (-F.col("b.neg_cid")).cast("long").alias("centroid")
    )


def _emb_and_centroids(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _quant(F.col("embedding")).alias("qe")
    )
    cent = emb.where(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("qe").alias("cv")
    )
    return emb, cent


def ivf_train_centroids_df(emb: DataFrame, k: int = IVF_K,
                           n_iter: int = 5) -> DataFrame:
    """Spherical k-means for the IVF coarse quantizer, pure DataFrame
    ops (no MLlib, no Python UDFs). Init = the first ``k`` vec_ids (the
    same deterministic seed `_emb_and_centroids` uses); per iteration:

    * ASSIGN — centroids broadcast, cosine argmax via the partial-agg
      struct-max (``qe`` rides inside the struct, so assignment and
      vector need no second join): one shuffle of one row per vector;
    * UPDATE — element-wise mean via DIM exact-int64 partial-agg sums
      (one shuffle row per centroid; the simhash many-agg-exprs pattern),
      re-quantized to the int grid with round(sum/n). Cosine is
      scale-invariant, so the plain mean IS the spherical-k-means mean
      direction — no renormalization needed. Empty clusters keep their
      previous centroid.

    Centroids are collected to the driver between iterations (k×DIM
    int64s — tiny by construction) so the plan stays one-pass-per-
    iteration instead of exponentially nesting; that is also the
    production shape at 10⁹ vectors, where only the k-row centroid table
    ever leaves the cluster. Deterministic across runs/partitionings:
    exact int sums, unique argmax tie-break, no floating accumulation
    order. Returns (cid long, cv array<long>)."""
    spark = emb.sparkSession
    cent_rows = [(int(r["cid"]), list(r["cv"])) for r in
                 emb.where(F.col("vec_id") < k)
                 .select(F.col("vec_id").alias("cid"),
                         F.col("qe").alias("cv")).collect()]
    dim = len(cent_rows[0][1]) if cent_rows else DIM

    def as_df(rows):
        return spark.createDataFrame(rows, "cid long, cv array<long>")

    for _ in range(n_iter):
        cent = as_df(cent_rows)
        cos_c = _cosine(F.col("qe"), F.col("cv"))
        scored = emb.crossJoin(F.broadcast(cent)).select(
            "vec_id", "qe", cos_c.alias("cos_c"), "cid")
        best = scored.groupBy("vec_id").agg(
            F.max(F.struct(F.col("cos_c").alias("c"),
                           (-F.col("cid")).alias("neg_cid"),
                           F.col("qe").alias("qe"))).alias("b"))
        assigned = best.select(
            (-F.col("b.neg_cid")).cast("long").alias("cid"),
            F.col("b.qe").alias("qe"))
        sums = assigned.groupBy("cid").agg(
            F.count("*").alias("n"),
            *[F.sum(F.element_at("qe", i + 1)).alias(f"s{i}")
              for i in range(dim)])
        new = {int(r["cid"]): [int(round(r[f"s{i}"] / r["n"]))
                               for i in range(dim)]
               for r in sums.collect()}
        # a mean that rounds to the all-zero vector has no direction:
        # its cosine is NULL to everything next iteration, permanently
        # starving the centroid — treat it like an empty cluster and
        # keep the previous value instead
        new = {cid: cv for cid, cv in new.items() if any(cv)}
        cent_rows = [(cid, new.get(cid, cv)) for cid, cv in cent_rows]
    return as_df(cent_rows)


def ivf_topk_cosine(spark: SparkSession, sf_dir: str,
                    nprobe: int = 1,
                    centroids: DataFrame | None = None) -> DataFrame:
    """IVF probe: top-k by cosine to the query (vec_id=0) scanning ONLY
    the clusters of the query's ``nprobe`` nearest centroids — the scale
    path vs the brute-force ann_topk_cosine baseline. Deterministic, so
    the DuckDB oracle reproduces the exact candidate set and cut line at
    the default nprobe=1; recall recovery at nprobe ∈ {1,2,4} is measured
    in bench.py (the r3 caveat: nprobe=1 overlap fell to 0.4 on the
    near-dup-saturated x4 corpus — more probes buy it back for a
    proportional, still cluster-pruned, scan cost)."""
    # the probe set only needs the query row scored against the K
    # centroids (1×K, not N×K) — computing it separately means the full
    # assignment subtree appears exactly ONCE in the returned plan, with
    # no cache to leak into the session (at 10⁹ vectors the assignment is
    # a materialized table bucketed by centroid instead)
    emb, cent = _emb_and_centroids(spark, sf_dir)
    if centroids is not None:   # e.g. ivf_train_centroids_df output; the
        cent = centroids        # default stays the closed-form oracle seed
    q = emb.where(F.col("vec_id") == 0)
    cos_c = _cosine(F.col("qe"), F.col("cv"))
    # rank the K query→centroid scores, keep the top nprobe (at nprobe=1
    # this is exactly the argmax _assign_to_centroids computes)
    qcent = (
        q.crossJoin(F.broadcast(cent))
        .select(cos_c.alias("cos_c"), "cid")
        .orderBy(F.col("cos_c").desc(), F.col("cid").asc())
        .limit(nprobe)
        .select(F.col("cid").alias("qc"))
    )
    assigned = _assign_to_centroids(emb, cent)
    cand = (
        assigned.join(F.broadcast(qcent), F.col("centroid") == F.col("qc"))
        .where(F.col("vec_id") != 0)
        .select("vec_id", "centroid")
    )
    scored = _with_query(spark, sf_dir).join(cand, "vec_id")
    return (
        scored.select("vec_id", "label", "centroid", "dot_q", "cos_sim")
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


def embedding_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-side dedup clusters: connected components over the
    bucketed cosine near-dup pairs (component id = min vec_id = keeper) —
    the same keep-one-per-group step as the text-side dedup_clusters,
    sharing its pointer-jumping propagation."""
    from ocr_award_extractor_spark.operators.dedup import connected_components

    pairs = lsh_neardup_pairs(spark, sf_dir)
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id")
    edges = pairs.selectExpr("va AS src", "vb AS dst").union(
        pairs.selectExpr("vb AS src", "va AS dst")
    )
    return connected_components(
        vecs.withColumnRenamed("vec_id", "doc_id"), edges
    ).withColumnRenamed("doc_id", "vec_id")


# ------------------------------------------------------------------ oracles
_Q_CTE = f"""
    WITH qv AS (
        SELECT list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS q
        FROM embeddings WHERE vec_id = 0
    ), ev AS (
        SELECT vec_id, label,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS e
        FROM embeddings
    ), scored AS (
        SELECT vec_id, label,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [e[i] * q[i] FOR i IN range(1, {DIM} + 1)]), (a, b) -> a + b) AS dot_q,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [e[i] * e[i] FOR i IN range(1, {DIM} + 1)]), (a, b) -> a + b) AS n2_self,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [q[i] * q[i] FOR i IN range(1, {DIM} + 1)]), (a, b) -> a + b) AS n2_query
        FROM ev, qv
    )
"""

_PAIR_CTE = f"""
    WITH ev AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS e
        FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [a.e[i] * b.e[i] FOR i IN range(1, {DIM} + 1)]), (x, y) -> x + y) AS dot_ab,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [a.e[i] * a.e[i] FOR i IN range(1, {DIM} + 1)]), (x, y) -> x + y) AS n2_a,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [b.e[i] * b.e[i] FOR i IN range(1, {DIM} + 1)]), (x, y) -> x + y) AS n2_b
        FROM ev a JOIN ev b ON a.vec_id < b.vec_id
    )
"""


def _planes_values_sql(bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> str:
    """The hyperplane table as a VALUES literal — the SAME integers the
    Spark plan carries (generated from the shared LCG constants)."""
    weights = (LSH_WEIGHTS if (bands, rows) == (LSH_BANDS, LSH_ROWS)
               else _lcg_weights(bands * rows))
    vals = ", ".join(
        f"({b}, {r}, {weights[b * rows + r]})"
        for b in range(bands) for r in range(rows)
    )
    return f"(VALUES {vals}) p(band, idx, w)"


# (vec_id, band, key) — mirrors lsh_band_keys: sign bit per plane, R bits
# packed per band; CAST: DuckDB sum(BIGINT)→HUGEINT hashes driver-unsafe
def _keyed_cte_sql(bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> str:
    dot_ew = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[e.e[i] * p.w[i] FOR i IN range(1, {DIM} + 1)]), (x, y) -> x + y)"
    )
    return f"""
        keyed AS (
            SELECT e.vec_id, p.band,
                   CAST(sum(CASE WHEN {dot_ew} > 0
                            THEN (CAST(1 AS BIGINT) << p.idx) ELSE 0 END)
                        AS BIGINT) AS key
            FROM ev e, {_planes_values_sql(bands, rows)}
            GROUP BY e.vec_id, p.band
        )
    """


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[{a}[i] * {b}[i] FOR i IN range(1, {DIM} + 1)]), (x, y) -> x + y)"
    )


_IVF_ASSIGN_CTE = f"""
    WITH ev AS (
        SELECT vec_id, label,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS e
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, e AS c FROM ev WHERE vec_id < {IVF_K}
    ), sc AS (
        SELECT ev.vec_id, ev.label, ev.e, cent.cid,
               {_dot_sql("ev.e", "cent.c")} AS d,
               {_dot_sql("ev.e", "ev.e")} AS ne,
               {_dot_sql("cent.c", "cent.c")} AS nc
        FROM ev, cent
    ), asg AS (
        SELECT vec_id, label, e, cid,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY CAST(d AS DOUBLE) / sqrt(CAST(ne AS DOUBLE) * CAST(nc AS DOUBLE)) DESC,
                            cid ASC) AS rn
        FROM sc
    ), a1 AS (
        SELECT vec_id, label, e, cid FROM asg WHERE rn = 1
    )
"""


# shared bucketed-near-dup pair CTEs (lsh_neardup_pairs AND the clusters
# oracle compose from this — one spelling of the banded LSH/threshold
# logic, mirroring the Spark plan: band keys → distinct candidates →
# score each pair once)
def _lsh_pair_cte(bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> str:
    return f"""
        ev AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS e
            FROM embeddings
        ), {_keyed_cte_sql(bands, rows)}, cand AS (
            SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
            FROM keyed a JOIN keyed b
              ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
        ), pairs AS (
            SELECT c.va, c.vb,
                   {_dot_sql("ea.e", "eb.e")} AS dot_ab,
                   {_dot_sql("ea.e", "ea.e")} AS n2_a,
                   {_dot_sql("eb.e", "eb.e")} AS n2_b
            FROM cand c
            JOIN ev ea ON ea.vec_id = c.va
            JOIN ev eb ON eb.vec_id = c.vb
        ), neardup AS (
            SELECT va, vb,
                   CAST(dot_ab AS DOUBLE) / sqrt(CAST(n2_a AS DOUBLE) * CAST(n2_b AS DOUBLE)) AS cos_sim
            FROM pairs
            WHERE CAST(dot_ab AS DOUBLE) / sqrt(CAST(n2_a AS DOUBLE) * CAST(n2_b AS DOUBLE))
                  >= {NEARDUP_THRESHOLD}
        )
"""


_LSH_PAIR_CTE = _lsh_pair_cte()


def lsh_oracles(bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> dict[str, str]:
    """The three banded-LSH oracles for an explicit (bands, rows). The
    static ORACLES embed the gate-scale constants (== lsh_params(500),
    governance-pinned); check_oracles regenerates these per sf_dir via
    oracles_for_scale so scale-invariance stays verifiable at ANY sf even
    though the Spark side derives its parameters from the corpus size."""
    return {
        "lsh_buckets": f"""
            WITH ev AS (
                SELECT vec_id, label,
                       list_transform(embedding,
                                      x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS e
                FROM embeddings
            ), {_keyed_cte_sql(bands, rows)}
            SELECT ev.vec_id, ev.label, CAST(k.band AS BIGINT) AS band,
                   k.key AS bucket
            FROM ev JOIN keyed k ON k.vec_id = ev.vec_id
        """,
        "lsh_neardup_pairs": f"""
            WITH {_lsh_pair_cte(bands, rows)}
            SELECT va, vb, cos_sim FROM neardup
        """,
        "embedding_neardup_clusters": f"""
            WITH RECURSIVE {_lsh_pair_cte(bands, rows)}
            , edges AS (
                SELECT va AS src, vb AS dst FROM neardup
                UNION ALL
                SELECT vb AS src, va AS dst FROM neardup
            ), reach(vec_id, r) AS (
                SELECT vec_id, vec_id FROM embeddings
                UNION
                SELECT reach.vec_id, e.dst FROM reach JOIN edges e ON e.src = reach.r
            )
            SELECT vec_id, min(r) AS comp FROM reach GROUP BY vec_id
        """,
    }


def oracles_for_scale(sf_dir: str) -> dict[str, str]:
    """LSH oracles regenerated for the corpus at sf_dir (same derivation
    the Spark side uses)."""
    return lsh_oracles(*_corpus_lsh_params(sf_dir))

# cosine_to_query / ann_topk_cosine left the 50-seat driver registry in
# round 6 (merged into cosine_topk_profile; the seat went to
# linkgraph.page_outlinks). Their DuckDB parity stays pytest-enforced via
# these oracles (tests/test_trainingdata_ops.py), and both subtrees run
# verbatim inside the merged slot.
RETIRED_ORACLES = {
    "cosine_to_query": _Q_CTE + """
        SELECT vec_id, label, dot_q,
               CAST(dot_q AS DOUBLE) / sqrt(CAST(n2_self AS DOUBLE) * CAST(n2_query AS DOUBLE)) AS cos_sim
        FROM scored
    """,
    "ann_topk_cosine": _Q_CTE + f"""
        SELECT vec_id, label, dot_q,
               CAST(dot_q AS DOUBLE) / sqrt(CAST(n2_self AS DOUBLE) * CAST(n2_query AS DOUBLE)) AS cos_sim
        FROM scored WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id ASC LIMIT {TOP_K}
    """,
}

ORACLES = {
    "cosine_topk_profile": _Q_CTE + f"""
        , sc AS (
            SELECT vec_id, label, dot_q,
                   CAST(dot_q AS DOUBLE) / sqrt(CAST(n2_self AS DOUBLE) * CAST(n2_query AS DOUBLE)) AS cos_sim
            FROM scored
        ), topk AS (
            SELECT vec_id,
                   CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS topk_rank
            FROM sc WHERE vec_id <> 0
            ORDER BY cos_sim DESC, vec_id ASC LIMIT {TOP_K}
        )
        SELECT sc.vec_id, sc.label, sc.dot_q, sc.cos_sim, topk.topk_rank
        FROM sc LEFT JOIN topk USING (vec_id)
    """,
    "embedding_neardup_pairs": _PAIR_CTE + f"""
        SELECT va, vb,
               CAST(dot_ab AS DOUBLE) / sqrt(CAST(n2_a AS DOUBLE) * CAST(n2_b AS DOUBLE)) AS cos_sim
        FROM pairs
        WHERE CAST(dot_ab AS DOUBLE) / sqrt(CAST(n2_a AS DOUBLE) * CAST(n2_b AS DOUBLE)) >= {NEARDUP_THRESHOLD}
    """,
    # the bucketed scale path is itself deterministic (same hyperplanes
    # both sides), so the recall-bounded candidate set is exactly
    # reproducible — gate-scale constants here, per-sf via oracles_for_scale
    **lsh_oracles(),
    "ivf_topk_cosine": _IVF_ASSIGN_CTE + f"""
        , qq AS (
            SELECT e AS q, cid AS qcid FROM a1 WHERE vec_id = 0
        ), scored AS (
            SELECT a1.vec_id, a1.label, CAST(a1.cid AS BIGINT) AS centroid,
                   {_dot_sql("a1.e", "qq.q")} AS dot_q,
                   {_dot_sql("a1.e", "a1.e")} AS n2_self,
                   {_dot_sql("qq.q", "qq.q")} AS n2_query
            FROM a1, qq
            WHERE a1.cid = qq.qcid AND a1.vec_id <> 0
        )
        SELECT vec_id, label, centroid, dot_q,
               CAST(dot_q AS DOUBLE) / sqrt(CAST(n2_self AS DOUBLE) * CAST(n2_query AS DOUBLE)) AS cos_sim
        FROM scored
        ORDER BY cos_sim DESC, vec_id ASC LIMIT {TOP_K}
    """,
}

QUERIES = {
    "cosine_topk_profile": cosine_topk_profile,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "lsh_buckets": lsh_buckets,
    "lsh_neardup_pairs": lsh_neardup_pairs,
    "embedding_neardup_clusters": embedding_neardup_clusters,
    "ivf_topk_cosine": ivf_topk_cosine,
}
