"""The bucket-local pair kernels' one driver (:func:`map_buckets`, used by
similarity pair scoring and MinHash candidate enumeration), their
blocked upper-triangle pair enumeration and their shared mega-bucket
guard. A bucket of k members has k(k-1)/2 pairs; enumerating them whole
would allocate O(k²) at once on a skewed bucket, so blocks bound the
live window to ~``pair_block`` elements whatever k is (ADVICE r3;
round-4 review unified the two copies)."""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType

PAIR_BLOCK_ELEMS = 1 << 22   # ~32 MB of float64 live per block

# Mega-bucket guard (r4 verdict #1): blocked enumeration bounds a kernel's
# LIVE memory for any bucket size, but the pair OUTPUT of a k-member
# bucket is still k(k-1)/2 — an exact-duplicate flood that lands k ≫
# target-bucket-size members in one bucket emits O(k²) pairs from ANY
# bucket operator. The documented contract is "run dedup_exact first"
# (its one fingerprint shuffle collapses exact copies before
# shingling/banding); this guard makes a violation LOUD instead of
# silent. 4096 is 256× the LSH design bucket (LSH_TARGET_BUCKET=16) and
# ~8.4M pairs from a single bucket — far past anything a non-degenerate
# corpus produces.
MAX_BUCKET_MEMBERS = 4096


def check_bucket(k: int, cap: int, kind: str) -> None:
    """Admission check for one bucket of ``k`` members against ``cap``:
    raises with an actionable message, so the job fails loud. Runs
    inside Arrow kernels, so it must stay import-free."""
    if k > cap:
        raise ValueError(
            f"{kind} bucket has {k} members (> {cap}-member guard), i.e. "
            f"O(k^2)={k * (k - 1) // 2} pairs from one bucket. If exact "
            f"duplicates may exist, run dedup_exact first (the documented "
            f"contract); to cluster near-duplicates use dedup_clusters_df, "
            f"which enumerates no pairs and has no bucket cap."
        )


def guard_keyed_jvm(keyed, bucket_cols: list[str], cap: int, kind: str):
    """Mega-bucket guard for an all-JVM band self-join
    (similarity.lsh_candidate_pairs): a window count over the bucket key
    raises in-plan — raise_error fires on the first oversize row, failing
    the job with the same message shape as the kernel guard. The window
    repartitions by the same key the downstream self-join shuffles on, so
    no extra exchange shape is introduced."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cnt = F.count(F.lit(1)).over(Window.partitionBy(*bucket_cols))
    sized = keyed.withColumn("_bk_n", cnt)
    msg = F.format_string(
        f"{kind} bucket has %s members (> {cap}-member guard): run "
        f"dedup_exact first if exact copies may exist",
        F.col("_bk_n").cast("string"),
    )
    # raise_error lives INSIDE the filter predicate (CaseWhen branches are
    # lazy, and a predicate on the runtime window count can't be
    # constant-folded or pruned away — a tautology-plus-drop spelling
    # could be optimized out entirely)
    keep = (F.when(F.col("_bk_n") > F.lit(cap), F.raise_error(msg).isNull())
            .otherwise(F.lit(True)))
    return sized.where(keep).drop("_bk_n")


def block_triangles(k: int, pair_block: int):
    """Yield (s, e, tri) per row block for the pairs (i, j), i < j, over
    k members: rows [s, e) of the k×k grid and the boolean mask ``tri``
    of shape (e-s, k) selecting j > i. Callers turn ``tri`` (optionally
    AND-ed with their own keep predicate) into indices via np.nonzero;
    row indices come back block-local (add s for the global row)."""
    import numpy as np

    if k < 2:           # no pairs (and k=0 must not divide below) —
        return          # production buckets are size>=2-filtered anyway
    jj = np.arange(k)
    bs = max(16, pair_block // k)
    for s in range(0, k, bs):
        e = min(s + bs, k)
        yield s, e, jj[None, :] > np.arange(s, e)[:, None]


# Output rows buffered before the driver yields a batch (ADVICE r4).
FLUSH_ROWS = 1 << 16


def _walk_buckets(batches, schema, kind, unpack, emit, cap, pair_block):
    """Each batch's ``members`` buckets, walked by list offsets over the
    numpy columns ``unpack`` makes of the flat member values. The buffer
    is checked after every block ``emit`` yields, so neither one skewed
    bucket nor many small ones pool more than ~FLUSH_ROWS rows."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(schema)
    buf, n_buf = [], 0

    def flush():
        return pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(col), f.type)
             for col, f in zip(zip(*buf), schema)], schema=schema)

    for batch in batches:
        members = batch.column("members")
        offsets = members.offsets.to_numpy().tolist()
        cols = unpack(members.values)
        for s, e in zip(offsets[:-1], offsets[1:]):
            check_bucket(e - s, cap, kind)
            for out in emit(*(c[s:e] for c in cols), pair_block):
                buf.append(out)
                n_buf += len(out[0])
                if n_buf >= FLUSH_ROWS:
                    yield flush()
                    buf, n_buf = [], 0
    if buf:
        yield flush()


def map_buckets(buckets: DataFrame, kind: str, unpack, emit,
                schema: StructType) -> DataFrame:
    """The pairs of every bucket in ``buckets.members`` (a list column),
    one ``mapInArrow`` stage typed by ``schema``: each bucket passes
    :func:`check_bucket`, then ``emit(*bucket, pair_block)`` yields its
    pair columns block by block, a bucket being a slice of the numpy
    columns ``unpack`` makes of one batch's member values. The cap and
    the block size are read when the plan is built."""
    from ocr_award_extractor_spark.functions.batching import arrow_stage

    return arrow_stage(buckets, _walk_buckets, schema, emit.__name__,
                       kind=kind, unpack=unpack, emit=emit,
                       cap=MAX_BUCKET_MEMBERS, pair_block=PAIR_BLOCK_ELEMS)
