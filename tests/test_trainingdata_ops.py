"""Semantic tests of the training-data operators on PLANTED data (the
driver tables have no known dups, so we synthesize a tiny documents table
with exact dups, near-dups, and unrelated docs)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "to the green hills beyond the old stone bridge near the river").split()

DOCS = [
    (0, " ".join(BASE), "en"),
    (1, " ".join(BASE), "en"),                                   # exact dup of 0
    (2, " ".join(BASE[:-2] + ["blue", "sea"]), "en"),            # near-dup of 0
    (3, "completely different words about spark query engines and shuffles "
        "with partitions and codegen stages everywhere all day long", "en"),
    (4, "short text", "en"),
]


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("planted")
    rows = [
        {"doc_id": i, "text": t, "lang": lg, "source": f"src{i}", "n_chars": len(t)}
        for i, t, lg in DOCS
    ]
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(d, "documents.parquet"))
    return str(d)


def test_dedup_exact_groups(spark, planted_dir):
    from ocr_award_extractor_spark.operators.dedup import dedup_exact

    rows = dedup_exact(spark, planted_dir).collect()
    groups = {r["keeper"]: r["n_docs"] for r in rows}
    assert groups[0] == 2            # docs 0 and 1 collapse, keeper = min id
    assert sum(groups.values()) == len(DOCS)


def test_minhash_lsh_finds_near_dup(spark, planted_dir):
    from ocr_award_extractor_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(spark, planted_dir).collect()}
    assert (0, 1) in pairs           # exact dup always collides
    assert (0, 2) in pairs           # near-dup shares most shingles
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_simhash_hamming_orders_similarity(spark, planted_dir):
    """SimHash distance must order adjacent pairs like their token-set
    Jaccard (the reference similarity): identical text at distance 0,
    the near-dup pair closer than the unrelated one."""
    from ocr_award_extractor_spark.operators.dedup import simhash
    from tests.oracle_spellings import jaccard_adjacent_pairs

    h = {r["doc_id"]: r["simhash"] for r in simhash(spark, planted_dir).collect()}
    j = {r["doc_a"]: r["jaccard"]
         for r in jaccard_adjacent_pairs(spark, planted_dir).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert j[0] == 1.0 and ham(h[0], h[1]) == 0  # identical text
    assert j[1] > j[2]                           # 1-2 near-dup, 2-3 unrelated
    assert ham(h[1], h[2]) < ham(h[2], h[3])
    assert ham(h[0], h[2]) < ham(h[0], h[3])     # near-dup closer than unrelated


def test_jaccard_adjacent(spark, planted_dir):
    from tests.oracle_spellings import jaccard_adjacent_pairs

    j = {r["doc_a"]: r["jaccard"] for r in jaccard_adjacent_pairs(spark, planted_dir).collect()}
    assert j[0] == 1.0               # 0 vs 1 identical token sets
    assert 0.5 < j[1] < 1.0          # 1 vs 2 near-dup
    assert j[2] < 0.15               # 2 vs 3 unrelated
    assert len(j) == len(DOCS) - 1


def test_fingerprint_matches_pure_python(spark, planted_dir):
    from ocr_award_extractor_spark.operators.textstats import (
        FP_BASE, FP_MOD, textstats_profile,
    )

    got = {r["doc_id"]: r["fingerprint"]
           for r in textstats_profile(spark, planted_dir).collect()}
    import re

    for i, t, _ in DOCS:
        norm = re.sub(r"\s+", " ", t).strip()
        fp = 0
        for ch in norm:
            fp = (fp * FP_BASE + ord(ch)) % FP_MOD
        assert got[i] == fp


def test_lang_guess_on_fixture_langs(spark, planted_dir):
    from ocr_award_extractor_spark.operators.textstats import textstats_profile

    rows = textstats_profile(spark, planted_dir).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[0]["guessed_lang"] == "en"
    assert by_id[0]["stop_hits"] > 0


def test_lsh_recall_against_bruteforce(spark):
    """The bucketed scale path must return a SUBSET of the brute-force
    pairs (precision 1 within-bucket; recall < 1 by construction)."""
    from ocr_award_extractor_spark.operators.similarity import (
        embedding_neardup_pairs, lsh_neardup_pairs,
    )

    sf = "/root/testdata/sf0.001"
    brute = {(r["va"], r["vb"]) for r in embedding_neardup_pairs(spark, sf).collect()}
    lsh = {(r["va"], r["vb"]) for r in lsh_neardup_pairs(spark, sf).collect()}
    assert lsh <= brute
    if brute:
        assert len(lsh) / len(brute) > 0.15


def test_dedup_clusters_transitive(spark, planted_dir):
    """Connected components: docs 0/1 (exact dups) and 2 (near-dup of 0)
    must share component min(doc_id)=0 even where 1-2 may not pair
    directly (transitivity through 0); unrelated docs stay singletons."""
    from ocr_award_extractor_spark.operators.dedup import (
        dedup_clusters, minhash_lsh_pairs,
    )

    pairs = {(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_pairs(spark, planted_dir).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs   # the planted edges exist

    comp = {r["doc_id"]: r["comp"] for r in dedup_clusters(spark, planted_dir).collect()}
    assert comp[0] == comp[1] == comp[2] == 0    # one cluster, keeper = min id
    assert comp[3] == 3 and comp[4] == 4         # singletons
    assert len(comp) == 5


@pytest.mark.parametrize("hex_ids", [False, True], ids=["int", "hex16"])
def test_connected_components_long_chain(spark, hex_ids, monkeypatch):
    """Pointer jumping: a 30-doc CHAIN (diameter 29 > plain-propagation
    budget) must still collapse to one component within the iteration cap
    — O(log diameter) rounds, the property that matters at crawl scale.
    Run over int ids and over 16-char hex string ids (the 128-bit
    pipeline's id type), whose string order equals the int order."""
    from pyspark.sql import functions as F2

    from ocr_award_extractor_spark.operators import dedup
    from ocr_award_extractor_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 8)

    def vid(c):
        return F2.lpad(F2.hex(c), 16, "0") if hex_ids else c

    docs = spark.range(30).select(vid(F2.col("id")).alias("doc_id"))
    chain = spark.range(29).select(
        vid(F2.col("id")).alias("src"), vid(F2.col("id") + 1).alias("dst")
    )
    edges = chain.union(chain.select(F2.col("dst").alias("src"),
                                     F2.col("src").alias("dst")))
    comp = {r["doc_id"]: r["comp"]
            for r in connected_components(docs, edges).collect()}
    root = "0" * 16 if hex_ids else 0
    assert set(comp.values()) == {root} and len(comp) == 30


def test_connected_components_unconverged_raises(spark, monkeypatch):
    """Two rounds cannot collapse the 30-doc chain of
    test_connected_components_long_chain: the call raises and names the
    round count instead of returning unconverged labels."""
    from pyspark.sql import functions as F2

    from ocr_award_extractor_spark.operators import dedup
    from ocr_award_extractor_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 2)

    docs = spark.range(30).select(F2.col("id").alias("doc_id"))
    chain = spark.range(29).select(F2.col("id").alias("src"),
                                   (F2.col("id") + 1).alias("dst"))
    edges = chain.union(chain.select(F2.col("dst").alias("src"),
                                     F2.col("src").alias("dst")))
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(docs, edges)


@pytest.fixture(scope="module")
def zero_norm_dir(tmp_path_factory):
    """40 embeddings: 20 all-zero (undefined cosine) + 20 identical
    non-zero — every pair collides in some LSH band, so the zero-norm
    exclusion contract and the blocked pair enumeration both exercise."""
    d = tmp_path_factory.mktemp("zeronorm")
    dim = 64
    rows = [{"vec_id": i, "embedding": [0.0] * dim, "label": 0}
            for i in range(20)]
    rows += [{"vec_id": 20 + i, "embedding": [0.5] * dim, "label": 1}
             for i in range(20)]
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(d, "embeddings.parquet"))
    return str(d)


def test_lsh_zero_norm_parity(spark, zero_norm_dir, monkeypatch):
    """Zero-norm vectors have UNDEFINED cosine and are excluded from
    near-dup pairs on EVERY engine (numpy NaN fails >=, Spark's
    try_divide yields NULL, DuckDB 0/0 is NULL): the kernel, the all-JVM
    join reference and the DuckDB oracle must return exactly the C(20,2)
    identical-vector pairs at cos=1.0 and not one zero-norm pair.
    PAIR_BLOCK_ELEMS=1 forces the blocked enumeration (bs=16 over
    20+-member buckets)."""
    import duckdb

    from ocr_award_extractor_spark.operators import pairblocks, similarity
    from tests.oracle_spellings import lsh_neardup_pairs_join

    monkeypatch.setattr(pairblocks, "PAIR_BLOCK_ELEMS", 1)
    kernel = {(r["va"], r["vb"], r["cos_sim"])
              for r in similarity.lsh_neardup_pairs(spark, zero_norm_dir).collect()}
    joined = {(r["va"], r["vb"], r["cos_sim"])
              for r in lsh_neardup_pairs_join(spark, zero_norm_dir).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{zero_norm_dir}/embeddings.parquet'")
    oracle = {tuple(r) for r in con.execute(
        similarity.oracles_for_scale(zero_norm_dir)["lsh_neardup_pairs"]
    ).fetchall()}
    expect = {(a, b, 1.0) for a in range(20, 40) for b in range(a + 1, 40)}
    assert kernel == joined == oracle == expect


def test_lsh_buckets_keeps_null_label(spark, tmp_path):
    """A NULL passthrough label rides the band-key kernel as NULL (an
    Arrow take keeps the null), not as a number, and the rows match
    DuckDB's."""
    import duckdb

    from ocr_award_extractor_spark.operators import similarity

    rows = [{"vec_id": i, "embedding": [float(i + 1), -1.0] * 32,
             "label": None if i == 1 else i} for i in range(4)]
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(tmp_path, "embeddings.parquet"))
    got = [tuple(r) for r in similarity.lsh_buckets(spark, str(tmp_path))
           .collect()]
    assert {r[0]: r[1] for r in got} == {0: 0, 1: None, 2: 2, 3: 3}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{tmp_path}/embeddings.parquet'")
    want = con.execute(
        similarity.oracles_for_scale(str(tmp_path))["lsh_buckets"]
    ).fetchall()
    assert sorted(got, key=str) == sorted(want, key=str)


def test_lsh_buckets_drops_null_vec_id(spark, tmp_path):
    """A NULL vec_id row is dropped before the band-key kernel, as the
    DuckDB oracle's vec_id join drops it, and the rows match DuckDB's."""
    import duckdb

    from ocr_award_extractor_spark.operators import similarity

    rows = [{"vec_id": None if i == 2 else i,
             "embedding": [float(i + 1), -1.0] * 32, "label": i}
            for i in range(4)]
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(tmp_path, "embeddings.parquet"))
    got = [tuple(r) for r in similarity.lsh_buckets(spark, str(tmp_path))
           .collect()]
    assert {r[0] for r in got} == {0, 1, 3}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{tmp_path}/embeddings.parquet'")
    want = con.execute(
        similarity.oracles_for_scale(str(tmp_path))["lsh_buckets"]
    ).fetchall()
    assert sorted(got, key=str) == sorted(want, key=str)


def test_lsh_neardup_drops_null_vec_id(spark, tmp_path):
    """A NULL vec_id copy of a near-dup vector is dropped before the
    scoring kernel (whose int64 id array cannot hold it): the pairs equal
    the all-JVM join spelling's, whose joins drop NULL ids, and the
    embedding clusters build on them."""
    from ocr_award_extractor_spark.operators import similarity
    from tests.oracle_spellings import lsh_neardup_pairs_join

    rows = [{"vec_id": i, "embedding": [0.5, -1.0] * 32, "label": 0}
            for i in range(3)]
    rows.append({"vec_id": None, "embedding": [0.5, -1.0] * 32, "label": 0})
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(tmp_path, "embeddings.parquet"))
    got = {tuple(r) for r in similarity.lsh_neardup_pairs(
        spark, str(tmp_path)).collect()}
    assert {(va, vb) for va, vb, _ in got} == {(0, 1), (0, 2), (1, 2)}
    assert got == {tuple(r) for r in lsh_neardup_pairs_join(
        spark, str(tmp_path)).collect()}
    comp = {r["vec_id"]: r["comp"] for r in
            similarity.embedding_neardup_clusters(spark, str(tmp_path))
            .collect()}
    assert comp == {0: 0, 1: 0, 2: 0}


def test_ivf_nprobe_widens_monotonically(spark):
    """nprobe=1 must equal the default (oracle-pinned) probe; larger
    nprobe scans a superset of clusters, so brute-force overlap is
    monotone non-decreasing and nprobe=IVF_K recovers brute force
    exactly (every cluster probed)."""
    from ocr_award_extractor_spark.operators.similarity import (
        IVF_K, ann_topk_cosine, ivf_topk_cosine,
    )

    sf = "/root/testdata/sf0.001"
    brute = [r["vec_id"] for r in ann_topk_cosine(spark, sf).collect()]
    p1 = [r["vec_id"] for r in ivf_topk_cosine(spark, sf).collect()]
    p1x = [r["vec_id"] for r in ivf_topk_cosine(spark, sf, nprobe=1).collect()]
    assert p1 == p1x
    prev = len(set(brute) & set(p1))
    for p in (2, 4, IVF_K):
        got = [r["vec_id"] for r in ivf_topk_cosine(spark, sf, nprobe=p).collect()]
        ov = len(set(brute) & set(got))
        assert ov >= prev
        prev = ov
    assert got == brute   # all clusters probed == brute force


def test_minhash_bucket_local_equals_join(spark, planted_dir, monkeypatch):
    """The bucket-local MinHash pair kernel must emit EXACTLY the classic
    self-join spelling's distinct pairs (tests/oracle_spellings.py) — on
    the planted corpus and on the oracle-gate corpus; PAIR_BLOCK_ELEMS=1
    forces blocked enumeration through buckets wider than one block."""
    from ocr_award_extractor_spark.operators import dedup, pairblocks
    from ocr_award_extractor_spark.sources.tables import load_table
    from tests.oracle_spellings import minhash_lsh_pairs_join

    monkeypatch.setattr(pairblocks, "PAIR_BLOCK_ELEMS", 1)
    for sf in (planted_dir, "/root/testdata/sf0.01"):
        local = {(r["doc_a"], r["doc_b"])
                 for r in dedup.minhash_lsh_pairs(spark, sf).collect()}
        joined = {(r["doc_a"], r["doc_b"])
                  for r in minhash_lsh_pairs_join(
                      load_table(spark, sf, "documents")).collect()}
        assert local == joined, sf
    assert local   # sf0.01 has 25 known pairs — non-vacuous


def test_block_triangles_covers_exactly_the_upper_triangle():
    """Property: for any (k, pair_block) the blocked enumeration yields
    every pair (i, j), i < j, exactly once — the invariant both the
    similarity scorer and the MinHash kernel lean on."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_award_extractor_spark.operators.pairblocks import block_triangles

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=0, max_value=120),
           st.integers(min_value=1, max_value=1 << 22))
    def check(k, pair_block):
        got = []
        for s, e, tri in block_triangles(k, pair_block):
            assert 0 <= s < e <= k and tri.shape == (e - s, k)
            ri, rj = np.nonzero(tri)
            got += [(int(i) + s, int(j)) for i, j in zip(ri, rj)]
        want = [(i, j) for i in range(k) for j in range(i + 1, k)]
        assert sorted(got) == want

    check()


@pytest.fixture(scope="module")
def flood_dir(tmp_path_factory):
    """An exact-duplicate FLOOD: 30 copies of one text land all 30 doc_ids
    in the same bucket of every MinHash band — the degenerate corpus the
    mega-bucket guard exists for — plus a near-dup pair and a singleton
    that must survive dedup and clustering."""
    d = tmp_path_factory.mktemp("flood")
    flood = " ".join(BASE)
    rows = [{"doc_id": i, "text": flood, "lang": "en", "source": "s",
             "n_chars": len(flood)} for i in range(30)]
    near = " ".join(BASE[:-2] + ["blue", "sea"])
    rows.append({"doc_id": 30, "text": near, "lang": "en", "source": "s",
                 "n_chars": len(near)})
    other = ("completely different words about spark query engines and "
             "shuffles with partitions and codegen stages everywhere")
    rows.append({"doc_id": 31, "text": other, "lang": "en", "source": "s",
                 "n_chars": len(other)})
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(d, "documents.parquet"))
    return str(d)


GUARD_MSG = r"member guard.*run dedup_exact first.*use dedup_clusters_df"


def test_mega_bucket_guard_minhash(spark, flood_dir, monkeypatch):
    """r4 verdict #1: an exact-dup flood must FAIL LOUD, naming the
    remedies, and run clean after the documented dedup_exact pre-pass."""
    from ocr_award_extractor_spark.operators import dedup, pairblocks
    from ocr_award_extractor_spark.sources.tables import load_table

    docs = load_table(spark, flood_dir, "documents")
    monkeypatch.setattr(pairblocks, "MAX_BUCKET_MEMBERS", 8)

    # the kernel raise surfaces through the action
    with pytest.raises(Exception, match=GUARD_MSG):
        dedup.minhash_lsh_pairs_df(docs).collect()

    # the documented remedy: dedup_exact first, then pairs run clean under
    # the SAME cap — and find the near-dup edge
    from pyspark.sql import functions as F2

    keepers = dedup.dedup_exact_df(docs).select(
        F2.col("keeper").alias("doc_id"))
    deduped = docs.join(keepers, "doc_id")
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.minhash_lsh_pairs_df(deduped).collect()}
    assert (0, 30) in pairs            # keeper 0 still pairs with near-dup
    assert all(a < 30 or a == 30 for a, _ in pairs)


def test_mega_bucket_guard_lsh_spellings(spark, zero_norm_dir, monkeypatch):
    """The same guard on the similarity side: zero_norm_dir's 20 identical
    vectors exceed a cap of 10 in every band — the scorer must fail loud;
    the default cap (256x design bucket) leaves results untouched. The
    all-JVM candidate self-join raises in-plan under the same cap."""
    from ocr_award_extractor_spark.operators import pairblocks, similarity

    # the default cap never fires on a legitimate corpus: bit-equal to
    # the unguarded expectation pinned by test_lsh_zero_norm_parity
    expect = {(a, b, 1.0) for a in range(20, 40) for b in range(a + 1, 40)}
    kernel = {(r["va"], r["vb"], r["cos_sim"])
              for r in similarity.lsh_neardup_pairs(
                  spark, zero_norm_dir).collect()}
    assert kernel == expect

    monkeypatch.setattr(pairblocks, "MAX_BUCKET_MEMBERS", 10)
    with pytest.raises(Exception, match=GUARD_MSG):
        similarity.lsh_neardup_pairs(spark, zero_norm_dir).collect()
    with pytest.raises(Exception, match="member guard"):
        similarity.lsh_candidate_pairs(spark, zero_norm_dir).collect()


def test_connected_components_reliable(spark, tmp_path):
    """reliable=True must (a) demand an explicit shared checkpoint dir —
    auto-picking a driver-local path would be silently wrong on a real
    cluster — and (b) produce components identical to the
    localCheckpoint default once one is set."""
    from pyspark.sql import functions as F2

    from ocr_award_extractor_spark.operators.dedup import connected_components

    docs = spark.range(12).select(F2.col("id").alias("doc_id"))
    chain = spark.range(11).select(F2.col("id").alias("src"),
                                   (F2.col("id") + 1).alias("dst"))
    edges = chain.union(chain.select(F2.col("dst").alias("src"),
                                     F2.col("src").alias("dst")))

    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(docs, edges, reliable=True)
        sc.setCheckpointDir(str(tmp_path / "cc_ckpt"))

    local = {(r["doc_id"], r["comp"])
             for r in connected_components(docs, edges).collect()}
    rel = {(r["doc_id"], r["comp"])
           for r in connected_components(docs, edges,
                                         reliable=True).collect()}
    assert rel == local
    assert {c for _, c in rel} == {0}     # the chain collapses either way


def test_dedup_clusters_survives_flood(spark, flood_dir, monkeypatch):
    """Clustering enumerates no pairs, so no bucket size is refused: the
    planted flood, with no dedup_exact pre-pass and a pair-guard cap far
    below its 30-member buckets, collapses with its near-dup into
    component 0 while the unrelated doc stays its own — the rows of
    DuckDB's recursive-reachability oracle over the same table."""
    import duckdb

    from ocr_award_extractor_spark.operators import dedup, pairblocks
    from ocr_award_extractor_spark.sources.tables import load_table

    monkeypatch.setattr(pairblocks, "MAX_BUCKET_MEMBERS", 8)
    docs = load_table(spark, flood_dir, "documents")
    got = {(r["doc_id"], r["comp"])
           for r in dedup.dedup_clusters_df(docs).collect()}
    assert got == {(i, 0) for i in range(31)} | {(31, 31)}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{flood_dir}/documents.parquet'")
    assert got == set(con.execute(dedup.ORACLES["dedup_clusters"]).fetchall())


def test_dedup_clusters_job_budget(spark):
    """Star edges plus the fixpoint probe riding each round's checkpoint:
    dedup_clusters_df on the sf0.01 documents runs at most 16 Spark jobs.
    Jobs submitted from other driver threads do not inherit the job
    group, so ungrouped jobs started meanwhile count too."""
    from ocr_award_extractor_spark.operators import dedup
    from ocr_award_extractor_spark.sources.tables import load_table

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    group = "dedup-clusters-budget"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        n_comp = dedup.dedup_clusters_df(docs).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = (set(tracker.getJobIdsForGroup(group))
            | set(tracker.getJobIdsForGroup(None)) - ungrouped)
    assert n_comp == docs.count()
    assert 1 <= len(jobs) <= 16


def test_jaccard_duckdb_parity_sf0001(spark):
    """The adjacent-pair Jaccard reference (tests/oracle_spellings.py)
    matches its DuckDB spelling over the sf0.001 documents table."""
    import duckdb

    from tests.oracle_spellings import jaccard_adjacent_pairs

    sf = "/root/testdata/sf0.001"
    got = {r["doc_a"]: (r["n_a"], r["n_b"], r["n_inter"], r["jaccard"])
           for r in jaccard_adjacent_pairs(spark, sf).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = {r[0]: (r[1], r[2], r[3], r[4]) for r in con.execute("""
        WITH tok AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), tok2 AS (
            SELECT doc_id, tok FROM tok WHERE len(tok) > 0
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM tok2 GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, count(*) AS n_inter
            FROM tok2 a JOIN tok2 b ON a.doc_id + 1 = b.doc_id AND a.tok = b.tok
            GROUP BY a.doc_id
        )
        SELECT sa.doc_id AS doc_a, sa.n AS n_a, sb.n AS n_b,
               coalesce(i.n_inter, 0) AS n_inter,
               CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                 / CAST(sa.n + sb.n - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard
        FROM sizes sa
        JOIN sizes sb ON sa.doc_id + 1 = sb.doc_id
        LEFT JOIN inter i ON i.doc_a = sa.doc_id
    """).fetchall()}
    assert got == want and len(got) > 0


def test_fill_missing_lang(spark):
    """fill_missing_lang_df: NULL/empty lang filled by the stopword-vote
    guess (same votes + tie order as textstats_profile's guessed_lang),
    labelled rows
    untouched."""
    from ocr_award_extractor_spark.operators.textstats import (
        fill_missing_lang_df,
    )

    rows = [
        ("d1", "the cat and the dog over a fence of hay", "zh"),
        ("d2", "the cat and the dog over a fence of hay", None),
        ("d3", "le chat et le chien sur la table et les murs", ""),
        ("d4", "der hund und die katze mit dem das ein", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    got = {r["doc_id"]: r["lang"]
           for r in fill_missing_lang_df(docs).collect()}
    assert got["d1"] == "zh"          # labelled row untouched
    assert got["d2"] == "en"
    assert got["d3"] == "fr"
    assert got["d4"] == "de"


def test_ivf_train_centroids_improves_and_is_deterministic(spark):
    """Spherical k-means trainer: (a) mean cosine-to-assigned-centroid
    strictly improves over the seed (first-K) centroids on the driver
    embeddings table; (b) the result is bit-identical under a different
    input partitioning (exact int sums, unique argmax tie-break)."""
    from ocr_award_extractor_spark.operators.similarity import (
        _emb_and_centroids, ivf_train_centroids_df,
    )
    from tests.oracle_spellings import ivf_mean_cosine_df

    emb, seed = _emb_and_centroids(spark, "/root/testdata/sf0.001")
    base = ivf_mean_cosine_df(emb, seed).collect()[0]["mean_cos"]
    trained = ivf_train_centroids_df(emb, n_iter=3)
    after = ivf_mean_cosine_df(emb, trained).collect()[0]["mean_cos"]
    assert after > base

    again = ivf_train_centroids_df(emb.repartition(7), n_iter=3)
    assert ({r["cid"]: list(r["cv"]) for r in trained.collect()}
            == {r["cid"]: list(r["cv"]) for r in again.collect()})


def test_ivf_train_centroids_empty_cluster_keeps_seed(spark):
    """A centroid that attracts no vectors (duplicate seed — ties go to
    the lower cid) must keep its previous value, not vanish or crash."""
    from ocr_award_extractor_spark.operators.similarity import (
        ivf_train_centroids_df,
    )
    from pyspark.sql import functions as F

    v = [1000] * 8
    w = [-1000] * 8
    rows = [(0, v), (1, list(v)), (2, w), (3, [995] * 8), (4, [-990] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, qe array<long>") \
        .withColumn("label", F.lit("x"))
    cent = {r["cid"]: list(r["cv"]) for r in
            ivf_train_centroids_df(emb, k=2, n_iter=2).collect()}
    assert set(cent) == {0, 1}
    assert cent[1] == v          # starved duplicate seed kept verbatim
    assert all(c > 0 for c in cent[0])


def test_ivf_topk_accepts_trained_centroids(spark):
    """ivf_topk_cosine(centroids=...) must run the trained (cid, cv)
    frame through the probe/assign/join path end-to-end: TOP_K rows of
    real vec_ids, all distinct, none the query itself."""
    from ocr_award_extractor_spark.operators.similarity import (
        TOP_K, _emb_and_centroids, ivf_topk_cosine, ivf_train_centroids_df,
    )

    sf = "/root/testdata/sf0.001"
    emb, _ = _emb_and_centroids(spark, sf)
    trained = ivf_train_centroids_df(emb, n_iter=2)
    rows = ivf_topk_cosine(spark, sf, nprobe=2, centroids=trained).collect()
    assert len(rows) == TOP_K
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == TOP_K and 0 not in ids
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert set(ids) <= all_ids


def test_fill_missing_lang_null_text_defaults_en(spark):
    """NULL text carries no signal: the guess must resolve through the
    pinned tie order to 'en' — not fall through every NULL comparison
    into the otherwise-branch 'es'."""
    from ocr_award_extractor_spark.operators.textstats import (
        fill_missing_lang_df,
    )

    rows = [("d1", None, None), ("d2", "", None)]
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    got = {r["doc_id"]: r["lang"] for r in fill_missing_lang_df(docs).collect()}
    assert got == {"d1": "en", "d2": "en"}


# ------------------------------------------------ corpus line dedup (r6)
def test_line_dedup_planted_first_occurrence_wins(spark, tmp_path):
    """RefinedWeb-style corpus line dedup on planted 3-token lines: a
    line repeated across docs survives only at its first (doc_id, seq)
    position; a doc made entirely of earlier-seen lines keeps nothing;
    reassembly md5 is over the surviving lines newline-joined in
    original order."""
    import hashlib

    from ocr_award_extractor_spark.operators.dedup import line_dedup_corpus_df

    rows = [
        (0, "a b c d e f"),      # lines: "a b c", "d e f" (both first)
        (1, "a b c x y z"),      # "a b c" is a dup -> only "x y z" kept
        (2, "d e f"),            # entirely seen before -> nothing kept
        (3, "x y z q r s"),      # "x y z" dup, "q r s" first
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_md5"])
           for r in line_dedup_corpus_df(docs).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[0] == (2, 2, h("a b c\nd e f"))
    assert got[1] == (2, 1, h("x y z"))
    assert got[2] == (1, 0, h(""))
    assert got[3] == (2, 1, h("q r s"))


def test_line_dedup_kept_total_is_distinct_lines(spark):
    """Conservation: summed n_kept over the corpus == number of DISTINCT
    derived lines (each distinct line survives exactly once, somewhere),
    and n_lines sums to the total line occurrences."""
    from ocr_award_extractor_spark.operators.dedup import (
        LINE_TOKENS, line_dedup_corpus,
    )
    from ocr_award_extractor_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = line_dedup_corpus(spark, sf)
    tot = out.agg(F.sum("n_lines").alias("nl"),
                  F.sum("n_kept").alias("nk")).collect()[0]
    line_re = r"((?:\S+ ){%d}\S+) " % (LINE_TOKENS - 1)
    lines = load_table(spark, sf, "documents").select(
        F.explode(F.split(F.regexp_replace("text", line_re, "$1\n"),
                          "\n")).alias("line"))
    assert tot["nl"] == lines.count()
    assert tot["nk"] == lines.distinct().count()
    assert tot["nk"] < tot["nl"]          # the dedup is real on this corpus


def test_ivf_assign_duckdb_parity_sf0001(spark):
    """The IVF assignment subtree of ivf_topk_cosine, exposed on its own
    (tests/oracle_spellings.py), matches its DuckDB spelling over the
    sf0.001 embeddings table."""
    import duckdb

    from tests.oracle_spellings import IVF_ASSIGN_ORACLE_SQL, ivf_assign

    sf = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in ivf_assign(spark, sf).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    want = sorted(tuple(r) for r in con.execute(IVF_ASSIGN_ORACLE_SQL).fetchall())
    assert got == want and len(got) > 0


def test_gopher_repetition_flags_planted(spark):
    """Gopher §A1.1 repetition signals (r6): a doc that is one 3-token
    line stamped over and over fails the duplicate-line gates; a doc
    whose lines are distinct but share a dominant leading bigram fails
    only the top-2gram gate; clean mostly-distinct text passes all
    three."""
    from ocr_award_extractor_spark.operators.textstats import (
        gopher_quality_flags_df,
    )

    clean = ("the quick brown fox jumps over a lazy dog and " +
             " ".join(f"word{i:02d}" for i in range(40)))
    rep_lines = " ".join(["x1 x2 x3"] * 10)
    # distinct lines ("p q rNN"), dominant bigram "p q" in every line
    rep_bigram = " ".join(f"p q r{i:02d}" for i in range(20))
    docs = spark.createDataFrame(
        [("clean", clean), ("lines", rep_lines), ("bigram", rep_bigram)],
        "doc_id string, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_quality_flags_df(docs).collect()}

    assert got["clean"]["ok_dup_lines"]
    assert got["clean"]["ok_dup_line_chars"]
    assert got["clean"]["ok_top_2gram"]

    assert not got["lines"]["ok_dup_lines"]        # 9/10 lines are repeats
    assert not got["lines"]["ok_dup_line_chars"]

    assert got["bigram"]["ok_dup_lines"]           # every line distinct
    assert not got["bigram"]["ok_top_2gram"]       # "p q" covers ~38% chars
    assert not got["bigram"]["keep"]


# ------------------------------------------------- benchmark decontamination
def _decon_bucket(i: int) -> int:
    """Python mirror of textstats._md5_bucket (md5 of the decimal string,
    first 8 hex chars as an int)."""
    import hashlib

    return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)


def _find_doc_id(pred, start=0):
    i = start
    while True:
        if pred(_decon_bucket(i)):
            return i
        i += 1


def test_decontaminate_planted_canary(spark):
    """Semantics on a constructed frame: a non-benchmark carrier sharing
    its snippet id with a benchmark carrier is contaminated (exactly one
    shared 5-gram — the snippet itself; bodies are doc-unique so boundary
    grams never collide); a carrier with an uncovered snippet id is
    clean; a 3-token doc still gets a verdict row; benchmark docs are
    excluded from the output."""
    from ocr_award_extractor_spark.operators.textstats import (
        DECON_BENCH_MOD, DECON_CARRIER_MOD, DECON_SID_POOL,
        decontaminate_ngrams_df,
    )

    B, C, P = DECON_BENCH_MOD, DECON_CARRIER_MOD, DECON_SID_POOL
    a = _find_doc_id(lambda b: b % B == 0 and b % C == 0)       # bench carrier
    sid_a = _decon_bucket(a) % P
    b_ = _find_doc_id(
        lambda b: b % B != 0 and b % C == 0 and b % P == sid_a, start=a + 1)
    c = _find_doc_id(
        lambda b: b % B != 0 and b % C == 0 and b % P != sid_a, start=a + 1)
    d = _find_doc_id(lambda b: b % B != 0 and b % C != 0)       # non-carrier
    e = _find_doc_id(lambda b: b % B == 0 and b % C != 0)       # bench, no snippet

    def body(tag, n=8):
        return " ".join(f"{tag}tok{i}" for i in range(n))

    docs = spark.createDataFrame(
        [(a, body("a")), (b_, body("b")), (c, body("c")),
         (d, "just three tokens"), (e, body("e"))],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in decontaminate_ngrams_df(docs, plant_canaries=True).collect()}

    assert set(got) == {b_, c, d}                 # bench docs a, e excluded
    assert got[b_]["contaminated"] and got[b_]["n_hits"] == 1
    assert not got[c]["contaminated"] and got[c]["n_hits"] == 0
    assert not got[d]["contaminated"] and got[d]["n_hits"] == 0


def test_clf_join_spelling_equals_in_row(spark):
    """A learned (token, weight) table riding clf_score_join_df must
    reproduce the in-row hash-weight spelling exactly when the table
    enumerates the corpus vocabulary with the same weights — pins that a
    real model's weights can ride the explode+broadcast-join plumbing."""
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.operators import textstats as ts
    from ocr_award_extractor_spark.sources.tables import load_table
    from tests.oracle_spellings import clf_score_join_df

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    in_row = {r["doc_id"]: (r["clf_wsum"], r["clf_keep"])
              for r in ts.gopher_quality_flags(spark, sf)
              .select("doc_id", "clf_wsum", "clf_keep").collect()}
    toks, _ = ts._gopher_precompute(F.col("text"))
    vocab = (docs.select(F.explode(toks).alias("token")).distinct()
             .select("token", ts.clf_weight_expr(F.col("token")).alias("weight")))
    joined = {r["doc_id"]: (r["clf_wsum"], r["clf_keep"])
              for r in clf_score_join_df(docs, vocab).collect()}
    assert joined == in_row and len(joined) == 500
    # unseen tokens weigh 0: an empty vocabulary scores every doc 0 and
    # keeps every non-empty doc (0 >= 0)
    empty = spark.createDataFrame([], "token string, weight long")
    zeroed = clf_score_join_df(docs, empty).collect()
    assert all(r["clf_wsum"] == 0 for r in zeroed)


def test_clf_join_null_text_contract(spark):
    """NULL-text docs score clf_wsum NULL on BOTH spellings (review
    r6s4: the join path's grouped sum reported 0 where the in-row
    column is NULL)."""
    from ocr_award_extractor_spark.operators import textstats as ts
    from tests.oracle_spellings import clf_score_join_df

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")],
        "doc_id long, text string")
    empty_vocab = spark.createDataFrame([], "token string, weight long")
    got = {r["doc_id"]: (r["clf_wsum"], r["clf_keep"])
           for r in clf_score_join_df(docs, empty_vocab).collect()}
    assert got[1] == (0, True)          # tokens, all unseen -> 0, keep
    assert got[2] == (None, None)       # NULL text -> NULL, like in-row
    assert got[3] == (0, False)         # empty text -> no evidence

    flags = {r["doc_id"]: (r["clf_wsum"], r["clf_keep"])
             for r in ts.gopher_quality_flags_df(docs)
             .select("doc_id", "clf_wsum", "clf_keep").collect()}
    assert flags[2] == (None, None) and flags[3][1] is False


def test_punct_count_translate_equals_regex(spark):
    """_punct_count (the translate() spelling of the PUNCT_RE match
    count, round 7) must equal the regex spelling on adversarial inputs —
    CJK, emoji (supplementary plane), control chars, NULL, empty — and on
    the real corpus; PUNCT_RE is a single-char negated class, so the two
    counts coincide by construction and this pins it."""
    from pyspark.sql import functions as F

    from ocr_award_extractor_spark.operators.textstats import (
        PUNCT_RE, _punct_count,
    )

    rows = [("第1届×!@ 获奖：张三。 a_b c\td e😀",), ("",), (None,),
            ("plain text only",), ("!!! ??? ...",), ("\r\n\x00",),
            ("mixed 混合 text, with; punct!",)]
    adv = spark.createDataFrame(rows, "text string")
    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("text")
    for df in (adv, corpus):
        bad = df.select(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(PUNCT_RE),
                                        F.lit(0))).cast("long").alias("a"),
            _punct_count(F.col("text")).alias("b"),
        ).where(~F.col("a").eqNullSafe(F.col("b"))).count()
        assert bad == 0
