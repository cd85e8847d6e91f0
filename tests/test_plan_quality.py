"""Plan-quality assertions (the '.explain and iterate' discipline): column
pruning around the fat html column, predicate/partition pruning at the
scan, broadcast joins where a side is small. These pin the PLAN, not just
the results — a regression that silently widens the scan fails here."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ocr_award_extractor_spark.operators.extract_pipeline import extract_documents
from ocr_award_extractor_spark.sources.tables import load_fixture


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_html_column_pruned_from_scan(spark):
    """The extraction stage must NOT read the ground-truth text column —
    ReadSchema at the parquet scan carries only url/warc_ts/lang/html."""
    docs = load_fixture(spark, n_docs=50)
    plan = _plan(extract_documents(docs))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    assert "html" in scan_lines[0]
    assert "text" not in scan_lines[0], scan_lines[0]


def test_filter_pushed_to_scan(spark):
    docs = load_fixture(spark, n_docs=50)
    plan = _plan(docs.where(F.col("lang") == "zh").select("url"))
    assert "PushedFilters" in plan
    assert "EqualTo(lang,zh)" in plan.replace(" ", ""), plan


def test_partition_pruning_on_warc_date(spark, tmp_path):
    """Input-hint requirement: partition pruning on warc_ts. Writing the
    fixture partitioned by warc_date, a date predicate must prune
    partitions at planning time (PartitionFilters + fewer files read)."""
    docs = load_fixture(spark, n_docs=200)
    part_dir = str(tmp_path / "parted")
    (docs.withColumn("warc_date", F.to_date("warc_ts"))
         .write.partitionBy("warc_date").parquet(part_dir))

    parted = spark.read.parquet(part_dir)
    n_dates = len([d for d in os.listdir(part_dir) if d.startswith("warc_date=")])
    assert n_dates > 5

    one_day = parted.where(F.col("warc_date") == "2024-03-02")
    plan = _plan(one_day.select("url"))
    assert "PartitionFilters" in plan
    assert "warc_date" in plan
    # pruned read touches exactly one partition's rows
    dates = {r["warc_date"] for r in one_day.select("warc_date").distinct().collect()}
    assert len(dates) <= 1


def test_broadcast_join_for_small_dim(spark):
    """q3 shape: the filtered customer side must broadcast (no shuffle of
    the fact tables on the join key)."""
    from ocr_award_extractor_spark.operators.relational import q3_revenue_by_order

    plan = _plan(q3_revenue_by_order(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan


def test_topk_uses_take_ordered(spark):
    """ann_topk must plan as TakeOrderedAndProject (per-partition heap),
    not a global sort."""
    from ocr_award_extractor_spark.operators.similarity import ann_topk_cosine

    plan = _plan(ann_topk_cosine(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan


def test_ivf_assign_broadcasts_centroids_and_partial_aggs(spark):
    """IVF assignment: centroids broadcast (no shuffle to score), and the
    argmax is a partial-aggregatable hash aggregate — exactly one exchange,
    keyed on the group, never a window sort."""
    from tests.oracle_spellings import ivf_assign

    plan = _plan(ivf_assign(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # struct-max buffers aren't hash-agg-compatible so Spark picks
    # SortAggregate — what matters is the PARTIAL phase below the exchange
    # (shuffle carries one row per vec_id, not 8 candidates)
    assert "partial_max" in plan, plan
    assert "Window" not in plan, plan


def test_multimodal_scan_reads_only_doc_id(spark):
    """The derived media stage must prune everything but doc_id at the
    documents scan — never drag text/n_chars through the UDF."""
    from ocr_award_extractor_spark.operators.multimodal import multimodal_features

    plan = _plan(multimodal_features(spark, "/root/testdata/sf0.001"))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    assert "doc_id" in scan_lines[0]
    assert "text" not in scan_lines[0] and "n_chars" not in scan_lines[0], scan_lines[0]


def test_sessionize_single_exchange(spark):
    """Sessionization: the user_id hash partitioning must serve both
    window stages AND the final (user_id, session_seq) aggregate — exactly
    one shuffle in the whole plan."""
    from ocr_award_extractor_spark.operators.relational import sessionize_events

    plan = _plan(sessionize_events(spark, "/root/testdata/sf0.001"))
    tree = plan.split("===")[0] if "===" in plan else plan
    n_exchanges = sum(1 for ln in tree.splitlines()
                      if ln.strip().endswith("Exchange") or ") Exchange" in ln)
    assert n_exchanges == 1, plan


def test_asof_join_single_exchange(spark):
    """The as-of join's union+window spelling must plan as ONE user_id
    shuffle + ONE sort — never a range-join candidate blowup or a second
    exchange for the side filter."""
    import re

    from ocr_award_extractor_spark.operators.relational import (
        asof_purchase_to_click,
    )

    plan = _plan(asof_purchase_to_click(spark, "/root/testdata/sf0.001"))
    tree = plan.split("===")[0] if "===" in plan else plan
    tree = tree.split("\n\n")[0]   # node tree only, not the detail section
    n_exchanges = sum(1 for ln in tree.splitlines()
                      if re.search(r"\bExchange \(\d+\)$", ln.strip()))
    n_sorts = sum(1 for ln in tree.splitlines()
                  if re.search(r"\bSort \(\d+\)$", ln.strip()))
    assert n_exchanges == 1, plan
    assert n_sorts == 1, plan


def test_merged_profile_queries_are_shuffle_free(spark):
    """The merged driver-gate projections (doc_token_profile,
    textstats_profile) must stay pure scan→project plans — zero exchanges,
    tokenize-once pre-projection intact (a regression that re-splits per
    derived column would show up as a fatter plan, one that groups or
    joins would show an Exchange)."""
    from ocr_award_extractor_spark.operators.relational import doc_token_profile
    from ocr_award_extractor_spark.operators.textstats import textstats_profile

    for q in (doc_token_profile, textstats_profile):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, plan


def test_lsh_spellings_bit_equal(spark):
    """The shuffled-vectors kernel (the product spelling) must return the
    all-JVM join reference's rows exactly — ids AND cos doubles — on the
    oracle-gate corpus."""
    from ocr_award_extractor_spark.operators.similarity import lsh_neardup_pairs
    from tests.oracle_spellings import lsh_neardup_pairs_join

    sf = "/root/testdata/sf0.01"
    got = {(r["va"], r["vb"], r["cos_sim"])
           for r in lsh_neardup_pairs(spark, sf).collect()}
    want = {(r["va"], r["vb"], r["cos_sim"])
            for r in lsh_neardup_pairs_join(spark, sf).collect()}
    assert got and got == want


def test_lsh_shuffled_spelling_single_shuffle_no_driver_state(spark):
    """The shuffled-vectors scorer must plan as: map-side band keys (one
    Python stage) → ONE exchange into buckets → in-kernel scoring (second
    Python stage) — no joins at all, vectors riding the single shuffle."""
    from ocr_award_extractor_spark.operators.similarity import lsh_neardup_pairs

    plan = _plan(lsh_neardup_pairs(spark, "/root/testdata/sf0.001"))
    tree = plan.split("\n\n(1)")[0]
    assert tree.count("MapInArrow") == 2, plan    # keys + scoring kernels
    assert tree.count("MapInPandas") == 0, plan
    assert "Join" not in tree, plan
    # exactly one data exchange below the final distinct's
    assert tree.count("Exchange") == 2, plan      # bucket agg + distinct


def test_gopher_gate_one_scan_no_join(spark):
    """r5 verdict #3 (the ×256 gate-stage blowup): gopher_gate_df must be
    a filter directly above the flag projection — ONE scan of the fat
    text column, no join, no exchange (the old flags→ids→left-semi
    spelling re-scanned the table and sort-merge-shuffled it once the id
    list outgrew broadcast) — and must keep exactly the rows the flags
    projection marks keep=true, with all original columns."""
    from ocr_award_extractor_spark.operators.textstats import (
        gopher_gate_df, gopher_quality_flags_df,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet")
    gated = gopher_gate_df(docs)
    assert gated.columns == docs.columns
    plan = _plan(gated).split("\n\n(1)")[0]
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert plan.count("Scan ") == 1, plan

    # NOTE: the optimized Filter deliberately shows the tokenization
    # inlined 11x (PushPredicateThroughNonJoin) — runtime subexpression
    # elimination makes that FASTER than blocking the push (measured
    # 25.9 s vs 30.3 s interleaved at 640k rows; see gopher_gate_df),
    # so no assertion on the filter's expression text here

    want = {r["doc_id"] for r in gopher_quality_flags_df(docs)
            .where("keep").select("doc_id").collect()}
    got = {r["doc_id"] for r in gated.select("doc_id").collect()}
    assert got == want and len(got) > 0


def test_gopher_gate_per_row_on_duplicate_doc_ids(spark):
    """Gate semantics are PER ROW, not per doc_id: when a re-crawled url
    yields two rows with the same doc_id — one passing the Gopher gates,
    one failing — only the passing row survives (the old left_semi-join
    spelling kept both, an artifact of the join, not a spec)."""
    from ocr_award_extractor_spark.operators.textstats import gopher_gate_df

    # 40+ mostly-distinct words (dup_frac gate), stopwords present,
    # mean word length inside the [3, 12] band
    good = ("the quick brown fox jumps over a lazy dog and " +
            " ".join(f"word{i:02d}" for i in range(40)))
    bad = "!!! ??? !!!"  # fails word-count + stopword gates
    rows = [("d1", good, "a"), ("d1", bad, "b"), ("d2", bad, "c")]
    docs = spark.createDataFrame(rows, "doc_id string, text string, tag string")
    out = [(r["doc_id"], r["tag"]) for r in gopher_gate_df(docs).collect()]
    assert out == [("d1", "a")]


def test_line_dedup_partial_agg_no_window(spark):
    """Corpus line dedup must pick first occurrences with a map-side
    combinable min(struct) aggregation, never a row_number window over
    the line hash: at crawl scale the hot keys ARE the boilerplate lines
    and a window funnels each one through a single task's sort. Pin:
    no Window node anywhere, a partial_min below an exchange, and the
    final stitch joins two narrow per-doc aggregates."""
    from ocr_award_extractor_spark.operators.dedup import line_dedup_corpus

    plan = _plan(line_dedup_corpus(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan
    assert "partial_count" in plan, plan


def test_decontaminate_broadcasts_bench_grams_two_shuffles(spark):
    """Decontamination: the benchmark shingle set is the SMALL side
    (real eval sets are MBs) — it must broadcast into the corpus-side
    join, leaving exactly two real shuffles in the whole plan: the bench
    gram distinct and the per-doc hit count. The verdict join back to the
    doc universe must not add a third (broadcast under AQE here; at scale
    it shuffles doc_id-only projections — still not gram-wide rows)."""
    from ocr_award_extractor_spark.operators.textstats import (
        decontaminate_ngrams,
    )

    import re

    plan = _plan(decontaminate_ngrams(spark, "/root/testdata/sf0.001"))
    # count detail-section headers "(NN) NodeName" — one per node (the
    # tree section spells the same nodes "NodeName (NN)")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange$", plan, re.M))
    n_bcast_joins = len(re.findall(r"^\(\d+\) BroadcastHashJoin$", plan, re.M))
    assert n_exchanges == 2, plan
    assert n_bcast_joins >= 2, plan


def test_lsh_buckets_one_scan_no_join(spark):
    """lsh_buckets rides `label` through the band-key kernel map-side
    (lsh_band_keys passthrough) instead of re-scanning embeddings and
    re-joining on vec_id: the plan must hold exactly ONE parquet scan and
    no Join/Exchange, and every emitted (vec_id, label) must match the
    table's own mapping with one row per (vec_id, band)."""
    from ocr_award_extractor_spark.operators.similarity import lsh_buckets

    sf = "/root/testdata/sf0.001"
    df = lsh_buckets(spark, sf)
    plan = _plan(df)
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert plan.count("Scan parquet") == 2, plan  # tree line + detail line

    want = {(r["vec_id"], r["label"])
            for r in spark.read.parquet(sf + "/embeddings.parquet")
            .select("vec_id", "label").collect()}
    rows = df.collect()
    assert {(r["vec_id"], r["label"]) for r in rows} == want
    n_bands = len({r["band"] for r in rows})
    assert len(rows) == len(want) * n_bands and n_bands > 0
