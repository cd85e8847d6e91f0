"""Relational spellings of the reference's operators (SURVEY.md §2), each
oracle-checked against DuckDB by the driver (queries()/oracle_sql()).

Every function takes (spark, sf_dir) and returns a DataFrame whose column
NAMES, ORDER and TYPES match the paired oracle SQL exactly (the driver's
compare hashes values after sorting columns by name). Rules of the road:

* floats only where the operator demands them, always round(…, 4) computed
  the same way on both sides;
* Spark int-typed results cast to long (DuckDB counts/lengths are BIGINT);
* arrays never returned raw — joined to strings with a pinned sort;
* every tie is broken explicitly (row_number orderings are total).

These run on the driver's TPC-H-ish tables — the content differs from the
certificate fixture, but the operator SEMANTICS are what the oracle checks
(the byte-identity path is pytest golden, SURVEY.md §5.2.2/4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_award_extractor_spark.sources.tables import load_table


# ------------------------------------------------------ O2 predicate filter
def filter_keyword_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-time predicate (certificate_ocr.py:419-420 ext-filter analog):
    regex multi-contains pushed as a filter."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").rlike("window|stream"))
        .select("doc_id", "lang", "n_chars")
    )


# ------ merged per-doc projection: O7 + O9 + O12 + O13 + O17 + O19, one slot
KEYWORD_PRIORITY = ("window", "stream", "join", "scan", "sort")   # O13 order


def doc_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIX reference operators in one oracle-checked projection (the
    driver grades at most 50 queries, so near-duplicate per-doc projections
    share a slot — each column is still a distinct, citable check):

    * ``n_tokens``  — O7 flatten + blank filter (certificate_ocr.py:134-143):
      tokens whose trim is non-empty, counted;
    * ``head3``     — O9 order-preserving concat of the first 3 tokens
      (newline-join analog, certificate_ocr.py:149);
    * ``longest_tok``/``longest_len`` — O12 argmax-by-length with the
      pinned (len desc, token asc) tie-break (certificate_ocr.py:345-346)
      as a per-row left-fold over the token array — STRICTLY better scaled
      than an explode+window (which shuffles every token of every document
      to rank them); the fold's first-wins argmax is the same total order
      as that window spelling, kept as the oracle in
      tests/oracle_spellings.py;
    * ``first_kw``  — O13 fixed-priority first-match keyword scan
      (certificate_ocr.py:348-355): a pure CASE/WHEN chain, the first
      keyword of KEYWORD_PRIORITY contained in the text wins;
    * ``norm_md5``/``norm_len`` — O17 clean_text whitespace collapse
      (certificate_ocr.py:399) fingerprinted;
    * ``toks``/``n_distinct``   — O19 list(set(...)) dedupe with a PINNED
      sort (the reference's order is hash-seed nondeterministic —
      documented divergence, certificate_ocr.py:305-306).

    One scan, one split (pre-projected so CollapseProject keeps it a single
    evaluation), zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.select("doc_id", "text", F.split(F.col("text"), " ").alias("t"))
    kept = F.filter(F.col("t"), lambda x: F.length(F.trim(x)) > 0)
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    dt = F.array_sort(F.array_distinct(F.col("t")))
    # O12: first-wins argmax under (len desc, tok asc) as a linear fold —
    # acc is NULL only before the first non-empty token, and NULL OR TRUE
    # is TRUE in SQL, so the isNull() disjunct short-circuits the NULL
    # length comparison on the first step. NULL on a token-free doc.
    nonblank = F.filter(F.col("t"), lambda x: F.length(x) > 0)
    longest = F.aggregate(
        nonblank,
        F.lit(None).cast("string"),
        lambda acc, x: F.when(
            acc.isNull()
            | (F.length(x) > F.length(acc))
            | ((F.length(x) == F.length(acc)) & (x < acc)),
            x,
        ).otherwise(acc),
    )
    first_kw = F.lit("")
    for kw in reversed(KEYWORD_PRIORITY):
        first_kw = F.when(F.col("text").contains(kw), kw).otherwise(first_kw)
    return docs.select(
        "doc_id",
        F.size(kept).cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice(F.col("t"), 1, 3)).alias("head3"),
        longest.alias("longest_tok"),
        F.length(longest).cast("long").alias("longest_len"),
        first_kw.alias("first_kw"),
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("norm_len"),
        F.concat_ws(",", dt).alias("toks"),
        F.size(dt).cast("long").alias("n_distinct"),
    )


# ---------------------------------------------------------- O8 scalar avg
def avg_chars_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean + 4-dp round (certificate_ocr.py:146,:162)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.count(F.lit(1)).alias("docs"),
    )


# ------------------------------------------------ O6 pick-best (top-1) ranking
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick-best top-1 per key (certificate_ocr.py:131 spelled relationally
    with a pinned tie-break)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


# -------------------- merged per-event projection: O14 + O21 in one slot
def event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14 first-group regex extract (certificate_ocr.py:357-360 analog)
    AND O21 semi-structured JSON parse (the LLM-reply parse of
    certificate_ocr.py:251-252, spelled relationally) over the events
    props column — one scan, one slot under the driver's 50-query cap,
    both columns independently citable."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract(F.col("props"), '"k": ([0-9]+)', 1).alias("k_str"),
        F.from_json(F.col("props"), "k INT").getField("k").alias("k_val"),
    )


# ------------------------------------------------------- TPC-H-ish queries
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: partial-agg-friendly groupBy over lineitem; at scale
    this is one shuffle with map-side combine (whole-stage codegen)."""
    li = load_table(spark, sf_dir, "lineitem")
    # DECIMAL sums: exact in both engines, so the value is independent of
    # accumulation order (a double sum passes only while the orders happen
    # to agree — see salted_skew_join_revenue)
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
            .cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_revenue_by_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join → agg → top-10. customer
    is small ⇒ broadcast (no shuffle of orders/lineitem for the join key)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    seg = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    joined = (
        orders.join(F.broadcast(seg), orders.o_custkey == seg.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
    )
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        joined.groupBy("o_orderkey")
        .agg(F.round(F.sum(disc_price), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# --------------------------------------------------------- O22 JSON emit
def docs_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json(struct(...)) — the per-document JSON blob of the reference's
    sink (certificate_ocr.py:432-441), formatted identically by both
    engines (compact separators, unescaped UTF-8)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.to_json(F.struct(F.col("doc_id"), F.col("lang"), F.col("n_chars"))).alias("doc_json"),
    )


# -------------------------------------------------- rollup / window breadth
def monthly_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP(year, month): subtotal rows carry NULL keys in both
    engines. One shuffle; Spark expands grouping sets map-side."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup(F.year("o_orderdate").cast("long").alias("yr"),
                 F.month("o_orderdate").cast("long").alias("mo"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def running_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative sum + lag (days since previous order) per
    customer — pinned total ordering, raw doubles (identical summation
    sequence in both engines, no rounding)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum("o_totalprice").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("running_total"),
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).cast("long").alias("days_since_prev"),
    )


SESSION_GAP_S = 1800


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (the training-pipeline staple): per user,
    a new session starts when the inter-event gap exceeds SESSION_GAP_S.
    lag → boundary flag → running sum = session_seq → re-aggregate. One
    shuffle on user_id serves BOTH windows and the final groupBy (same
    key ⇒ Catalyst reuses the exchange)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ minus NTZ = day-time interval: timezone-free, so the boundary
    # test is identical in ANY session tz (an ltz-epoch cast would shift
    # across a DST transition in a non-UTC driver session)
    gap = F.col("ts") - F.lag("ts").over(w)
    ns = F.when(
        gap.isNull() | (gap > F.expr(f"INTERVAL {SESSION_GAP_S} SECOND")), 1
    ).otherwise(0)
    flagged = ev.select("user_id", "event_id", "ts", "value", ns.alias("ns"))
    sess = flagged.withColumn(
        "session_seq",
        F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def price_quantiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (sort-based aggregate family): median and p90 of
    order price per status. Spark `percentile` and DuckDB `quantile_cont`
    share linear interpolation, so values agree exactly. At scale prefer
    `percentile_approx` (mergeable t-digest-style sketch, no global sort) —
    approx sketches differ across engines so the EXACT form is the oracle."""
    o = load_table(spark, sf_dir, "orders")
    # round(…,4): don't bet the value hash on both engines sharing a
    # bit-exact interpolation formula across version bumps
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
    )


JOIN_SALT_R = 8


def salted_skew_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual key-salting for a skewed shuffle join (the pre-AQE staple,
    still needed when one key dominates beyond AQE's split granularity):
    every fact row gets a deterministic salt in [0,R); the dim side is
    replicated ×R; the join key becomes (key, salt) so one hot key spreads
    over R reducers. The result provably equals the unsalted join — the
    oracle is the plain SQL join. At scale R is sized to the hottest key's
    row share; the dim replication is a broadcast-sized blowup, not a
    fact-table one."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    fact = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(JOIN_SALT_R))
    )
    copies = spark.range(JOIN_SALT_R).select(F.col("id").cast("long").alias("salt"))
    dim = o.crossJoin(copies)
    joined = fact.join(
        dim, (fact["l_orderkey"] == dim["o_orderkey"]) & (fact["salt"] == dim["salt"])
    )
    # DECIMAL summation: round(sum(double),2) is accumulation-order-
    # sensitive and salting reorders the accumulation vs the oracle's plain
    # join (4/1500 groups differed by one cent in round 1). Decimal sums
    # are exact in both engines, so the salted plan is provably equal to
    # the unsalted oracle regardless of order.
    item_rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return joined.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(item_rev), 2).cast("double").alias("revenue"),
    )


# ------------------------------------------------- as-of / range joins
def asof_purchase_to_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN — an operator Spark lacks natively: each 'purchase'
    event matched to the same user's latest 'click' at or before it.

    Spark spelling: union both sides with a side tag, ONE window per
    user ordered by (ts, side) carrying last(click_*, ignorenulls) —
    a single shuffle on user_id and a single sort, O(n) state, no
    range-join candidate blowup (the naive inequality-join + argmax
    spelling shuffles O(pairs)). This is the standard scale spelling;
    ties at equal ts resolve click-before-purchase, matching the
    oracle's inclusive `c.ts <= p.ts`. (user_id, ts) is unique in the
    corpus so the match is total-order deterministic."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("event_id").alias("c_eid"), F.col("ts").alias("c_ts"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("side"), "event_id",
        F.lit(None).cast("long").alias("c_eid"),
        F.lit(None).cast("timestamp_ntz").alias("c_ts"),
    )
    w = (Window.partitionBy("user_id").orderBy("ts", "side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    both = clicks.unionByName(buys).select(
        "user_id", "ts", "side", "event_id",
        F.last("c_eid", ignorenulls=True).over(w).alias("click_event_id"),
        F.last("c_ts", ignorenulls=True).over(w).alias("click_ts"),
    )
    return both.where(F.col("side") == 1).select(
        "event_id", "user_id", "ts", "click_event_id", "click_ts"
    )


RANGE_JOIN_WINDOW_S = 1800


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN: per 'view' event, count/sum the same user's 'click'
    events inside (view.ts, view.ts + 30 min]. The equi-key (user_id)
    bounds candidates, so Spark plans a hash join with the interval as a
    post-join predicate — O(per-user pairs), not a cartesian. For a pure
    time-range join with NO equi key, bucket ts into window-sized bins
    and join on bin±1 (the standard interval-bucketing spelling)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    joined = v.join(
        c, (v["user_id"] == c["c_uid"])
        & (c["c_ts"] > v["ts"])
        & (c["c_ts"] <= v["ts"] + F.expr(f"INTERVAL {RANGE_JOIN_WINDOW_S} SECOND")),
        "left",
    )
    return joined.groupBy("event_id", "user_id", "ts").agg(
        F.count("c_ts").alias("n_clicks"),
        F.round(F.sum(F.coalesce(F.col("c_value"), F.lit(0))
                      .cast("decimal(18,4)")), 2).cast("double").alias("click_value"),
    )


ORACLES = {
    "price_quantiles_by_status": """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        FROM orders GROUP BY o_orderstatus
    """,
    "salted_skew_join_revenue": """
        SELECT o.o_custkey, count(*) AS n_items,
               CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    """,
    "sessionize_events": f"""
        WITH o AS (
            -- exact interval compare, NOT date_diff('second',...): the
            -- latter counts second-boundary crossings (truncation), which
            -- disagrees with Spark's microsecond interval comparison for
            -- gaps inside (1800s, 1801s)
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_S} SECOND
                        THEN 1 ELSE 0 END AS ns
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id, ts, value,
                   -- CAST: DuckDB window sum(BIGINT) yields HUGEINT; values
                   -- equal Spark's LONG but hash differently in the driver
                   CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
            FROM o
        )
        SELECT user_id, session_seq, count(*) AS n_events,
               min(ts) AS t_start, max(ts) AS t_end,
               round(sum(value), 2) AS sum_value
        FROM s GROUP BY user_id, session_seq
    """,
    # DuckDB has a native ASOF JOIN — the ideal oracle for ours
    "asof_purchase_to_click": """
        WITH p AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), c AS (
            SELECT event_id AS click_event_id, user_id AS c_uid, ts AS click_ts
            FROM events WHERE event_type = 'click'
        )
        SELECT p.event_id, p.user_id, p.ts, c.click_event_id, c.click_ts
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.c_uid AND c.click_ts <= p.ts
    """,
    "range_join_events": f"""
        SELECT v.event_id, v.user_id, v.ts,
               count(c.c_ts) AS n_clicks,
               CAST(round(sum(CAST(coalesce(c.c_value, 0) AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS click_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'view') v
        LEFT JOIN (SELECT user_id AS c_uid, ts AS c_ts, value AS c_value
                   FROM events WHERE event_type = 'click') c
          ON v.user_id = c.c_uid AND c.c_ts > v.ts
             AND c.c_ts <= v.ts + INTERVAL {RANGE_JOIN_WINDOW_S} SECOND
        GROUP BY 1, 2, 3
    """,
    "filter_keyword_docs": """
        SELECT doc_id, lang, n_chars FROM documents
        WHERE regexp_matches(text, 'window|stream')
    """,
    # merged slot. The O12 argmax oracle is an unnest+window spelling
    # joined back per doc — NOT a list_reduce
    # fold: DuckDB 1.0's list_reduce with a CASE lambda is
    # NONDETERMINISTIC across vectorized batches on a full-table scan
    # (same query flips 'column'/'customer' per run; single-vector
    # filtered runs are stable), so it can never anchor an oracle
    "doc_token_profile": rf"""
        WITH lt AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id, tok,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY len(tok) DESC, tok ASC) AS rn
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE len(tok) > 0
            ) WHERE rn = 1
        ), l AS (
            SELECT d.doc_id, d.text,
                   string_split(d.text, ' ') AS t,
                   lt.tok AS longest_tok
            FROM documents d LEFT JOIN lt USING (doc_id)
        )
        SELECT doc_id,
               len(list_filter(t, x -> len(trim(x)) > 0)) AS n_tokens,
               array_to_string(t[1:3], ' ') AS head3,
               longest_tok,
               len(longest_tok) AS longest_len,
               CASE WHEN contains(text, '{KEYWORD_PRIORITY[0]}') THEN '{KEYWORD_PRIORITY[0]}'
                    WHEN contains(text, '{KEYWORD_PRIORITY[1]}') THEN '{KEYWORD_PRIORITY[1]}'
                    WHEN contains(text, '{KEYWORD_PRIORITY[2]}') THEN '{KEYWORD_PRIORITY[2]}'
                    WHEN contains(text, '{KEYWORD_PRIORITY[3]}') THEN '{KEYWORD_PRIORITY[3]}'
                    WHEN contains(text, '{KEYWORD_PRIORITY[4]}') THEN '{KEYWORD_PRIORITY[4]}'
                    ELSE '' END AS first_kw,
               md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_md5,
               len(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_len,
               array_to_string(list_sort(list_distinct(t)), ',') AS toks,
               len(list_distinct(t)) AS n_distinct
        FROM l
    """,
    "avg_chars_by_lang": """
        SELECT lang, round(avg(n_chars), 4) AS avg_chars, count(*) AS docs
        FROM documents GROUP BY lang
    """,
    "latest_event_per_user": """
        SELECT user_id, event_id, event_type FROM (
            SELECT user_id, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "event_props": """
        SELECT event_id,
               regexp_extract(props, '"k": ([0-9]+)', 1) AS k_str,
               CAST(json_extract(props, '$.k') AS INTEGER) AS k_val
        FROM events
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "monthly_order_rollup": """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mo,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY ROLLUP(yr, mo)
    """,
    "running_revenue_per_customer": """
        SELECT o_custkey, o_orderkey,
               sum(o_totalprice) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey
                                       ROWS UNBOUNDED PRECEDING) AS running_total,
               CAST(datediff('day',
                    lag(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS BIGINT) AS days_since_prev
        FROM orders
    """,
    "docs_to_json": """
        SELECT doc_id,
               to_json(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars)) AS doc_json
        FROM documents
    """,
    "q3_revenue_by_order": """
        SELECT o_orderkey,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
}

QUERIES = {
    "filter_keyword_docs": filter_keyword_docs,
    "doc_token_profile": doc_token_profile,
    "event_props": event_props,
    "avg_chars_by_lang": avg_chars_by_lang,
    "latest_event_per_user": latest_event_per_user,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_revenue_by_order": q3_revenue_by_order,
    "monthly_order_rollup": monthly_order_rollup,
    "running_revenue_per_customer": running_revenue_per_customer,
    "docs_to_json": docs_to_json,
    "sessionize_events": sessionize_events,
    "salted_skew_join_revenue": salted_skew_join_revenue,
    "price_quantiles_by_status": price_quantiles_by_status,
    "asof_purchase_to_click": asof_purchase_to_click,
    "range_join_events": range_join_events,
}
