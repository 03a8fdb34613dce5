"""Analytical query shapes: TPC-H-style multi-join aggregations,
calendar rollups, analytic (lag/lead) windows, CUBE, and the
end-to-end corpus-preparation pipeline for LLM training data.

Everything follows the engine's determinism rules (DECIMAL sums,
mirrored op order — see operators/relational.py) so each query is
oracle-checked exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import balanced, load_table
from .relational import dec, dec_disc_price, dec_disc_price_sql, dsum, dsum_sql
from .text import (
    LANG_MARKERS,
    bind_once_sql,
    langid_sql,
    portable_hash60,
    portable_hash60_spark_sql,
    portable_hash60_sql,
    tokens_sql,
)


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join with selective filters on both fact
    sides + grouped revenue + top-10. Filters push to scans; customer
    dim is broadcast after its filter (AQE would pick this even
    without the hint at harness sizes)."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1996-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1996-03-15"
    )
    revenue = dec_disc_price("l_extendedprice", "l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


TPCH_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join (fact + 4 dims, all dims
    broadcast) + grouped revenue per nation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    revenue = dec_disc_price("l_extendedprice", "l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


TPCH_Q5_SQL = """
SELECT n_name,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND c_nationkey = s_nationkey
GROUP BY n_name
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: lineitem ⋈ part with a conditional aggregate —
    the share of revenue from promo parts per month. The part dim
    broadcasts; revenue stays decimal until the final ratio so the
    division is one double op over two exact sums."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    revenue = dec_disc_price("l_extendedprice", "l_discount")
    promo = F.when(
        F.col("p_type").startswith("PROMO"), revenue
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(revenue).cast("double").alias("total_revenue"),
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(revenue).cast("double")
            ).alias("promo_share_pct"),
        )
    )


PROMO_REVENUE_SHARE_SQL = f"""
SELECT date_trunc('month', l_shipdate) AS ship_month,
       CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                THEN {dec_disc_price_sql('l_extendedprice', 'l_discount')}
                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
       CAST(sum({dec_disc_price_sql('l_extendedprice', 'l_discount')})
            AS DOUBLE) AS total_revenue,
       CAST(100.0 AS DOUBLE)
         * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                    THEN {dec_disc_price_sql('l_extendedprice', 'l_discount')}
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(sum({dec_disc_price_sql('l_extendedprice', 'l_discount')})
                AS DOUBLE) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def small_quantity_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items whose quantity is
    below 20% of their part's average quantity — the correlated
    scalar subquery decorrelated into a per-part aggregate joined
    back to the fact (exactly what Catalyst's subquery rewrite does;
    written explicitly so the shuffle structure is visible: one agg
    on l_partkey, one join back on the same key — co-partitioned, so
    AQE plans a single exchange for both).

    Numeric determinism: the 0.2×avg threshold is only COMPARED
    against (never output), so its last-ulp is irrelevant as long as
    both engines compute it identically — both evaluate
    0.2 * (CAST(decimal_sum AS DOUBLE) / count) in the same order."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = (
        li.groupBy("l_partkey")
        .agg(
            (dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
        )
    )
    threshold = F.lit(0.2) * F.col("avg_qty")
    return (
        li.join(avg_qty, "l_partkey")
        .where(F.col("l_quantity") < threshold)
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            dsum("l_extendedprice").alias("small_revenue"),
        )
    )


SMALL_QUANTITY_ORDER_REVENUE_SQL = f"""
WITH avg_qty AS (
  SELECT l_partkey, {dsum_sql('l_quantity')} / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT l.l_partkey,
       count(*) AS n_small,
       {dsum_sql('l_extendedprice')} AS small_revenue
FROM lineitem l JOIN avg_qty a ON l.l_partkey = a.l_partkey
WHERE l.l_quantity < CAST(0.2 AS DOUBLE) * a.avg_qty
GROUP BY l.l_partkey
"""


def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: date_trunc month + decimal-exact revenue."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"))
        .agg(
            dsum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


MONTHLY_REVENUE_SQL = f"""
SELECT date_trunc('month', o_orderdate) AS month_start,
       {dsum_sql('o_totalprice')} AS revenue,
       count(*) AS n_orders
FROM orders GROUP BY 1
"""


def order_gaps_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic functions: per-customer order sequencing with lag/lead
    and day gaps — one shuffle on the partition key, both window
    expressions share the sort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_date = F.lag("o_orderdate").over(w)
    next_date = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.row_number().over(w).alias("order_seq"),
        F.datediff(F.col("o_orderdate"), prev_date).cast("long").alias(
            "days_since_prev"
        ),
        F.datediff(next_date, F.col("o_orderdate")).cast("long").alias(
            "days_until_next"
        ),
    )


ORDER_GAPS_LAG_LEAD_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(row_number() OVER w AS INTEGER) AS order_seq,
       CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT)
         AS days_since_prev,
       CAST(date_diff('day', o_orderdate, lead(o_orderdate) OVER w) AS BIGINT)
         AS days_until_next
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping-set levels in one
    Expand pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


CUBE_ORDER_STATS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


#: attribution window for the click→purchase range join
ATTRIBUTION_WINDOW_MIN = 10


def click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN: attribute each purchase to the clicks by the same
    user in the preceding 10 minutes (click.ts < purchase.ts ≤
    click.ts + 10 min).

    Scale shape — the naive form `JOIN ON user AND p.ts BETWEEN ...`
    gives Spark an equi-key (user) plus an inequality, degrading to a
    per-user cross product (a power user with 10^6 events → 10^12
    pairs on one task). Instead both sides are BUCKETIZED into
    window-sized time bins and the join is EQUI on
    (user_id, bin): a purchase in bin b can only match clicks in bins
    {b-1, b}, so the click side is exploded to 2 candidate bins and
    the exact inequality is applied as a post-filter. Fan-out is
    bounded (≤ 2×) and the join shuffles on a short compound key —
    the standard scalable range-join rewrite."""
    bin_us = ATTRIBUTION_WINDOW_MIN * 60 * 1_000_000
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        (F.unix_micros(F.col("ts")) / F.lit(bin_us)).cast("long").alias("bin"),
    )
    cbin = (F.unix_micros(F.col("click_ts")) / F.lit(bin_us)).cast("long")
    clicks_binned = clicks.withColumn(
        "bin", F.explode(F.array(cbin, cbin + F.lit(1)))
    )
    return (
        purchases.join(clicks_binned, ["user_id", "bin"])
        .where(
            (F.col("click_ts") < F.col("purchase_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts")
                + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES")
            )
        )
        .select(
            "user_id",
            "purchase_id",
            "purchase_ts",
            "purchase_value",
            "click_id",
            "click_ts",
            (
                F.unix_micros(F.col("purchase_ts"))
                - F.unix_micros(F.col("click_ts"))
            ).alias("lag_us"),
        )
    )


CLICK_PURCHASE_ATTRIBUTION_SQL = f"""
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       p.value AS purchase_value,
       c.event_id AS click_id,
       c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts < p.ts AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES
"""


#: per-source sampling rates (percent) for the corpus mixture
MIXTURE_RATES = {"src0": 60, "src1": 25, "src2": 10}
MIXTURE_DEFAULT_RATE = 5


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sampling — the data-mixing primitive
    for training-corpus assembly: each source is down-sampled at its
    own rate. Membership is decided by a portable hash of the doc id
    (`md5 % 100 < rate`), NOT `df.sample()`: hash-sampling is
    reproducible across engines/runs/retries, stable under
    repartitioning, and trivially auditable — all properties
    `sample()`'s per-partition RNG lacks. Pure narrow filter; at
    100 TB it runs inside the scan's codegen stage."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.lit(MIXTURE_DEFAULT_RATE)
    for src, r in MIXTURE_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    bucket = portable_hash60(F.col("doc_id").cast("string")) % 100
    return (
        d.withColumn("rate_pct", rate)
        .where(bucket < F.col("rate_pct"))
        .select("doc_id", "source", "lang", "rate_pct")
    )


def _mixture_rate_sql() -> str:
    out = str(MIXTURE_DEFAULT_RATE)
    for src, r in MIXTURE_RATES.items():
        out = f"CASE WHEN source = '{src}' THEN {r} ELSE {out} END"
    return out


CORPUS_MIXTURE_SAMPLE_SQL = f"""
SELECT doc_id, source, lang, CAST(rate_pct AS INTEGER) AS rate_pct
FROM (
  SELECT doc_id, source, lang, {_mixture_rate_sql()} AS rate_pct,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 100 AS bucket
  FROM documents
)
WHERE bucket < rate_pct
"""


def events_gapfill_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a DENSE 5-minute bucket spine per
    event_type (sequence over the observed min..max), left-joined to
    the actual bucket counts, empty buckets coalesced to zero — the
    prerequisite for correct moving averages / anomaly baselines over
    sparse event data. The spine generation is a tiny per-type
    explode; the join broadcasts the aggregated counts when small and
    shuffles on (type, bucket) otherwise."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / F.lit(300)).cast("long") * F.lit(300)
    )
    counts = (
        e.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    bounds = counts.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 5 MINUTES"))
        ).alias("bucket"),
    )
    return (
        spine.join(counts, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            (F.coalesce("n_events", F.lit(0)) == 0).alias("is_gap"),
        )
    )


EVENTS_GAPFILL_5MIN_SQL = """
WITH counts AS (
  SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) AS bucket,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
  FROM counts GROUP BY 1
),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '5 minutes'))
           AS bucket
  FROM bounds
)
SELECT s.event_type, s.bucket,
       COALESCE(c.n_events, 0) AS n_events,
       COALESCE(c.n_events, 0) = 0 AS is_gap
FROM spine s LEFT JOIN counts c
  ON s.event_type = c.event_type AND s.bucket = c.bucket
"""


def events_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based window: trailing 1-hour (12-bucket) moving average
    of per-type 5-minute event counts — ROWS BETWEEN 11 PRECEDING AND
    CURRENT ROW over the bucket sequence. The frame sum is an INTEGER
    (engine-exact); the average divides it by the actual window row
    count, one double division at the end. One shuffle on event_type;
    the frame scan rides the same sort."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / F.lit(300)).cast("long") * F.lit(300)
    )
    counts = (
        e.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-11, Window.currentRow)
    )
    frame_sum = F.sum("n_events").over(w)
    frame_n = F.count(F.lit(1)).over(w)
    return counts.select(
        "event_type",
        "bucket",
        "n_events",
        frame_sum.alias("trailing_sum"),
        (frame_sum.cast("double") / frame_n.cast("double")).alias(
            "trailing_avg"
        ),
    )


EVENTS_MOVING_AVERAGE_SQL = """
SELECT event_type, bucket, n_events,
       CAST(sum(n_events) OVER w AS BIGINT) AS trailing_sum,
       CAST(sum(n_events) OVER w AS DOUBLE)
         / CAST(count(*) OVER w AS DOUBLE) AS trailing_avg
FROM (
  SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) AS bucket,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
WINDOW w AS (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
"""


def events_range_frame_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RANGE window frame: per-type trailing 1-HOUR event count —
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW over epoch seconds.
    Unlike the ROWS frame (`events_moving_average`), the RANGE frame is
    gap-aware: a bucket preceded by sparse history sums only the
    buckets actually inside the hour, not the last 12 rows. The frame
    sum is an INTEGER count — engine-exact. One shuffle on event_type;
    the frame scan shares the sort."""
    e = load_table(spark, sf_dir, "events")
    bucket_s = (F.unix_timestamp("ts") / F.lit(300)).cast("long") * F.lit(300)
    counts = (
        e.select("event_type", bucket_s.alias("bucket_s"))
        .groupBy("event_type", "bucket_s")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return counts.select(
        "event_type",
        F.timestamp_seconds("bucket_s").alias("bucket"),
        "n_events",
        F.sum("n_events").over(w).alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_buckets"),
    )


EVENTS_RANGE_FRAME_1H_SQL = """
SELECT event_type,
       make_timestamp(bucket_s * 1000000) AS bucket,
       n_events,
       CAST(sum(n_events) OVER w AS BIGINT) AS hour_sum,
       count(*) OVER w AS hour_buckets
FROM (
  SELECT event_type,
         CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS bucket_s,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
WINDOW w AS (PARTITION BY event_type ORDER BY bucket_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def customer_value_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-distribution windows: decile (ntile), percent_rank and
    cume_dist of customers by lifetime revenue. The order is made
    TOTAL (revenue desc, custkey) so ntile's positional assignment of
    ties is deterministic and engine-identical; revenue itself is a
    decimal-exact sum.

    Scale shape (r9): the distribution functions are CLOSED FORMS of
    the exact global row number under a total order — rank comes from
    the shared `ranking.ranged_row_number` (range partition + offset
    correction, no single-reducer sort), then
    ntile(10)   = positional bucket math (first n%10 tiles get one
                  extra row — the SQL-standard assignment both engines
                  implement),
    percent_rank = (rn−1)/(n−1)  (rank == rn: the order is total),
    cume_dist    = rn/n          (no ties ⇒ rows ≤ current == rn),
    each one double division of exact integers — IEEE-identical to the
    oracle's native window functions."""
    from .ranking import ranged_row_number

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("revenue"))
    ranked = ranged_row_number(
        rev,
        [F.col("revenue").desc(), F.col("o_custkey").asc()],
        out="rn",
        total="nn",
    )
    ntile10 = (
        "CASE WHEN rn <= (nn % 10) * (nn div 10 + 1) "
        "THEN (rn - 1) div (nn div 10 + 1) + 1 "
        "ELSE (nn % 10) + (rn - (nn % 10) * (nn div 10 + 1) - 1) "
        "div (nn div 10) + 1 END"
    )
    return ranked.select(
        "o_custkey",
        "revenue",
        F.expr(ntile10).cast("int").alias("decile"),
        F.expr(
            "CASE WHEN nn = 1 THEN CAST(0 AS DOUBLE) ELSE "
            "CAST(rn - 1 AS DOUBLE) / CAST(nn - 1 AS DOUBLE) END"
        ).alias("pct_rank"),
        F.expr("CAST(rn AS DOUBLE) / CAST(nn AS DOUBLE)").alias("cume"),
    )


CUSTOMER_VALUE_TILES_SQL = f"""
SELECT o_custkey, revenue,
       CAST(ntile(10) OVER w AS INTEGER) AS decile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM (
  SELECT o_custkey, {dsum_sql('o_totalprice')} AS revenue
  FROM orders GROUP BY o_custkey
)
WINDOW w AS (ORDER BY revenue DESC, o_custkey)
"""


def corpus_preparation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM training-corpus gate: quality-filter documents,
    drop exact duplicates (keep min doc_id per canonical fingerprint),
    attach language ID and token counts — the composition a data
    pipeline runs before tokenization. Keep-first dedup is a
    row_number window over the fingerprint, NOT groupBy+self-join:
    the expensive profiled projection (regex tokenization + langid)
    is evaluated once, and the whole pipeline has exactly one shuffle
    (hash partition by fp); fp groups are tiny so no skew risk."""
    from ..sources.registry import balanced

    # balanced(): the regex-profiling projection dwarfs a slim-row
    # shuffle on the single-file harness table (the plan-budget
    # comment always documented this exchange; the call was missing)
    d = balanced(load_table(spark, sf_dir, "documents"))
    # LET-bind the token array: the filter + langid marker counts
    # would otherwise re-inline the regex split ~8× per row (see
    # text.bind_once_sql). The inline() generator materializes the
    # struct, so the post-Generate filter reads columns, not exprs.
    counts = ", ".join(
        "size(filter(tk, t -> lower(t) IN ({}))) AS c{}".format(
            ", ".join(f"'{w}'" for w in m), i
        )
        for i, (_, m) in enumerate(LANG_MARKERS)
    )
    langs = [lang for lang, _ in LANG_MARKERS]
    lang_case = (
        "CASE WHEN m.c0 + m.c1 + m.c2 + m.c3 = 0 THEN 'und' "
        "WHEN m.c0 >= m.c1 AND m.c0 >= m.c2 AND m.c0 >= m.c3 "
        f"THEN '{langs[0]}' "
        f"WHEN m.c1 >= m.c2 AND m.c1 >= m.c3 THEN '{langs[1]}' "
        f"WHEN m.c2 >= m.c3 THEN '{langs[2]}' ELSE '{langs[3]}' END"
    )
    one = bind_once_sql(
        tokens_sql("text"),
        "tk",
        bind_once_sql(
            f"struct(size(tk) AS nt, {counts})",
            "m",
            "struct(CAST(m.nt AS BIGINT) AS n_tokens, "
            f"({lang_case}) AS lang_pred)",
        ),
    )
    profiled = d.select(
        "doc_id",
        "source",
        F.expr(f"inline(array({one}))"),
        F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))).alias("fp"),
    ).where((F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 500))
    # keep-first per fingerprint as a STRUCT-MIN partial aggregate
    # (r10): the former fp-partitioned row_number window buffered each
    # exact-dup group in one task — the groups dedup exists to find
    # are exactly the ones that get corpus-proportional. doc_id is
    # unique and leads the struct, so lexicographic min ≡ the window's
    # ORDER BY doc_id first row (the preference_pair_mining argmax
    # precedent), and the whole selection map-side combines.
    m = profiled.groupBy("fp").agg(
        F.min(
            F.struct("doc_id", "source", "n_tokens", "lang_pred")
        ).alias("m")
    )
    return m.select(
        F.col("m.doc_id").alias("doc_id"),
        F.col("m.source").alias("source"),
        F.col("m.n_tokens").alias("n_tokens"),
        F.col("m.lang_pred").alias("lang_pred"),
        "fp",
    )


CORPUS_PREPARATION_SQL = f"""
WITH profiled AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         {langid_sql('text')} AS lang_pred,
         md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 20
    AND len(regexp_split_to_array(trim(text), '\\s+')) <= 500
)
SELECT doc_id, source, n_tokens, lang_pred, fp FROM (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM profiled
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Funnel analysis + SCD Type-2 history — the two classic warehouse-ETL
# shapes the reference's batch-load domain implies but never builds
# (its loads are truncate-overwrite only: /root/reference/main.py:212).
# ---------------------------------------------------------------------------


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user: each stage's
    timestamp must strictly follow the previous stage's.

    Scale shape: three conditional min-aggregations, every agg and
    join keyed on user_id — one partitioning reused end-to-end (the
    exchanges are co-partitioned, AQE broadcasts the small per-stage
    aggregates at harness size). No window over the full event log,
    no cross-stage fan-out: state per user is O(1), so at 100 TB the
    cost is three partial-agg shuffles of (user, ts) pairs."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    views = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .join(views, "user_id")
        .where(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .where(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    reached = (
        F.lit(1)
        + F.when(F.col("first_click").isNotNull(), 1).otherwise(0)
        + F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0)
    )
    return (
        views.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            reached.cast("int").alias("reached_stage"),
        )
    )


FUNNEL_CONVERSION_SQL = """
WITH views AS (
  SELECT user_id, min(ts) AS first_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
clicks AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM events e JOIN views v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.first_view
  GROUP BY e.user_id
),
purchases AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN clicks c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.first_click
  GROUP BY e.user_id
)
SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
       CAST(1 + CASE WHEN c.first_click IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN p.first_purchase IS NOT NULL THEN 1 ELSE 0 END
            AS INTEGER) AS reached_stage
FROM views v
LEFT JOIN clicks c USING (user_id)
LEFT JOIN purchases p USING (user_id)
"""


def scd2_order_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history: collapse each customer's order
    status sequence (ordered by o_orderdate, tie-broken by o_orderkey)
    into validity intervals [valid_from, valid_to) with an is_current
    flag — the incremental-load shape the reference's truncate-and-
    overwrite pipeline cannot express.

    Scale shape: one shuffle on o_custkey; both window passes and the
    run-collapse groupBy reuse that partitioning (integer run-id
    cumsum, no double window sums). At 100 TB the state per key is
    the status run count, not the order count."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed = F.when(
        F.lag("o_orderstatus").over(w).isNull()
        | (F.col("o_orderstatus") != F.lag("o_orderstatus").over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = o.withColumn(
        "run_id",
        F.sum(changed).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    periods = runs.groupBy("o_custkey", "run_id", "o_orderstatus").agg(
        F.min("o_orderdate").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders_in_period"),
    )
    wr = Window.partitionBy("o_custkey").orderBy("run_id")
    return periods.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        "valid_from",
        F.lead("valid_from").over(wr).alias("valid_to"),
        "n_orders_in_period",
        F.lead("valid_from").over(wr).isNull().alias("is_current"),
    )


SCD2_ORDER_STATUS_HISTORY_SQL = """
WITH runs AS (
  SELECT *, sum(changed) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS run_id
  FROM (
    SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
           CASE WHEN lag(o_orderstatus) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) IS NULL
                  OR o_orderstatus <> lag(o_orderstatus)
                     OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey)
                THEN 1 ELSE 0 END AS changed
    FROM orders
  )
),
periods AS (
  SELECT o_custkey, run_id, o_orderstatus,
         min(o_orderdate) AS valid_from,
         count(*) AS n_orders_in_period
  FROM runs GROUP BY o_custkey, run_id, o_orderstatus
)
SELECT o_custkey, o_orderstatus AS status, valid_from,
       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
         AS valid_to,
       n_orders_in_period,
       (lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
          IS NULL) AS is_current
FROM periods
"""


def rolling_distinct_users_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct users + event volume per active hour.
    Spark has no COUNT(DISTINCT) over a sliding window frame; the
    scalable formulation is pre-aggregate → bounded fan-out → re-agg:
    collapse events to (hour, user) pairs first (the only pass over
    the raw log), fan each pair out to the ≤24 window-end hours it
    serves (narrow explode), then count distinct per window end.

    Scale shape: the fan-out multiplies PAIRS (already deduped, ≪ raw
    events), not the event log, and the multiplier is the fixed
    window/bucket ratio (24) — state never depends on event volume
    per user. The active-hour spine is bounded (≤ 8.8k hours/year),
    so the final semi join broadcasts at any data scale."""
    from .. import caches

    e = load_table(spark, sf_dir, "events")
    # claim + materialize ONCE: pairs feeds the fan-out AND the
    # active-hour spine — left lazy, the raw-event scan + (hour, user)
    # aggregation ran twice (CLAUDE.md claim-once rule; pairs is the
    # deduped slim table, orders of magnitude smaller than the log)
    pairs = caches.claim(
        "rolling_24h_pairs",
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h"), "user_id"
        ).agg(F.count(F.lit(1)).alias("n")),
    )
    fan = pairs.select(
        F.expr("explode(sequence(0, 23))").alias("i"), "h", "user_id", "n"
    ).select(
        F.expr("timestampadd(HOUR, i, h)").alias("window_end_hour"),
        "user_id",
        "n",
    )
    spine = pairs.select(F.col("h").alias("window_end_hour")).distinct()
    return (
        fan.join(F.broadcast(spine), "window_end_hour", "leftsemi")
        .groupBy("window_end_hour")
        .agg(
            F.countDistinct("user_id").alias("n_users_24h"),
            F.sum("n").cast("long").alias("n_events_24h"),
        )
    )


ROLLING_DISTINCT_USERS_24H_SQL = """
WITH pairs AS (
  SELECT date_trunc('hour', ts) AS h, user_id, count(*) AS n
  FROM events GROUP BY 1, 2
),
fan AS (
  SELECT h + (i * INTERVAL 1 HOUR) AS window_end_hour, user_id, n
  FROM pairs
  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS i) g
)
SELECT window_end_hour,
       count(DISTINCT user_id) AS n_users_24h,
       CAST(sum(n) AS BIGINT) AS n_events_24h
FROM fan
WHERE window_end_hour IN (SELECT h FROM pairs)
GROUP BY window_end_hour
"""


def zorder_events_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit over events: interleave the
    (user bucket, hour bucket) dimensions into one sort key and report
    per-tile bounding boxes.

    Why this is a first-class 100 TB operator: writing the fact table
    sorted by this key makes every parquet row group a small rectangle
    in (user, time) space — the min/max column statistics then let
    scans skip files for predicates on EITHER dimension, where a
    single-column sort only serves one. The per-tile u/h spans this
    query returns are exactly the row-group statistics a writer would
    get; bounded spans per tile = the skipping guarantee. Pure integer
    bit arithmetic (no floats), mirrored operator-for-operator in the
    oracle."""
    from .skew import (
        Z_ANCHOR_US,
        Z_HOUR_US,
        Z_TILE_SHIFT,
        zorder_key_spark_sql,
    )

    e = load_table(spark, sf_dir, "events")
    ux = "(user_id % 1024)"
    hx = f"(((unix_micros(ts) - {Z_ANCHOR_US}) div {Z_HOUR_US}) % 1024)"
    z = zorder_key_spark_sql(ux, hx)
    return (
        e.select(
            F.expr(f"shiftright({z}, {Z_TILE_SHIFT})").alias("tile"),
            F.expr(f"CAST({ux} AS BIGINT)").alias("ub"),
            F.expr(f"CAST({hx} AS BIGINT)").alias("hb"),
        )
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ub").alias("u_min"),
            F.max("ub").alias("u_max"),
            F.min("hb").alias("h_min"),
            F.max("hb").alias("h_max"),
        )
    )


def _build_zorder_sql() -> str:
    from .skew import (
        Z_ANCHOR_US,
        Z_HOUR_US,
        Z_TILE_SHIFT,
        zorder_key_duck_sql,
    )

    ux = "(user_id % 1024)"
    hx = f"(((epoch_us(ts) - {Z_ANCHOR_US}) // {Z_HOUR_US}) % 1024)"
    z = zorder_key_duck_sql(ux, hx)
    return f"""
    SELECT ({z} >> {Z_TILE_SHIFT}) AS tile,
           count(*) AS n_events,
           min(CAST({ux} AS BIGINT)) AS u_min,
           max(CAST({ux} AS BIGINT)) AS u_max,
           min(CAST({hx} AS BIGINT)) AS h_min,
           max(CAST({hx} AS BIGINT)) AS h_max
    FROM events
    GROUP BY 1
    """


ZORDER_EVENTS_TILES_SQL = _build_zorder_sql()


def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection, engine-exact: per event_type moments
    via DECIMAL sums (order-independent, bit-exact), then |v − μ| >
    2σ. sqrt is IEEE-correctly-rounded in both engines, so even σ is
    bit-identical; the 2-dp inputs make the squared terms 4-dp —
    lossless in DECIMAL(18,4) (relational.dec_disc_price's scale
    analysis).

    Scale shape: one grouped moment pass (map-side combinable), tiny
    stats dim broadcast back onto the narrow event scan — the
    standard two-pass outlier filter; no window, no sort."""
    from .relational import DEC, dec, dsum

    e = load_table(spark, sf_dir, "events")
    sq = (dec("value") * dec("value")).cast(DEC)
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sum_v"),
        F.sum(sq).cast("double").alias("sum_sq"),
    )
    j = e.join(F.broadcast(stats), "event_type")
    mean = F.col("sum_v") / F.col("n")
    # clamp at 0: for (near-)constant groups the two decimal-exact
    # moments can differ by a last-ulp after the double divisions,
    # making var a tiny NEGATIVE double — Spark's sqrt then yields NaN
    # (silently dropping every row of the group) while DuckDB ERRORS
    # on sqrt(<0), aborting the oracle. greatest(·, 0e0) identically
    # on both sides keeps the engines aligned and the filter sane.
    var = F.greatest(
        (F.col("sum_sq") / F.col("n")) - mean * mean, F.lit(0.0)
    )
    std = F.sqrt(var)
    return (
        j.withColumn("mean_value", mean)
        .withColumn("std_value", std)
        .where(F.abs(F.col("value") - F.col("mean_value"))
               > F.lit(2.0) * F.col("std_value"))
        .select(
            "event_id", "event_type", "value", "mean_value", "std_value"
        )
    )


EVENTS_VALUE_OUTLIERS_SQL = """
WITH stats AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,4))
                       * CAST(value AS DECIMAL(18,4))
                       AS DECIMAL(18,4))) AS DOUBLE) AS sum_sq
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       (s.sum_v / s.n) AS mean_value,
       sqrt(greatest((s.sum_sq / s.n) - (s.sum_v / s.n) * (s.sum_v / s.n),
                     CAST(0 AS DOUBLE))) AS std_value
FROM events e JOIN stats s USING (event_type)
WHERE abs(e.value - (s.sum_v / s.n))
      > CAST(2.0 AS DOUBLE)
        * sqrt(greatest((s.sum_sq / s.n) - (s.sum_v / s.n) * (s.sum_v / s.n),
                        CAST(0 AS DOUBLE)))
"""


def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: the calendar rollup composed with a
    lag window over the (tiny) aggregated series. The growth ratio is
    one double subtraction + division over two decimal-exact sums,
    identically ordered in the oracle.

    Scale shape: the window runs over |months| rows (already
    aggregated), so the single-partition window is trivially safe —
    the global-window scale concern only applies pre-aggregation."""
    base = monthly_revenue(spark, sf_dir)
    w = Window.orderBy("month_start")
    prev = F.lag("revenue").over(w)
    return base.select(
        "month_start",
        "revenue",
        "n_orders",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("mom_growth"),
    )


MONTHLY_REVENUE_GROWTH_SQL = f"""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month_start,
         {dsum_sql('o_totalprice')} AS revenue,
         count(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT month_start, revenue, n_orders,
       lag(revenue) OVER (ORDER BY month_start) AS prev_revenue,
       (revenue - lag(revenue) OVER (ORDER BY month_start))
         / lag(revenue) OVER (ORDER BY month_start) AS mom_growth
FROM m
"""


#: keyword query set for the search operator (deterministic constant)
SEARCH_TERMS = ["spark", "stream", "query", "fast"]
SEARCH_TOP_K = 20

#: ONE lowered-tokenization oracle shared by every search scorer
#: (keyword tf + BM25); the Spark side is text.tokens_sql — rankings
#: depend on identical token boundaries, so neither may fork per operator
LOWER_TOKS_DUCK = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def keyword_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index keyword search: score = total term frequency of
    the query terms per document, top-20 docs (ties → doc_id). The
    IR retrieval shape: explode tokens → filter to the (broadcast,
    here literal) term set → per-doc integer score → TakeOrdered.

    Scale shape: the term filter drops ~all tokens before the only
    shuffle (partial-agg on doc_id); scoring is integer-exact, so no
    float ranking divergence."""
    d = balanced(load_table(spark, sf_dir, "documents"))
    terms = [t.lower() for t in SEARCH_TERMS]
    toks = d.select(
        "doc_id",
        F.explode(F.expr(tokens_sql("lower(text)"))).alias("word"),
    ).where(F.col("word").isin(terms))
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("score"),
            F.countDistinct("word").alias("n_terms_matched"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(SEARCH_TOP_K)
    )


KEYWORD_SEARCH_TOPK_SQL = f"""
SELECT doc_id,
       count(*) AS score,
       count(DISTINCT word) AS n_terms_matched
FROM (
  SELECT doc_id,
         unnest({LOWER_TOKS_DUCK}) AS word
  FROM documents
)
WHERE word IN ({", ".join(f"'{t.lower()}'" for t in SEARCH_TERMS)})
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {SEARCH_TOP_K}
"""


#: BM25 constants (Robertson/Okapi defaults)
BM25_K1 = "CAST(1.2 AS DOUBLE)"
BM25_K1P1 = "CAST(2.2 AS DOUBLE)"  # k1 + 1, precomputed (no engine op)
BM25_B = "CAST(0.75 AS DOUBLE)"


def _bm25_contrib_sql(df_col: str, tf_col: str, dl_col: str) -> str:
    """One BM25 term contribution, shared verbatim by both dialects so
    the IEEE operation order is identical. The idf is the RAW
    Robertson odds ratio (N - df + 0.5)/(df + 0.5) — log-free, same
    policy as `tfidf_top_terms`: ln()'s libm rounding differs between
    engines, while this rational idf is a fixed sequence of exact-
    input double ops. Monotone in the classic log idf, so rankings
    agree with BM25 wherever idf > 0 terms dominate."""
    half = "CAST(0.5 AS DOUBLE)"
    idf = (
        f"((n_docs - CAST({df_col} AS DOUBLE) + {half})"
        f" / (CAST({df_col} AS DOUBLE) + {half}))"
    )
    tfd = f"CAST({tf_col} AS DOUBLE)"
    norm = (
        f"({tfd} + {BM25_K1} * (CAST(1 AS DOUBLE) - {BM25_B}"
        f" + {BM25_B} * (CAST({dl_col} AS DOUBLE) / avgdl)))"
    )
    return f"({idf} * ({tfd} * {BM25_K1P1}) / {norm})"


def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the document corpus for the fixed
    SEARCH_TERMS query — the IR scorer behind Lucene/Elasticsearch
    defaults, with document-length normalization the plain-tf
    `keyword_search_topk` lacks.

    Bit-exact across engines by construction: (a) log-free rational
    idf (see `_bm25_contrib_sql`); (b) the per-document score is NOT a
    float SUM over an unordered group — each term's contribution is
    pivoted into its own conditional-aggregate column and added in
    FIXED literal order (c0 + c1 + c2 + c3), the engine-portable way
    to sum a small known term set (double addition is not
    associative, and groupBy SUM order is partition-dependent).

    Scale shape (r10): one corpus scan feeds both the length table
    and the term postings (the filter to SEARCH_TERMS drops ~all
    tokens before the only wide shuffle); df is a ≤|terms|-row
    aggregate over the claimed tf table, BROADCAST-joined back (the
    former word-partitioned count window buffered a hot term's whole
    corpus-proportional posting list in one task); the two corpus
    scalars (N, avgdl) ride a 1-row broadcast. Top-k is
    TakeOrdered — no global sort shuffle."""
    d = balanced(load_table(spark, sf_dir, "documents"))
    terms = [t.lower() for t in SEARCH_TERMS]
    base = d.select(
        "doc_id", F.expr(tokens_sql("lower(text)")).alias("toks")
    )
    from .. import caches

    # lens feeds TWO branches (the scalar agg and the per-doc join) —
    # left lazy each re-scans documents and re-splits text; claim-once
    # above the size threshold, lazy below (claim_if_large policy)
    lens = caches.claim_if_large(
        "bm25_lens",
        base.select(
            "doc_id", F.size("toks").cast("long").alias("doc_len")
        ),
        source_paths=[f"{sf_dir}/documents.parquet"],
    )
    # corpus scalars: exact integer count/sum, ONE double division
    scal = lens.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("doc_len").cast("double").alias("tot_tokens"),
    ).select(
        "n_docs", F.expr("tot_tokens / n_docs").alias("avgdl")
    )
    tf = caches.claim(
        "bm25_tf",
        base.select("doc_id", F.explode("toks").alias("word"))
        .where(F.col("word").isin(terms))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf")),
    )
    # ≤|terms| rows — broadcast back instead of a word window
    df_counts = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    tfd = tf.join(F.broadcast(df_counts), "word")
    contrib = (
        tfd.join(lens, "doc_id")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            "word",
            "doc_len",
            F.expr(_bm25_contrib_sql("df", "tf", "doc_len")).alias("c"),
        )
    )
    score = " + ".join(f"c{i}" for i in range(len(terms)))
    agg = contrib.groupBy("doc_id").agg(
        F.expr("max(doc_len)").alias("doc_len"),
        F.expr("count(*)").alias("n_terms_matched"),
        *[
            F.expr(
                f"coalesce(max(CASE WHEN word = '{t}' THEN c END),"
                f" CAST(0 AS DOUBLE))"
            ).alias(f"c{i}")
            for i, t in enumerate(terms)
        ],
    )
    return (
        agg.select(
            "doc_id",
            "doc_len",
            "n_terms_matched",
            F.expr(score).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(SEARCH_TOP_K)
    )


def _build_bm25_sql() -> str:
    terms = [t.lower() for t in SEARCH_TERMS]
    in_list = ", ".join(f"'{t}'" for t in terms)
    cases = ", ".join(
        f"COALESCE(MAX(CASE WHEN word = '{t}' THEN c END),"
        f" CAST(0 AS DOUBLE)) AS c{i}"
        for i, t in enumerate(terms)
    )
    score = " + ".join(f"c{i}" for i in range(len(terms)))
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, {LOWER_TOKS_DUCK} AS toks
  FROM documents
),
lens AS MATERIALIZED (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS doc_len FROM base
),
scal AS (
  SELECT n_docs, tot_tokens / n_docs AS avgdl
  FROM (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               CAST(CAST(sum(doc_len) AS BIGINT) AS DOUBLE) AS tot_tokens
        FROM lens)
),
tf AS (
  SELECT doc_id, word, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS word FROM base)
  WHERE word IN ({in_list})
  GROUP BY doc_id, word
),
tfd AS (
  SELECT *, count(*) OVER (PARTITION BY word) AS df FROM tf
),
contrib AS (
  SELECT t.doc_id, t.word, lens.doc_len,
         {_bm25_contrib_sql("t.df", "t.tf", "lens.doc_len")} AS c
  FROM tfd t JOIN lens USING (doc_id), scal
),
agg AS (
  SELECT doc_id, MAX(doc_len) AS doc_len,
         count(*) AS n_terms_matched, {cases}
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, doc_len, n_terms_matched, {score} AS score
FROM agg
ORDER BY score DESC, doc_id
LIMIT {SEARCH_TOP_K}
"""


BM25_SEARCH_TOPK_SQL = _build_bm25_sql()


# ---------------------------------------------------------------------------
# Corpus curation: per-source caps; events value histogram.
# ---------------------------------------------------------------------------

SOURCE_CAP = 10  # max documents kept per source shard


def source_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the crawl-curation primitive that
    bounds any single domain's contribution to the corpus (Common
    Crawl pipelines cap per-domain page counts the same way). Keeps
    the SOURCE_CAP lowest-hash documents per source: hash order is a
    deterministic uniform shuffle, so the cap is an unbiased sample
    that is reproducible across runs and engines (unlike rand()).

    Scale shape (r10): the rank window sorts only the per-source
    boundary-prune survivors — `ranking.grouped_bottomk_survivors`
    bounds the CAP-th smallest hash per source from one map-side
    bucket aggregate, so the window input is ~CAP·(1+CAP/B) rows per
    source at ANY corpus size (the r9 per-group-window fix; a skewed
    mega-domain no longer serializes one task). Survivor ranks equal
    full-relation ranks because the prune keeps every row at or below
    the boundary — the kept set is provably identical."""
    from .. import caches
    from .ranking import grouped_bottomk_survivors

    d = load_table(spark, sf_dir, "documents")
    # claim ONCE: the helper scans its input twice (bucket-minima agg
    # + survivor join) — unclaimed, the scan + per-row md5 run twice
    # (ADVICE r10)
    per = caches.claim(
        "source_capped_hashed",
        d.select(
            "doc_id",
            "source",
            "lang",
            portable_hash60(F.col("doc_id").cast("string")).alias("_h"),
        ),
    )
    surv = grouped_bottomk_survivors(per, ["source"], "_h", SOURCE_CAP)
    w = Window.partitionBy("source").orderBy("_h", "doc_id")
    return (
        surv.select(
            "doc_id", "source", "lang", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") <= SOURCE_CAP)
    )


SOURCE_CAPPED_DOCS_SQL = f"""
SELECT doc_id, source, lang, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT),
                    doc_id) AS rk
  FROM documents
)
WHERE rk <= {SOURCE_CAP}
"""


HIST_BIN_WIDTH = "25.0"  # literal shared verbatim by both engines
HIST_N_BINS = 20


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram over the events stream — the
    profiling/data-quality primitive (bin counts + per-bin min/max
    envelope). Binning is floor(value / width) clamped to the last
    bin, all IEEE-exact single ops; no double summation anywhere
    (counts and min/max only), so the result is engine-portable.

    Scale shape: one map-side-combining hash aggregate on ≤ HIST_N_BINS
    keys — the partial aggregates are histogram-sized regardless of
    input rows, so 100 TB reduces to 32 tiny partials + one exchange."""
    e = load_table(spark, sf_dir, "events")
    bin_id = F.expr(
        f"least(greatest(CAST(floor(value / CAST({HIST_BIN_WIDTH} AS DOUBLE))"
        f" AS BIGINT), 0L), CAST({HIST_N_BINS - 1} AS BIGINT))"
    )
    return (
        e.select(bin_id.alias("bin_id"), "value")
        .groupBy("bin_id")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .withColumn(
            "bin_floor",
            F.expr(f"CAST(bin_id AS DOUBLE) * CAST({HIST_BIN_WIDTH} AS DOUBLE)"),
        )
    )


EVENTS_VALUE_HISTOGRAM_SQL = f"""
SELECT bin_id, count(*) AS n, min(value) AS lo, max(value) AS hi,
       CAST(bin_id AS DOUBLE) * CAST({HIST_BIN_WIDTH} AS DOUBLE) AS bin_floor
FROM (
  SELECT least(greatest(CAST(floor(value / CAST({HIST_BIN_WIDTH} AS DOUBLE))
                             AS BIGINT), CAST(0 AS BIGINT)),
               CAST({HIST_N_BINS - 1} AS BIGINT)) AS bin_id,
         value
  FROM events
)
GROUP BY bin_id
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix — the classic product-analytics
    triangle: users are cohorted by their first active week, and each
    (cohort_week, week_offset) cell counts how many came back that
    many weeks later. Pure integer/date math — no doubles anywhere.

    Scale shape: one distinct on (user, week) — the only pass over the
    raw events — then a user-keyed window for the cohort week and a
    tiny (weeks × offsets)-keyed aggregate. No join: the cohort week
    rides along as min() OVER the already-deduplicated activity set,
    so the 100 TB input is touched exactly once."""
    e = load_table(spark, sf_dir, "events")
    active = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    cohorted = active.withColumn(
        "cohort_wk", F.min("wk").over(Window.partitionBy("user_id"))
    )
    offset = F.expr(
        "CAST(datediff(CAST(wk AS DATE), CAST(cohort_wk AS DATE)) div 7"
        " AS INT)"
    )
    return (
        cohorted.select(
            # DATE like the oracle (DuckDB date_trunc at week
            # precision yields DATE; Spark yields TIMESTAMP)
            F.col("cohort_wk").cast("date").alias("cohort_wk"),
            offset.alias("week_offset"),
        )
        .groupBy("cohort_wk", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


COHORT_RETENTION_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
),
cohorted AS (
  SELECT user_id, wk, min(wk) OVER (PARTITION BY user_id) AS cohort_wk
  FROM active
)
SELECT cohort_wk,
       CAST(date_diff('day', CAST(cohort_wk AS DATE), CAST(wk AS DATE)) // 7
            AS INTEGER) AS week_offset,
       count(*) AS n_users
FROM cohorted
GROUP BY cohort_wk, week_offset
"""


# --- approximate quantiles (mergeable single-pass sketch) ------------------

QUANT_BIN_WIDTH = "1.0"  # literal shared verbatim by both engines


def events_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-type value quantiles (p50/p90/p99) from a
    fixed-width bin sketch — the mergeable single-pass percentile
    pattern for data too big to sort: bin counts are associative
    partial aggregates (exactly what a 1000-executor pass produces),
    the cumulative scan runs over ≤ range/width bins per type, and the
    reported value is the bin UPPER edge, so the estimate is a
    guaranteed over-approximation within one bin width. All counting
    is integer (engine-exact); the only doubles are the final edge
    multiplications, mirrored operation-for-operation in the oracle.

    Quantile thresholds use exact integer ceilings — ceil(q·n) as
    (q_num·n + q_num) div q_den — never a double multiplication.

    Scale shape: one map-side-combining hash agg on (type, bin) keys
    [the sketch build], one type-keyed window over bin-count rows
    [sketch merge: rows ∝ bins, not events], one tiny final agg."""
    e = load_table(spark, sf_dir, "events")
    b = (
        e.select("event_type", quant_bin_id().alias("bin_id"))
        .groupBy("event_type", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_bin"))
    )
    return quantiles_from_bins(b)


def quant_bin_id() -> F.Column:
    """Sketch bin id of `value` (shared by the batch and streaming
    quantile queries)."""
    return F.expr(
        f"CAST(floor(value / CAST({QUANT_BIN_WIDTH} AS DOUBLE)) AS BIGINT)"
    )


def quantiles_from_bins(b: DataFrame) -> DataFrame:
    """Extract p50/p90/p99 upper bounds from a (event_type, bin_id,
    n_bin) sketch relation — the serve-side half of the quantile
    sketch, shared by the batch builder and the streaming twin."""
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = b.withColumn("cum", F.sum("n_bin").over(wcum)).withColumn(
        "n", F.sum("n_bin").over(Window.partitionBy("event_type"))
    )

    def pick(threshold_sql: str) -> F.Column:
        return F.min(
            F.when(F.col("cum") >= F.expr(threshold_sql), F.col("bin_id"))
        )

    def upper_edge(bin_col: F.Column) -> F.Column:
        return (bin_col + F.lit(1)).cast("double") * F.expr(
            f"CAST({QUANT_BIN_WIDTH} AS DOUBLE)"
        )

    return c.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        upper_edge(pick("(n + 1) div 2")).alias("p50_ub"),
        upper_edge(pick("(9 * n + 9) div 10")).alias("p90_ub"),
        upper_edge(pick("(99 * n + 99) div 100")).alias("p99_ub"),
    )


EVENTS_APPROX_QUANTILES_SQL = f"""
WITH b AS (
  SELECT event_type,
         CAST(floor(value / CAST({QUANT_BIN_WIDTH} AS DOUBLE)) AS BIGINT)
           AS bin_id,
         count(*) AS n_bin
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, bin_id,
         CAST(sum(n_bin) OVER (PARTITION BY event_type ORDER BY bin_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(n_bin) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM b
)
SELECT event_type,
       max(n) AS n_events,
       CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN bin_id END) + 1 AS DOUBLE)
         * CAST({QUANT_BIN_WIDTH} AS DOUBLE) AS p50_ub,
       CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN bin_id END) + 1
            AS DOUBLE)
         * CAST({QUANT_BIN_WIDTH} AS DOUBLE) AS p90_ub,
       CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bin_id END) + 1
            AS DOUBLE)
         * CAST({QUANT_BIN_WIDTH} AS DOUBLE) AS p99_ub
FROM c
GROUP BY event_type
"""


# --- distributed global ranking (range partition + offset) -----------------


def global_revenue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL total-order ranking WITHOUT a single-reducer window —
    the billion-key pattern, via the shared `ranking.ranged_row_number`
    recipe (this query shipped the recipe first; r9 extracted it so
    every global-rank consumer shares one implementation): range-
    partition by the sort key, rank locally inside each (parallel)
    partition, then add the cumulative count of all preceding
    partitions. Output is provably identical to `row_number() OVER
    (ORDER BY revenue DESC, custkey)` whatever boundaries the range
    sampler picks, because range partitions are order-contiguous and
    the offsets re-serialize them.

    Scale shape: one agg shuffle, one range exchange, per-partition
    window sorts in parallel (vs ONE task sorting everything in the
    naive global window), a bins-sized offset table broadcast back."""
    from .ranking import ranged_row_number

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(dsum("o_totalprice").alias("revenue"))
    return ranged_row_number(
        rev,
        [F.col("revenue").desc(), F.col("o_custkey").asc()],
        out="global_rank",
    ).select("o_custkey", "revenue", "global_rank")


GLOBAL_REVENUE_RANK_SQL = f"""
WITH rev AS (
  SELECT o_custkey, {dsum_sql('o_totalprice')} AS revenue
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, revenue,
       CAST(row_number() OVER (ORDER BY revenue DESC, o_custkey)
            AS BIGINT) AS global_rank
FROM rev
"""


# --- temperature-based corpus mixing ---------------------------------------

#: per-source quota scale (the char-heaviest source gets MIX_QUOTA docs)
MIX_QUOTA = 20


def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened corpus mixing (the T=2 / sqrt data-mixing
    rule for LLM training sets), weighted by per-source VOLUME (total
    chars — mixing quotas are token budgets, not doc counts): each
    source's doc quota is ceil(Q · sqrt(chars_s / chars_max)) —
    sub-linear in source volume, so small sources are up-weighted
    relative to proportional sampling — and the quota is filled
    DETERMINISTICALLY by md5-hash order (a seeded shuffle both engines
    reproduce bit-for-bit). Volume sums are INTEGER (engine-exact);
    the only floating ops are one sqrt + one multiply per SOURCE,
    mirrored exactly in the oracle.

    Scale shape (r10): source volumes are a tiny agg (broadcast back),
    the scalar chars_max rides a broadcast cross join, and the
    per-source hash-order rank window sorts only the
    `ranking.grouped_bottomk_survivors` survivor set — every quota is
    ≤ MIX_QUOTA (sqrt ratio ≤ 1), so pruning at k = MIX_QUOTA keeps
    every row any quota can admit while the window input stays
    ~MIX_QUOTA·(1+MIX_QUOTA/B) rows per source at ANY corpus size
    (the r9 per-group-window fix, same shape as
    `source_capped_docs`)."""
    from .ranking import grouped_bottomk_survivors

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.sum("n_chars").alias("n_s"))
    nmax = counts.agg(F.max("n_s").alias("n_max"))
    quota = F.expr(
        f"CAST(ceil(CAST({MIX_QUOTA} AS DOUBLE)"
        " * sqrt(CAST(n_s AS DOUBLE) / CAST(n_max AS DOUBLE))) AS BIGINT)"
    )
    quotas = counts.crossJoin(F.broadcast(nmax)).select(
        "source", "n_s", quota.alias("quota")
    )
    from .. import caches

    h = portable_hash60(F.col("doc_id").cast("string"))
    wsrc = Window.partitionBy("source").orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    )
    # claim ONCE: the helper scans its input twice (bucket-minima agg
    # + survivor join) — unclaimed, the scan + per-row md5 run twice
    # (ADVICE r10)
    hashed = caches.claim(
        "temperature_mixture_hashed",
        d.select("doc_id", "source", h.alias("h")),
    )
    surv = grouped_bottomk_survivors(hashed, ["source"], "h", MIX_QUOTA)
    return (
        surv.withColumn("rn", F.row_number().over(wsrc))
        .join(F.broadcast(quotas), "source")
        .where(F.col("rn") <= F.col("quota"))
        .select(
            "source",
            "doc_id",
            F.col("rn").cast("long").alias("sample_seq"),
            "quota",
        )
    )


CORPUS_TEMPERATURE_MIXTURE_SQL = f"""
WITH counts AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_s
  FROM documents GROUP BY source
),
quotas AS (
  SELECT source, n_s,
         CAST(ceil(CAST({MIX_QUOTA} AS DOUBLE)
              * sqrt(CAST(n_s AS DOUBLE)
                     / CAST((SELECT max(n_s) FROM counts) AS DOUBLE)))
              AS BIGINT) AS quota
  FROM counts
),
hashed AS (
  SELECT source, doc_id,
         {portable_hash60_sql("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
ranked AS (
  SELECT source, doc_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
              AS BIGINT) AS sample_seq
  FROM hashed
)
SELECT r.source AS source, r.doc_id AS doc_id, r.sample_seq AS sample_seq,
       q.quota AS quota
FROM ranked r JOIN quotas q ON r.source = q.source
WHERE r.sample_seq <= q.quota
"""


# --- per-source quality percentile gate ------------------------------------


def source_quality_percentile_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RELATIVE quality gate: within each source, keep the top half of
    documents by unique-word fraction (the Gopher-style repetition
    proxy — duplicated words signal low quality). Absolute-threshold
    gates (`corpus_preparation`) break when sources have different
    quality distributions; percentile gates auto-calibrate per source.
    percent_rank is the exact integer ratio (rank−1)/(n−1) over a
    TOTAL deterministic order (fraction desc, doc_id), so the cutoff
    is engine-identical.

    Scale shape (r10): the rank is distributed via
    `ranking.grouped_ranged_row_number` — range-partitioned on
    (source, fraction desc, doc_id), so no task ever sorts a whole
    source (the r9 per-group-window fix). percent_rank is then the
    SAME integer ratio the engine's window computes — (rn−1)/(n−1) as
    one double divide over the total order (the tiebreak makes
    rank ≡ row_number), with the n=1 group pinned to 0.0 exactly as
    percent_rank defines it."""
    from .ranking import grouped_ranged_row_number

    d = balanced(load_table(spark, sf_dir, "documents"))
    uniq = bind_once_sql(
        tokens_sql("text"),
        "t",
        "CAST(size(array_distinct(t)) AS DOUBLE)"
        " / CAST(size(t) AS DOUBLE)",
    )
    base = d.select("doc_id", "source", F.expr(uniq).alias("uniq_frac"))
    grn = grouped_ranged_row_number(
        base,
        ["source"],
        [F.col("uniq_frac").desc(), F.col("doc_id").asc()],
        out="_pr_rn",
        group_total="_pr_n",
    )
    pct = F.expr(
        "CASE WHEN _pr_n = 1 THEN CAST(0.0 AS DOUBLE) "
        "ELSE CAST(_pr_rn - 1 AS DOUBLE) / CAST(_pr_n - 1 AS DOUBLE) END"
    )
    return (
        grn.withColumn("pct_rank", pct)
        .where(F.col("pct_rank") <= F.expr("CAST(0.5 AS DOUBLE)"))
        .select("source", "doc_id", "uniq_frac", "pct_rank")
    )


SOURCE_QUALITY_PERCENTILE_FILTER_SQL = """
SELECT source, doc_id, uniq_frac, pct_rank
FROM (
  SELECT source, doc_id, uniq_frac,
         percent_rank() OVER (PARTITION BY source
                              ORDER BY uniq_frac DESC, doc_id) AS pct_rank
  FROM (
    SELECT source, doc_id,
           CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                AS DOUBLE)
             / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
             AS uniq_frac
    FROM documents
  )
)
WHERE pct_rank <= CAST(0.5 AS DOUBLE)
"""


# --- incremental aggregation (materialized-view maintenance) ---------------

#: months strictly before the cutoff are the "precomputed" base; the
#: cutoff month onward is the newly-arrived delta partition
INCR_CUTOFF = "1997-10-01"


def monthly_revenue_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL aggregate maintenance: monthly revenue computed as
    (precomputed base aggregate over history) MERGED with (aggregate
    of the newly-arrived partition) — the materialized-view refresh
    pattern that lets a 100 TB pipeline re-aggregate only the new
    day/month instead of the full history. The merge is a re-aggregate
    over partial aggregates, sound because the DECIMAL revenue sum is
    associative (partials merge exactly); the oracle is the FULL
    recomputation, proving merged == recomputed bit-for-bit.

    Scale shape: at 100 TB the base is a stored table (read back, not
    recomputed) and only the delta partition is scanned; here both
    branches scan the harness file with partition-pruning-shaped
    predicates (o_orderdate bounds) to keep the merge logic real."""
    o = load_table(spark, sf_dir, "orders")

    def monthly(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        ).agg(
            F.sum(dec("o_totalprice")).alias("rev_partial"),
            F.count(F.lit(1)).alias("n_orders"),
        )

    base = monthly(o.where(F.col("o_orderdate") < INCR_CUTOFF))
    delta = monthly(o.where(F.col("o_orderdate") >= INCR_CUTOFF))
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("rev_partial").cast("double").alias("revenue"),
            F.sum("n_orders").alias("n_orders"),
        )
    )


MONTHLY_REVENUE_INCREMENTAL_SQL = f"""
SELECT date_trunc('month', o_orderdate) AS month,
       {dsum_sql('o_totalprice')} AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1
"""


# --- decision-tree inference fused into the scan ---------------------------

#: tree thresholds as shared literals (both engines compare, not emit)
TREE_SQL_CASE = """
CASE
  WHEN l_quantity < 25.0 THEN
    CASE WHEN l_discount < 0.05 THEN
           CASE WHEN l_extendedprice < 30000.0 THEN 0 ELSE 1 END
         ELSE
           CASE WHEN l_extendedprice < 30000.0 THEN 2 ELSE 3 END
    END
  ELSE
    CASE WHEN l_discount < 0.05 THEN
           CASE WHEN l_tax < 0.04 THEN 4 ELSE 5 END
         ELSE
           CASE WHEN l_tax < 0.04 THEN 6 ELSE 7 END
    END
END
"""


def tree_inference_leaf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-TREE model inference fused into the scan: a 3-level /
    8-leaf tree over lineitem features expressed as one nested CASE —
    the "ML inference as relational operator" pattern (tree ensembles
    compile to exactly this shape). Comparisons only, no float
    emission from the model, so the leaf routing is engine-exact; the
    per-leaf aggregates follow the engine's decimal-sum rules.

    Scale shape: the CASE rides whole-stage codegen inside the scan
    stage (model inference costs zero extra passes at 100 TB), then
    one 8-key map-side-combining aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("leaf_id", F.expr(TREE_SQL_CASE).cast("int"))
        .groupBy("leaf_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


TREE_INFERENCE_LEAF_STATS_SQL = f"""
SELECT CAST({TREE_SQL_CASE} AS INTEGER) AS leaf_id,
       count(*) AS n_rows,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY 1
"""


# --- robust outliers: median / MAD via rank selection ----------------------


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier profile per event type: median and MAD (median
    absolute deviation) with a 3×MAD outlier count — the
    heavy-tail-safe sibling of `events_value_outliers`' z-scores.

    Portability: medians are LOWER-MIDDLE RANK SELECTIONS (the element
    at row_number (n+1) div 2 under a total (value, event_id) order),
    NEVER interpolated — interpolation arithmetic (lo + (hi−lo)·0.5
    vs (lo+hi)/2) differs across engines in the last ulp, while
    selecting an existing element is bit-exact by construction. The
    deviation |v − med| is one exact double op per row; the outlier
    rule compares against 3.0·MAD (compare-only, never emitted).

    Scale shape (r10): both rank selections are distributed via
    `ranking.grouped_ranged_row_number` — range-partitioned on
    (event_type, value, event_id) / (event_type, abs_dev, event_id) —
    so no task ever sorts a whole event type (the r9 per-group-window
    fix; a billion-row group selects its median across `ranges`
    parallel tasks). The selected elements are identical to the plain
    window's by the helper's exactness proof."""
    # NULL/type guards (drift-hardening sweep, r6): rank selection must
    # see the same ordered sequence in both engines — Spark sorts NULLS
    # FIRST by default where DuckDB's row_number sorts them LAST, so a
    # single NULL value would shift the selected median element; and a
    # float32-physical column must be widened before the deviation
    # arithmetic. Robust stats are over OBSERVED values by contract.
    from .ranking import grouped_ranged_row_number

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.col("value").cast("double").alias("value"),
    ).where(F.col("value").isNotNull())
    med = (
        grouped_ranged_row_number(
            e,
            ["event_type"],
            [F.col("value"), F.col("event_id")],
            out="rn",
            group_total="n",
        )
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("value").alias("med"))
    )
    from .. import caches

    # claim + materialize dev ONCE: it feeds the MAD rank selection
    # AND the terminal aggregate (left lazy, the events scan + median
    # broadcast join re-run per branch — CLAUDE.md claim-once rule);
    # `med` itself rides inside this single materialization
    dev = caches.claim(
        "mad_outliers_dev",
        e.join(F.broadcast(med), "event_type").withColumn(
            "abs_dev", F.expr("abs(value - med)")
        ),
    )
    mad = (
        grouped_ranged_row_number(
            dev.select("event_type", "event_id", "abs_dev"),
            ["event_type"],
            [F.col("abs_dev"), F.col("event_id")],
            out="rn",
            group_total="n",
        )
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("abs_dev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("med").alias("median_value"),
            F.max("mad").alias("mad_value"),
            F.sum(
                F.when(
                    F.col("abs_dev") > F.expr("CAST(3.0 AS DOUBLE) * mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


EVENTS_MAD_OUTLIERS_SQL = """
WITH src AS (
  SELECT event_type, event_id, CAST(value AS DOUBLE) AS value
  FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT event_type, event_id, value,
         count(*) OVER (PARTITION BY event_type) AS n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn
  FROM src
),
med AS (
  SELECT event_type, value AS med FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT e.event_type, e.event_id, abs(e.value - m.med) AS abs_dev, m.med
  FROM src e JOIN med m ON e.event_type = m.event_type
),
dev_ranked AS (
  SELECT event_type, abs_dev,
         count(*) OVER (PARTITION BY event_type) AS n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs_dev, event_id) AS rn
  FROM dev
),
mad AS (
  SELECT event_type, abs_dev AS mad FROM dev_ranked WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
       count(*) AS n_events,
       max(d.med) AS median_value,
       max(a.mad) AS mad_value,
       CAST(sum(CASE WHEN d.abs_dev > CAST(3.0 AS DOUBLE) * a.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad a ON d.event_type = a.event_type
GROUP BY d.event_type
"""


# --- watermark-lateness audit (distributed prefix-max) ---------------------

#: bounded replay disorder: each event's arrival slot is its ingestion
#: id jittered by a deterministic hash within ±_LATENESS_JITTER slots
#: (real ingest reorders locally — network/partition races — not
#: globally)
_LATENESS_JITTER = 50
#: arrival slots per order-contiguous chunk of the parallel prefix scan
_LATENESS_CHUNK = 1024
#: lateness tier bounds (µs): on-time / ≤60 s / ≤600 s / dropped
_LATENESS_TIER1_US = 60_000_000
_LATENESS_TIER2_US = 600_000_000


def _prefix_max_carry(cmax: DataFrame) -> DataFrame:
    """(key, mx) → (key, carry): max(mx) over all STRICTLY preceding
    keys, as a bounded-depth multi-level parallel prefix scan — the
    recursive chunk→superchunk decomposition (VERDICT r10 #3, retiring
    the engine's last whitelisted corpus-derived single-task scan).

    Each level groups keys into parents of ≤ _LATENESS_CHUNK siblings:
    the within-parent running max is a PARTITIONED window (≤ 1024 rows
    per task by construction), and the level above recurses on the
    per-parent maxima (1024× fewer rows). The loop is a counted
    ceiling — depth = ⌈log₁₀₂₄ n⌉ (3 levels at 10¹² events), each
    count() a cheap aggregate over an already-tiny table. The apex
    (≤ 1024 rows) computes its prefix max with a triangular self-join
    (≤ ~0.5M intermediate pairs, distributed) instead of an
    unpartitioned window, so NO task at any level sorts more than a
    bounded chunk count. carry(key) then folds back down:
    max(within-parent prev siblings, parent's carry) — associativity
    of max over order-contiguous intervals makes this provably equal
    to the global running max."""
    from .. import caches

    # claim-once per level (ADVICE r11): every level's `cur` has FOUR
    # consumers — the loop-condition count(), the sibling-window
    # projection kept in `levels`, the parent groupBy, and (for the
    # apex) both sides of the triangular self-join. Left lazy, the
    # level-0 aggregate (a full pass over the upstream table) would
    # re-execute ~depth+2 times; claimed, the count() that gates the
    # loop is also the materializing action, so each level computes
    # exactly once. Keys are per-level; re-runs retire predecessors.
    cur = caches.claim("prefix_carry_l0", cmax)  # (key, mx)
    levels: list[DataFrame] = []
    while cur.count() > _LATENESS_CHUNK:
        cur = cur.withColumn("pkey", F.expr(f"key div {_LATENESS_CHUNK}"))
        w = (
            Window.partitionBy("pkey")
            .orderBy("key")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        levels.append(
            cur.select(
                "key", "pkey", F.max("mx").over(w).alias("within_prev")
            )
        )
        cur = caches.claim(
            f"prefix_carry_l{len(levels)}",
            cur.groupBy("pkey")
            .agg(F.max("mx").alias("mx"))
            .select(F.col("pkey").alias("key"), "mx"),
        )
    # apex prefix max: ≤ _LATENESS_CHUNK rows — triangular self-join
    # (deliberate bounded BNLJ, never corpus-sized) + groupBy, so the
    # plan contains no unpartitioned window anywhere; claimed because
    # the downward fold re-reads it per level (and the final plan
    # prints it under every broadcast site)
    a, b = cur.alias("a"), cur.alias("b")
    carry = caches.claim(
        "prefix_carry_apex",
        a.join(F.broadcast(b), F.col("b.key") < F.col("a.key"), "left")
        .groupBy(F.col("a.key").alias("key"))
        .agg(F.max(F.col("b.mx")).alias("carry")),
    )
    for lvl in reversed(levels):
        parent = carry.select(
            F.col("key").alias("pkey"), F.col("carry").alias("pcarry")
        )
        carry = lvl.join(F.broadcast(parent), "pkey", "left").select(
            "key",
            # greatest() skips NULLs: first sibling has NULL
            # within_prev, first parent has NULL carry
            F.greatest("within_prev", "pcarry").alias("carry"),
        )
    return carry


def events_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning audit: how late does each event arrive behind
    the max event-time seen so far, and what share of each event type
    would a 60 s / 600 s watermark delay drop? The harness events file
    is globally time-sorted, so arrival order is SIMULATED as a
    deterministic bounded-disorder replay: events "arrive" in order of
    their ingestion id jittered ±50 slots by a portable hash — the
    local reordering real ingest produces (documented simulation; on
    real ingest you'd use the source's arrival sequence instead).

    The interesting part is the plan: `max(ts) OVER (ORDER BY arrival)`
    is a GLOBAL running aggregate — the naive window is a single task
    sorting everything (the same trap `global_revenue_rank` avoids for
    ranking). Here it's decomposed as a parallel prefix scan: the
    arrival key's high bits (`div 1024` — truncating div is monotone,
    so chunks are ORDER-CONTIGUOUS intervals of the sort key) define
    chunks, each chunk computes its running max locally (parallel
    window per chunk), the per-chunk max table gets its own carry via
    the RECURSIVE chunk→superchunk scan `_prefix_max_carry` (r11 — no
    task at any level holds more than _LATENESS_CHUNK rows, at any
    corpus size), and the carry-in is broadcast back. Provably equal
    to the global window whatever the chunking, because max is
    associative and chunks are contiguous."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    e = e.withColumn(
        "ak",
        F.expr(
            f"event_id + {portable_hash60_spark_sql('CAST(event_id AS STRING)')}"
            f" % {2 * _LATENESS_JITTER + 1} "
            f"- {_LATENESS_JITTER}"
        ),
    ).withColumn("chunk", F.expr(f"ak div {_LATENESS_CHUNK}"))
    from .. import caches

    # claim + materialize ONCE: the jittered relation feeds both the
    # chunk-local running-max window AND the per-chunk max aggregate
    # (left lazy, the scan + per-event md5 jitter run twice —
    # CLAUDE.md claim-once rule)
    e = caches.claim("lateness_audit_events", e)
    wlocal = (
        Window.partitionBy("chunk")
        .orderBy("ak", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = e.withColumn("local_max", F.max("ts").over(wlocal))
    cmax = e.groupBy("chunk").agg(F.max("ts").alias("cmax")).select(
        F.col("chunk").alias("key"), F.col("cmax").alias("mx")
    )
    prev = _prefix_max_carry(cmax).select(
        F.col("key").alias("chunk"), F.col("carry").alias("prev_max")
    )
    arrival_max = F.greatest(
        F.col("local_max"), F.coalesce(F.col("prev_max"), F.col("local_max"))
    )
    lat = F.unix_micros(arrival_max) - F.unix_micros(F.col("ts"))
    bucket = (
        F.when(lat == 0, F.lit("on_time"))
        .when(lat <= _LATENESS_TIER1_US, F.lit("late_le_60s"))
        .when(lat <= _LATENESS_TIER2_US, F.lit("late_le_600s"))
        .otherwise(F.lit("dropped_at_600s"))
    )
    g = (
        local.join(F.broadcast(prev), "chunk")
        .select(
            "event_type",
            bucket.alias("lateness_bucket"),
            lat.alias("lat_us"),
        )
        .groupBy("event_type", "lateness_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("lat_us").cast("long").alias("max_lateness_us"),
        )
    )
    wtype = Window.partitionBy("event_type")
    return g.select(
        "event_type",
        "lateness_bucket",
        "n_events",
        "max_lateness_us",
        (F.col("n_events") / F.sum("n_events").over(wtype)).alias("share"),
    )


EVENTS_LATENESS_AUDIT_SQL = f"""
WITH e AS (
  SELECT event_id, ts, event_type,
         event_id
           + CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {2 * _LATENESS_JITTER + 1}
           - {_LATENESS_JITTER} AS ak
  FROM events
),
m AS (
  SELECT event_type,
         epoch_us(max(ts) OVER (ORDER BY ak, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW))
           - epoch_us(ts) AS lat_us
  FROM e
),
b AS (
  SELECT event_type,
         CASE WHEN lat_us = 0 THEN 'on_time'
              WHEN lat_us <= {_LATENESS_TIER1_US} THEN 'late_le_60s'
              WHEN lat_us <= {_LATENESS_TIER2_US} THEN 'late_le_600s'
              ELSE 'dropped_at_600s' END AS lateness_bucket,
         lat_us
  FROM m
),
g AS (
  SELECT event_type, lateness_bucket,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(lat_us) AS BIGINT) AS max_lateness_us
  FROM b GROUP BY 1, 2
)
SELECT event_type, lateness_bucket, n_events, max_lateness_us,
       n_events / CAST(sum(n_events) OVER (PARTITION BY event_type)
                       AS BIGINT) AS share
FROM g
"""


def source_lang_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language diversity for mixture governance: language
    count, dominant-language share, and Gini impurity of the lang
    distribution — the one-line answer to "is this source
    monolingual?" before weighting it into a multilingual mixture.

    Numeric portability: Gini = 1 − Σ p_l² is computed as the exact
    integer identity (n² − Σ n_l²) / n² — two BIGINT aggregates and
    ONE double division, so no float accumulation order exists to
    drift (CLAUDE.md no-double-sums rule). Dominant share is likewise
    max(n_l)/n in one division.

    Scale shape: two partial-agg'd groupBys ((source, lang) → source);
    both keys are tiny, so the second agg is a near-broadcast
    reduction."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_l"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("n_l").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.max("n_l").alias("n_dominant"),
            F.sum(F.col("n_l") * F.col("n_l")).alias("sum_sq"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            (
                F.col("n_dominant").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dominant_share"),
            (
                (
                    F.col("n_docs") * F.col("n_docs") - F.col("sum_sq")
                ).cast("double")
                / (F.col("n_docs") * F.col("n_docs")).cast("double")
            ).alias("gini_impurity"),
        )
    )


SOURCE_LANG_DIVERSITY_SQL = """
WITH per AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_l
  FROM documents GROUP BY source, lang
),
agg AS (
  SELECT source,
         CAST(sum(n_l) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_langs,
         CAST(max(n_l) AS BIGINT) AS n_dominant,
         CAST(sum(n_l * n_l) AS BIGINT) AS sum_sq
  FROM per GROUP BY source
)
SELECT source, n_docs, n_langs,
       CAST(n_dominant AS DOUBLE) / CAST(n_docs AS DOUBLE)
         AS dominant_share,
       CAST(n_docs * n_docs - sum_sq AS DOUBLE)
         / CAST(n_docs * n_docs AS DOUBLE) AS gini_impurity
FROM agg
"""
