"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is one operator family from SURVEY.md §2 (or a
training-data-pipeline operator this engine adds), expressed Spark-first;
``oracle_sql()`` restates each one in ANSI SQL for the DuckDB side-by-side
check at sf=0.01. Column names/aliases match exactly on both sides.

Cross-engine determinism rules used throughout (see
distributed_webcrawler_spark/functions/hashes.py):
- portable 60-bit hash: md5 -> first 15 hex chars -> bigint (identical in
  Spark and DuckDB),
- money/count sums go through decimal(18,2)/(18,4) so no float summation
  order can flip a value hash; per-row double math is IEEE-identical,
- every similarity/score is round()ed the same on both sides,
- every window has a total order (documented tie-breaks).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_webcrawler_spark.functions import scrub as SC
from distributed_webcrawler_spark.functions import text as X
from distributed_webcrawler_spark.functions import urls as U
from distributed_webcrawler_spark.functions.hashes import h64, h64_sql
from distributed_webcrawler_spark.operators import dedup as D
from distributed_webcrawler_spark.operators import similarity as S
from distributed_webcrawler_spark.operators import topk as K

SF001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# The synthetic frontier built from lineitem: the crawl-scheduler operators
# (W1/W4/C5/J4) exercised on driver-provided tables so DuckDB can oracle them.
# ---------------------------------------------------------------------------
N_FRONTIER_HOSTS = 500
HOST_BUDGET = 100

_FRONTIER_SQL = f"""
  SELECT concat('https://host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar),
                '.example.test/p/', cast(l_orderkey as varchar), '-', cast(l_linenumber as varchar)) AS url,
         concat('host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar), '.example.test') AS host,
         greatest(0.1, 1.0 - (l_linenumber - 1) * 0.1) AS priority,
         l_linenumber - 1 AS depth,
         l_shipdate AS discovered_at,
         l_orderkey
  FROM lineitem
"""


def _frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO spread here (measured negative, r5): the frontier projection is
    # cheap string concat — interleaved A/B showed the guarded pre-explode
    # repartition that wins on md5-heavy scans (dedup family, DUST mining)
    # LOSES on every _frontier consumer (frontier_topk_global 0.45->0.99s,
    # blend +0.9s) because the added exchange outweighs one core's concat.
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.concat(F.lit("https://host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string"),
                 F.lit(".example.test/p/"), F.col("l_orderkey").cast("string"),
                 F.lit("-"), F.col("l_linenumber").cast("string")).alias("url"),
        F.concat(F.lit("host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string"),
                 F.lit(".example.test")).alias("host"),
        F.greatest(F.lit(0.1), F.lit(1.0) - (F.col("l_linenumber") - 1) * F.lit(0.1)).alias("priority"),
        (F.col("l_linenumber") - 1).alias("depth"),
        F.col("l_shipdate").alias("discovered_at"),
        F.col("l_orderkey"),
    )


def q_crawl_round_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — one scheduling round (W1 rank window per host under a
    politeness budget W4 + fetch join J4), on the synthetic frontier.

    Scale shape: no global sort; rank windows per host partition; the
    orders join shuffles on the (already hash-spread) unique key."""
    fr = _frontier(spark, sf_dir)
    sched = K.topk_per_group(
        fr, ["host"],
        [F.col("priority").desc(), F.col("discovered_at").asc(), F.col("url").asc()],
        HOST_BUDGET,
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    return (
        sched.join(orders, sched.l_orderkey == orders.o_orderkey, "inner")
        .select("host", "url", F.col("rk").alias("sched_rank"), F.round("priority", 6).alias("priority"),
                "depth", F.col("o_totalprice").alias("fetch_payload_price"),
                F.col("o_orderstatus").alias("fetch_status"))
    )


_Q_CRAWL_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY priority DESC, discovered_at ASC, url ASC) AS rk
  FROM frontier
)
SELECT r.host, r.url, r.rk AS sched_rank, round(r.priority, 6) AS priority, r.depth,
       o.o_totalprice AS fetch_payload_price, o.o_orderstatus AS fetch_status
FROM ranked r JOIN orders o ON r.l_orderkey = o.o_orderkey
WHERE r.rk <= {HOST_BUDGET}
"""


def q_frontier_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 reference-compat: global ZREVRANGE order (priority DESC, tie-break),
    take 100 — CrawlUrlRepository.java:31-43 semantics."""
    fr = _frontier(spark, sf_dir)
    return (
        K.global_topk(fr, [F.col("priority").desc(), F.col("discovered_at").asc(), F.col("url").asc()], 100)
        .select("url", "host", F.round("priority", 6).alias("priority"), "depth")
    )


_Q_TOPK_GLOBAL_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL})
SELECT url, host, round(priority, 6) AS priority, depth
FROM frontier ORDER BY priority DESC, discovered_at ASC, url ASC LIMIT 100
"""


def q_priority_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — the reference's priority formula max(0.1, 1.0 - d*0.1) incl. the
    0.1 floor (CrawlerManager.java:215), one row per distinct depth."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select((F.col("l_linenumber") - 1).alias("parent_depth"))
        .distinct()
        .withColumn("child_priority", F.round(U.child_priority(F.col("parent_depth")), 6))
        .withColumn("child_depth", F.col("parent_depth") + 1)
    )


_Q_PRIORITY_SQL = """
SELECT DISTINCT l_linenumber - 1 AS parent_depth,
       round(greatest(0.1, 1.0 - (l_linenumber - 1) * 0.1), 6) AS child_priority,
       l_linenumber AS child_depth
FROM lineitem
"""


def q_url_validity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — the reference's exact validity regex (BasicCrawler.java:37-39)
    over constructed URLs incl. port / localhost / fragment shapes."""
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.expr(
            "CASE CAST(doc_id % 5 AS INT) "
            "WHEN 0 THEN concat('https://', source, '.example.com:8080/d/', cast(doc_id as string)) "
            "WHEN 1 THEN concat('http://localhost/d/', cast(doc_id as string)) "
            "WHEN 2 THEN concat('https://', source, '.example.com/d/', cast(doc_id as string), '#frag') "
            "WHEN 3 THEN concat('ftp://', source, '.example.com/d/', cast(doc_id as string)) "
            "ELSE concat('https://', source, '.example.com/d/', cast(doc_id as string)) END"
        ).alias("url"),
    )
    return urls.where(U.is_valid_url(F.col("url"))).select("doc_id", "url")


_Q_VALIDITY_SQL = r"""
WITH urls AS (
  SELECT doc_id,
         CASE CAST(doc_id % 5 AS INT)
           WHEN 0 THEN concat('https://', source, '.example.com:8080/d/', cast(doc_id as varchar))
           WHEN 1 THEN concat('http://localhost/d/', cast(doc_id as varchar))
           WHEN 2 THEN concat('https://', source, '.example.com/d/', cast(doc_id as varchar), '#frag')
           WHEN 3 THEN concat('ftp://', source, '.example.com/d/', cast(doc_id as varchar))
           ELSE concat('https://', source, '.example.com/d/', cast(doc_id as varchar)) END AS url
  FROM documents)
SELECT doc_id, url FROM urls
WHERE url IS NOT NULL AND trim(url) <> ''
  AND regexp_matches(url, '^https?://[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}(/.*)?$')
"""


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the URL-seen anti-join shape: candidate set (parts) minus the
    'seen' set (parts fetched in bulk: any lineitem with qty >= 45) —
    exactly the candidates LEFT ANTI seen plan of the frontier dedup."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    seen = li.where(F.col("l_quantity") >= 45).select("l_partkey")
    return p.join(seen, p.p_partkey == F.col("l_partkey"), "left_anti") \
            .select("p_partkey", "p_name")


_Q_ANTI_SQL = """
SELECT p_partkey, p_name FROM part p
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 45)
"""


def q_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 first-wins semantics (URLFrontier.java:67-74): earliest event per
    user wins; later duplicates dropped."""
    ev = _t(spark, sf_dir, "events")
    out = D.first_wins(ev, ["user_id"], [F.col("ts").asc(), F.col("event_id").asc()])
    return out.select("user_id", "event_id", "ts", "event_type")


_Q_FIRSTWINS_SQL = """
SELECT user_id, event_id, ts, event_type FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
  FROM events) WHERE rn = 1
"""


def q_politeness_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — per-(host, time-window) token budget: top-2 events per user per
    hour by value (the per-host-per-round fetch budget shape)."""
    ev = _t(spark, sf_dir, "events").withColumn("hour", F.date_trunc("hour", F.col("ts")))
    return K.topk_per_group(
        ev, ["user_id", "hour"], [F.col("value").desc(), F.col("event_id").asc()], 2
    ).select("user_id", "hour", "event_id", F.round("value", 6).alias("value"), "rk")


_Q_BUDGET_SQL = """
SELECT user_id, hour, event_id, round(value, 6) AS value, rk FROM (
  SELECT user_id, date_trunc('hour', ts) AS hour, event_id, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY value DESC, event_id ASC) AS rk
  FROM events) WHERE rk <= 2
"""


def q_round_robin_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — per-session round-robin quota (URLFrontier.java:92-110 analog):
    top-5 customers per nation by balance."""
    c = _t(spark, sf_dir, "customer")
    return K.topk_per_group(
        c, ["c_nationkey"], [F.col("c_acctbal").desc(), F.col("c_custkey").asc()], 5
    ).select("c_nationkey", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rk")


_Q_RR_SQL = """
SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal, rk FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
  FROM customer) WHERE rk <= 5
"""


def q_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A7 — per-status counts (CrawlerMetrics.java:40, 77-82 analog)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(F.count("*").alias("n"))


_Q_STATUS_SQL = "SELECT o_orderstatus, cast(count(*) as bigint) AS n FROM orders GROUP BY o_orderstatus"


def q_pages_by_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — pages per (session, status) analog: events per (type, day) with
    a decimal-exact value sum."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("value_sum"))
    )


_Q_TYPEDAY_SQL = """
SELECT event_type, date_trunc('day', ts) AS day, cast(count(*) as bigint) AS n,
       cast(sum(cast(value as decimal(18,4))) as double) AS value_sum
FROM events GROUP BY 1, 2
"""


def q_metrics_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — per-round metrics snapshot shape: avg depth, bytes, throughput
    inputs (the stats the reference stubs as zeros, URLFrontier.java:246-250)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_bytes_analog"),
        F.round(F.avg(F.col("l_linenumber") - 1), 6).alias("avg_depth"),
    )


_Q_METRICS_SQL = """
SELECT cast(count(*) as bigint) AS n_rows,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_bytes_analog,
       round(avg(l_linenumber - 1), 6) AS avg_depth
FROM lineitem
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A7 headline aggregation (TPC-H Q1 shape): partial+final hash agg,
    decimal-exact sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


_Q_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
       cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) AS sum_disc_price,
       cast(count(*) as bigint) AS count_order
FROM lineitem WHERE l_shipdate <= date '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_fetch_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — the big fetch join (lineitem x orders x customer x nation) with
    broadcast dims; revenue per nation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
             .cast("double").alias("revenue"),
             F.count("*").alias("n_items"))
    )


_Q_REVENUE_SQL = """
SELECT n_name,
       cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) as double) AS revenue,
       cast(count(*) as bigint) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — the robots-rules broadcast-join shape: supplier x nation x region."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name").agg(F.count("*").alias("n_suppliers"))
    )


_Q_DIMJOIN_SQL = """
SELECT r_name, cast(count(*) as bigint) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey GROUP BY r_name
"""


def q_depth_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — depth < max_depth gate + column pruning (pushed to the scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where((F.col("l_linenumber") - 1) < 2).select(
        "l_orderkey", "l_linenumber", (F.col("l_linenumber") - 1).alias("depth"))


_Q_DEPTH_SQL = """
SELECT l_orderkey, l_linenumber, l_linenumber - 1 AS depth
FROM lineitem WHERE l_linenumber - 1 < 2
"""


def q_link_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — link extraction shape: explode tokens of documents (array
    explode + per-link counting)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))).alias("tok"))
    return toks.groupBy("tok").agg(F.count("*").alias("n")).where(F.col("n") >= 50)


_Q_EXPLODE_SQL = """
SELECT tok, cast(count(*) as bigint) AS n
FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents)
GROUP BY tok HAVING count(*) >= 50
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative-sum
    windows; sessions per user. (The round-boundary/state shape.)"""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag(F.col("ts")).over(w)
    flagged = ev.withColumn(
        "new_sess",
        F.when(prev.isNull(), 1)
        .when(F.col("ts") > prev + F.expr("INTERVAL '30' MINUTE"), 1).otherwise(0))
    return flagged.groupBy("user_id").agg(F.sum("new_sess").cast("bigint").alias("n_sessions"),
                                          F.count("*").alias("n_events"))


_Q_SESSIONIZE_SQL = """
SELECT user_id, cast(sum(new_sess) as bigint) AS n_sessions, cast(count(*) as bigint) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
GROUP BY user_id
"""


def q_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins view (the session-control status resolution shape)."""
    ev = _t(spark, sf_dir, "events")
    out = D.first_wins(ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()])
    return out.select("user_id", "event_id", "ts", "event_type")


_Q_LATEST_SQL = """
SELECT user_id, event_id, ts, event_type FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


def q_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the events props column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object(F.col("props"), "$.k").cast("bigint"))
        .groupBy("event_type").agg(F.sum("k").cast("bigint").alias("k_sum"), F.count("*").alias("n"))
    )


_Q_JSON_SQL = """
SELECT event_type, cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS k_sum,
       cast(count(*) as bigint) AS n
FROM events GROUP BY event_type
"""


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation with grouping indicators (subtotal/total rows)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
             F.grouping("l_returnflag").cast("int").alias("g_flag"),
             F.grouping("l_linestatus").cast("int").alias("g_status"))
    )


_Q_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, cast(count(*) as bigint) AS n,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
       cast(grouping(l_returnflag) as int) AS g_flag,
       cast(grouping(l_linestatus) as int) AS g_status
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: customers having both an 'O' and an 'F' order (INTERSECT)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b).withColumnRenamed("o_custkey", "custkey")


_Q_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority x status (fixed status columns)."""
    o = _t(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_pending"),
    )


_Q_PIVOT_SQL = """
SELECT o_orderpriority,
       cast(count(*) FILTER (WHERE o_orderstatus = 'O') as bigint) AS n_open,
       cast(count(*) FILTER (WHERE o_orderstatus = 'F') as bigint) AS n_finished,
       cast(count(*) FILTER (WHERE o_orderstatus = 'P') as bigint) AS n_pending
FROM orders GROUP BY o_orderpriority
"""


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame functions: lag + 3-row moving average per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "user_id", "event_id",
        F.round(F.lag("value", 1).over(w), 6).alias("prev_value"),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 6).alias("moving_avg3"),
    )


_Q_ROLLING_SQL = """
SELECT user_id, event_id,
       round(lag(value, 1) OVER w, 6) AS prev_value,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: distinct parts + exact totals per supplier mod 10
    (the visited-count A2 shape, exact flavor)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy((F.col("l_suppkey") % 10).alias("supp_bucket"))
        .agg(F.countDistinct("l_partkey").alias("n_parts"),
             F.countDistinct("l_orderkey").alias("n_orders"))
    )


_Q_COUNTD_SQL = """
SELECT l_suppkey % 10 AS supp_bucket,
       cast(count(DISTINCT l_partkey) as bigint) AS n_parts,
       cast(count(DISTINCT l_orderkey) as bigint) AS n_orders
FROM lineitem GROUP BY 1
"""


def q_quantile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (p50/p95 fetch-latency-style stats; the
    reference reports only counts — a percentile dashboard is the first
    thing an operator adds on top of A1-A8).

    Spark's `percentile` is the EXACT linearly-interpolated quantile
    (rank p*(n-1)), the same definition as DuckDB/Postgres
    `quantile_cont`/`percentile_cont`, so the oracle can gate values —
    unlike `approx_percentile`, whose sketch is engine-specific. Exact
    percentile sorts within each group post-shuffle; at the 10^10 tier
    with bounded group count this is the same single-shuffle shape as
    any groupBy, and the swap to `approx_percentile` (t-digest, fixed
    ~KB state per group, mergeable map-side) is one function name when
    a 0.1% error tolerance is acceptable."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95_price"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_Q_QUANTILE_SQL = """
SELECT l_returnflag, l_linestatus,
       round(quantile_cont(l_extendedprice, 0.5), 6)  AS p50_price,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
       round(quantile_cont(l_quantity, 0.5), 6)       AS p50_qty,
       cast(count(*) as bigint) AS n
FROM lineitem GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Training-data pipeline operators over documents / embeddings
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy (one shuffle on h64(text), never on raw
    text)."""
    return D.dedup_exact(_t(spark, sf_dir, "documents"))


_Q_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS keep_id, cast(count(*) as bigint) AS dup_count
FROM documents GROUP BY md5(text)
"""

_SUB_K = 8


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2022): per-doc count
    and fraction of k-token windows whose 60-bit fingerprint occurs >= 2
    times in the corpus (cross-doc or within-doc). operators/dedup.py
    substring_dup_spans — hash-before-shuffle, one count agg + one
    equi-join, no document self-join."""
    return D.substring_dup_spans(_t(spark, sf_dir, "documents"), k=_SUB_K)


def _substring_dedup_sql() -> str:
    sh = " || ' ' || ".join(f"t[i + {j}]" for j in range(_SUB_K))
    return f"""
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_SUB_K - 1})) AS i
        FROM tok WHERE len(t) >= {_SUB_K}),
h AS (SELECT doc_id, {h64_sql(sh)} AS h FROM pos),
occ AS (SELECT h, count(*) AS n_occ FROM h GROUP BY 1),
per AS (SELECT doc_id, count(*) AS n_windows FROM h GROUP BY 1),
hits AS (SELECT doc_id, count(*) AS dup_windows, max(n_occ) AS max_occ
         FROM h JOIN occ USING (h) WHERE n_occ >= 2 GROUP BY 1)
SELECT per.doc_id, per.n_windows,
       coalesce(hits.dup_windows, 0) AS dup_windows,
       round(coalesce(hits.dup_windows, 0) / per.n_windows, 6) AS dup_frac,
       coalesce(hits.max_occ, 1) AS max_occ
FROM per LEFT JOIN hits ON per.doc_id = hits.doc_id
"""


_JACCARD_K, _JACCARD_CHARS, _JACCARD_TH, _JACCARD_MAXDF = 8, 128, 0.2, 50


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by char-8-gram Jaccard with stop-shingle pruning."""
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=_JACCARD_K, max_chars=_JACCARD_CHARS,
        threshold=_JACCARD_TH, max_df=_JACCARD_MAXDF)


_Q_JACCARD_SQL = f"""
WITH pos AS (
  SELECT doc_id AS id, substr(text, 1, {_JACCARD_CHARS}) AS t,
         unnest(generate_series(1, greatest(length(substr(text, 1, {_JACCARD_CHARS})) - {_JACCARD_K - 1}, 0))) AS i
  FROM documents
),
sh AS (SELECT DISTINCT id, substr(t, cast(i as int), {_JACCARD_K}) AS sh FROM pos),
kept AS (SELECT id, sh FROM sh WHERE sh IN (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {_JACCARD_MAXDF})),
sizes AS (SELECT id, cast(count(*) as bigint) AS sz FROM kept GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, cast(count(*) as bigint) AS inter
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.id < b.id GROUP BY a.id, b.id
)
SELECT id_a, id_b, round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= {_JACCARD_TH}
"""

_MH_N, _MH_BAND, _MH_K, _MH_CHARS, _MH_MIN = 8, 2, 6, 200, 0.25


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding candidate pairs (sub-quadratic near-dup path)."""
    return D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_hashes=_MH_N, band_size=_MH_BAND,
        k=_MH_K, max_chars=_MH_CHARS, min_est=_MH_MIN)


def _minhash_cte_body(source: str = "documents") -> tuple[str, str]:
    """Shared CTE chain (pos -> sh -> sig -> bands -> cand) plus the
    signature-match count expression; used by the pairs oracle, the
    connected-components oracle, and the planted-recall oracle so all
    see identical candidate semantics. ``source`` must expose
    (doc_id, text)."""
    mins = ",\n         ".join(
        f"min(md5(concat('{s}:', sh))) AS mh_{s}" for s in range(_MH_N))
    n_bands = _MH_N // _MH_BAND
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, concat({cols}) AS bucket FROM sig".format(
            b=b, cols=", '|', ".join(f"mh_{b * _MH_BAND + j}" for j in range(_MH_BAND)))
        for b in range(n_bands))
    matches = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(_MH_N))
    body = f"""pos AS (
  SELECT doc_id AS id, substr(text, 1, {_MH_CHARS}) AS t,
         unnest(generate_series(1, greatest(length(substr(text, 1, {_MH_CHARS})) - {_MH_K - 1}, 0))) AS i
  FROM {source}
),
sh AS (SELECT DISTINCT id, substr(t, cast(i as int), {_MH_K}) AS sh FROM pos),
sig AS (SELECT id, {mins} FROM sh GROUP BY id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)"""
    return body, matches


def _minhash_sql() -> str:
    body, matches = _minhash_cte_body()
    return f"""
WITH {body}
SELECT id_a, id_b, round(({matches}) / 8.0, 6) AS est_sim
FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
WHERE round(({matches}) / 8.0, 6) >= {_MH_MIN}
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: MinHash-LSH candidate pairs grouped by
    iterative min-label connected components (pointer doubling, O(log d)
    rounds — operators/components.py). component = min doc_id of the
    cluster, i.e. the canonical keeper under the engine's first-wins rule."""
    from distributed_webcrawler_spark.operators.components import connected_components

    pairs = D.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_hashes=_MH_N, band_size=_MH_BAND,
        k=_MH_K, max_chars=_MH_CHARS, min_est=_MH_MIN)
    return (connected_components(pairs, src="id_a", dst="id_b")
            .select(F.col("id").alias("doc_id"), "component"))


def _components_sql() -> str:
    # same filtered pair set as dedup_minhash_lsh, then the exact transitive
    # closure: reach(id, r) = "node r reaches id"; component = min reachable.
    body, matches = _minhash_cte_body()
    return f"""
WITH RECURSIVE {body},
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
  WHERE round(({matches}) / 8.0, 6) >= {_MH_MIN}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT src AS id, src AS r FROM edges
  UNION
  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: flag docs in an incoming batch (doc_id % 8
    == 0, a stand-in for 'this crawl round') that near-duplicate the
    existing corpus — candidates only cross sides, so the join volume is
    batch-sized, not corpus², the shape a per-round production pipeline
    needs (reference crawls continuously; ref BasicCrawler.java loops
    rounds — our Spark twin dedups each round against all kept docs)."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_incremental(
        docs.where(F.col("doc_id") % 8 == 0), docs.where(F.col("doc_id") % 8 != 0),
        n_hashes=_MH_N, band_size=_MH_BAND, k=_MH_K, max_chars=_MH_CHARS,
        min_est=_MH_MIN)


def _minhash_incr_sql() -> str:
    # same signature CTEs; candidates cross sides only (batch x corpus),
    # then best corpus match per batch doc (max est_sim, ties -> min id).
    mins = ",\n         ".join(
        f"min(md5(concat('{s}:', sh))) AS mh_{s}" for s in range(_MH_N))
    n_bands = _MH_N // _MH_BAND
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, concat({cols}) AS bucket FROM sig".format(
            b=b, cols=", '|', ".join(f"mh_{b * _MH_BAND + j}" for j in range(_MH_BAND)))
        for b in range(n_bands))
    matches = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(_MH_N))
    return f"""
WITH pos AS (
  SELECT doc_id AS id, substr(text, 1, {_MH_CHARS}) AS t,
         unnest(generate_series(1, greatest(length(substr(text, 1, {_MH_CHARS})) - {_MH_K - 1}, 0))) AS i
  FROM documents
),
sh AS (SELECT DISTINCT id, substr(t, cast(i as int), {_MH_K}) AS sh FROM pos),
sig AS (SELECT id, {mins} FROM sh GROUP BY id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.id AS bid, b.id AS cid
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id % 8 = 0 AND b.id % 8 <> 0
),
scored AS (
  SELECT bid, cid, round(({matches}) / {float(_MH_N)}, 6) AS est_sim
  FROM cand JOIN sig sa ON sa.id = bid JOIN sig sb ON sb.id = cid
  WHERE round(({matches}) / {float(_MH_N)}, 6) >= {_MH_MIN}
)
SELECT bid AS doc_id, cid AS match_id, est_sim FROM scored
QUALIFY row_number() OVER (PARTITION BY bid ORDER BY est_sim DESC, cid ASC) = 1
"""


_SIM_CHARS = 200


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash signature (identical-signature groups are the
    near-dup candidates)."""
    return D.simhash16(_t(spark, sf_dir, "documents"), max_chars=_SIM_CHARS)


def _simhash_sql() -> str:
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}" for b in range(16))
    sig = " + ".join(f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
WITH pos AS (
  SELECT doc_id AS id, substr(text, 1, {_SIM_CHARS}) AS t,
         unnest(generate_series(1, greatest(length(substr(text, 1, {_SIM_CHARS})) - 3, 0))) AS i
  FROM documents
),
sh AS (SELECT id, substr(t, cast(i as int), 4) AS sh FROM pos),
h AS (SELECT id, {h64_sql('sh')} AS h FROM sh),
bits AS (SELECT id, {sums} FROM h GROUP BY id)
SELECT id, cast({sig} as int) AS simhash FROM bits
"""


_SH64_BITS, _SH64_BANDS, _SH64_HAM = 60, 4, 3


def q_dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide (60-bit) SimHash near-dup pairs at Hamming <= 3 via banded
    search: 4 x 15-bit bands, candidates share at least one exact band
    slice (pigeonhole), exact bit_count(xor) verify inside buckets only.
    The scale-correct form of dedup_simhash (which needs IDENTICAL sigs)."""
    return D.simhash_banded_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=_SH64_HAM,
        n_bits=_SH64_BITS, n_bands=_SH64_BANDS, max_chars=_SIM_CHARS)


def _simhash64_cte_body(source: str = "documents", p: str = "") -> str:
    """CTE chain ending in ``{p}cand`` (id_a, id_b, sig_a, sig_b); all CTE
    names carry the ``p`` prefix so two detector bodies can coexist in one
    oracle (the method-recall comparison). ``source`` exposes
    (doc_id, text)."""
    band_bits = _SH64_BITS // _SH64_BANDS
    mask = (1 << band_bits) - 1
    sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(_SH64_BITS))
    sig = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SH64_BITS))
    band_vals = ",".join(f"({b})" for b in range(_SH64_BANDS))
    return f"""{p}pos AS (
  SELECT doc_id AS id, substr(text, 1, {_SIM_CHARS}) AS t,
         unnest(generate_series(1, greatest(length(substr(text, 1, {_SIM_CHARS})) - 3, 0))) AS i
  FROM {source}
),
{p}sh AS (SELECT id, substr(t, cast(i as int), 4) AS sh FROM {p}pos),
{p}h AS (SELECT id, {h64_sql('sh')} AS h FROM {p}sh),
{p}bits AS (SELECT id, {sums} FROM {p}h GROUP BY id),
{p}sig AS (SELECT id, cast({sig} as bigint) AS simhash FROM {p}bits),
{p}bands AS (
  SELECT id, simhash, band, (simhash >> (band * {band_bits})) & {mask} AS slice
  FROM {p}sig, (VALUES {band_vals}) b(band)),
{p}cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS sig_a, b.simhash AS sig_b
  FROM {p}bands a JOIN {p}bands b ON a.band = b.band AND a.slice = b.slice AND a.id < b.id)"""


def _simhash64_sql() -> str:
    return f"""
WITH {_simhash64_cte_body()}
SELECT id_a, id_b, cast(bit_count(xor(sig_a, sig_b)) as int) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {_SH64_HAM}
"""


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id % 50 == 0)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return S.brute_force_topk(queries, emb, k=5)


_Q_ANN_BRUTE_SQL = """
SELECT query_id, neighbor_id, sim, rk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(cast(q.embedding as double[]), cast(c.embedding as double[])), 6) AS sim,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY round(list_cosine_similarity(cast(q.embedding as double[]), cast(c.embedding as double[])), 6) DESC,
                                     c.vec_id ASC) AS rk
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id % 50 = 0)
WHERE rk <= 5
"""


_ND_TH = 0.25


_ND_BANDS, _ND_BAND_PLANES = 4, 4


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs (cosine >= 0.25) via the SCALE path:
    banded hyperplane-LSH bucketing (4 bands x 4 planes, OR over bands) +
    exact cosine only within buckets — a (band, bucket) equi-join, never a
    CartesianProduct. The exact all-pairs form (embedding_near_dup_pairs)
    is kept as the pytest recall oracle; the DuckDB oracle below rebuilds
    the identical md5 hyperplane buckets."""
    return S.embedding_near_dup_lsh(
        _t(spark, sf_dir, "embeddings"), threshold=_ND_TH,
        n_bands=_ND_BANDS, band_planes=_ND_BAND_PLANES, dim=_LSH_DIM)


def _emb_nd_sql() -> str:
    from distributed_webcrawler_spark.operators.similarity import hyperplane_weights

    band_rows = []
    for b in range(_ND_BANDS):
        bits = []
        for j in range(_ND_BAND_PLANES):
            w = ", ".join(repr(x) for x in hyperplane_weights(b * _ND_BAND_PLANES + j, _LSH_DIM))
            bits.append(f"(CASE WHEN list_dot_product(cast(embedding as double[]), [{w}]) > 0"
                        f" THEN {1 << j} ELSE 0 END)")
        band_rows.append(f"SELECT vec_id AS id, {b} AS band, ({' + '.join(bits)}) AS bucket FROM embeddings")
    bands = " UNION ALL ".join(band_rows)
    return f"""
WITH bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
SELECT id_a, id_b,
       round(list_cosine_similarity(cast(ea.embedding as double[]), cast(eb.embedding as double[])), 6) AS sim
FROM cand
JOIN embeddings ea ON ea.vec_id = id_a
JOIN embeddings eb ON eb.vec_id = id_b
WHERE round(list_cosine_similarity(cast(ea.embedding as double[]), cast(eb.embedding as double[])), 6) >= {_ND_TH}
"""

_LSH_PLANES, _LSH_DIM = 8, 64


def q_ann_lsh_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket signature per vector (the ANN scale
    path: candidates = same-bucket vectors instead of the N^2 cross join).
    Planes derive deterministically from md5 — the oracle rebuilds them."""
    from distributed_webcrawler_spark.operators.similarity import lsh_signature

    return lsh_signature(_t(spark, sf_dir, "embeddings"),
                         n_planes=_LSH_PLANES, dim=_LSH_DIM).select("id", "bucket")


def _lsh_sql() -> str:
    from distributed_webcrawler_spark.operators.similarity import hyperplane_weights

    bits = []
    for p in range(_LSH_PLANES):
        w = ", ".join(repr(x) for x in hyperplane_weights(p, _LSH_DIM))
        bits.append(f"(CASE WHEN list_dot_product(cast(embedding as double[]), [{w}]) > 0"
                    f" THEN {1 << p} ELSE 0 END)")
    sig = " + ".join(bits)
    return f"SELECT vec_id AS id, cast({sig} as int) AS bucket FROM embeddings"


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic marker-based language ID, counts per predicted language."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("pred_lang", X.lang_id("text"))
        .groupBy("pred_lang").agg(F.count("*").alias("n"))
    )


def _lang_sql_score(lang: str) -> str:
    terms = " + ".join(
        f"cast((length(padded) - length(replace(padded, '{m}', ''))) / {len(m)} as int)"
        for m in X.LANG_MARKERS[lang])
    return terms


def _lang_id_sql() -> str:
    scores = ",\n       ".join(f"({_lang_sql_score(lg)}) AS s_{lg}" for lg in sorted(X.LANG_MARKERS))
    langs = sorted(X.LANG_MARKERS)
    m = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = " ".join(f"WHEN s_{lg} = m THEN '{lg}'" for lg in langs)
    return f"""
WITH padded AS (SELECT doc_id, concat(' ', lower(text), ' ') AS padded FROM documents),
scores AS (SELECT doc_id, {scores} FROM padded),
best AS (SELECT *, {m} AS m FROM scores)
SELECT CASE WHEN m = 0 THEN 'und' {case} END AS pred_lang, cast(count(*) as bigint) AS n
FROM best GROUP BY 1
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc composite quality score (length/punctuation/stopword bands)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", X.quality_score("text").alias("quality"))


_Q_QUALITY_SQL = """
WITH base AS (
  SELECT doc_id, text, length(text) AS n,
         length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) * 1.0 / greatest(length(text), 1) AS p,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tc,
         (SELECT_EN_SCORE) AS hits
  FROM documents),
parts AS (
  SELECT doc_id,
         CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 WHEN n < 100 THEN n / 100.0 ELSE 20000.0 / n END AS len_ok,
         CASE WHEN p < 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - (p - 0.2) * 2) END AS punct_ok,
         least(1.0, (hits * 1.0 / greatest(tc, 1)) * 4.0) AS stop_ok
  FROM base)
SELECT doc_id, round(len_ok * 0.4 + punct_ok * 0.3 + stop_ok * 0.3, 6) AS quality FROM parts
"""


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per labeled language (BPE-ish regex tokenizer)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("tc", X.token_count("text"))
        .groupBy("lang")
        .agg(F.sum("tc").cast("bigint").alias("total_tokens"), F.count("*").alias("n_docs"))
    )


_Q_TOKENS_SQL = """
SELECT lang, cast(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) as bigint) AS total_tokens,
       cast(count(*) as bigint) AS n_docs
FROM documents GROUP BY lang
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc position-weighted rolling checksum (document fingerprint)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", X.fingerprint("text", 64).alias("fp"))


_Q_FP_SQL = """
WITH pos AS (
  SELECT doc_id, substr(text, 1, 64) AS t,
         unnest(generate_series(1, greatest(length(substr(text, 1, 64)), 1))) AS i
  FROM documents)
SELECT doc_id,
       cast(sum(ascii(substr(t, cast(i as int), 1)) * ((i * 2654435761) % 1000003)) % 1000000007 as bigint) AS fp
FROM pos GROUP BY doc_id
"""


_MM_N = 256


def _mm_specs() -> list:
    """Deterministic (image_id, w, h, fmt) specs for the multimodal oracle
    batch — derived from md5 in pure Python so BOTH the Spark query and the
    DuckDB oracle rebuild the identical payload set with no Spark-specific
    hashing in the loop."""
    import hashlib

    specs = []
    fmts = ["png", "jpeg", "webp"]
    for i in range(_MM_N):
        hw = int(hashlib.md5(f"mmw:{i}".encode()).hexdigest()[:8], 16)
        hh = int(hashlib.md5(f"mmh:{i}".encode()).hexdigest()[:8], 16)
        specs.append((f"mm-{i:05d}", 16 + hw % 33, 16 + hh % 33, fmts[i % 3]))
    return specs


def _mm_expected_rows() -> list:
    """Run the deterministic codec driver-side over the spec batch: the
    expected (image_id, fmt, w, h, mean_r, mean_g, mean_b, phash) the Spark
    mapInPandas decode must reproduce row-for-row. This is the oracle for
    the Spark-side PLUMBING (Arrow batches, schema, distribution); the
    codec math itself is unit-tested in tests/test_codec.py."""
    import numpy as np

    from distributed_webcrawler_spark.sources import codec

    rows = []
    for iid, w, h, fmt in _mm_specs():
        px = codec.synth_pixels(iid, w, h)
        data = codec.encode_image(px, fmt)
        dec, dfmt = codec.decode_image(data)
        m = dec.astype(np.float64).mean(axis=(0, 1))
        rows.append((iid, dfmt, dec.shape[1], dec.shape[0],
                     round(float(m[0]), 4), round(float(m[1]), 4),
                     round(float(m[2]), 4), codec.phash64(dec)))
    return rows


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode/feature extraction over binary payloads: Arrow-batched
    mapInPandas decode (bytes never shuffle, stats-width output). The input
    batch is deterministic (md5-derived specs + the DWS1 codec), so the
    DuckDB oracle gates rows+schema+hash against a precomputed expected
    table — the full correctness gate, not a rows-only check."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(codec.synth_pixels(iid, w, h), fmt))
         for iid, w, h, fmt in _mm_specs()],
        columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (decode_stats(payloads).where(F.col("ok"))
            .select("image_id", "fmt", "w", "h",
                    "mean_r", "mean_g", "mean_b", "phash"))


def _mm_sql() -> str:
    vals = ",\n".join(
        f"('{iid}', '{fmt}', {w}, {h}, {mr!r}, {mg!r}, {mb!r}, {ph})"
        for iid, fmt, w, h, mr, mg, mb, ph in _mm_expected_rows())
    return f"""
SELECT image_id, fmt, cast(w as int) AS w, cast(h as int) AS h,
       cast(mean_r as double) AS mean_r, cast(mean_g as double) AS mean_g,
       cast(mean_b as double) AS mean_b, cast(phash as bigint) AS phash
FROM (VALUES
{vals}
) AS t(image_id, fmt, w, h, mean_r, mean_g, mean_b, phash)
"""


def _mm_caption(i: int) -> str:
    """Deterministic caption for spec index i — mixes normal short captions
    with the input_hint edge cases: empty, unicode, and over-long (>64
    tokens). Pure Python (md5-derived) so Spark and DuckDB agree."""
    import hashlib

    if i % 17 == 0:
        return ""
    if i % 13 == 0:
        return "word " * 300
    vocab = ["a", "photo", "of", "the", "quick", "red", "fox", "mountain",
             "sunset", "with", "tiny", "bridge", "überholt", "東京",
             "river", "03"]
    h = int(hashlib.md5(f"cap:{i}".encode()).hexdigest()[:8], 16)
    n = 1 + h % 12
    return " ".join(vocab[(h + j) % len(vocab)] for j in range(n))


_HDR_CORRUPT = [
    ("zz-junk-0", b"JUNKJUNKJUNKJUNK"),          # wrong magic
    ("zz-junk-1", b"DWS1\x07\x10\x00\x10\x00xx"),  # magic ok, fmt code 7 invalid
    ("zz-short", b"DWS1\x01"),                    # truncated header
]


def q_image_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only metadata scan over binary image payloads: parse the DWS1
    container header (magic, fmt code, LE-u16 w/h) with pure Column
    expressions — operators/multimodal.header_meta. Zero Python workers,
    zero zlib: the metadata fast path for "dimensions/format/compression
    over 100 TB of blobs" queries that must never pay the decode (real
    PNG/JPEG/WebP headers are the same fixed-offset parse). Corrupt inputs
    (bad magic / bad fmt code / truncated) classify as ok=false rows, not
    task failures. Oracle: driver-side ground truth for the parsed fields +
    the same payload/pixel/ratio arithmetic in SQL."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import header_meta
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(codec.synth_pixels(iid, w, h), fmt))
         for iid, w, h, fmt in _mm_specs()] + _HDR_CORRUPT,
        columns=["image_id", "bytes"])
    return header_meta(spark.createDataFrame(pdf).repartition(8))


def _hdr_sql() -> str:
    from distributed_webcrawler_spark.sources import codec

    rows = [(iid, True, fmt, w, h,
             len(codec.encode_image(codec.synth_pixels(iid, w, h), fmt)))
            for iid, w, h, fmt in _mm_specs()]
    rows += [(iid, False, None, None, None, len(b)) for iid, b in _HDR_CORRUPT]
    vals = ",\n".join(
        "('%s', %s, %s, %s, %s, %d)"
        % (iid, ok, f"'{fmt}'" if fmt else "NULL", w or "NULL", h or "NULL", n)
        for iid, ok, fmt, w, h, n in rows)
    return f"""
SELECT image_id, ok, fmt, cast(w as int) AS w, cast(h as int) AS h,
       cast(container_bytes as bigint) AS container_bytes,
       cast(CASE WHEN ok THEN container_bytes - 9 END as bigint) AS payload_bytes,
       cast(CASE WHEN ok THEN w * h * 3 END as bigint) AS pixel_bytes,
       CASE WHEN ok THEN round((container_bytes - 9) / (w * h * 3.0), 9) END
         AS compression_ratio
FROM (VALUES
{vals}
) AS t(image_id, ok, fmt, w, h, container_bytes)
"""


def q_image_caption_pair_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION/CLIP-style training-pair filter over the crawl's image+caption
    payloads (the input_hint table shape): Arrow-batched decode -> keep
    pairs whose image has min(w,h) >= 24 and aspect ratio <= 2, and whose
    caption tokenizes to 3..64 alphanumeric tokens. Stats-width rows only —
    pixel bytes never survive the decode stage, so at 10^10 pairs the
    filter's shuffle carries ~tens of bytes/row. Oracle: the precomputed
    expected decode table + the same caption math in SQL."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(codec.synth_pixels(iid, w, h), fmt),
          _mm_caption(idx))
         for idx, (iid, w, h, fmt) in enumerate(_mm_specs())],
        columns=["image_id", "bytes", "caption"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    stats = decode_stats(payloads.select("image_id", "bytes")).where(F.col("ok"))
    caps = payloads.select(
        "image_id", "caption",
        X.token_count("caption").cast("int").alias("n_tokens"))
    return (stats.join(caps, "image_id")
            .where((F.least("w", "h") >= F.lit(24))
                   & ((F.greatest("w", "h") / F.least("w", "h")) <= F.lit(2.0))
                   & F.col("n_tokens").between(3, 64))
            .select("image_id", "fmt", "w", "h", "n_tokens", "caption"))


def q_caption_image_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-score-shaped caption<->image alignment over the crawl's
    image+caption pairs (the LAION filtering step between the pair gate and
    dedup): caption -> 4-dim hashed bag-of-words vector (portable h64
    buckets), image -> 4-dim feature vector from the decoded stats
    (mean RGB + phash popcount), score = cosine. A real pipeline swaps the
    two featurizers for CLIP embeddings; the JOIN/agg/score plumbing — the
    Spark-side shape — is identical and is what this query gates. Stats
    stay stats-width; the token explode is the only row blowup and it is
    bounded by the 64-token caption gate upstream."""
    import pandas as pd

    from distributed_webcrawler_spark.functions.hashes import h64
    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(codec.synth_pixels(iid, w, h), fmt),
          _mm_caption(idx))
         for idx, (iid, w, h, fmt) in enumerate(_mm_specs())],
        columns=["image_id", "bytes", "caption"])
    payloads = spark.createDataFrame(pdf).repartition(8)

    toks = (payloads
            .select("image_id",
                    F.explode(F.regexp_extract_all(
                        F.lower("caption"), F.lit("([a-z0-9]+)"), 1)).alias("tok"))
            .withColumn("b", (h64(F.col("tok")) % 4).cast("int")))
    cap_vec = toks.groupBy("image_id").agg(
        *[F.sum(F.when(F.col("b") == k, 1).otherwise(0))
          .cast("double").alias(f"c{k}") for k in range(4)])

    stats = (decode_stats(payloads.select("image_id", "bytes"))
             .where(F.col("ok"))
             .select("image_id",
                     (F.col("mean_r") + 1.0).alias("i0"),
                     (F.col("mean_g") + 1.0).alias("i1"),
                     (F.col("mean_b") + 1.0).alias("i2"),
                     (F.bit_count("phash").cast("double") + 1.0).alias("i3")))

    j = stats.join(cap_vec, "image_id")
    dot = sum(F.col(f"c{k}") * F.col(f"i{k}") for k in range(4))
    n_cap = F.sqrt(sum(F.col(f"c{k}") * F.col(f"c{k}") for k in range(4)))
    n_img = F.sqrt(sum(F.col(f"i{k}") * F.col(f"i{k}") for k in range(4)))
    return (j.select("image_id",
                     F.round(dot / (n_cap * n_img), 6).alias("align_score"))
            .where(F.col("align_score") > 0.0))


def _alignment_sql() -> str:
    from distributed_webcrawler_spark.functions.hashes import h64_sql

    vals = ",\n".join(
        f"('{iid}', {mr!r}, {mg!r}, {mb!r}, {ph}, '{_mm_caption(idx)}')"
        for idx, (iid, _fmt, _w, _h, mr, mg, mb, ph)
        in enumerate(_mm_expected_rows()))
    b = h64_sql("tok")
    dot = " + ".join(f"c{k} * i{k}" for k in range(4))
    n_cap = "sqrt(" + " + ".join(f"c{k} * c{k}" for k in range(4)) + ")"
    n_img = "sqrt(" + " + ".join(f"i{k} * i{k}" for k in range(4)) + ")"
    cks = ",\n         ".join(
        f"cast(sum(CASE WHEN ({b}) % 4 = {k} THEN 1 ELSE 0 END) as double) AS c{k}"
        for k in range(4))
    return f"""
WITH exp AS (
  SELECT image_id, cast(mean_r as double) AS mean_r,
         cast(mean_g as double) AS mean_g, cast(mean_b as double) AS mean_b,
         cast(phash as bigint) AS phash, caption
  FROM (VALUES
{vals}
  ) AS t(image_id, mean_r, mean_g, mean_b, phash, caption)),
toks AS (
  SELECT image_id, unnest(regexp_extract_all(lower(caption), '([a-z0-9]+)', 1)) AS tok
  FROM exp),
cap AS (
  SELECT image_id,
         {cks}
  FROM toks GROUP BY image_id),
img AS (
  SELECT image_id, mean_r + 1.0 AS i0, mean_g + 1.0 AS i1,
         mean_b + 1.0 AS i2, cast(bit_count(phash) as double) + 1.0 AS i3
  FROM exp)
SELECT img.image_id, round(({dot}) / (({n_cap}) * ({n_img})), 6) AS align_score
FROM img JOIN cap ON img.image_id = cap.image_id
WHERE round(({dot}) / (({n_cap}) * ({n_img})), 6) > 0.0
"""


def _pairfilter_sql() -> str:
    vals = ",\n".join(
        f"('{iid}', '{fmt}', {w}, {h}, '{_mm_caption(idx)}')"
        for idx, (iid, fmt, w, h, _mr, _mg, _mb, _ph)
        in enumerate(_mm_expected_rows()))
    return f"""
WITH exp AS (
  SELECT image_id, fmt, cast(w as int) AS w, cast(h as int) AS h, caption
  FROM (VALUES
{vals}
  ) AS t(image_id, fmt, w, h, caption)),
base AS (
  SELECT image_id, fmt, w, h,
         cast(len(regexp_extract_all(lower(caption), '[a-z0-9]+')) as int) AS n_tokens,
         caption
  FROM exp)
SELECT image_id, fmt, w, h, n_tokens, caption
FROM base
WHERE least(w, h) >= 24
  AND greatest(w, h) * 1.0 / least(w, h) <= 2.0
  AND n_tokens BETWEEN 3 AND 64
"""


_VID_N = 48


def _vid_specs() -> list:
    """Deterministic (video_id, w, h, n_frames, fmt) specs — md5-derived in
    pure Python (same scheme as _mm_specs) so Spark and the DuckDB oracle
    rebuild identical DWSV payloads."""
    import hashlib

    specs = []
    fmts = ["png", "jpeg", "webp"]
    for i in range(_VID_N):
        hw = int(hashlib.md5(f"vw:{i}".encode()).hexdigest()[:8], 16)
        hh = int(hashlib.md5(f"vh:{i}".encode()).hexdigest()[:8], 16)
        hn = int(hashlib.md5(f"vn:{i}".encode()).hexdigest()[:8], 16)
        specs.append((f"vid-{i:05d}", 16 + hw % 17, 16 + hh % 17,
                      3 + hn % 8, fmts[i % 3]))
    return specs


def _vid_payload(video_id: str, w: int, h: int, n: int, fmt: str) -> bytes:
    from distributed_webcrawler_spark.sources import codec

    return codec.encode_video(codec.synth_video(video_id, w, h, n), fmt, fps=8)


def _vid_expected_rows() -> list:
    """Driver-side run of the deterministic DWSV codec + sampling policy:
    the (video_id, frame_idx, t_ms, n_frames, w, h, gray_mean, phash) rows
    the Spark mapInPandas frame sampler must reproduce."""
    from distributed_webcrawler_spark.sources import codec

    rows = []
    for vid, w, h, n, fmt in _vid_specs():
        frames, _, fps = codec.decode_video(_vid_payload(vid, w, h, n, fmt))
        for i in range(0, len(frames), 2):
            px = frames[i]
            gm = round(float(px.astype("float64").mean()), 4)
            rows.append((vid, i, i * 1000 // fps, n, w, h, gm, codec.phash64(px)))
    return rows


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (every 2nd frame) over binary DWSV payloads:
    Arrow-batched mapInPandas decode, one stats-width row per sampled frame
    (pixels never shuffle). Deterministic payload batch -> the DuckDB oracle
    gates rows+schema+hash against a precomputed expected table."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import frame_sample

    pdf = pd.DataFrame(
        [(vid, _vid_payload(vid, w, h, n, fmt)) for vid, w, h, n, fmt in _vid_specs()],
        columns=["video_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (frame_sample(payloads, every_n=2).where(F.col("ok"))
            .select("video_id", "frame_idx", "t_ms", "n_frames", "w", "h",
                    "gray_mean", "phash"))


def _vid_sql() -> str:
    vals = ",\n".join(
        f"('{vid}', {fi}, {tms}, {n}, {w}, {h}, {gm!r}, {ph})"
        for vid, fi, tms, n, w, h, gm, ph in _vid_expected_rows())
    return f"""
SELECT video_id, cast(frame_idx as int) AS frame_idx, cast(t_ms as int) AS t_ms,
       cast(n_frames as int) AS n_frames, cast(w as int) AS w, cast(h as int) AS h,
       cast(gray_mean as double) AS gray_mean, cast(phash as bigint) AS phash
FROM (VALUES
{vals}
) AS t(video_id, frame_idx, t_ms, n_frames, w, h, gray_mean, phash)
"""


_KMV_K, _WS_K = 256, 100


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch over l_partkey: per-partition bounded
    top-k state (no column shuffle), lossless below k, (k-1)/h_k estimate
    above (operators/sketch.py)."""
    from distributed_webcrawler_spark.operators.sketch import kmv_distinct

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("pk"))
    return kmv_distinct(li, "pk", k=_KMV_K)


def _kmv_sql() -> str:
    from distributed_webcrawler_spark.operators.sketch import kmv_distinct_sql

    return kmv_distinct_sql("cast(l_partkey as varchar)", "lineitem", k=_KMV_K)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis-Spirakis weighted sample of documents
    (weight = text length): map-side key + TakeOrderedAndProject, no
    shuffle (operators/sketch.py)."""
    from distributed_webcrawler_spark.operators.sketch import weighted_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("wlen"))
    return weighted_sample(docs, "wlen", k=_WS_K, id_col="doc_id")


def _weighted_sample_sql() -> str:
    from distributed_webcrawler_spark.operators.sketch import weighted_sample_sql

    return weighted_sample_sql("doc_id", "length(text)", "documents", k=_WS_K)


_CMS_D, _CMS_W, _CMS_K = 3, 512, 20


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over events.user_id (hot-host /
    hot-user detection shape): d x w mergeable counter sketch via partial
    aggregation (shuffle bounded at d*w counters per task), min-over-d
    estimate per candidate, top-k as TakeOrderedAndProject; exact counts
    ride along so the oracle gates est >= exact AND the exact overcount
    (operators/sketch.py cms_heavy_hitters)."""
    from distributed_webcrawler_spark.operators.sketch import cms_heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return cms_heavy_hitters(ev, "user_id", d=_CMS_D, w=_CMS_W, k=_CMS_K)


def _cms_sql() -> str:
    from distributed_webcrawler_spark.operators.sketch import cms_heavy_hitters_sql

    return cms_heavy_hitters_sql("user_id", "events", d=_CMS_D, w=_CMS_W,
                                 k=_CMS_K)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding table (4x
    storage cut for the ANN index): pure Column transform/aggregate, zero
    shuffle, engine-independent floor(x/s+0.5) rounding; the oracle gates
    every quantized coordinate (csv form), the l1 mass, and the max
    dequantize error (operators/similarity.py embedding_quantize_int8)."""
    from distributed_webcrawler_spark.operators.similarity import (
        embedding_quantize_int8)

    return embedding_quantize_int8(_t(spark, sf_dir, "embeddings"))


def _embedding_quantize_sql() -> str:
    from distributed_webcrawler_spark.operators.similarity import (
        embedding_quantize_int8_sql)

    return embedding_quantize_int8_sql("embeddings")


_KM_K, _KM_ITER = 8, 2


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means IVF training over embeddings (k=8, 2 Lloyd
    iterations): broadcast-matmul cosine assignment + mean update, every
    centroid coordinate rounded to 12 per iteration on both engines
    (operators/kmeans.py). Output: exploded centroid table."""
    from distributed_webcrawler_spark.operators.kmeans import kmeans_fit

    cents = kmeans_fit(_t(spark, sf_dir, "embeddings"), k=_KM_K, n_iter=_KM_ITER)
    return cents.select("cell", "dim", F.round("val", 6).alias("val"))


def _kmeans_cte_parts() -> list[str]:
    # unrolled Lloyd iterations; assignment restates the ANN queries'
    # proven round-6 cosine + smaller-cell tie-break, update is avg
    # rounded to 12, empty cells keep the previous centroid (coalesce).
    # Shared by the kmeans_centroids and semdedup_pairs oracles.
    parts = [f"""emb AS (SELECT vec_id, cast(embedding as double[]) AS v FROM embeddings),
init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
         FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {_KM_K}) t),
c0 AS (SELECT cell, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS val FROM init)"""]
    for t in range(_KM_ITER):
        parts.append(f"""cl{t} AS (SELECT cell, list(val ORDER BY dim) AS cv FROM c{t} GROUP BY cell),
a{t} AS (SELECT vec_id, cell FROM (
   SELECT e.vec_id, c.cell,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            round(list_dot_product(e.v, c.cv)
                  / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
            c.cell ASC) AS rn
   FROM emb e CROSS JOIN cl{t} c) q WHERE rn = 1),
u{t} AS (SELECT cell, dim, round(avg(val), 12) AS val FROM (
   SELECT a.cell, generate_subscripts(e.v, 1) - 1 AS dim, unnest(e.v) AS val
   FROM a{t} a JOIN emb e USING (vec_id)) s GROUP BY cell, dim),
c{t + 1} AS (SELECT c{t}.cell, c{t}.dim, coalesce(u{t}.val, c{t}.val) AS val
       FROM c{t} LEFT JOIN u{t} ON u{t}.cell = c{t}.cell AND u{t}.dim = c{t}.dim)""")
    return parts


def _kmeans_sql() -> str:
    body = ",\n".join(_kmeans_cte_parts())
    return (f"WITH {body}\n"
            f"SELECT cast(cell as bigint) AS cell, cast(dim as int) AS dim, "
            f"round(val, 6) AS val FROM c{_KM_ITER}")


_SEM_TH = 0.25


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication" — public literature):
    k-means-cluster the embedding space, then look for semantic duplicates
    ONLY within each cluster — the O(N^2/k) shape that makes embedding-level
    dedup feasible on LAION-scale corpora. Pure composition of proven
    operators: kmeans_fit (spherical Lloyd) trains the cells and
    ivf_assign_broadcast (broadcast matmul argmax — the corpus never
    shuffles for assignment) places every vector; in-cell candidate pairs
    are a cell-equi-join, never a CartesianProduct. Each duplicate pair is
    annotated with the member SemDeDup drops: the one CLOSER to its cluster
    centroid (the paper keeps the low-centroid-similarity example to
    preserve diversity; round-6 ties drop the larger id). k=8 / 2 Lloyd
    iterations is oracle tractability — production sizes k ~ N/E[|cluster|]
    (the paper used 50k clusters for LAION-440M)."""
    from distributed_webcrawler_spark.operators.kmeans import centroids_as_list, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    cents = centroids_as_list(kmeans_fit(emb, k=_KM_K, n_iter=_KM_ITER))
    return S.semdedup_pairs(emb, cents, threshold=_SEM_TH)


def _semdedup_sql() -> str:
    body = ",\n".join(_kmeans_cte_parts())
    return f"""
WITH {body},
cl AS (SELECT cell, list(val ORDER BY dim) AS cv FROM c{_KM_ITER} GROUP BY cell),
sc AS (SELECT e.vec_id AS id, e.v, c.cell,
              round(list_cosine_similarity(e.v, c.cv), 6) AS csim
       FROM emb e CROSS JOIN cl c),
asg AS (SELECT id, v, cell, csim FROM (
    SELECT id, v, cell, csim,
           row_number() OVER (PARTITION BY id ORDER BY csim DESC, cell ASC) AS crk
    FROM sc) WHERE crk = 1)
SELECT a.cell, a.id AS id_a, b.id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS sim,
       CASE WHEN a.csim > b.csim THEN a.id
            WHEN b.csim > a.csim THEN b.id
            ELSE greatest(a.id, b.id) END AS drop_id
FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {_SEM_TH}
"""


_BM25_TERMS = ["spark", "query", "join", "window"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical relevance search over documents (top-100 for a fixed
    query) — corpus stats (df/N/avgdl) + per-term contributions, final
    top-k planned as TakeOrderedAndProject (operators/relevance.py)."""
    from distributed_webcrawler_spark.operators.relevance import bm25_search

    return bm25_search(_t(spark, sf_dir, "documents"), _BM25_TERMS)


def _bm25_sql() -> str:
    from distributed_webcrawler_spark.operators.relevance import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_TERMS)


_PR_ITER, _PR_DAMP = 5, 0.85


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the host link graph (edges derived deterministically
    from lineitem: supplier-host -> part-host) — the canonical crawl
    priority signal, computed by fixed power iteration with uniform
    dangling-mass redistribution (operators/pagerank.py). Both engines
    round each iteration to 12 decimals so double summation order cannot
    drift them apart; the report rounds to 6."""
    from distributed_webcrawler_spark.operators.pagerank import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string")).alias("src"),
        F.concat(F.lit("host"), (F.col("l_partkey") % N_FRONTIER_HOSTS).cast("string")).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return (pagerank(edges, n_iter=_PR_ITER, damping=_PR_DAMP)
            .select(F.col("id").alias("host"), F.round("rank", 6).alias("rank")))


def _pagerank_sql() -> str:
    # unrolled power iterations (standard SQL forbids aggregates in a
    # recursive CTE term); float-exact parity with the Spark side: the
    # teleport constant is embedded as repr() of the Python double, all
    # other arithmetic is double-typed and parenthesized identically, and
    # each iteration rounds to 12 on both engines.
    tele = repr(1.0 - _PR_DAMP)
    parts = [f"""e AS (
  SELECT DISTINCT concat('host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar)) AS src,
                  concat('host', cast(l_partkey % {N_FRONTIER_HOSTS} as varchar)) AS dst
  FROM lineitem
  WHERE l_suppkey % {N_FRONTIER_HOSTS} <> l_partkey % {N_FRONTIER_HOSTS}),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
nn AS (SELECT cast(count(*) as double) AS n FROM nodes),
deg AS (SELECT src, cast(count(*) as double) AS deg FROM e GROUP BY src),
r0 AS (SELECT id, cast(1 as double) / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for t in range(_PR_ITER):
        parts.append(f"""dang{t} AS (
  SELECT coalesce(sum(r.rank), cast(0 as double)) AS dm FROM r{t} r
  WHERE r.id NOT IN (SELECT src FROM deg)),
c{t} AS (
  SELECT e.dst AS id, sum(r.rank / d.deg) AS contrib
  FROM e JOIN r{t} r ON r.id = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst),
r{t + 1} AS (
  SELECT n.id,
         round(({tele}) / (SELECT n FROM nn)
               + {_PR_DAMP!r} * (coalesce(c.contrib, cast(0 as double))
                                 + (SELECT dm FROM dang{t}) / (SELECT n FROM nn)),
               12) AS rank
  FROM nodes n LEFT JOIN c{t} c ON c.id = n.id)""")
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT id AS host, round(rank, 6) AS rank FROM r{_PR_ITER}"


_TR_ITER, _TR_DAMP, _TR_SEED_MOD = 4, 0.85, 20


def q_trustrank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the same host graph pagerank/HITS rank: teleport
    biased onto a trusted-seed set (every 20th host — the stand-in for a
    hand-vetted whitelist), so link-spam neighborhoods that good pages
    don't link into starve toward zero trust. The scheduler's spam-
    demotion signal (operators/pagerank.py:trustrank; Gyongyi et al.
    2004). Fixed 4 iterations, per-iteration round-to-12 on both engines;
    report rounds to 6."""
    from distributed_webcrawler_spark.operators.pagerank import trustrank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string")).alias("src"),
        F.concat(F.lit("host"), (F.col("l_partkey") % N_FRONTIER_HOSTS).cast("string")).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    seeds = (edges.select(F.col("src").alias("id"))
             .unionByName(edges.select(F.col("dst").alias("id")))
             .distinct()
             .where(F.regexp_extract("id", "([0-9]+)", 1).cast("int")
                    % _TR_SEED_MOD == 0))
    return (trustrank(edges, seeds, n_iter=_TR_ITER, damping=_TR_DAMP)
            .select(F.col("id").alias("host"), F.round("trust", 6).alias("trust")))


def _trustrank_sql() -> str:
    tele = repr(1.0 - _TR_DAMP)
    parts = [f"""e AS (
  SELECT DISTINCT concat('host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar)) AS src,
                  concat('host', cast(l_partkey % {N_FRONTIER_HOSTS} as varchar)) AS dst
  FROM lineitem
  WHERE l_suppkey % {N_FRONTIER_HOSTS} <> l_partkey % {N_FRONTIER_HOSTS}),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
seeds AS (SELECT id FROM nodes
          WHERE cast(regexp_extract(id, '([0-9]+)', 1) as int) % {_TR_SEED_MOD} = 0),
ns AS (SELECT cast(count(*) as double) AS k FROM seeds),
tv AS (SELECT n.id,
              CASE WHEN s.id IS NOT NULL THEN cast(1 as double) / (SELECT k FROM ns)
                   ELSE cast(0 as double) END AS t
       FROM nodes n LEFT JOIN seeds s ON s.id = n.id),
deg AS (SELECT src, cast(count(*) as double) AS deg FROM e GROUP BY src),
r0 AS (SELECT id, t AS trust FROM tv)"""]
    for t in range(_TR_ITER):
        parts.append(f"""dang{t} AS (
  SELECT coalesce(sum(r.trust), cast(0 as double)) AS dm FROM r{t} r
  WHERE r.id NOT IN (SELECT src FROM deg)),
c{t} AS (
  SELECT e.dst AS id, sum(r.trust / d.deg) AS contrib
  FROM e JOIN r{t} r ON r.id = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst),
r{t + 1} AS (
  SELECT v.id,
         round(({tele}) * v.t
               + {_TR_DAMP!r} * (coalesce(c.contrib, cast(0 as double))
                                 + (SELECT dm FROM dang{t}) * v.t),
               12) AS trust
  FROM tv v LEFT JOIN c{t} c ON c.id = v.id)""")
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT id AS host, round(trust, 6) AS trust FROM r{_TR_ITER}"


_HITS_ITER = 4


def q_hits_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the SAME host graph PageRank ranks
    (lineitem supplier-host -> part-host): the two classic link-authority
    signals side by side, so a frontier can prioritize authorities to
    KEEP and hubs to EXPAND (Kleinberg 1999). Fixed iteration count, L1
    normalization, per-iteration round-to-12 on both engines (see
    operators/pagerank.py:hits); report rounds to 6."""
    from distributed_webcrawler_spark.operators.pagerank import hits

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string")).alias("src"),
        F.concat(F.lit("host"), (F.col("l_partkey") % N_FRONTIER_HOSTS).cast("string")).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return (hits(edges, n_iter=_HITS_ITER)
            .select(F.col("id").alias("host"),
                    F.round("a", 6).alias("authority"),
                    F.round("h", 6).alias("hub")))


def _hits_sql() -> str:
    # unrolled mutual-reinforcement iterations, float-exact parity with the
    # Spark side: L1 normalizers are scalar sums over identical 12-decimal
    # inputs, every normalized score re-rounds to 12 on both engines.
    # a{t}/h{t} are AS MATERIALIZED: the alternating chain is twice as deep
    # as pagerank's and each level is referenced 2-3x, so DuckDB's default
    # CTE inlining makes planning exponential (measured: EXPLAIN alone
    # >300s inlined vs ~1s materialized at 4 iterations).
    parts = [f"""e AS MATERIALIZED (
  SELECT DISTINCT concat('host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar)) AS src,
                  concat('host', cast(l_partkey % {N_FRONTIER_HOSTS} as varchar)) AS dst
  FROM lineitem
  WHERE l_suppkey % {N_FRONTIER_HOSTS} <> l_partkey % {N_FRONTIER_HOSTS}),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
nn AS (SELECT cast(count(*) as double) AS n FROM nodes),
h0 AS (SELECT id, cast(1 as double) / (SELECT n FROM nn) AS h FROM nodes)"""]
    for t in range(_HITS_ITER):
        parts.append(f"""araw{t} AS MATERIALIZED (
  SELECT e.dst AS id, sum(h.h) AS s FROM e JOIN h{t} h ON h.id = e.src GROUP BY e.dst),
a{t + 1} AS MATERIALIZED (
  SELECT n.id, round(coalesce(ar.s, cast(0 as double))
                     / (SELECT sum(s) FROM araw{t}), 12) AS a
  FROM nodes n LEFT JOIN araw{t} ar ON ar.id = n.id),
hraw{t} AS MATERIALIZED (
  SELECT e.src AS id, sum(a.a) AS s FROM e JOIN a{t + 1} a ON a.id = e.dst GROUP BY e.src),
h{t + 1} AS MATERIALIZED (
  SELECT n.id, round(coalesce(hr.s, cast(0 as double))
                     / (SELECT sum(s) FROM hraw{t}), 12) AS h
  FROM nodes n LEFT JOIN hraw{t} hr ON hr.id = n.id)""")
    body = ",\n".join(parts)
    return (f"WITH {body}\nSELECT a.id AS host, round(a.a, 6) AS authority, "
            f"round(h.h, 6) AS hub FROM a{_HITS_ITER} a JOIN h{_HITS_ITER} h ON h.id = a.id")


_AU_N = 128


def _au_specs() -> list:
    """Deterministic (audio_id, n_samples, sr, fmt) specs — md5-derived in
    pure Python (same scheme as _mm_specs/_vid_specs) so the Spark query and
    the DuckDB oracle rebuild the identical clip set."""
    import hashlib

    specs = []
    for i in range(_AU_N):
        hn = int(hashlib.md5(f"aun:{i}".encode()).hexdigest()[:8], 16)
        sr = 8000 if i % 2 == 0 else 16000
        n = sr // 2 + hn % (sr * 2)  # 0.5s .. 2.5s
        specs.append((f"au-{i:05d}", n, sr, "wav" if i % 3 else "aac"))
    return specs


def _au_expected_rows() -> list:
    """Pure-Python reference pass over the spec batch (encode -> decode ->
    features): the expected rows the Spark mapInPandas audio decode must
    reproduce. Gates the PLUMBING (Arrow batches, schema, Int64 fingerprint
    width); the codec/DSP math is unit-tested in tests/test_multimodal.py."""
    import numpy as np

    from distributed_webcrawler_spark.sources import codec

    rows = []
    for aid, n, sr, fmt in _au_specs():
        data = codec.encode_audio(codec.synth_pcm(aid, n, sr), sr, fmt)
        x, dsr, dfmt = codec.decode_audio(data)
        xf = x.astype(np.float64)
        rms = float(np.sqrt(np.mean(xf * xf)))
        zcr = float(np.mean(np.signbit(xf[1:]) != np.signbit(xf[:-1])))
        spec = np.abs(np.fft.rfft(xf))
        freqs = np.fft.rfftfreq(len(xf), 1.0 / dsr)
        denom = float(spec.sum())
        centroid = float((freqs * spec).sum() / denom) if denom > 0 else 0.0
        rows.append((aid, dfmt, dsr, len(x), len(x) * 1000 // dsr,
                     round(rms, 4), round(zcr, 6), round(centroid, 4),
                     codec.afp64(x)))
    return rows


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode / feature extraction (duration, RMS, zero-crossings,
    rfft spectral centroid, 64-bit energy-delta fingerprint) over binary
    DWSA payloads — the audio leg of the multimodal triple. Deterministic
    payload batch -> the DuckDB oracle gates rows+schema+hash against a
    precomputed expected table."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import audio_stats
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(aid, codec.encode_audio(codec.synth_pcm(aid, n, sr), sr, fmt))
         for aid, n, sr, fmt in _au_specs()],
        columns=["audio_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (audio_stats(payloads).where(F.col("ok"))
            .select("audio_id", "fmt", "sr", "n_samples", "duration_ms",
                    "rms", "zcr", "centroid_hz", "afp"))


def _au_sql() -> str:
    vals = ",\n".join(
        f"('{aid}', '{fmt}', {sr}, {n}, {dms}, {rms!r}, {zcr!r}, {ce!r}, {afp})"
        for aid, fmt, sr, n, dms, rms, zcr, ce, afp in _au_expected_rows())
    return f"""
SELECT audio_id, fmt, cast(sr as int) AS sr, cast(n_samples as int) AS n_samples,
       cast(duration_ms as int) AS duration_ms, cast(rms as double) AS rms,
       cast(zcr as double) AS zcr, cast(centroid_hz as double) AS centroid_hz,
       cast(afp as bigint) AS afp
FROM (VALUES
{vals}
) AS t(audio_id, fmt, sr, n_samples, duration_ms, rms, zcr, centroid_hz, afp)
"""


def _wav_corpus() -> list:
    """(audio_id, real WAV bytes) — half written by our encode_wav, half
    by python's stdlib `wave` module (an independent RIFF emitter), so
    the distributed decode is gated against bytes we did NOT produce."""
    import io
    import wave as wavelib

    from distributed_webcrawler_spark.sources import codec

    out = []
    for i, (aid, n, sr, _fmt) in enumerate(_au_specs()[:48]):
        x = codec.synth_pcm(aid, n, sr)
        if i % 2:
            data = codec.encode_wav(x, sr)
        else:
            buf = io.BytesIO()
            with wavelib.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(sr)
                w.writeframes(x.tobytes())
            data = buf.getvalue()
        out.append((f"wav-{aid}", data))
    return out


def q_audio_real_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE wire bytes through the SAME Arrow-batched audio
    decode stage (decode_audio magic sniff — the audio twin of
    image_real_png_decode): per-clip duration/RMS/zero-crossings/
    spectral-centroid/fingerprint must equal the values computed straight
    from the source PCM (WAV is lossless). Half the corpus is emitted by
    python's stdlib `wave` module, so the parser is gated against an
    independent writer's bytes, not just its own encoder's."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import audio_stats

    pdf = pd.DataFrame(_wav_corpus(), columns=["audio_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (audio_stats(payloads).where(F.col("ok"))
            .select("audio_id", "fmt", "sr", "n_samples", "duration_ms",
                    "rms", "zcr", "centroid_hz", "afp")
            .orderBy("audio_id"))


def _wav_sql() -> str:
    import numpy as np

    from distributed_webcrawler_spark.sources import codec

    rows = []
    for aid, data in _wav_corpus():
        x, sr, fmt = codec.decode_audio(data)
        xf = x.astype(np.float64)
        rms = float(np.sqrt(np.mean(xf * xf)))
        zcr = float(np.mean(np.signbit(xf[1:]) != np.signbit(xf[:-1])))
        spec = np.abs(np.fft.rfft(xf))
        freqs = np.fft.rfftfreq(len(xf), 1.0 / sr)
        denom = float(spec.sum())
        centroid = float((freqs * spec).sum() / denom) if denom > 0 else 0.0
        rows.append(f"('{aid}', '{fmt}', {sr}, {len(x)}, "
                    f"{len(x) * 1000 // sr}, {round(rms, 4)!r}, "
                    f"{round(zcr, 6)!r}, {round(centroid, 4)!r}, "
                    f"{codec.afp64(x)})")
    vals = ",\n".join(rows)
    return f"""
SELECT audio_id, fmt, cast(sr as int) AS sr, cast(n_samples as int) AS n_samples,
       cast(duration_ms as int) AS duration_ms, cast(rms as double) AS rms,
       cast(zcr as double) AS zcr, cast(centroid_hz as double) AS centroid_hz,
       cast(afp as bigint) AS afp
FROM (VALUES
{vals}
) AS t(audio_id, fmt, sr, n_samples, duration_ms, rms, zcr, centroid_hz, afp)
ORDER BY audio_id
"""


_PN_N = 96


def _pn_payloads() -> list:
    """(image_id, w, h, pixels) for the image near-dup batch: _PN_N
    md5-derived base images plus, for every 3rd one, a perturbed copy (a
    small corner block nudged) whose phash lands a few bits away. Encoded
    png (lossless), so the decoded pixels — and therefore the phash the
    Spark decode path computes — are exactly these arrays."""
    import hashlib

    from distributed_webcrawler_spark.sources import codec

    out = []
    for i in range(_PN_N):
        hw = int(hashlib.md5(f"pnw:{i}".encode()).hexdigest()[:8], 16)
        hh = int(hashlib.md5(f"pnh:{i}".encode()).hexdigest()[:8], 16)
        w, h = 24 + hw % 25, 24 + hh % 25
        px = codec.synth_pixels(f"pn-{i:05d}", w, h)
        out.append((f"pn-{i:05d}", px))
        if i % 3 == 0:
            px2 = px.copy()
            # corner-block xor tuned so the dup's phash lands 0-3 bits away
            # (measured spread over this batch: 9x H0, 12x H1, 7x H2, 4x H3)
            px2[: max(2, h // 3), : max(2, w // 3)] ^= 96
            out.append((f"pn-{i:05d}-dup", px2))
    return out


def q_image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection — the canonical 100 TB image-pipeline
    dedup (operators/multimodal.py phash_near_dup_pairs): Arrow-batched
    decode -> 64-bit perceptual hash -> banded Hamming search (4x16-bit
    slices, pigeonhole-complete for Hamming <= 3). Pixels never shuffle;
    the join carries (id, phash) only. The payload batch is deterministic,
    so the DuckDB oracle re-derives the SAME banding + bit_count(xor)
    verify in pure SQL over the expected phash table."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import phash_near_dup_pairs
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(px, "png")) for iid, px in _pn_payloads()],
        columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return phash_near_dup_pairs(payloads, max_hamming=3)


def _pn_sql() -> str:
    from distributed_webcrawler_spark.sources import codec

    vals = ",\n".join(f"('{iid}', {codec.phash64(px)})"
                      for iid, px in _pn_payloads())
    return f"""
WITH sig AS (
  SELECT image_id, cast(phash as bigint) AS phash
  FROM (VALUES
{vals}
  ) AS t(image_id, phash)
),
bands AS (
  SELECT image_id, phash, b.band,
         ((phash >> (b.band * 16)) & 65535) AS slice
  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
),
cand AS (
  SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
                  a.phash AS pa, b.phash AS pb
  FROM bands a JOIN bands b ON a.band = b.band AND a.slice = b.slice
  WHERE a.image_id < b.image_id
)
SELECT id_a, id_b, cast(bit_count(xor(pa, pb)) as int) AS hamming
FROM cand
WHERE bit_count(xor(pa, pb)) <= 3
"""


def q_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image near-dup CLUSTERING — the full 100 TB image dedup
    pipeline in one plan: decode ONCE (Arrow batches; pixels never leave
    the decode stage) -> 64-bit phash + resolution -> banded Hamming pairs
    (4x16-bit slices, Hamming <= 3) -> connected components (pointer
    doubling, O(log d) rounds) -> keep-best representative per cluster
    (max pixel count, ties to min id). Shuffles carry (id, phash) and
    (id, component) rows only. Returns (component, keep_id, best_score,
    n_members) for every multi-member cluster. The payload batch is
    deterministic, so the oracle re-derives banding + bit_count verify +
    a recursive-CTE closure + the same keep-best window in pure SQL over
    the expected (phash, w, h) table."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.components import (
        component_representatives, connected_components)
    from distributed_webcrawler_spark.operators.dedup import hamming_banded_pairs
    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(px, "png")) for iid, px in _pn_payloads()],
        columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    st = decode_stats(payloads).where("ok").select(
        F.col("image_id").alias("id"), F.col("phash").alias("sig"),
        (F.col("w").cast("bigint") * F.col("h")).alias("score")).cache()
    pairs = hamming_banded_pairs(st.select("id", "sig"), max_hamming=3,
                                 n_bits=64, n_bands=4)
    cc = connected_components(pairs, "id_a", "id_b")
    return component_representatives(cc, st.select("id", "score"))


def _image_clusters_sql() -> str:
    from distributed_webcrawler_spark.sources import codec

    vals = ",\n".join(
        f"('{iid}', {codec.phash64(px)}, {px.shape[0] * px.shape[1]})"
        for iid, px in _pn_payloads())
    return f"""
WITH RECURSIVE sig AS (
  SELECT image_id, cast(phash as bigint) AS phash, cast(npx as bigint) AS npx
  FROM (VALUES
{vals}
  ) AS t(image_id, phash, npx)
),
bands AS (
  SELECT image_id, phash, b.band, ((phash >> (b.band * 16)) & 65535) AS slice
  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
),
pairs AS (
  SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.slice = b.slice
  WHERE a.image_id < b.image_id
    AND bit_count(xor(a.phash, b.phash)) <= 3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT src AS id, src AS r FROM edges
  UNION
  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
cc AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
scored AS (
  SELECT cc.component, cc.id, sig.npx AS score,
         row_number() OVER (PARTITION BY cc.component
                            ORDER BY sig.npx DESC, cc.id ASC) AS rn,
         count(*) OVER (PARTITION BY cc.component) AS n_members
  FROM cc JOIN sig ON sig.image_id = cc.id
)
SELECT component, id AS keep_id, score AS best_score,
       cast(n_members as bigint) AS n_members
FROM scored WHERE rn = 1
"""


def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per link target — the classic web-index
    signal built on the reference's link extraction (BasicCrawler.java
    anchors): every <a href>'s text is credited to its TARGET page, giving
    each target a backlink count, distinct-source count, and its most
    common anchor phrase. Markup is synthesized deterministically from
    documents IN the query (both engines build identical literals), the
    anchor parse is in-row regexp_extract_all + positional zip (no UDF),
    and the aggregation is two keyed shuffles: (target, anchor) counts,
    then a per-target rank window for the top anchor (cnt DESC, anchor ASC
    — deterministic). At 10^10 pages the shuffle carries (target, anchor)
    pairs, never page bytes; skewed mega-targets are exactly the hot-host
    salting case the frontier windows already handle."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    first_tok = F.regexp_extract(F.lower(F.col("text")), "[a-z0-9]+", 0)
    html = F.concat(
        F.lit('<p>'), F.substring(F.col("text"), 1, 40),
        F.lit('</p><a href="/t/'), (F.col("doc_id") % 37).cast("string"),
        F.lit('">'), first_tok,
        F.lit('</a> <a href="/t/'), ((F.col("doc_id") + 13) % 37).cast("string"),
        F.lit('">'), F.col("lang"), F.lit("</a>"))
    h = docs.select("doc_id", html.alias("html"))
    hrefs = F.expr("regexp_extract_all(html, '<a href=\"([^\"]+)\">', 1)")
    texts = F.expr("regexp_extract_all(html, '<a href=\"[^\"]+\">([^<]*)</a>', 1)")
    links = (h.select("doc_id", F.explode(F.arrays_zip(
                hrefs.alias("t"), texts.alias("a"))).alias("l"))
              .select("doc_id", F.col("l.t").alias("target"),
                      F.col("l.a").alias("anchor")))
    per_anchor = (links.groupBy("target", "anchor")
                  .agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("target").orderBy(
        F.col("cnt").desc(), F.col("anchor").asc())
    top = (per_anchor.withColumn("__rn", F.row_number().over(w))
           .where(F.col("__rn") == 1)
           .select("target", F.col("anchor").alias("top_anchor"),
                   F.col("cnt").alias("top_anchor_cnt")))
    stats = links.groupBy("target").agg(
        F.count("*").alias("n_links"),
        F.countDistinct("doc_id").alias("n_sources"))
    return stats.join(top, "target")


_Q_ANCHOR_SQL = """
WITH h AS (
  SELECT doc_id,
         concat('<p>', substr(text, 1, 40), '</p><a href="/t/',
                cast(doc_id % 37 as varchar), '">',
                regexp_extract(lower(text), '[a-z0-9]+'),
                '</a> <a href="/t/', cast((doc_id + 13) % 37 as varchar),
                '">', lang, '</a>') AS html
  FROM documents
),
links AS (
  SELECT doc_id, u[1] AS target, u[2] AS anchor
  FROM h, unnest(list_zip(
         regexp_extract_all(html, '<a href="([^"]+)">', 1),
         regexp_extract_all(html, '<a href="[^"]+">([^<]*)</a>', 1))) AS z(u)
),
per_anchor AS (
  SELECT target, anchor, count(*) AS cnt FROM links GROUP BY 1, 2
),
top AS (
  SELECT target, anchor AS top_anchor, cnt AS top_anchor_cnt,
         row_number() OVER (PARTITION BY target
                            ORDER BY cnt DESC, anchor ASC) AS rn
  FROM per_anchor
),
stats AS (
  SELECT target, count(*) AS n_links,
         cast(count(DISTINCT doc_id) as bigint) AS n_sources
  FROM links GROUP BY 1
)
SELECT stats.target, stats.n_links, stats.n_sources,
       top.top_anchor, top.top_anchor_cnt
FROM stats JOIN top ON top.target = stats.target AND top.rn = 1
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split — the reproducible-split primitive
    every training pipeline needs: split = portable h64('split:'||doc_id) %
    100 bucketed 80/10/10. Pure map-side Column math (codegen, no UDF, no
    shuffle except the final stats agg); adding data never reassigns an
    existing doc's split."""
    docs = _t(spark, sf_dir, "documents")
    b = h64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (F.when(b < 80, "train").when(b < 90, "val").otherwise("test"))
    return (docs.select(split.alias("split"), "n_chars", "lang")
            .groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.countDistinct("lang").alias("n_langs")))


_Q_SPLIT_SQL = f"""
WITH s AS (
  SELECT CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split, n_chars, lang
  FROM (SELECT {h64_sql("concat('split:', cast(doc_id as varchar))")} % 100 AS bucket,
               n_chars, lang
        FROM documents)
)
SELECT split, count(*) AS n_docs, cast(sum(n_chars) as bigint) AS sum_chars,
       count(DISTINCT lang) AS n_langs
FROM s GROUP BY split
"""


def q_asof_join_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): for each 'view' event, the
    latest at-or-before 'purchase' value of the same user. One shuffle on
    user_id (union + ordered window carry) — no range explosion. DuckDB
    oracle uses its native ASOF LEFT JOIN."""
    from distributed_webcrawler_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    probes = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purch = (ev.where(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("pval")))
    return asof_join(probes, purch, on=["user_id"], left_ts="ts", right_ts="ts",
                     value_col="pval", out_col="last_purchase_value")


_Q_ASOF_SQL = """
WITH probes AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
     purch  AS (SELECT user_id, ts, max(value) AS pval
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT p.event_id, p.user_id, p.ts, r.pval AS last_purchase_value
FROM probes p ASOF LEFT JOIN purch r
  ON p.user_id = r.user_id AND p.ts >= r.ts
"""


def q_range_join_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join anchored on an equi-key (the scalable form: the range
    predicate prunes AFTER the hash join on user, so nothing explodes):
    per signup event, the user's follow-up activity within the next day."""
    ev = _t(spark, sf_dir, "events")
    probes = (ev.where(F.col("event_type") == "signup")
              .select(F.col("event_id").alias("signup_id"),
                      F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")))
    j = probes.join(
        ev,
        (ev["user_id"] == probes["p_user"])
        & (ev["ts"] > probes["p_ts"])
        & (ev["ts"] <= F.col("p_ts") + F.expr("INTERVAL 1 DAY")),
    )
    return j.groupBy("signup_id").agg(
        F.count("*").alias("n_follow"),
        F.round(F.sum("value"), 4).alias("sum_value"))


_Q_RANGE_SQL = """
SELECT p.event_id AS signup_id, count(*) AS n_follow, round(sum(e.value), 4) AS sum_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup') p
JOIN events e
  ON e.user_id = p.user_id
 AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 1 DAY
GROUP BY 1
"""


_IVF_MOD, _IVF_K = 29, 3


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list:
    """Centroid set = vectors with vec_id % 29 == 0 (k ~ sqrt(N) rows pulled
    to the driver once — the standard IVF build step; only the SMALL
    centroid side ever leaves the executors, as a broadcast)."""
    emb = _t(spark, sf_dir, "embeddings")
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.where(F.col("vec_id") % _IVF_MOD == 0)
                        .select("vec_id", "embedding").collect()]


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (the scale path beside LSH): vectors are assigned
    map-side to their nearest centroid via a BROADCAST numpy centroid
    matrix + one vectorized matmul-argmax per Arrow batch (no plan-literal
    structs, no shuffle of the corpus), then top-k searches only the
    query's cell (nprobe=1). Probes = vec_id % 50 == 0."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = S.ivf_assign_broadcast(emb, _ivf_centroids(spark, sf_dir))
    return S.ivf_topk(assigned, k=_IVF_K, query_filter=F.col("id") % 50 == 0)


_IVF_NPROBE = 2


def q_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-probe (nprobe=2): each query searches its TWO
    nearest cells — the recall lever real IVF deployments turn. Probe side
    explodes its (tiny) cell list; the corpus side never replicates."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(spark, sf_dir)
    corpus = S.ivf_assign_broadcast(emb, cents)
    probes = S.ivf_assign_broadcast(
        emb.where(F.col("vec_id") % 50 == 0), cents, nprobe=_IVF_NPROBE)
    return S.ivf_topk_nprobe(corpus, probes, k=_IVF_K)


_Q_IVF_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cell, cast(embedding AS double[]) AS cv
  FROM embeddings WHERE vec_id % {_IVF_MOD} = 0),
sc AS (
  SELECT e.vec_id AS id, cast(e.embedding AS double[]) AS v, c.cell,
         round(list_cosine_similarity(cast(e.embedding AS double[]), c.cv), 6) AS csim
  FROM embeddings e CROSS JOIN cent c),
asg AS (
  SELECT id, v, cell FROM (
    SELECT id, v, cell,
           row_number() OVER (PARTITION BY id ORDER BY csim DESC, cell ASC) AS crk
    FROM sc) WHERE crk = 1)
SELECT query_id, neighbor_id, sim, rk FROM (
  SELECT q.id AS query_id, n.id AS neighbor_id,
         round(list_cosine_similarity(q.v, n.v), 6) AS sim,
         row_number() OVER (PARTITION BY q.id
                            ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC,
                                     n.id ASC) AS rk
  FROM asg q JOIN asg n ON q.cell = n.cell AND q.id <> n.id
  WHERE q.id % 50 = 0) t
WHERE rk <= {_IVF_K}
"""

_Q_IVF_NPROBE_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cell, cast(embedding AS double[]) AS cv
  FROM embeddings WHERE vec_id % {_IVF_MOD} = 0),
sc AS (
  SELECT e.vec_id AS id, cast(e.embedding AS double[]) AS v, c.cell,
         round(list_cosine_similarity(cast(e.embedding AS double[]), c.cv), 6) AS csim
  FROM embeddings e CROSS JOIN cent c),
ranked AS (
  SELECT id, v, cell,
         row_number() OVER (PARTITION BY id ORDER BY csim DESC, cell ASC) AS crk
  FROM sc),
asg AS (SELECT id, v, cell FROM ranked WHERE crk = 1),
probes AS (SELECT id, v, cell FROM ranked WHERE crk <= 2 AND id % 50 = 0),
pairs AS (
  SELECT DISTINCT q.id AS query_id, n.id AS neighbor_id,
         round(list_cosine_similarity(q.v, n.v), 6) AS sim
  FROM probes q JOIN asg n ON q.cell = n.cell AND q.id <> n.id)
SELECT query_id, neighbor_id, sim, rk FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
  FROM pairs) t
WHERE rk <= {_IVF_K}
"""


_NP_SWEEP = [1, 2, 4]


def q_ann_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe recall sweep — the tuning curve real IVF deployments
    read before picking nprobe: recall@3 of the bucketed search vs exact
    brute force, at nprobe = 1, 2, 4, per query and averaged per level.
    More probed cells -> monotonically higher recall at linearly higher
    search cost; this query MEASURES that tradeoff under the gate
    instead of asserting it. Exact side computed once (broadcast query
    side); each sweep level reuses the same broadcast-assigned corpus —
    the per-level delta is only the probe explode."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(spark, sf_dir)
    corpus = S.ivf_assign_broadcast(emb, cents)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    exact = (S.brute_force_topk(queries, emb, k=_IVF_K)
             .select("query_id", "neighbor_id").localCheckpoint(eager=True))
    outs = []
    for np_ in _NP_SWEEP:
        probes = S.ivf_assign_broadcast(queries, cents, nprobe=np_)
        if np_ == 1:  # topk_nprobe expects the cells array form
            probes = probes.select("id", "v", F.array("cell").alias("cells"))
        ivf = (S.ivf_topk_nprobe(corpus, probes, k=_IVF_K)
               .select("query_id", "neighbor_id", F.lit(1).alias("hit")))
        per_q = (exact.join(ivf, ["query_id", "neighbor_id"], "left")
                 .groupBy("query_id")
                 .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                      .cast("bigint").alias("n_hit")))
        outs.append(per_q.select(F.lit(np_).alias("nprobe"), "query_id", "n_hit",
                                 F.round(F.col("n_hit") / F.lit(float(_IVF_K)), 6)
                                 .alias("recall")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    # avg from the EXACT integer hit sum, one double division: averaging
    # the round-6 recall doubles summed them in shuffle order, and a sum
    # landing within an ulp of the x.xxxxxx5 boundary flipped the 6th
    # decimal between engines/runs (observed once at sf0.01: 0.533334 vs
    # 0.533333 — a latent flake, green for four rounds)
    lvl = (res.groupBy("nprobe")
           .agg(F.round(F.sum("n_hit")
                        / (F.lit(float(_IVF_K)) * F.count("*")), 6)
                .alias("avg_recall")))
    return (res.join(F.broadcast(lvl), "nprobe")
            .select(F.col("nprobe").cast("int").alias("nprobe"), "query_id",
                    "n_hit", "recall", "avg_recall"))


def _np_sweep_sql() -> str:
    per_np = []
    for np_ in _NP_SWEEP:
        per_np.append(f"""(
  SELECT {np_} AS nprobe, x.query_id, x.n_hit,
         round(x.n_hit * 1.0 / {_IVF_K}, 6) AS recall
  FROM (
    SELECT e.query_id,
           cast(coalesce(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0) as bigint) AS n_hit
    FROM exact e
    LEFT JOIN (
      SELECT DISTINCT q.id AS query_id, n.id AS neighbor_id
      FROM (SELECT id, v, cell FROM ranked WHERE crk <= {np_} AND id % 50 = 0) q
      JOIN asg n ON q.cell = n.cell AND q.id <> n.id) p
      ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
    GROUP BY e.query_id) x)""")
    union = "\nUNION ALL\n".join(per_np)
    return f"""
WITH cent AS MATERIALIZED (
  SELECT vec_id AS cell, cast(embedding AS double[]) AS cv
  FROM embeddings WHERE vec_id % {_IVF_MOD} = 0),
sc AS MATERIALIZED (
  SELECT e.vec_id AS id, cast(e.embedding AS double[]) AS v, c.cell,
         round(list_cosine_similarity(cast(e.embedding AS double[]), c.cv), 6) AS csim
  FROM embeddings e CROSS JOIN cent c),
ranked AS MATERIALIZED (
  SELECT id, v, cell,
         row_number() OVER (PARTITION BY id ORDER BY csim DESC, cell ASC) AS crk
  FROM sc),
asg AS MATERIALIZED (SELECT id, v, cell FROM ranked WHERE crk = 1),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_cosine_similarity(cast(q.embedding as double[]),
                                                                    cast(c.embedding as double[])), 6) DESC,
                                       c.vec_id ASC) AS rk
    FROM (SELECT * FROM embeddings WHERE vec_id % 50 = 0) q
    JOIN embeddings c ON c.vec_id <> q.vec_id) t
  WHERE rk <= {_IVF_K}),
lv AS ({union})
SELECT cast(l.nprobe as int) AS nprobe, l.query_id, l.n_hit, l.recall,
       a.avg_recall
FROM lv l JOIN (SELECT nprobe, round(sum(n_hit) / ({_IVF_K}.0 * count(*)), 6) AS avg_recall
                FROM lv GROUP BY nprobe) a ON a.nprobe = l.nprobe
"""


# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one crawl-scheduling round on the sf0.001 synthetic frontier."""
    return q_crawl_round_schedule(spark, SF001)


# ---------------------------------------------------------------------------
# Pipeline-hygiene operators (round 2): PII scrubbing, Gopher-style
# repetition rules, benchmark-contamination checks, quality-aware dedup
# representatives, freshness-driven recrawl scheduling, HTML text extraction.
# All pure Column expressions / DataFrame compositions — no Python in the
# hot path; see functions/scrub.py for the builders.
# ---------------------------------------------------------------------------


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails / IPv4 / phone numbers) over
    documents. The corpus is synthetic and PII-free, so the query injects
    deterministic PII spans for a fixed doc_id subset IN the query (same
    literal construction on both engines) — the oracle then verifies both
    the counts and the redacted text byte-for-byte. Pure regexp Column ops
    (Java-regex/RE2 common subset), embedded in the scan at scale."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    inject = (
        F.when(d % 7 == 0, F.concat(
            F.lit(" reach user"), d.cast("string"),
            F.lit("@mail.example.test or 10."), (d % 200).cast("string"),
            F.lit(".3.44")))
        .when(d % 11 == 3, F.concat(
            F.lit(" call 555-"), (d % 900 + 100).cast("string"),
            F.lit("-0199 now")))
        .otherwise(F.lit("")))
    aug = docs.select("doc_id", F.concat(F.col("text"), inject).alias("t"))
    return aug.select(
        "doc_id",
        SC.pii_count("t", "email").alias("n_email"),
        SC.pii_count("t", "ip").alias("n_ip"),
        SC.pii_count("t", "phone").alias("n_phone"),
        SC.pii_redact("t").alias("clean"),
    )


def _pii_sql() -> str:
    pats = dict(SC.PII_PATTERNS)
    e, i, p = pats["email"], pats["ip"], pats["phone"]
    return f"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0 THEN ' reach user' || cast(doc_id as varchar) || '@mail.example.test or 10.' || cast(doc_id % 200 as varchar) || '.3.44'
                      WHEN doc_id % 11 = 3 THEN ' call 555-' || cast(doc_id % 900 + 100 as varchar) || '-0199 now'
                      ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       cast(len(regexp_extract_all(t, '{e}')) as int) AS n_email,
       cast(len(regexp_extract_all(t, '{i}')) as int) AS n_ip,
       cast(len(regexp_extract_all(t, '{p}')) as int) AS n_phone,
       regexp_replace(regexp_replace(regexp_replace(t, '{e}', '<email>', 'g'), '{i}', '<ip>', 'g'), '{p}', '<phone>', 'g') AS clean
FROM aug
"""


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules per document: duplicate-word
    fraction, most-frequent-word fraction, most-frequent-bigram fraction,
    and the keep/drop gate. Token array materialized once per row and
    reused; O(tokens x distinct) in-row work, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    t = (docs.select("doc_id", SC.word_tokens("text").alias("t"))
             .withColumn("bg", SC.word_bigrams("t")))
    dup = SC.dup_frac("t")
    topw = SC.top_element_frac("t")
    topb = SC.top_element_frac("bg")
    return t.select(
        "doc_id",
        F.size("t").cast("int").alias("n_tokens"),
        dup.alias("dup_word_frac"),
        topw.alias("top_word_frac"),
        topb.alias("top_bigram_frac"),
        SC.repetition_keep(dup, topw, topb).alias("keep"),
    )


_Q_REPETITION_SQL = f"""
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
bg AS (SELECT doc_id, t,
              CASE WHEN len(t) < 2 THEN [] ELSE list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1]) END AS b
       FROM tok),
m AS (SELECT doc_id,
             cast(len(t) as int) AS n_tokens,
             cast(round((len(t) - len(list_distinct(t))) / greatest(len(t), 1), 6) as double) AS dup_word_frac,
             CASE WHEN len(t) < 1 THEN cast(0.0 as double) ELSE cast(round(list_max(list_transform(list_distinct(t), w -> len(list_filter(t, x -> x = w)))) / len(t), 6) as double) END AS top_word_frac,
             CASE WHEN len(b) < 1 THEN cast(0.0 as double) ELSE cast(round(list_max(list_transform(list_distinct(b), w -> len(list_filter(b, x -> x = w)))) / len(b), 6) as double) END AS top_bigram_frac
      FROM bg)
SELECT doc_id, n_tokens, dup_word_frac, top_word_frac, top_bigram_frac,
       (dup_word_frac <= {SC.REP_MAX_DUP_WORD} AND top_word_frac <= {SC.REP_MAX_TOP_WORD} AND top_bigram_frac <= {SC.REP_MAX_TOP_BIGRAM}) AS keep
FROM m
"""


_CT_K, _CT_MOD = 3, 23


def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: word k-gram overlap between an eval
    subset (doc_id % {mod} == 0 stands in for the benchmark corpus) and the
    training docs. Output: per contaminated training doc, its shingle count,
    overlap count and fraction. Scale path: the eval shingle set is tiny
    relative to the corpus, so it broadcasts and the training side is a
    single map-side semi-match + one aggregation — the 100 TB plan is scan +
    broadcast-join + partial agg, no corpus self-shuffle. Production uses
    k=13 (n-gram decontamination convention); the oracle-gated query uses
    k={k} so the tiny word-soup fixture has real overlap."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", SC.word_tokens("text").alias("t")).where(F.size("t") >= _CT_K)
    sh = (tok.select("doc_id", F.explode(SC.word_shingles("t", _CT_K)).alias("sh"))
             .distinct())
    ev = sh.where(F.col("doc_id") % _CT_MOD == 0).select("sh").distinct()
    train = sh.where(F.col("doc_id") % _CT_MOD != 0)
    sizes = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (train.join(F.broadcast(ev), "sh")
                 .groupBy("doc_id").agg(F.count("*").alias("n_overlap")))
    return (hits.join(sizes, "doc_id")
                .select("doc_id", "n_shingles", "n_overlap",
                        F.round(F.col("n_overlap") / F.col("n_shingles"), 6).alias("overlap_frac")))


q_contamination_overlap.__doc__ = q_contamination_overlap.__doc__.format(mod=_CT_MOD, k=_CT_K)

_Q_CONTAMINATION_SQL = f"""
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
ok AS (SELECT * FROM tok WHERE len(t) >= {_CT_K}),
pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_CT_K - 1})) AS i FROM ok),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS sh FROM pos),
ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {_CT_MOD} = 0),
train AS (SELECT * FROM sh WHERE doc_id % {_CT_MOD} <> 0),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
hits AS (SELECT t.doc_id, count(*) AS n_overlap FROM train t JOIN ev USING (sh) GROUP BY t.doc_id)
SELECT doc_id, n_shingles, n_overlap, round(n_overlap / n_shingles, 6) AS overlap_frac
FROM hits JOIN sizes USING (doc_id)
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline composition: MinHash-LSH candidate pairs
    -> connected components -> quality-aware representative per cluster
    (highest text.quality_score, ties to smallest doc_id). This is the
    "which duplicate do we KEEP" answer a training-data pipeline actually
    needs, not just the pair list. One extra shuffle over the component id
    beyond the components themselves."""
    from distributed_webcrawler_spark.operators.components import (
        component_representatives, connected_components)

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, n_hashes=_MH_N, band_size=_MH_BAND,
                                k=_MH_K, max_chars=_MH_CHARS, min_est=_MH_MIN)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    qual = docs.select(F.col("doc_id").alias("id"), X.quality_score("text").alias("q"))
    reps = component_representatives(comp, qual, id_col="id", score_col="q")
    return reps.select("component", "keep_id",
                       F.col("best_score").alias("best_quality"),
                       F.col("n_members").cast("bigint").alias("n_members"))


def _keep_best_sql() -> str:
    body, matches = _minhash_cte_body()
    qual = _quality_sql().strip()
    return f"""
WITH RECURSIVE {body},
pairs AS (
  SELECT id_a, id_b FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
  WHERE round(({matches}) / 8.0, 6) >= {_MH_MIN}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT src AS id, src AS r FROM edges
  UNION
  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
qual AS ({qual}),
j AS (SELECT c.component, c.doc_id, q.quality FROM comp c JOIN qual q USING (doc_id)),
rr AS (SELECT *, row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn,
              count(*) OVER (PARTITION BY component) AS n_members
       FROM j)
SELECT component, doc_id AS keep_id, quality AS best_quality, cast(n_members as bigint) AS n_members
FROM rr WHERE rn = 1
"""


_RECRAWL_TOPK = 3


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl scheduling (the other half of a crawler's
    scheduler next to crawl_round_schedule's budget scheduling): a page is
    due for refetch when its age exceeds a depth-derived TTL; due pages are
    ranked per host by age x priority and the top-k per host win the round.
    TTL is integer math (30 + 60*depth days) so the gate is float-free on
    both engines; the score is round(6)ed. The "now" scalar is a broadcast
    one-row join, not a global window."""
    fr = _frontier(spark, sf_dir)
    now = fr.agg(F.max("discovered_at").alias("now"))
    aged = (fr.crossJoin(F.broadcast(now))
              .withColumn("age_days", F.datediff(F.col("now"), F.col("discovered_at")).cast("int"))
              .withColumn("ttl_days", (F.lit(30) + F.lit(60) * F.col("depth")).cast("int"))
              .where(F.col("age_days") > F.col("ttl_days"))
              .withColumn("score", F.round(F.col("age_days") * F.col("priority"), 6).cast("double")))
    w = Window.partitionBy("host").orderBy(F.col("score").desc(), F.col("url").asc())
    return (aged.withColumn("rk", F.row_number().over(w))
                .where(F.col("rk") <= _RECRAWL_TOPK)
                .select("host", "url", "age_days", "ttl_days", "score",
                        F.col("rk").cast("int").alias("rk")))


_Q_RECRAWL_SQL = f"""
WITH f AS ({_FRONTIER_SQL}),
aged AS (
  SELECT f.*, cast(date_diff('day', discovered_at, (SELECT max(discovered_at) FROM f)) as int) AS age_days,
         cast(30 + 60 * depth as int) AS ttl_days
  FROM f),
due AS (
  SELECT host, url, age_days, ttl_days,
         cast(round(age_days * cast(priority as double), 6) as double) AS score
  FROM aged WHERE age_days > ttl_days),
ranked AS (
  SELECT *, cast(row_number() OVER (PARTITION BY host ORDER BY score DESC, url) as int) AS rk
  FROM due)
SELECT host, url, age_days, ttl_days, score, rk FROM ranked WHERE rk <= {_RECRAWL_TOPK}
"""


def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML title + visible-text extraction (Jsoup doc.title()/body.text()
    parity, BasicCrawler.java:96-105) as pure regexp Column ops. The markup
    is synthesized deterministically from documents IN the query (same
    literal construction on both engines) so the oracle verifies the
    extraction byte-for-byte; in the live engine the same builders run over
    fetched page bytes."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>"), F.col("lang"), F.lit(" #"), d,
        F.lit("</title></head><body><h1>"), F.upper(F.col("source")),
        F.lit("</h1><p>"), F.substring(F.col("text"), 1, 120),
        F.lit('</p><a href="/doc/'), d,
        F.lit('">next</a> <a href="/lang/'), F.col("lang"),
        F.lit('">more</a></body></html>'))
    h = docs.select("doc_id", html.alias("html"))
    return h.select(
        "doc_id",
        SC.html_title("html").alias("title"),
        SC.html_visible_text("html").alias("body_text"),
        SC.html_link_count("html").alias("n_links"),
    )


_Q_HTML_SQL = """
WITH h AS (
  SELECT doc_id,
         '<html><head><title>' || lang || ' #' || cast(doc_id as varchar) ||
         '</title></head><body><h1>' || upper(source) || '</h1><p>' || substr(text, 1, 120) ||
         '</p><a href="/doc/' || cast(doc_id as varchar) || '">next</a> <a href="/lang/' || lang ||
         '">more</a></body></html>' AS html
  FROM documents)
SELECT doc_id,
       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')) AS body_text,
       cast(len(regexp_extract_all(html, '<a href')) as int) AS n_links
FROM h
"""


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning (Raffel et al. 2020 §2.2, public literature):
    keep only lines ending in terminal punctuation with >= 5 words and no
    'javascript' boilerplate; doc-level gate on surviving-line count + code
    braces. The corpus is single-line synthetic text, so multi-line pages
    are synthesized deterministically IN the query (same literal
    construction on both engines — the established pii_scrub /
    html_text_extract pattern): a kept sentence, a boilerplate/short line,
    an unterminated fragment, and a kept closing line. Pure in-row
    filter() over the line array — embedded in the scan at scale, zero
    shuffle, no UDF."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    line2 = F.when(d % 4 == 0, F.lit("enable javascript to view the comments here."))\
             .otherwise(F.lit("menu home"))
    syn = F.concat(
        F.substring("text", 1, 60), F.lit("."), F.lit("\n"),
        line2, F.lit("\n"),
        F.substring("text", 61, 60), F.lit("\n"),
        F.lit("read the "), F.col("lang"), F.lit(" docs right now!"))
    lined = docs.select("doc_id", "text", syn.alias("t")) \
                .withColumn("lines", SC.line_array("t"))
    kept = SC.c4_kept_lines("lines")
    out = lined.select(
        "doc_id",
        F.size("lines").cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept"),
        F.concat_ws("\n", kept).alias("clean_text"),
        F.col("text").alias("_text"),
    )
    return out.select(
        "doc_id", "n_lines", "n_kept",
        SC.c4_doc_keep(F.col("n_kept"), "_text").alias("keep"),
        "clean_text")


def _c4_sql() -> str:
    return f"""
WITH syn AS (
  SELECT doc_id, text,
         substr(text, 1, 60) || '.' || chr(10) ||
         CASE WHEN doc_id % 4 = 0 THEN 'enable javascript to view the comments here.'
              ELSE 'menu home' END || chr(10) ||
         substr(text, 61, 60) || chr(10) ||
         'read the ' || lang || ' docs right now!' AS t
  FROM documents),
l AS (SELECT doc_id, text, string_split(t, chr(10)) AS lines FROM syn),
k AS (SELECT doc_id, text, lines,
             list_filter(lines, x ->
               len(regexp_extract_all(lower(x), '[a-z0-9]+')) >= {SC.C4_MIN_LINE_WORDS}
               AND regexp_matches(x, '{SC.C4_TERMINAL_RE}')
               AND NOT contains(lower(x), '{SC.C4_BANNED_WORD}')) AS kept
      FROM l)
SELECT doc_id,
       cast(len(lines) as int) AS n_lines,
       cast(len(kept) as int) AS n_kept,
       (len(kept) >= {SC.C4_MIN_KEPT_LINES} AND NOT contains(text, '{{')) AS keep,
       array_to_string(kept, chr(10)) AS clean_text
FROM k
"""


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (Lee et al. 2022 / CCNet,
    public literature): only the globally FIRST instance (by doc_id, pos)
    of each distinct paragraph survives; docs are rebuilt from surviving
    paragraphs. Paragraph structure is synthesized deterministically IN the
    query: per doc, a mostly-unique lead (own text prefix), a per-source
    boilerplate line (dupes across every doc of that source), a global
    footer (dupes across the whole corpus), and a second own-text slice.
    See operators/dedup.paragraph_dedup for the one-window-shuffle scale
    shape (dedup identity = portable 60-bit paragraph hash)."""
    docs = _t(spark, sf_dir, "documents")
    syn = F.concat(
        F.substring("text", 1, 100), F.lit("\n"),
        F.lit("about "), F.col("source"), F.lit(" pages"), F.lit("\n"),
        F.lit("copyright footer all rights reserved"), F.lit("\n"),
        F.substring("text", 21, 80))
    aug = docs.select("doc_id", syn.alias("t"))
    return D.paragraph_dedup(aug, text_col="t", id_col="doc_id")


def _paragraph_dedup_sql() -> str:
    return f"""
WITH syn AS (
  SELECT doc_id,
         substr(text, 1, 100) || chr(10) ||
         'about ' || source || ' pages' || chr(10) ||
         'copyright footer all rights reserved' || chr(10) ||
         substr(text, 21, 80) AS t
  FROM documents),
sp AS (SELECT doc_id, string_split(t, chr(10)) AS paras FROM syn),
p AS (SELECT doc_id, cast(generate_subscripts(paras, 1) - 1 as int) AS pos,
             unnest(paras) AS para
      FROM sp),
r AS (SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY {h64_sql('para')}
                                ORDER BY doc_id, pos) AS rn
      FROM p)
SELECT doc_id,
       cast(count(*) as int) AS n_paras,
       cast(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) as int) AS n_removed,
       coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos), '') AS clean_text
FROM r GROUP BY doc_id
"""


def q_crawl_trap_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap detection: hosts whose URL space explodes out of few URL
    *templates* (digit runs collapsed to 'N') — the calendar/session-id
    trap signal a production crawler gates hosts on before they eat the
    whole politeness budget (the reference caps depth only,
    BasicCrawler.java:119-124; template fan-out is the scale-honest gate).

    Scale shape: template collapse is a map-side regex; one groupBy(host)
    shuffle; the global mean is a one-row broadcast join, so the trap
    threshold is relative (scale-free), not a magic absolute count."""
    fr = _frontier(spark, sf_dir)
    t = fr.select("host", "url", F.regexp_replace("url", "[0-9]+", "N").alias("template"))
    ratios = (
        t.groupBy("host")
        .agg(F.countDistinct("url").alias("n_urls"),
             F.countDistinct("template").alias("n_templates"))
        .withColumn("urls_per_template",
                    F.round(F.col("n_urls") / F.col("n_templates"), 6))
    )
    mean = ratios.agg(F.avg("urls_per_template").alias("mean_ratio"))
    return (
        ratios.crossJoin(F.broadcast(mean))
        .select("host", "n_urls", "n_templates", "urls_per_template",
                (F.col("urls_per_template") >= 3.0 * F.col("mean_ratio")).alias("trap"))
    )


_Q_TRAP_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
t AS (SELECT host, url, regexp_replace(url, '[0-9]+', 'N', 'g') AS template FROM frontier),
r AS (
  SELECT host, count(DISTINCT url) AS n_urls, count(DISTINCT template) AS n_templates,
         round(count(DISTINCT url) * 1.0 / count(DISTINCT template), 6) AS urls_per_template
  FROM t GROUP BY host)
SELECT host, n_urls, n_templates, urls_per_template,
       urls_per_template >= 3.0 * (SELECT avg(urls_per_template) FROM r) AS trap
FROM r
"""


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data mix report: per (lang, source) doc and token counts
    plus each cell's share of total tokens — the table every LLM data
    pipeline publishes before sampling weights are chosen. Partial/final
    hash aggregate on (lang, source); the grand total is a one-row
    broadcast join (never a global window)."""
    docs = _t(spark, sf_dir, "documents")
    agg = (
        docs.withColumn("tc", X.token_count("text"))
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("tc").cast("bigint").alias("tokens"))
    )
    total = agg.agg(F.sum("tokens").alias("tot"))
    return (
        agg.crossJoin(F.broadcast(total))
        .select("lang", "source", "n_docs", "tokens",
                F.round(F.col("tokens") / F.col("tot"), 6).alias("token_share"))
    )


_Q_MIX_SQL = """
WITH m AS (
  SELECT lang, source, cast(count(*) as bigint) AS n_docs,
         cast(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) as bigint) AS tokens
  FROM documents GROUP BY lang, source)
SELECT lang, source, n_docs, tokens,
       round(tokens * 1.0 / (SELECT sum(tokens) FROM m), 6) AS token_share
FROM m
"""


def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-structure quality rules (Rae et al. 2021 §A1.1,
    public literature) — the companion gate to quality_repetition: word-count
    band, mean-word-length band, symbol-to-word ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, distinct-stopword minimum. The
    corpus is single-line word soup, so page structure (bullets, ellipsis
    endings, symbol runs, digit runs) is synthesized deterministically IN
    the query — the established c4_line_filter pattern, identical literal
    construction on both engines. Pure in-row Column exprs over one token
    array materialized once: at 100 TB this is embedded in the scan stage,
    zero shuffle, no UDF."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    syn = F.concat(
        F.when(d % 3 == 0, F.lit("- ")).otherwise(F.lit("")),
        F.col("text"), F.lit("."), F.lit("\n"),
        F.substring("text", 1, 40),
        F.when(d % 5 == 0, F.lit("...")).otherwise(F.lit(".")), F.lit("\n"),
        F.when(d % 7 == 0, F.lit("license # ## ### ####"))
         .otherwise(F.lit("read more pages here now.")), F.lit("\n"),
        F.when(d % 11 == 0, F.lit("12 345 6789 01 23 456 78 90"))
         .otherwise(F.lit("crawl data quality gates.")))
    t = (docs.select("doc_id", syn.alias("t"))
             .withColumn("tok", SC.word_tokens("t"))
             .withColumn("lines", SC.line_array("t")))
    n_words = F.size("tok").cast("int")
    mean_len = SC.mean_word_len("tok")
    sym = SC.symbol_ratio("t", n_words)
    bullet = SC.line_frac("lines", prefix="- ")
    ellipsis = SC.line_frac("lines", suffix="...")
    alpha = SC.alpha_word_frac("t")
    stops = SC.stopword_hits("tok")
    return t.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        bullet.alias("bullet_frac"),
        ellipsis.alias("ellipsis_frac"),
        alpha.alias("alpha_word_frac"),
        stops.alias("stop_hits"),
        SC.gopher_keep(n_words, mean_len, sym, bullet, ellipsis, alpha,
                       stops).alias("keep"),
    )


def _gopher_sql() -> str:
    stop_lits = ", ".join(f"'{w}'" for w in SC.GOPHER_STOPWORDS)
    return f"""
WITH syn AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN '- ' ELSE '' END || text || '.' || chr(10) ||
         substr(text, 1, 40) || CASE WHEN doc_id % 5 = 0 THEN '...' ELSE '.' END || chr(10) ||
         CASE WHEN doc_id % 7 = 0 THEN 'license # ## ### ####'
              ELSE 'read more pages here now.' END || chr(10) ||
         CASE WHEN doc_id % 11 = 0 THEN '12 345 6789 01 23 456 78 90'
              ELSE 'crawl data quality gates.' END AS t
  FROM documents),
base AS (
  SELECT doc_id, t,
         regexp_extract_all(lower(t), '[a-z0-9]+') AS tok,
         string_split(t, chr(10)) AS lines,
         list_filter(regexp_split_to_array(t, '[ \n]+'), w -> w != '') AS ws
  FROM syn),
m AS (
  SELECT doc_id,
         cast(len(tok) as int) AS n_words,
         CASE WHEN len(tok) < 1 THEN cast(0.0 as double)
              ELSE cast(round(list_sum(list_transform(tok, w -> length(w))) * 1.0 / len(tok), 6) as double) END AS mean_word_len,
         cast(round((len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\\.\\.\\.'))) * 1.0 / greatest(len(tok), 1), 6) as double) AS symbol_ratio,
         CASE WHEN len(lines) < 1 THEN cast(0.0 as double)
              ELSE cast(round(len(list_filter(lines, l -> starts_with(l, '- '))) * 1.0 / len(lines), 6) as double) END AS bullet_frac,
         CASE WHEN len(lines) < 1 THEN cast(0.0 as double)
              ELSE cast(round(len(list_filter(lines, l -> ends_with(l, '...'))) * 1.0 / len(lines), 6) as double) END AS ellipsis_frac,
         CASE WHEN len(ws) < 1 THEN cast(0.0 as double)
              ELSE cast(round(len(list_filter(ws, w -> regexp_matches(lower(w), '[a-z]'))) * 1.0 / len(ws), 6) as double) END AS alpha_word_frac,
         cast(len(list_intersect(list_distinct(tok), [{stop_lits}])) as int) AS stop_hits
  FROM base)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_word_frac, stop_hits,
       (n_words BETWEEN {SC.GOPHER_MIN_WORDS} AND {SC.GOPHER_MAX_WORDS}
        AND mean_word_len BETWEEN {SC.GOPHER_MIN_MEAN_WORD_LEN} AND {SC.GOPHER_MAX_MEAN_WORD_LEN}
        AND symbol_ratio <= {SC.GOPHER_MAX_SYMBOL_RATIO}
        AND bullet_frac <= {SC.GOPHER_MAX_BULLET_FRAC}
        AND ellipsis_frac <= {SC.GOPHER_MAX_ELLIPSIS_FRAC}
        AND alpha_word_frac >= {SC.GOPHER_MIN_ALPHA_WORD_FRAC}
        AND stop_hits >= {SC.GOPHER_MIN_STOPWORDS}) AS keep
FROM m
"""


def _frozen(build, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a query builder that takes a cache registry (the range-offset
    operators of operators/topk register their range-partitioned cache
    there), freeze its result (lineage truncation) and release the caches
    NOW instead of pinning executor storage for the rest of the session."""
    reg: list = []
    out = build(spark, sf_dir, reg).localCheckpoint(eager=True)
    for c in reg:
        c.unpersist()
    return out


_PACK_BUDGET = 2000  # tokens per training shard (tiny so the fixture cuts many)


def q_token_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: assign every doc to a fixed-token-budget
    training shard in deterministic doc_id order (the sharding step between
    filtering and tokenizer output in an LLM data pipeline). Exact global
    running sum via operators/topk.pack_shards — range-repartition +
    per-partition partial sums + driver cumsum over one number PER
    PARTITION, never the sum()-OVER-(ORDER BY) single-task trap."""
    return _frozen(_token_shard_pack, spark, sf_dir)


def _token_shard_pack(spark: SparkSession, sf_dir: str, reg: list) -> DataFrame:
    from distributed_webcrawler_spark.operators.topk import pack_shards

    docs = _t(spark, sf_dir, "documents")
    sized = docs.select("doc_id", X.token_count("text").cast("bigint").alias("n_tokens"))
    out = pack_shards(sized, [F.col("doc_id")], "n_tokens", _PACK_BUDGET,
                      cache_registry=reg)
    return out.select("doc_id", "n_tokens", "cum_before", "shard_id")


_Q_PACK_SQL = f"""
SELECT doc_id,
       cast(len(regexp_extract_all(lower(text), '[a-z0-9]+')) as bigint) AS n_tokens,
       cast(coalesce(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
              OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) AS cum_before,
       cast(floor(coalesce(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
              OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {_PACK_BUDGET}) as int) AS shard_id
FROM documents
"""


def q_robots_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt `Sitemap:` directives (the
    standard entry point sitemap_extract consumes): robots texts are
    synthesized per host in-query (hid%4==0: two sitemaps, %4==1: one,
    %4==2: directive with trailing spaces, %4==3: none), directives are
    pulled with ONE in-row regexp_extract_all + positional explode —
    map-side string surgery in the scan, one output row per (host,
    sitemap), hosts without directives drop out (inner explode)."""
    fr = _frontier(spark, sf_dir)
    hosts = fr.select("host").distinct()
    hid = F.regexp_extract("host", "([0-9]+)", 1).cast("int")
    txt = (F.when(hid % 4 == 0,
                  F.concat(F.lit("User-agent: *\nSitemap: https://"), F.col("host"),
                           F.lit("/sitemap.xml\nDisallow: /tmp\nSitemap: https://"),
                           F.col("host"), F.lit("/sitemap-imgs.xml")))
           .when(hid % 4 == 1,
                 F.concat(F.lit("User-agent: *\nSitemap: https://"), F.col("host"),
                          F.lit("/sitemap.xml")))
           .when(hid % 4 == 2,
                 F.concat(F.lit("User-agent: *\nsitemap:   https://"), F.col("host"),
                          F.lit("/s/map.xml   \nAllow: /")))
           .otherwise(F.lit("User-agent: *\nDisallow: /private")))
    with_txt = hosts.select("host", txt.alias("robots_txt"))
    return (with_txt.select(
        "host",
        F.posexplode(F.expr(
            r"regexp_extract_all(robots_txt, '(?i)sitemap:\\s*(\\S+)', 1)"))
        .alias("pos", "sitemap_url"))
        .select("host", F.col("pos").cast("int").alias("pos"), "sitemap_url"))


_Q_SMAP_DISC_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
hosts AS (SELECT DISTINCT host FROM frontier),
rb AS (
  SELECT host,
         CASE cast(regexp_extract(host, '([0-9]+)', 1) as int) % 4
           WHEN 0 THEN 'User-agent: *' || chr(10) || 'Sitemap: https://' || host
                       || '/sitemap.xml' || chr(10) || 'Disallow: /tmp' || chr(10)
                       || 'Sitemap: https://' || host || '/sitemap-imgs.xml'
           WHEN 1 THEN 'User-agent: *' || chr(10) || 'Sitemap: https://' || host || '/sitemap.xml'
           WHEN 2 THEN 'User-agent: *' || chr(10) || 'sitemap:   https://' || host || '/s/map.xml   ' || chr(10) || 'Allow: /'
           ELSE 'User-agent: *' || chr(10) || 'Disallow: /private'
         END AS robots_txt
  FROM hosts),
m AS (SELECT host, regexp_extract_all(robots_txt, '(?i)sitemap:\\s*(\\S+)', 1) AS maps FROM rb)
SELECT host, cast(generate_subscripts(maps, 1) - 1 as int) AS pos,
       unnest(maps) AS sitemap_url
FROM m
"""


def q_caption_dup_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-duplicate image sets — LAION-style cross-modal hygiene:
    the same caption attached to MANY distinct images usually means
    boilerplate alt-text ('image', 'photo', product templates), and
    keeping all of them skews an image-caption training set toward that
    caption. Captions/digests are synthesized deterministically from
    documents (40 caption classes over 500 docs -> real collisions);
    report per duplicated caption: attached images, distinct payloads,
    and the first-wins canonical digest. ONE groupBy(caption) —
    mergeable aggs only."""
    docs = _t(spark, sf_dir, "documents")
    caps = docs.select(
        F.concat(F.lit("cap"), (F.col("doc_id") % 40).cast("string")).alias("caption"),
        F.md5("text").alias("digest"))
    return (caps.groupBy("caption")
            .agg(F.count("*").cast("bigint").alias("n_images"),
                 F.countDistinct("digest").cast("bigint").alias("n_payloads"),
                 F.min("digest").alias("canonical_digest"))
            .where(F.col("n_images") > 1))


_Q_CAPDUP_SQL = """
WITH caps AS (
  SELECT 'cap' || cast(doc_id % 40 as varchar) AS caption, md5(text) AS digest
  FROM documents)
SELECT caption, count(*) AS n_images, count(DISTINCT digest) AS n_payloads,
       min(digest) AS canonical_digest
FROM caps GROUP BY caption HAVING count(*) > 1
"""


_ANOM_Z = 2.0


def q_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection — the crawl-ops alarm shape (a host
    or event type whose daily volume jumps |z| >= 2 off its own history):
    daily counts per event type, each day's z-score against that type's
    mean/std, anomalous days flagged. Cross-engine float discipline: the
    sample std is rebuilt FROM EXACT INTEGER SUMS (n, Σc, Σc²) as
    sqrt((Σc² - (Σc)²/n) / (n-1)) instead of calling stddev_samp — both
    engines then do the identical IEEE ops, and z rounds to 6. Two
    narrow aggs + one broadcast join; no window."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("c")))
    stats = (daily.groupBy("event_type")
             .agg(F.count("*").alias("n"), F.sum("c").alias("s"),
                  F.sum(F.col("c") * F.col("c")).alias("ss")))
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    z = F.round((F.col("c") - mean) / F.sqrt(var), 6)
    return (daily.join(F.broadcast(stats), "event_type")
            .where(F.col("n") > 1)
            .select("event_type", "day", F.col("c").cast("bigint").alias("n_events"),
                    z.alias("z"), (F.abs(z) >= _ANOM_Z).alias("anomaly")))


_Q_ANOM_SQL = f"""
WITH daily AS (
  SELECT event_type, cast(ts as date) AS day, count(*) AS c
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS ss
  FROM daily GROUP BY 1)
SELECT d.event_type, d.day, d.c AS n_events,
       round((d.c - s.s * 1.0 / s.n)
             / sqrt((s.ss - s.s * 1.0 * s.s / s.n) / (s.n - 1)), 6) AS z,
       abs(round((d.c - s.s * 1.0 / s.n)
             / sqrt((s.ss - s.s * 1.0 * s.s / s.n) / (s.n - 1)), 6)) >= {_ANOM_Z} AS anomaly
FROM daily d JOIN stats s ON s.event_type = d.event_type
WHERE s.n > 1
"""


_HB_BUCKETS = 64


def q_host_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-bucket balance audit — the evidence behind the engine's
    bucket-everything design (frontier partitioning, sharded bloom, the
    bucketed co-located anti-join): hash hosts into the standard 64
    host_buckets and report per-bucket host and URL counts plus each
    bucket's URL share vs the uniform ideal. A bucket far above 1/64 of
    the URLs would hotspot its bloom shard and its frontier partition —
    this query is how you see it BEFORE it burns a round. Portable h64
    keeps the oracle bit-identical; the engine's hot path uses xxhash64
    (same distribution class, JVM codegen)."""
    fr = _frontier(spark, sf_dir)
    b = F.pmod(h64(F.col("host")), F.lit(_HB_BUCKETS)).cast("int")
    per = (fr.select(b.alias("host_bucket"), "host")
           .groupBy("host_bucket")
           .agg(F.countDistinct("host").cast("bigint").alias("n_hosts"),
                F.count("*").cast("bigint").alias("n_urls")))
    tot = per.agg(F.sum("n_urls").alias("t"))
    return (per.crossJoin(F.broadcast(tot))
            .select("host_bucket", "n_hosts", "n_urls",
                    F.round(F.col("n_urls") / F.col("t"), 6).alias("url_share"),
                    F.round(F.col("n_urls") / F.col("t") * _HB_BUCKETS, 6)
                    .alias("load_factor")))


_Q_HB_BAL_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
per AS (
  SELECT cast({h64_sql("host")} % {_HB_BUCKETS} as int) AS host_bucket,
         count(DISTINCT host) AS n_hosts, count(*) AS n_urls
  FROM frontier GROUP BY 1),
tot AS (SELECT sum(n_urls) AS t FROM per)
SELECT host_bucket, n_hosts, n_urls,
       round(n_urls * 1.0 / (SELECT t FROM tot), 6) AS url_share,
       round(n_urls * 1.0 / (SELECT t FROM tot) * {_HB_BUCKETS}, 6) AS load_factor
FROM per
"""


def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method agreement matrix — the meta-report that tells a
    pipeline owner which near-dup detector finds what before picking one
    at 10^10 docs: pair counts per method (MinHash-LSH, banded SimHash,
    exact n-gram Jaccard — each already oracle-gated on its own) and
    every pairwise/3-way intersection, computed by id-pair equi-joins of
    the three pair sets. All counts are exact integers: hash parity is
    trivial, the information is the matrix itself (e.g. simhash-only
    pairs = near-dups the shingle methods miss)."""
    docs = _t(spark, sf_dir, "documents")
    # seven counts read each pair set up to 4x — materialize the tiny
    # (id_a, id_b) tables once instead of re-running shingle/minhash
    # pipelines per count
    mh = (D.minhash_lsh_pairs(docs, n_hashes=_MH_N, band_size=_MH_BAND,
                              k=_MH_K, max_chars=_MH_CHARS,
                              min_est=_MH_MIN).select("id_a", "id_b")
          .localCheckpoint(eager=True))
    sh = (D.simhash_banded_pairs(docs, max_hamming=_SH64_HAM, n_bits=_SH64_BITS,
                                 n_bands=_SH64_BANDS,
                                 max_chars=_SIM_CHARS).select("id_a", "id_b")
          .localCheckpoint(eager=True))
    jc = (D.ngram_jaccard_pairs(docs, k=_JACCARD_K, max_chars=_JACCARD_CHARS,
                                threshold=_JACCARD_TH,
                                max_df=_JACCARD_MAXDF).select("id_a", "id_b")
          .localCheckpoint(eager=True))
    keys = ["id_a", "id_b"]

    def n(df):  # noqa: ANN001 - tiny local helper
        return df.count()

    rows = [("minhash", n(mh)), ("simhash", n(sh)), ("jaccard", n(jc)),
            ("minhash&simhash", n(mh.join(sh, keys))),
            ("minhash&jaccard", n(mh.join(jc, keys))),
            ("simhash&jaccard", n(sh.join(jc, keys))),
            ("all3", n(mh.join(sh, keys).join(jc, keys)))]
    return spark.createDataFrame(rows, "methods string, n_pairs bigint")


def _dedup_agreement_sql() -> str:
    return f"""
WITH mh AS (SELECT id_a, id_b FROM ({_minhash_sql()})),
sh AS (SELECT id_a, id_b FROM ({_simhash64_sql()})),
jc AS (SELECT id_a, id_b FROM ({_Q_JACCARD_SQL}))
SELECT 'minhash' AS methods, count(*) AS n_pairs FROM mh
UNION ALL SELECT 'simhash', count(*) FROM sh
UNION ALL SELECT 'jaccard', count(*) FROM jc
UNION ALL SELECT 'minhash&simhash', count(*) FROM mh JOIN sh USING (id_a, id_b)
UNION ALL SELECT 'minhash&jaccard', count(*) FROM mh JOIN jc USING (id_a, id_b)
UNION ALL SELECT 'simhash&jaccard', count(*) FROM sh JOIN jc USING (id_a, id_b)
UNION ALL SELECT 'all3', count(*)
  FROM mh JOIN sh USING (id_a, id_b) JOIN jc USING (id_a, id_b)
"""


_BLEND_W_PRIO, _BLEND_W_AUTH, _BLEND_TOPK = 0.7, 0.3, 3


def q_pagerank_priority_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority-aware scheduling — the north-star composition: blend the
    host graph's PageRank into the frontier's priority
    (blended = 0.7*priority + 0.3*authority, authority = rank/max(rank))
    and take each host's top-3 by the BLENDED score, so the scheduler
    fetches important hosts' URLs first without starving per-URL priority.
    Reuses the oracle-gated pagerank operator output joined onto the
    frontier by registrable host label; the max-rank normalizer is a
    scalar broadcast; the final pick is the standard per-host rank window.
    Every arithmetic input is pre-rounded to 6 so the blend is the
    identical IEEE double on both engines."""
    pr = q_pagerank_hosts(spark, sf_dir)
    mx = pr.agg(F.max("rank").alias("m"))
    fr = _frontier(spark, sf_dir)
    j = (fr.select(F.col("host"), "url", "discovered_at",
                   F.round("priority", 6).alias("priority"),
                   F.regexp_extract("host", "([^.]+)", 1).alias("hshort"))
         .join(pr.withColumnRenamed("host", "hshort"), "hshort")
         .crossJoin(F.broadcast(mx))
         .select("host", "url", "discovered_at", "priority",
                 F.round(F.col("rank") / F.col("m"), 6).alias("authority")))
    b = j.select("*", F.round(F.lit(_BLEND_W_PRIO) * F.col("priority")
                              + F.lit(_BLEND_W_AUTH) * F.col("authority"), 6)
                 .alias("blended"))
    w = Window.partitionBy("host").orderBy(
        F.col("blended").desc(), F.col("url").asc(), F.col("discovered_at").asc())
    return (b.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= _BLEND_TOPK)
            .select("host", "url", "priority", "authority", "blended",
                    F.col("rk").cast("int").alias("rk")))


def _blend_sql() -> str:
    return f"""
WITH pr AS ({_pagerank_sql()}),
frontier AS ({_FRONTIER_SQL}),
mx AS (SELECT max(rank) AS m FROM pr),
j AS (
  SELECT f.host, f.url, f.discovered_at, round(f.priority, 6) AS priority,
         round(p.rank / (SELECT m FROM mx), 6) AS authority
  FROM frontier f JOIN pr p ON p.host = regexp_extract(f.host, '([^.]+)', 1)),
b AS (SELECT *, round({_BLEND_W_PRIO} * priority + {_BLEND_W_AUTH} * authority, 6) AS blended FROM j),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY host
                               ORDER BY blended DESC, url ASC, discovered_at ASC) AS rk
  FROM b)
SELECT host, url, priority, authority, blended, cast(rk as int) AS rk
FROM rk WHERE rk <= {_BLEND_TOPK}
"""


def q_crawl_depth_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth profile of the frontier — the exponential-fanout picture
    behind the depth gate (F2): URLs per depth, share, and cumulative
    share in depth order. The cumulative window runs over the DEPTH
    dimension (bounded by max_depth, single-digit rows after the agg), so
    the ordered frame is over a constant-size table — not the global-sort
    trap. One groupBy(depth) + a scalar total broadcast."""
    fr = _frontier(spark, sf_dir)
    per = fr.groupBy("depth").agg(F.count("*").alias("n"))
    tot = per.agg(F.sum("n").alias("t"))
    w = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    return (per.crossJoin(F.broadcast(tot))
            .select(F.col("depth").cast("int").alias("depth"),
                    F.col("n").cast("bigint").alias("n_urls"),
                    F.round(F.col("n") / F.col("t"), 6).alias("share"),
                    F.round(F.sum(F.col("n") / F.col("t")).over(w), 6)
                    .alias("cum_share")))


_Q_DEPTH_PROFILE_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
per AS (SELECT depth, count(*) AS n FROM frontier GROUP BY depth),
tot AS (SELECT sum(n) AS t FROM per)
SELECT cast(depth as int) AS depth, cast(n as bigint) AS n_urls,
       round(n * 1.0 / (SELECT t FROM tot), 6) AS share,
       round(sum(n * 1.0 / (SELECT t FROM tot))
             OVER (ORDER BY depth ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_share
FROM per
"""


def q_shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard balance audit on top of token_shard_pack — the check a
    training job runs before trusting its shards: per-shard doc count and
    token sum, plus each shard's deviation from the budget. Greedy
    running-sum packing guarantees every NON-FINAL shard holds >= budget
    tokens minus its last doc's overshoot; the report makes that visible
    (a shard far under budget that isn't the last one = packing bug).
    Plan: the pack op's output (already computed without a single-task
    window) + ONE groupBy(shard_id)."""
    return _frozen(_shard_balance_report, spark, sf_dir)


def _shard_balance_report(spark: SparkSession, sf_dir: str, reg: list) -> DataFrame:
    from distributed_webcrawler_spark.operators.topk import pack_shards

    docs = _t(spark, sf_dir, "documents")
    sized = docs.select("doc_id", X.token_count("text").cast("bigint").alias("n_tokens"))
    packed = pack_shards(sized, [F.col("doc_id")], "n_tokens", _PACK_BUDGET,
                         cache_registry=reg)
    return (packed.groupBy("shard_id")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").alias("tokens"))
            .select("shard_id", "n_docs", "tokens",
                    (F.col("tokens") - _PACK_BUDGET).alias("over_budget")))


_Q_SHARD_BAL_SQL = f"""
WITH packed AS (
  SELECT doc_id,
         cast(len(regexp_extract_all(lower(text), '[a-z0-9]+')) as bigint) AS n_tokens,
         cast(floor(coalesce(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / {_PACK_BUDGET}) as int) AS shard_id
  FROM documents)
SELECT shard_id, count(*) AS n_docs, cast(sum(n_tokens) as bigint) AS tokens,
       cast(sum(n_tokens) - {_PACK_BUDGET} as bigint) AS over_budget
FROM packed GROUP BY shard_id
"""


# Blocklist: suffix rules (a full host is just a suffix that happens to be
# the whole chain) — UT1/adult-list style crawl hygiene.
_BLOCK_SUFFIXES = ["site3.example.com", "site7.example.com", "tracker.example.com"]
_BLOCK_KEYWORD = "/ads/"


def q_url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist + URL-keyword crawl filter (UT1-style hygiene before
    the frontier): block exact hosts AND whole domain subtrees AND URLs with
    a banned path keyword. Scale shape: suffix rules can't equi-join on raw
    host, so each URL's bounded host-suffix chain (functions/urls.py
    host_suffixes) is exploded and broadcast-hash-joined against the
    blocklist — map-side; the only shuffle is the group-back on doc_id.
    URLs are synthesized deterministically from documents (established
    pattern) with tracker subdomains and /ads/ paths in the mix."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.when(d % 11 == 0,
                  F.concat(F.lit("cdn"), (d % 5).cast("string"),
                           F.lit(".tracker.example.com")))\
           .otherwise(F.concat(F.lit("site"), (d % 20).cast("string"),
                               F.lit(".example.com")))
    path = F.when(d % 7 == 0, F.lit(_BLOCK_KEYWORD)).otherwise(F.lit("/p/"))
    urls = docs.select(
        "doc_id", host.alias("host"),
        F.concat(F.lit("https://"), host, path, d.cast("string")).alias("url"))
    bl = spark.createDataFrame([(s,) for s in _BLOCK_SUFFIXES], "suffix string")
    ex = urls.select("doc_id", "url", "host",
                     F.explode(U.host_suffixes("host")).alias("suffix"))
    marked = (
        ex.join(F.broadcast(bl.withColumn("__hit", F.lit(True))), "suffix", "left")
        .groupBy("doc_id", "url", "host")
        .agg(F.coalesce(F.max("__hit"), F.lit(False)).alias("blocked_host"))
    )
    return marked.select(
        "doc_id", "url", "host", "blocked_host",
        F.col("url").contains(_BLOCK_KEYWORD).alias("blocked_kw"),
        (~F.col("blocked_host") & ~F.col("url").contains(_BLOCK_KEYWORD)).alias("keep"),
    )


def _blocklist_sql() -> str:
    suf_lits = ", ".join(f"'{s}'" for s in _BLOCK_SUFFIXES)
    return f"""
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'cdn' || cast(doc_id % 5 as varchar) || '.tracker.example.com'
              ELSE 'site' || cast(doc_id % 20 as varchar) || '.example.com' END AS host,
         CASE WHEN doc_id % 7 = 0 THEN '{_BLOCK_KEYWORD}' ELSE '/p/' END AS path
  FROM documents),
m AS (
  SELECT doc_id, host,
         'https://' || host || path || cast(doc_id as varchar) AS url,
         list_transform(generate_series(1, len(string_split(host, '.'))),
                        i -> array_to_string(string_split(host, '.')[i:], '.')) AS sufx
  FROM u)
SELECT doc_id, url, host,
       len(list_intersect(sufx, [{suf_lits}])) > 0 AS blocked_host,
       contains(url, '{_BLOCK_KEYWORD}') AS blocked_kw,
       (len(list_intersect(sufx, [{suf_lits}])) = 0
        AND NOT contains(url, '{_BLOCK_KEYWORD}')) AS keep
FROM m
"""


def _img_dup_rows() -> list:
    """The exact-dedup batch: every spec image plus byte-identical copies
    under different image_ids (idx%4 'mirror' re-host, idx%10 'cdn' copy) —
    the re-hosted-image situation exact dedup exists for. Pure Python +
    the deterministic codec, so Spark and the oracle rebuild it identically."""
    from distributed_webcrawler_spark.sources import codec

    rows = []
    for idx, (iid, w, h, fmt) in enumerate(_mm_specs()):
        data = codec.encode_image(codec.synth_pixels(iid, w, h), fmt)
        rows.append((iid, data))
        if idx % 4 == 0:
            rows.append((iid + "~mirror", data))
        if idx % 10 == 0:
            rows.append((iid + "~cdn", data))
    return rows


def q_image_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact image dedup by content hash over the crawl's binary payloads:
    md5(bytes) JVM-side (codegen, bytes never leave the scan's executor),
    one partial/final hash aggregate on the 16-byte digest — first-wins
    canonical id + copy count per distinct content. At 10^10 images the
    shuffle carries (digest, id) pairs, never pixels. The oracle holds
    hashlib-computed digests for the same deterministic batch, so this
    gates that binary payloads survive Arrow/createDataFrame byte-exact
    AND that the dedup agg is right."""
    import pandas as pd

    pdf = pd.DataFrame(_img_dup_rows(), columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (
        payloads.select("image_id", F.md5("bytes").alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("image_id").alias("canonical_id"),
             F.count("*").cast("int").alias("n_copies"))
    )


def _img_dedup_sql() -> str:
    import hashlib

    vals = ",\n".join(f"('{iid}', '{hashlib.md5(data).hexdigest()}')"
                      for iid, data in _img_dup_rows())
    return f"""
SELECT content_md5, min(image_id) AS canonical_id, cast(count(*) as int) AS n_copies
FROM (VALUES
{vals}
) AS t(image_id, content_md5)
GROUP BY content_md5
"""


# CCNet-style perplexity buckets: fixed thresholds sit at the fixture
# corpus's NLL terciles (production re-fits them per corpus snapshot).
_PPL_T_HEAD = 3.3997
_PPL_T_MIDDLE = 3.4040


def q_ccnet_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality bucketing (Wenzek et al. 2020,
    public literature): score each doc by mean unigram negative log
    likelihood under the corpus's own unigram distribution (the stand-in
    for the KenLM perplexity CCNet uses — the Spark-side shape is
    identical), then cut head/middle/tail buckets on fixed thresholds.

    Two-pass scale shape: pass 1 builds the unigram table (one shuffle on
    token, output is vocab-sized — millions of rows at web scale, always
    broadcastable); pass 2 re-scans docs, broadcast-joins token->nll and
    partial-aggregates the per-doc mean. The corpus never self-joins and
    the only full-data shuffle is the per-doc agg. Per-token nll is rounded
    to 9 before averaging (the bm25 ulp rule: JVM and libm ln() may differ
    in the last ulp)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(SC.word_tokens("text")).alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = uni.agg(F.sum("c").alias("n"))
    unib = (uni.crossJoin(F.broadcast(tot))
            .select("w", F.round(-F.log(F.col("c") / F.col("n")), 9).alias("nll")))
    # decimal-exact accumulation (the ann_nprobe_sweep flake class):
    # nll is a 9-dp grid value, so a per-doc mean can sit exactly on a
    # 6-dp round boundary where shuffle-order ulps flip the digit; the
    # decimal sum is exact, its double image engine-identical, and the
    # single division + round is then deterministic on both engines.
    scored = (tok.join(F.broadcast(unib), "w")
              .groupBy("doc_id")
              .agg(F.round(F.sum(F.col("nll").cast("decimal(20,9)"))
                           .cast("double") / F.count("*"), 6)
                   .alias("nll_mean")))
    return scored.select(
        "doc_id", "nll_mean",
        F.when(F.col("nll_mean") <= _PPL_T_HEAD, F.lit("head"))
         .when(F.col("nll_mean") <= _PPL_T_MIDDLE, F.lit("middle"))
         .otherwise(F.lit("tail")).alias("bucket"),
    )


_Q_PPL_SQL = f"""
WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents),
uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
tot AS (SELECT sum(c) AS n FROM uni),
nll AS (SELECT doc_id, round(-ln(c * 1.0 / (SELECT n FROM tot)), 9) AS v
        FROM tok JOIN uni USING (w)),
s AS (SELECT doc_id,
             round(cast(sum(cast(v as decimal(20,9))) as double) / count(*), 6) AS nll_mean
      FROM nll GROUP BY doc_id)
SELECT doc_id, nll_mean,
       CASE WHEN nll_mean <= {_PPL_T_HEAD} THEN 'head'
            WHEN nll_mean <= {_PPL_T_MIDDLE} THEN 'middle'
            ELSE 'tail' END AS bucket
FROM s
"""


# Corpus-mix sampling rates per language (percent of docs kept); the
# knob an LLM data pipeline turns after reading the corpus_mix report.
_STRAT_RATES = {"en": 60, "zh": 30, "es": 30, "de": 20, "fr": 20}
_STRAT_DEFAULT = 10


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language: keep a fixed per-lang
    percentage using a portable 60-bit hash bucket of doc_id (pmod 100) —
    reproducible across runs/engines/cluster sizes, unlike rand()-based
    sample(). Pure Column math, map-side only: the sample decision is
    embedded in the scan, no shuffle at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(h64(F.col("doc_id").cast("string")), F.lit(100)).cast("int")
    rate = F.lit(_STRAT_DEFAULT)
    for lang, pct in _STRAT_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (docs.select("doc_id", "lang", bucket.alias("bucket"),
                        rate.cast("int").alias("rate_pct"))
            .where(F.col("bucket") < F.col("rate_pct")))


def _strat_sql() -> str:
    cases = " ".join(f"WHEN lang = '{lg}' THEN {pct}"
                     for lg, pct in _STRAT_RATES.items())
    bucket = f"{h64_sql('cast(doc_id as varchar)')} % 100"
    return f"""
SELECT doc_id, lang, cast({bucket} as int) AS bucket,
       cast(CASE {cases} ELSE {_STRAT_DEFAULT} END as int) AS rate_pct
FROM documents
WHERE {bucket} < CASE {cases} ELSE {_STRAT_DEFAULT} END
"""


_CD_ROUND_WINDOW_S = 60   # politeness window a round represents
_CD_MAX_BUDGET = 12       # engine-wide per-host cap
_CD_DEFAULT_DELAY = 2.0   # seconds, when robots has no Crawl-delay


def q_crawl_delay_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots Crawl-delay-aware scheduling: per-host fetch budget =
    min(engine cap, floor(round_window / crawl_delay)) with the delay
    parsed from the host's robots.txt (Crawl-delay is a de-facto public
    extension; the reference hard-codes 500 ms politeness instead,
    BasicCrawler.java:31-32,72-74). Robots texts are synthesized per host
    IN the query (established pattern); the delay extraction is one
    regexp on the tiny per-host robots table, the budget cap is the same
    salted-window politeness shape as `politeness_budget` — one shuffle
    on host for the rank, robots side broadcast."""
    fr = _frontier(spark, sf_dir)
    hosts = fr.select("host").distinct()
    hid = F.regexp_extract("host", "([0-9]+)", 1).cast("int")
    txt = (F.when(hid % 3 == 0,
                  F.lit("User-agent: *\nCrawl-delay: 10\nDisallow: /tmp"))
           .when(hid % 3 == 1,
                 F.lit("User-agent: *\nDisallow: /private"))
           .otherwise(F.lit("User-agent: *\ncrawl-delay: 0.5")))
    delay_s = F.regexp_extract(F.lower(txt), r"crawl-delay: *([0-9.]+)", 1)
    delay = F.when(delay_s == "", F.lit(_CD_DEFAULT_DELAY)) \
             .otherwise(delay_s.cast("double"))
    budgets = hosts.select(
        "host",
        F.least(F.lit(_CD_MAX_BUDGET),
                F.floor(F.lit(_CD_ROUND_WINDOW_S) / delay)).cast("int").alias("budget"))
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("url"))
    ranked = fr.withColumn("rk", F.row_number().over(w))
    return (ranked.join(F.broadcast(budgets), "host")
            .where(F.col("rk") <= F.col("budget"))
            .select("host", "url", "priority", "rk", "budget"))


def _crawl_delay_sql() -> str:
    return f"""
WITH frontier AS ({_FRONTIER_SQL}),
hosts AS (SELECT DISTINCT host FROM frontier),
rb AS (
  SELECT host,
         CASE WHEN cast(regexp_extract(host, '([0-9]+)', 1) as int) % 3 = 0
              THEN 'User-agent: *' || chr(10) || 'Crawl-delay: 10' || chr(10) || 'Disallow: /tmp'
              WHEN cast(regexp_extract(host, '([0-9]+)', 1) as int) % 3 = 1
              THEN 'User-agent: *' || chr(10) || 'Disallow: /private'
              ELSE 'User-agent: *' || chr(10) || 'crawl-delay: 0.5' END AS txt
  FROM hosts),
b AS (
  SELECT host,
         cast(least({_CD_MAX_BUDGET}, floor({_CD_ROUND_WINDOW_S} /
           CASE WHEN regexp_extract(lower(txt), 'crawl-delay: *([0-9.]+)', 1) = ''
                THEN {_CD_DEFAULT_DELAY}
                ELSE cast(regexp_extract(lower(txt), 'crawl-delay: *([0-9.]+)', 1) as double) END)) as int) AS budget
  FROM rb),
r AS (
  SELECT host, url, priority,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rk
  FROM frontier)
SELECT r.host, r.url, r.priority, cast(r.rk as int) AS rk, b.budget
FROM r JOIN b USING (host)
WHERE r.rk <= b.budget
"""


def q_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap.xml URL extraction (sitemaps.org protocol, the frontier's
    second seed source next to link discovery): per-host sitemap documents
    are assembled from the corpus (deterministic order), then parsed back
    to (host, url, lastmod, pos) with regexp extraction + positional
    explode. Scale shape: sitemaps are per-host documents fetched like any
    page — the parse is in-row regexp_extract_all (no UDF); the only
    shuffle is the per-host assembly groupBy, which production skips
    because sitemaps arrive already one-per-host from the fetcher."""
    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("host"), (F.col("doc_id") % 40).cast("string"),
                    F.lit(".example.com"))
    entry = F.concat(
        F.lit("<url><loc>https://"), host, F.lit("/d/"),
        F.col("doc_id").cast("string"), F.lit("</loc><lastmod>2024-01-"),
        F.lpad((1 + F.col("doc_id") % 28).cast("string"), 2, "0"),
        F.lit("</lastmod></url>"))
    sm = (docs.select(host.alias("host"), F.struct(F.col("doc_id"), entry.alias("e")).alias("s"))
          .groupBy("host")
          .agg(F.concat(F.lit("<urlset>"),
                        F.array_join(F.transform(F.array_sort(F.collect_list("s")),
                                                 lambda s: s["e"]), ""),
                        F.lit("</urlset>")).alias("xml")))
    locs = F.expr("regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1)")
    mods = F.expr("regexp_extract_all(xml, '<lastmod>([^<]+)</lastmod>', 1)")
    z = sm.select("host", F.posexplode(F.arrays_zip(locs.alias("u"), mods.alias("m"))))
    return z.select("host", F.col("pos").cast("int").alias("pos"),
                    F.col("col.u").alias("url"), F.col("col.m").alias("lastmod"))


_Q_SITEMAP_SQL = """
WITH e AS (
  SELECT 'host' || cast(doc_id % 40 as varchar) || '.example.com' AS host,
         doc_id,
         '<url><loc>https://host' || cast(doc_id % 40 as varchar) ||
         '.example.com/d/' || cast(doc_id as varchar) ||
         '</loc><lastmod>2024-01-' || lpad(cast(1 + doc_id % 28 as varchar), 2, '0') ||
         '</lastmod></url>' AS entry
  FROM documents),
sm AS (
  SELECT host, '<urlset>' || string_agg(entry, '' ORDER BY doc_id) || '</urlset>' AS xml
  FROM e GROUP BY host),
p AS (
  SELECT host,
         regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1) AS us,
         regexp_extract_all(xml, '<lastmod>([^<]+)</lastmod>', 1) AS ms
  FROM sm)
SELECT host, cast(generate_subscripts(us, 1) - 1 as int) AS pos,
       unnest(us) AS url, ms[generate_subscripts(us, 1)] AS lastmod
FROM p
"""


# fastText-style linear quality classifier: hashed bag-of-words features,
# md5-derived fixed weights (a real pipeline loads trained weights; the
# inference math — the Spark-side shape — is identical).
_QLS_DIMS = 8
_QLS_BIAS = -0.25


def _qls_weights() -> list:
    import hashlib

    ws = []
    for j in range(_QLS_DIMS):
        h = int(hashlib.md5(f"qlsw:{j}".encode()).hexdigest()[:8], 16)
        ws.append(round(h / 0xFFFFFFFF * 2.0 - 1.0, 6))  # [-1, 1]
    return ws


def q_quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, fastText-classifier-shaped (Joulin et
    al. 2017 / CCNet's quality head, public literature): L1-normalized
    hashed bag-of-words (portable 60-bit token hash mod K dims) through a
    fixed linear head + sigmoid. Pure in-row Column math — model inference
    as columnar expressions, no UDF, embedded in the scan at 100 TB. The
    per-dim dot-product terms are rounded before summation (bm25 ulp
    rule); swap the md5-derived weights for trained ones in production."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select("doc_id", SC.word_tokens("text").alias("tok"))
    n = F.greatest(F.size("tok"), F.lit(1)).cast("bigint")
    ws = _qls_weights()
    h = "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
    # exact-integer dot product (weights scaled by 1e6), ONE float division:
    # every intermediate is an int64 on both engines, the division is IEEE
    # correctly-rounded, so the logit is bit-identical cross-engine (the
    # rounded-term sum still flipped a 6th decimal on boundary docs).
    s = sum(
        (F.lit(int(round(ws[j] * 1_000_000)))
         * F.expr(f"size(filter(tok, t -> pmod({h}, {_QLS_DIMS}) = {j}))").cast("bigint")
         for j in range(_QLS_DIMS)),
        F.lit(0).cast("bigint"))
    z = F.round(F.lit(_QLS_BIAS) + s / (n * F.lit(1_000_000.0)), 6)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return t.select(
        "doc_id", z.alias("logit"), score.alias("score"),
        (score >= 0.5).alias("keep"))


def _qls_sql() -> str:
    ws = _qls_weights()
    h = "cast(concat('0x', substr(md5(t), 1, 15)) as bigint)"
    terms = " + ".join(
        f"{int(round(ws[j] * 1_000_000))} * len(list_filter(tok, t -> {h} % {_QLS_DIMS} = {j}))"
        for j in range(_QLS_DIMS))
    return f"""
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok FROM documents),
s AS (SELECT doc_id, round({_QLS_BIAS} + ({terms}) * 1.0 / (greatest(len(tok), 1) * 1000000.0), 6) AS logit FROM t)
SELECT doc_id, logit,
       cast(round(1.0 / (1.0 + exp(-logit)), 6) as double) AS score,
       round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS keep
FROM s
"""


def q_meta_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level <meta name="robots"> gate (public robots-meta protocol):
    noindex drops the page from the index/corpus, nofollow stops link
    expansion from it — the page-granular complement to the host-level
    robots.txt gate (F4). Pure regexp Column ops over markup synthesized
    deterministically in-query (html_text_extract pattern); in the live
    engine the same extraction runs on fetched bytes before expand."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    meta = (F.when(d % 5 == 0, F.lit('<meta name="robots" content="noindex">'))
            .when(d % 5 == 1, F.lit('<meta name="robots" content="nofollow">'))
            .when(d % 5 == 2, F.lit('<meta name="robots" content="noindex,nofollow">'))
            .otherwise(F.lit("")))
    html = F.concat(F.lit("<html><head>"), meta,
                    F.lit("<title>t</title></head><body>"),
                    F.substring("text", 1, 40), F.lit("</body></html>"))
    h = docs.select("doc_id", html.alias("html"))
    content = F.regexp_extract(
        "html", '<meta name="robots" content="([^"]*)"', 1)
    return h.select(
        "doc_id", content.alias("robots_meta"),
        content.contains("noindex").alias("noindex"),
        content.contains("nofollow").alias("nofollow"),
        (~content.contains("noindex")).alias("index_ok"),
        (~content.contains("nofollow")).alias("follow_ok"),
    )


_Q_METAROBOTS_SQL = """
WITH h AS (
  SELECT doc_id,
         '<html><head>' ||
         CASE WHEN doc_id % 5 = 0 THEN '<meta name="robots" content="noindex">'
              WHEN doc_id % 5 = 1 THEN '<meta name="robots" content="nofollow">'
              WHEN doc_id % 5 = 2 THEN '<meta name="robots" content="noindex,nofollow">'
              ELSE '' END ||
         '<title>t</title></head><body>' || substr(text, 1, 40) || '</body></html>' AS html
  FROM documents),
m AS (SELECT doc_id,
             regexp_extract(html, '<meta name="robots" content="([^"]*)"', 1) AS robots_meta
      FROM h)
SELECT doc_id, robots_meta,
       contains(robots_meta, 'noindex') AS noindex,
       contains(robots_meta, 'nofollow') AS nofollow,
       NOT contains(robots_meta, 'noindex') AS index_ok,
       NOT contains(robots_meta, 'nofollow') AS follow_ok
FROM m
"""


_CB_MIN_ATTEMPTS = 10
_CB_MAX_FAIL_RATE = 0.4


def q_host_circuit_breaker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host error-rate circuit breaker: hosts whose recent fetch
    failure rate exceeds a threshold (with a minimum-attempts floor so one
    unlucky fetch can't trip it) get backed off for the next rounds —
    standard crawler ops hygiene the reference lacks (it retries nothing,
    BasicCrawler has no host health state). One groupBy(host) over the
    attempts log; thresholds are engine constants. Attempt outcomes are
    synthesized deterministically (hosts h%5==0 are 'flaky', failing every
    2nd fetch; others fail 1-in-7)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 25).cast("string"), F.lit(".example.com"))
    flaky = (d % 25) % 5 == 0
    ok = F.when(flaky, d % 2 == 0).otherwise(d % 7 != 0)
    att = docs.select(host.alias("host"), ok.alias("ok"))
    g = att.groupBy("host").agg(
        F.count("*").cast("int").alias("attempts"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).cast("int").alias("failures"))
    rate = F.round(F.col("failures") / F.col("attempts"), 6)
    return g.select(
        "host", "attempts", "failures", rate.alias("fail_rate"),
        ((F.col("attempts") >= _CB_MIN_ATTEMPTS)
         & (rate > _CB_MAX_FAIL_RATE)).alias("tripped"),
    )


_Q_CIRCUIT_SQL = f"""
WITH att AS (
  SELECT 'h' || cast(doc_id % 25 as varchar) || '.example.com' AS host,
         CASE WHEN (doc_id % 25) % 5 = 0 THEN doc_id % 2 = 0
              ELSE doc_id % 7 <> 0 END AS ok
  FROM documents),
g AS (
  SELECT host, cast(count(*) as int) AS attempts,
         cast(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) as int) AS failures
  FROM att GROUP BY host)
SELECT host, attempts, failures,
       round(failures * 1.0 / attempts, 6) AS fail_rate,
       (attempts >= {_CB_MIN_ATTEMPTS}
        AND round(failures * 1.0 / attempts, 6) > {_CB_MAX_FAIL_RATE}) AS tripped
FROM g
"""


def q_warc_record_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-style record parsing (ISO 28500 / Common Crawl layout, public):
    each synthesized 'file' concatenates many records; split on the
    'WARC/1.0' magic, positional-explode, extract WARC-Type /
    WARC-Target-URI / Content-Length per record with in-row regexps — the
    ingest shape for reading crawl archives into the engine (one file per
    task, record parse embedded in the scan, no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    body = F.substring("text", 1, 40)
    rec = F.concat(
        F.lit("WARC/1.0\nWARC-Type: response\nWARC-Target-URI: https://site"),
        (d % 20).cast("string"), F.lit(".example.com/d/"), d.cast("string"),
        F.lit("\nContent-Length: "), F.length(body).cast("string"),
        F.lit("\n\n"), body, F.lit("\n"))
    files = (docs.select((d % 10).cast("int").alias("file_id"),
                         F.struct(d.alias("doc_id"), rec.alias("r")).alias("s"))
             .groupBy("file_id")
             .agg(F.array_join(F.transform(F.array_sort(F.collect_list("s")),
                                           lambda s: s["r"]), "").alias("warc")))
    recs = files.select(
        "file_id",
        F.posexplode(F.expr("filter(split(warc, 'WARC/1[.]0\\n'), x -> x != '')")))
    return recs.select(
        "file_id", F.col("pos").cast("int").alias("rec_pos"),
        F.regexp_extract("col", "WARC-Type: ([^\n]+)", 1).alias("warc_type"),
        F.regexp_extract("col", "WARC-Target-URI: ([^\n]+)", 1).alias("target_uri"),
        F.regexp_extract("col", "Content-Length: ([0-9]+)", 1).cast("int").alias("content_length"),
    )


_Q_WARC_SQL = """
WITH e AS (
  SELECT cast(doc_id % 10 as int) AS file_id, doc_id,
         'WARC/1.0' || chr(10) || 'WARC-Type: response' || chr(10) ||
         'WARC-Target-URI: https://site' || cast(doc_id % 20 as varchar) ||
         '.example.com/d/' || cast(doc_id as varchar) || chr(10) ||
         'Content-Length: ' || cast(length(substr(text, 1, 40)) as varchar) ||
         chr(10) || chr(10) || substr(text, 1, 40) || chr(10) AS rec
  FROM documents),
f AS (SELECT file_id, string_agg(rec, '' ORDER BY doc_id) AS warc FROM e GROUP BY file_id),
sp AS (SELECT file_id,
              list_filter(string_split_regex(warc, 'WARC/1\\.0\\n'), x -> x != '') AS recs
       FROM f)
SELECT file_id,
       cast(generate_subscripts(recs, 1) - 1 as int) AS rec_pos,
       regexp_extract(unnest(recs), 'WARC-Type: ([^\\n]+)', 1) AS warc_type,
       regexp_extract(unnest(recs), 'WARC-Target-URI: ([^\\n]+)', 1) AS target_uri,
       cast(regexp_extract(unnest(recs), 'Content-Length: ([0-9]+)', 1) as int) AS content_length
FROM sp
"""


def q_image_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-format image dimension rollup over the crawl's decoded payloads
    (the corpus-report twin of corpus_mix for the image side): count,
    dimension extrema, mean megapixels, and how many fall under the
    training-pair minimum edge. Spark runs the REAL Arrow-batched decode
    then a stats-width aggregate; the oracle aggregates the precomputed
    expected-decode table — so both the decode and the rollup are gated."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(codec.synth_pixels(iid, w, h), fmt))
         for iid, w, h, fmt in _mm_specs()],
        columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    st = decode_stats(payloads).where(F.col("ok"))
    return (st.groupBy("fmt").agg(
        F.count("*").cast("int").alias("n"),
        F.min("w").cast("int").alias("min_w"),
        F.max("w").cast("int").alias("max_w"),
        F.min("h").cast("int").alias("min_h"),
        F.max("h").cast("int").alias("max_h"),
        # exact integer pixel sum, ONE double division (same flake class
        # as ann_nprobe_sweep's avg_recall: summing per-row w*h/1e6
        # doubles in shuffle order can land on a round-9 boundary ulp)
        F.round(F.sum(F.col("w").cast("bigint") * F.col("h"))
                / (F.lit(1_000_000.0) * F.count("*")), 9).alias("avg_mpix"),
        F.sum(F.when(F.least("w", "h") < 24, 1).otherwise(0)).cast("int").alias("n_small"),
    ))


def _img_stats_sql() -> str:
    vals = ",\n".join(f"('{iid}', '{fmt}', {w}, {h})"
                      for iid, fmt, w, h, *_ in _mm_expected_rows())
    return f"""
SELECT fmt, cast(count(*) as int) AS n,
       cast(min(w) as int) AS min_w, cast(max(w) as int) AS max_w,
       cast(min(h) as int) AS min_h, cast(max(h) as int) AS max_h,
       round(sum(cast(w as bigint) * h) / (1000000.0 * count(*)), 9) AS avg_mpix,
       cast(sum(CASE WHEN least(w, h) < 24 THEN 1 ELSE 0 END) as int) AS n_small
FROM (VALUES
{vals}
) AS t(image_id, fmt, w, h)
GROUP BY fmt
"""


def q_pair_dedup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pair dedup by UNION OF EVIDENCE — the LAION-style rule
    that a (caption, image) training pair is a duplicate if EITHER side
    matches: near-dup images (decode -> 64-bit phash -> banded Hamming
    pairs) OR exact-duplicate captions (64-bit text hash equality), with
    the two edge sets unioned into one connected-components pass so
    clusters MERGE ACROSS MODALITIES (pair A ~ B by image, B ~ C by
    caption => one cluster {A,B,C} — the transitive case per-modality
    dedup misses). Keep-best by image pixel count, ties to min pair id.

    Fixture: pair i carries planted-dup image pn-i (every 3rd a perturbed
    copy, phash a few bits off) and a caption shared within every
    4k/4k+1 pair (exact dup) — so image-only, caption-only, and merged
    clusters all occur. Scale shape: phash pairs are a banded equi-join
    (never all-pairs), caption edges one groupBy(h64), components
    pointer-doubling O(log d); shuffles carry (id, 8-byte sig) rows only,
    pixels never leave the decode stage."""
    import pandas as pd

    from distributed_webcrawler_spark.functions.hashes import h64
    from distributed_webcrawler_spark.operators.components import (
        component_representatives, connected_components)
    from distributed_webcrawler_spark.operators.dedup import hamming_banded_pairs
    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec

    docs = _t(spark, sf_dir, "documents")
    payload_list = _pn_payloads()  # bases + planted perturbed copies
    pdf = pd.DataFrame(
        [(f"pair-{j:05d}", codec.encode_image(px, "png"))
         for j, (_iid, px) in enumerate(payload_list)],
        columns=["pair_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    # decode_stats emits its fixed schema (image_id, ...) whatever the
    # input id column is named
    st = decode_stats(payloads, id_col="pair_id").where("ok").select(
        F.col("image_id").alias("id"), F.col("phash").alias("sig"),
        (F.col("w").cast("bigint") * F.col("h")).alias("score")).cache()
    img_edges = hamming_banded_pairs(st.select("id", "sig"), max_hamming=3,
                                     n_bits=64, n_bands=4).select("id_a", "id_b")
    # captions: pair j reuses doc (j - j%4) for j%4 in (0,1), else doc j
    n_pairs = len(payload_list)
    cap_src = (F.when(F.col("doc_id") % 4 < 2,
                      F.col("doc_id") - F.col("doc_id") % 4)
               .otherwise(F.col("doc_id")))
    caps = (docs.where(F.col("doc_id") < n_pairs)
            .select(F.format_string("pair-%05d", F.col("doc_id").cast("int"))
                    .alias("id"), cap_src.alias("src_doc")))
    cap_text = docs.select(F.col("doc_id").alias("src_doc"),
                           F.col("text").alias("caption"))
    ch = (caps.join(cap_text, "src_doc")
          .select("id", h64("caption").alias("caph")))
    grp = ch.groupBy("caph").agg(F.min("id").alias("id_a"),
                                 F.collect_set("id").alias("members"))
    cap_edges = (grp.select("id_a", F.explode("members").alias("id_b"))
                 .where(F.col("id_a") != F.col("id_b")))
    edges = img_edges.unionByName(cap_edges)
    cc = connected_components(edges, "id_a", "id_b")
    return component_representatives(cc, st.select("id", "score"))


def _pair_union_sql() -> str:
    from distributed_webcrawler_spark.functions.hashes import h64_sql
    from distributed_webcrawler_spark.sources import codec

    rows = []
    for j, (_iid, px) in enumerate(_pn_payloads()):
        src = j - j % 4 if j % 4 < 2 else j
        rows.append(f"('pair-{j:05d}', {codec.phash64(px)}, "
                    f"{px.shape[0] * px.shape[1]}, {src})")
    vals = ",\n".join(rows)
    return f"""
WITH RECURSIVE sig AS (
  SELECT pair_id, cast(phash as bigint) AS phash, cast(npx as bigint) AS npx,
         src_doc
  FROM (VALUES
{vals}
  ) AS t(pair_id, phash, npx, src_doc)
),
bands AS (
  SELECT pair_id, phash, b.band, ((phash >> (b.band * 16)) & 65535) AS slice
  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
),
img_pairs AS (
  SELECT DISTINCT a.pair_id AS id_a, b.pair_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.slice = b.slice
  WHERE a.pair_id < b.pair_id
    AND bit_count(xor(a.phash, b.phash)) <= 3
),
caph AS (
  SELECT s.pair_id, {h64_sql('d.text')} AS h
  FROM sig s JOIN documents d ON d.doc_id = s.src_doc
),
cap_groups AS (SELECT h, min(pair_id) AS id_a FROM caph GROUP BY h),
cap_pairs AS (
  SELECT g.id_a, c.pair_id AS id_b
  FROM cap_groups g JOIN caph c ON c.h = g.h
  WHERE g.id_a <> c.pair_id
),
all_pairs AS (
  SELECT id_a, id_b FROM img_pairs UNION SELECT id_a, id_b FROM cap_pairs),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM all_pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM all_pairs
),
reach(id, r) AS (
  SELECT DISTINCT src AS id, src AS r FROM edges
  UNION
  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
),
cc AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
scored AS (
  SELECT cc.component, cc.id, sig.npx AS score,
         row_number() OVER (PARTITION BY cc.component
                            ORDER BY sig.npx DESC, cc.id ASC) AS rn,
         count(*) OVER (PARTITION BY cc.component) AS n_members
  FROM cc JOIN sig ON sig.pair_id = cc.id
)
SELECT component, id AS keep_id, score AS best_score,
       cast(n_members as bigint) AS n_members
FROM scored WHERE rn = 1
"""


_CLIP_TH = 0.28  # LAION's published CLIP-similarity keep threshold


def q_clip_pair_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style image-caption alignment filter (Schuhmann et al. '21):
    score each (caption, image) pair by embedding cosine and keep pairs
    >= 0.28 — the step that turned Common Crawl into LAION-400M, and the
    core quality gate of any image+caption crawl (this graft's payload).

    Pair synthesis (fixture-side, SQL-expressible so both engines build
    the identical pair table): each vector is a caption; a partner vector
    is the next one in its k-means label group (every 7th caption gets a
    pseudo-random global partner instead — (id*37+11) mod N, the planted
    MISALIGNED pair). The aligned image embedding is modeled as
    0.75*caption + 0.25*partner (a noisy encoding of the same content);
    its cosine vs the caption is computed ALGEBRAICALLY from three dot
    products (|c|^2, |p|^2, c.p) so neither engine materializes the mixed
    array — identical float ops, one terminal 6dp rounding. Misaligned
    pairs score the plain cosine vs the unrelated partner (~0). Output:
    one row per pair with the similarity and keep verdict, so the gate
    checks scoring AND thresholding.

    Scale shape: the OPERATOR is per-pair aggregate/zip_with math — zero
    shuffle at any corpus size once pairs are materialized; the pairing
    window here is fixture synthesis over the bounded label dimension,
    not part of the production plan (a real corpus arrives as pairs)."""
    from distributed_webcrawler_spark.functions.vectors import dot

    al, be = 0.75, 0.25
    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    w = Window.partitionBy("label").orderBy("vec_id")
    cap = emb.select(
        "vec_id", "label", "embedding",
        F.coalesce(F.lead("vec_id").over(w),
                   F.first("vec_id").over(w)).alias("img_match"))
    cap = cap.withColumn(
        "img_id",
        F.when(F.col("vec_id") % 7 == 0,
               (F.col("vec_id") * 37 + 11) % F.lit(n))
        .otherwise(F.col("img_match")))
    img = emb.select(F.col("vec_id").alias("img_id"),
                     F.col("embedding").alias("img_emb"))
    j = cap.join(img, "img_id")
    nc2 = dot(F.col("embedding"), F.col("embedding"))
    no2 = dot(F.col("img_emb"), F.col("img_emb"))
    d = dot(F.col("embedding"), F.col("img_emb"))
    mixed = ((F.lit(al) * nc2 + F.lit(be) * d)
             / (F.sqrt(nc2) * F.sqrt(F.lit(al * al) * nc2
                                     + F.lit(2 * al * be) * d
                                     + F.lit(be * be) * no2)))
    plain = d / (F.sqrt(nc2) * F.sqrt(no2))
    matched = F.col("vec_id") % 7 != 0
    return (j.select(F.col("vec_id").alias("pair_id"),
                     F.col("img_id").cast("long").alias("img_id"),
                     matched.alias("matched"),
                     F.round(F.when(matched, mixed).otherwise(plain), 6).alias("sim"))
            .withColumn("kept", F.col("sim") >= _CLIP_TH)
            .orderBy("pair_id"))


_Q_CLIP_PAIR_SQL = f"""
WITH cap AS (
  SELECT vec_id, label, embedding,
         coalesce(lead(vec_id) OVER w, first_value(vec_id) OVER w) AS img_match
  FROM embeddings
  WINDOW w AS (PARTITION BY label ORDER BY vec_id)
), p AS (
  SELECT vec_id, embedding,
         CASE WHEN vec_id % 7 = 0
              THEN (vec_id * 37 + 11) % (SELECT count(*) FROM embeddings)
              ELSE img_match END AS img_id
  FROM cap),
s AS (
  SELECT p.vec_id AS pair_id, cast(p.img_id as bigint) AS img_id,
         p.vec_id % 7 <> 0 AS matched,
         list_dot_product(cast(p.embedding as double[]),
                          cast(p.embedding as double[])) AS nc2,
         list_dot_product(cast(i.embedding as double[]),
                          cast(i.embedding as double[])) AS no2,
         list_dot_product(cast(p.embedding as double[]),
                          cast(i.embedding as double[])) AS d
  FROM p JOIN embeddings i ON i.vec_id = p.img_id)
SELECT pair_id, img_id, matched,
       round(CASE WHEN matched
             THEN (0.75::DOUBLE * nc2 + 0.25::DOUBLE * d)
                  / (sqrt(nc2) * sqrt(0.5625::DOUBLE * nc2
                                      + 0.375::DOUBLE * d
                                      + 0.0625::DOUBLE * no2))
             ELSE d / (sqrt(nc2) * sqrt(no2)) END, 6) AS sim,
       round(CASE WHEN matched
             THEN (0.75::DOUBLE * nc2 + 0.25::DOUBLE * d)
                  / (sqrt(nc2) * sqrt(0.5625::DOUBLE * nc2
                                      + 0.375::DOUBLE * d
                                      + 0.0625::DOUBLE * no2))
             ELSE d / (sqrt(nc2) * sqrt(no2)) END, 6) >= {_CLIP_TH} AS kept
FROM s
ORDER BY pair_id
"""


def q_phash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tuning evidence for the image near-dup threshold: the Hamming-
    distance spectrum over BANDED candidate pairs (4x16-bit slices, the
    pigeonhole prefilter) of the planted-dup image batch. Planted
    perturbed copies land at 0-3 bits; the prefilter ALSO surfaces a
    correlated-background tail (the synth images share gradient
    structure, so their phashes sit closer than random 64-bit values —
    the same base rate template-heavy real corpora show), which is
    exactly why banding must feed the exact bit_count verify instead of
    being trusted alone. Measured numbers, not a magic max_hamming
    (the dedup_recall_planted / image_phash_recall pattern). Bounded
    output: one row per observed distance."""
    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec
    import pandas as pd

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(px, "png")) for iid, px in _pn_payloads()],
        columns=["image_id", "bytes"])
    st = (decode_stats(spark.createDataFrame(pdf).repartition(8))
          .where("ok").select(F.col("image_id").alias("id"),
                              F.col("phash").alias("sig")))
    bands = None
    for b in range(4):
        part = st.select("id", "sig", F.lit(b).alias("band"),
                         F.shiftright("sig", b * 16).bitwiseAND(F.lit(65535))
                         .alias("slice"))
        bands = part if bands is None else bands.unionByName(part)
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (a.join(bb, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.slice") == F.col("b.slice"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
                    .alias("hamming"))
            .distinct())
    return (cand.groupBy("hamming")
            .agg(F.count("*").cast("bigint").alias("n_pairs"))
            .orderBy("hamming"))


def _phash_hist_sql() -> str:
    from distributed_webcrawler_spark.sources import codec

    vals = ",\n".join(f"('{iid}', {codec.phash64(px)})"
                      for iid, px in _pn_payloads())
    return f"""
WITH sig AS (
  SELECT image_id, cast(phash as bigint) AS phash
  FROM (VALUES
{vals}
  ) AS t(image_id, phash)
),
bands AS (
  SELECT image_id, phash, b.band, ((phash >> (b.band * 16)) & 65535) AS slice
  FROM sig, (VALUES (0), (1), (2), (3)) AS b(band)
),
cand AS (
  SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
         bit_count(xor(a.phash, b.phash)) AS hamming
  FROM bands a JOIN bands b ON a.band = b.band AND a.slice = b.slice
  WHERE a.image_id < b.image_id)
SELECT cast(hamming as int) AS hamming, cast(count(*) as bigint) AS n_pairs
FROM cand GROUP BY hamming ORDER BY hamming
"""


def q_recrawl_policy_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cho & Garcia-Molina's central (and counter-intuitive) freshness
    result, reproduced on the corpus's own estimated change rates: given
    a fixed total revisit budget, UNIFORM allocation beats
    λ-PROPORTIONAL (chasing hot pages wastes visits that can never keep
    them fresh). Steady-state expected freshness of a Poisson-λ page
    revisited at rate f is f/(λ+f); per source we compare f_uni = R/n
    against f_prop = R·λ/Σλ and report page-weighted corpus freshness
    under both. Everything derives from the SAME integer counts both
    engines share; one division chain per source, 6dp rounding at the
    edge."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    both = (docs.where((d % 10 != 0) & (d % 7 != 0))
            .select("doc_id", "source", (d % 3 == 0).alias("changed")))
    per = (both.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("changed").cast("int")).alias("x")))
    lam = -F.log(F.lit(1.0) - F.col("x") / F.col("n"))
    rates = per.select("source", F.col("n").cast("double").alias("n"), lam.alias("lam"))
    tot = rates.agg(F.sum("n").alias("n_tot"),
                    F.sum(F.col("lam") * F.col("n")).alias("lam_tot"))
    j = rates.crossJoin(F.broadcast(tot))
    # budget R = one revisit per page per unit interval (R = n_tot)
    f_uni = F.lit(1.0)                                  # R/n_tot per page
    f_prop = F.col("lam") * F.col("n_tot") / F.col("lam_tot")
    fresh_uni = f_uni / (F.col("lam") + f_uni)
    fresh_prop = f_prop / (F.col("lam") + f_prop)
    per_src = j.select(
        "source",
        F.round(F.col("lam"), 6).alias("lambda_hat"),
        F.round(fresh_uni, 6).alias("freshness_uniform"),
        F.round(fresh_prop, 6).alias("freshness_proportional"),
        (F.col("n") * fresh_uni).alias("_wu"),
        (F.col("n") * fresh_prop).alias("_wp"),
        F.col("n").alias("_n"))
    corpus = per_src.agg(
        F.round(F.sum("_wu") / F.sum("_n"), 6).alias("corpus_uniform"),
        F.round(F.sum("_wp") / F.sum("_n"), 6).alias("corpus_proportional"))
    return (per_src.drop("_wu", "_wp", "_n")
            .crossJoin(F.broadcast(corpus))
            .withColumn("uniform_wins",
                        F.col("corpus_uniform") > F.col("corpus_proportional"))
            .orderBy("source"))


_Q_RECRAWL_POLICY_SQL = """
WITH both_ AS (
  SELECT doc_id, source, (doc_id % 3 = 0) AS changed
  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 7 <> 0),
per AS (
  SELECT source, count(*) AS n, sum(CASE WHEN changed THEN 1 ELSE 0 END) AS x
  FROM both_ GROUP BY source),
rates AS (
  SELECT source, cast(n as double) AS n, -ln(1.0 - x * 1.0 / n) AS lam
  FROM per),
tot AS (SELECT sum(n) AS n_tot, sum(lam * n) AS lam_tot FROM rates),
j AS (SELECT r.*, t.n_tot, t.lam_tot FROM rates r CROSS JOIN tot t),
per_src AS (
  SELECT source, lam, n,
         1.0 / (lam + 1.0) AS fu,
         (lam * n_tot / lam_tot) / (lam + lam * n_tot / lam_tot) AS fp
  FROM j),
corpus AS (
  SELECT round(sum(n * fu) / sum(n), 6) AS corpus_uniform,
         round(sum(n * fp) / sum(n), 6) AS corpus_proportional
  FROM per_src)
SELECT p.source, round(p.lam, 6) AS lambda_hat,
       round(p.fu, 6) AS freshness_uniform,
       round(p.fp, 6) AS freshness_proportional,
       c.corpus_uniform, c.corpus_proportional,
       c.corpus_uniform > c.corpus_proportional AS uniform_wins
FROM per_src p CROSS JOIN corpus c
ORDER BY source
"""


_AES_PLANE, _AES_TH = 101, 5.0


def _aesthetic_expr():
    """Deterministic linear aesthetic head on the embedding (the LAION
    aesthetic-predictor SHAPE: a linear probe over CLIP embeddings,
    Schuhmann '22) — weights from the md5 hyperplane family so both
    engines fold the identical literal array; score mapped to the 1-10
    scale the predictor publishes."""
    from distributed_webcrawler_spark.operators.similarity import hyperplane_expr

    return F.round(F.lit(5.0) + F.lit(4.0)
                   * hyperplane_expr("embedding", _AES_PLANE, 64), 6)


def q_aesthetic_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aesthetic scoring + keep filter over image embeddings — the
    second LAION quality gate after CLIP alignment: a linear head scores
    every image and the corpus keeps score >= threshold. Pure Column
    math over a constant-folded literal weight array — zero shuffle,
    whole-stage codegen, identical at 10^10 rows; the keep verdict is
    computed FROM the 6dp-rounded score on both engines so the threshold
    boundary cannot flip across engines."""
    emb = _t(spark, sf_dir, "embeddings")
    return (emb.select("vec_id", _aesthetic_expr().alias("aesthetic"))
            .withColumn("kept", F.col("aesthetic") >= _AES_TH)
            .orderBy("vec_id"))


def _aesthetic_sql_frag() -> str:
    from distributed_webcrawler_spark.operators.similarity import hyperplane_weights

    w = ", ".join(f"{x}::DOUBLE" for x in hyperplane_weights(_AES_PLANE, 64))
    return (f"round(5.0::DOUBLE + 4.0::DOUBLE * "
            f"list_dot_product(cast(embedding as double[]), [{w}]), 6)")


def _aesthetic_sql() -> str:
    return f"""
SELECT vec_id, {_aesthetic_sql_frag()} AS aesthetic,
       {_aesthetic_sql_frag()} >= {_AES_TH} AS kept
FROM embeddings ORDER BY vec_id
"""


def q_pair_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-caption preprocessing FUNNEL — the attrition report every
    LAION-style pipeline publishes (how many pairs each gate drops, in
    order): caption length -> language -> image resolution -> aesthetic
    score. Gates are cumulative (a pair reaches gate k only by passing
    1..k-1), counts are exact integers from ONE aggregate pass over the
    joined pair table (conditional sums — no per-stage rescans), then the
    5-row funnel is unpivoted from the single aggregate row. Image dims
    are synthesized integer formulas on the pair id so both engines build
    the identical fixture; the aesthetic gate reuses the linear head."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    pairs = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "n_chars", "lang", "embedding",
        (16 + (F.col("doc_id") * 13) % 50).alias("w"),
        (16 + (F.col("doc_id") * 29) % 50).alias("h"))
    f1 = F.col("n_chars") >= 50
    f2 = F.col("lang") == "en"
    f3 = F.least("w", "h") >= 24
    f4 = _aesthetic_expr() >= _AES_TH
    agg = pairs.agg(
        F.count("*").alias("n0"),
        F.sum(f1.cast("int")).alias("n1"),
        F.sum((f1 & f2).cast("int")).alias("n2"),
        F.sum((f1 & f2 & f3).cast("int")).alias("n3"),
        F.sum((f1 & f2 & f3 & f4).cast("int")).alias("n4"))
    stages = F.expr(
        "stack(5, 0, 'total', n0, n0,"
        " 1, 'caption_len>=50', n0, n1,"
        " 2, 'lang=en', n1, n2,"
        " 3, 'min_edge>=24', n2, n3,"
        " 4, 'aesthetic>=5', n3, n4) AS (stage, gate, n_in, n_out)")
    return (agg.select(stages)
            .select(F.col("stage").cast("int").alias("stage"), "gate",
                    F.col("n_in").cast("bigint").alias("n_in"),
                    F.col("n_out").cast("bigint").alias("n_out"),
                    (F.col("n_in") - F.col("n_out")).cast("bigint").alias("dropped"))
            .orderBy("stage"))


def _pair_funnel_sql() -> str:
    return f"""
WITH pairs AS (
  SELECT d.doc_id, d.n_chars, d.lang, e.embedding,
         16 + (d.doc_id * 13) % 50 AS w, 16 + (d.doc_id * 29) % 50 AS h
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
flags AS (
  SELECT n_chars >= 50 AS f1, lang = 'en' AS f2, least(w, h) >= 24 AS f3,
         {_aesthetic_sql_frag()} >= {_AES_TH} AS f4
  FROM pairs),
a AS (
  SELECT count(*) AS n0,
         sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS n3,
         sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS n4
  FROM flags)
SELECT stage, gate, cast(n_in as bigint) AS n_in,
       cast(n_out as bigint) AS n_out,
       cast(n_in - n_out as bigint) AS dropped
FROM (
  SELECT 0 AS stage, 'total' AS gate, n0 AS n_in, n0 AS n_out FROM a
  UNION ALL SELECT 1, 'caption_len>=50', n0, n1 FROM a
  UNION ALL SELECT 2, 'lang=en', n1, n2 FROM a
  UNION ALL SELECT 3, 'min_edge>=24', n2, n3 FROM a
  UNION ALL SELECT 4, 'aesthetic>=5', n3, n4 FROM a)
ORDER BY stage
"""


_WDS_BUDGET = 131072  # bytes per webdataset shard (sandbox-scaled)


def q_webdataset_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard manifest: pack (caption, image) pairs into
    byte-budgeted tar shards in deterministic pair order — the output
    layout step of an image+caption corpus (tar shards are what training
    dataloaders stream). Pair byte weight = caption chars + raw pixel
    estimate (integer formulas both engines share). Spark packs with
    operators/topk.pack_shards — range-repartition + per-partition local
    running sums + a driver-side offset cumsum (one number per partition,
    NEVER a single-partition global window); the oracle is the naive
    global window, which is exactly the contrast the pack operator
    exists for. Emits one manifest row per shard."""
    return _frozen(_webdataset_shard_manifest, spark, sf_dir)


def _webdataset_shard_manifest(spark: SparkSession, sf_dir: str, reg: list) -> DataFrame:
    from distributed_webcrawler_spark.operators.topk import pack_shards

    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        (F.col("n_chars")
         + (16 + (F.col("doc_id") * 13) % 50)
         * (16 + (F.col("doc_id") * 29) % 50) * 3).alias("pair_bytes"))
    packed = pack_shards(pairs, [F.col("doc_id").asc()], "pair_bytes",
                         _WDS_BUDGET, cache_registry=reg)
    return (packed.groupBy(F.col("shard_id").cast("int").alias("shard_id"))
            .agg(F.count("*").cast("bigint").alias("n_pairs"),
                 F.sum("pair_bytes").cast("bigint").alias("bytes_total"),
                 F.min("doc_id").alias("first_id"),
                 F.max("doc_id").alias("last_id"))
            .orderBy("shard_id"))


_Q_WDS_SQL = f"""
WITH pairs AS (
  SELECT doc_id,
         n_chars + (16 + (doc_id * 13) % 50) * (16 + (doc_id * 29) % 50) * 3
           AS pair_bytes
  FROM documents),
packed AS (
  SELECT doc_id, pair_bytes,
         cast(floor(coalesce(sum(pair_bytes) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / {_WDS_BUDGET}) as int) AS shard_id
  FROM pairs)
SELECT shard_id, cast(count(*) as bigint) AS n_pairs,
       cast(sum(pair_bytes) as bigint) AS bytes_total,
       min(doc_id) AS first_id, max(doc_id) AS last_id
FROM packed GROUP BY shard_id ORDER BY shard_id
"""


def q_image_real_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG wire bytes (\\x89PNG magic; the pure-stdlib encoder in
    sources/codec.py) through the SAME Arrow-batched decode stage the
    engine uses: per-image dims, channel means, and phash must equal the
    values computed straight from the pre-encode pixels. Gates that (a)
    the real-format round-trip is lossless and (b) the pipeline is
    wire-format-agnostic — decode_image dispatches on magic, so real and
    DWS1 payloads mix in one corpus (input_hint's real-format column).
    Scale shape is the standard decode plan: pixels never leave the
    mapInPandas task; only the 16-byte stat rows shuffle."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec

    # filter_type cycles 0-4 per image: the corpus carries every PNG
    # scanline filter, so the distributed decode exercises BOTH unfilter
    # paths (per-row numpy for None/Sub/Up, the diagonal wavefront for
    # Avg/Paeth). The oracle is pixel-derived, so losslessness of every
    # filter is what's being gated.
    pdf = pd.DataFrame(
        [(iid, codec.encode_png(codec.synth_pixels(iid, w, h),
                                filter_type=i % 5))
         for i, (iid, w, h, _fmt) in enumerate(_mm_specs())],
        columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    st = decode_stats(payloads).where(F.col("ok"))
    return (st.select("image_id", "fmt",
                      F.col("w").cast("int").alias("w"),
                      F.col("h").cast("int").alias("h"),
                      "mean_r", "mean_g", "mean_b", "phash")
            .orderBy("image_id"))


def _real_png_sql() -> str:
    from distributed_webcrawler_spark.sources import codec

    rows = []
    for iid, w, h, _fmt in _mm_specs():
        px = codec.synth_pixels(iid, w, h)
        m = px.astype("float64").mean(axis=(0, 1))
        rows.append(f"('{iid}', 'png', {w}, {h}, "
                    f"cast({round(float(m[0]), 4)!r} as double), "
                    f"cast({round(float(m[1]), 4)!r} as double), "
                    f"cast({round(float(m[2]), 4)!r} as double), "
                    f"{codec.phash64(px)})")
    vals = ",\n".join(rows)
    return f"""
SELECT image_id, fmt, cast(w as int) AS w, cast(h as int) AS h,
       mean_r, mean_g, mean_b, cast(phash as bigint) AS phash
FROM (VALUES
{vals}
) AS t(image_id, fmt, w, h, mean_r, mean_g, mean_b, phash)
ORDER BY image_id
"""


def q_image_real_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless WebP wire bytes (RIFF....WEBPVP8L; the pure-stdlib
    VP8L codec in sources/webp.py, RFC 9649) through the SAME
    Arrow-batched decode stage as every other format: per-image dims,
    channel means, and phash must equal the values computed straight
    from the pre-encode pixels — VP8L is lossless, so the gate is
    bit-exactness of the subtract-green + canonical-Huffman round trip.
    Closes the last input_hint format (png/jpeg/webp) that rode the DWS1
    stand-in. Scale shape is the standard decode plan: pixels never
    leave the mapInPandas task; only the 16-byte stat rows shuffle."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec
    from distributed_webcrawler_spark.sources import webp as webplib

    pdf = pd.DataFrame(
        [(iid, webplib.encode_webp_lossless(codec.synth_pixels(iid, w, h)))
         for iid, w, h, _fmt in _mm_specs()],
        columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    st = decode_stats(payloads).where(F.col("ok"))
    return (st.select("image_id", "fmt",
                      F.col("w").cast("int").alias("w"),
                      F.col("h").cast("int").alias("h"),
                      "mean_r", "mean_g", "mean_b", "phash")
            .orderBy("image_id"))


def _real_webp_sql() -> str:
    from distributed_webcrawler_spark.sources import codec

    rows = []
    for iid, w, h, _fmt in _mm_specs():
        px = codec.synth_pixels(iid, w, h)
        m = px.astype("float64").mean(axis=(0, 1))
        rows.append(f"('{iid}', 'webp', {w}, {h}, "
                    f"cast({round(float(m[0]), 4)!r} as double), "
                    f"cast({round(float(m[1]), 4)!r} as double), "
                    f"cast({round(float(m[2]), 4)!r} as double), "
                    f"{codec.phash64(px)})")
    vals = ",\n".join(rows)
    return f"""
SELECT image_id, fmt, cast(w as int) AS w, cast(h as int) AS h,
       mean_r, mean_g, mean_b, cast(phash as bigint) AS phash
FROM (VALUES
{vals}
) AS t(image_id, fmt, w, h, mean_r, mean_g, mean_b, phash)
ORDER BY image_id
"""


_JPEG_N = 96


def _jpeg_specs() -> list:
    """Deterministic (image_id, w, h, subsampling) specs for the real-JPEG
    fidelity corpus — md5-derived in pure python so the Spark query and
    the DuckDB oracle rebuild the identical payload set."""
    import hashlib

    subs = ["4:4:4", "4:2:2", "4:2:0"]
    specs = []
    for i in range(_JPEG_N):
        hw = int(hashlib.md5(f"jw:{i}".encode()).hexdigest()[:8], 16)
        hh = int(hashlib.md5(f"jh:{i}".encode()).hexdigest()[:8], 16)
        specs.append((f"jpg-{i:05d}", 16 + hw % 41, 16 + hh % 41, subs[i % 3]))
    return specs


def q_image_real_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG wire bytes (\xff\xd8 magic; the pure-stdlib
    SOF0+Huffman codec in sources/jpeg.py, round-3 verdict #2) through
    the SAME Arrow-batched decode stage the engine uses, gated on the
    BASELINE.json per-row invariant: decoded-pixel PSNR >= 40 dB for a
    lossy format, measured against reference pixels regenerated
    executor-side from the image_id (photo-spectrum corpus at q95, all
    three chroma subsamplings interleaved). Scale shape is the standard
    decode plan: pixels never leave the mapInPandas task; only the
    ~40-byte (id, psnr) stat rows shuffle."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import decode_fidelity
    from distributed_webcrawler_spark.sources import codec
    from distributed_webcrawler_spark.sources import jpeg as jpeglib

    pdf = pd.DataFrame(
        [(iid, jpeglib.encode_jpeg(codec.synth_pixels_photo(iid, w, h),
                                   quality=95, subsampling=sub))
         for iid, w, h, sub in _jpeg_specs()],
        columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    st = decode_fidelity(payloads).where(F.col("ok"))
    return (st.select("image_id", "fmt",
                      F.col("w").cast("int").alias("w"),
                      F.col("h").cast("int").alias("h"),
                      "psnr_db",
                      (F.col("psnr_db") >= 40.0).alias("meets_40db"))
            .orderBy("image_id"))


def _real_jpeg_sql() -> str:
    """Oracle: the identical encode->decode->PSNR pipeline run driver-side
    in bare numpy (no Spark), emitted as literal rows — gates that the
    distributed Arrow decode stage computes exactly what the library
    computes, the same construction as _real_png_sql."""
    from distributed_webcrawler_spark.sources import codec
    from distributed_webcrawler_spark.sources import jpeg as jpeglib

    rows = []
    for iid, w, h, sub in _jpeg_specs():
        px = codec.synth_pixels_photo(iid, w, h)
        dec = jpeglib.decode_jpeg(
            jpeglib.encode_jpeg(px, quality=95, subsampling=sub))
        p = codec.psnr(px, dec)
        p = 99.0 if p == float("inf") else round(float(p), 4)
        rows.append(f"('{iid}', 'jpeg', {w}, {h}, "
                    f"cast({p!r} as double), {str(p >= 40.0).upper()})")
    vals = ",\n".join(rows)
    return f"""
SELECT image_id, fmt, cast(w as int) AS w, cast(h as int) AS h,
       psnr_db, meets_40db
FROM (VALUES
{vals}
) AS t(image_id, fmt, w, h, psnr_db, meets_40db)
ORDER BY image_id
"""


_MJ_N = 24


def _mjpeg_specs() -> list:
    import hashlib

    specs = []
    for i in range(_MJ_N):
        hw = int(hashlib.md5(f"mjw:{i}".encode()).hexdigest()[:8], 16)
        hn = int(hashlib.md5(f"mjn:{i}".encode()).hexdigest()[:8], 16)
        specs.append((f"mj-{i:04d}", 24 + hw % 25, 20 + (hw >> 8) % 21,
                      3 + hn % 6))
    return specs


def _mjpeg_payload(video_id: str, w: int, h: int, n: int) -> bytes:
    """Photo-spectrum frames (rolled per index = motion) -> REAL RIFF-AVI
    Motion-JPEG bytes."""
    import numpy as np

    from distributed_webcrawler_spark.sources import codec

    base = codec.synth_pixels_photo(video_id, w, h)
    frames = [np.roll(base, 2 * i, axis=1) for i in range(n)]
    return codec.encode_avi_mjpeg(frames, fps=12)


def q_video_real_mjpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF-AVI Motion-JPEG through the SAME frame-sampling stage as
    the DWSV stand-in (decode_video magic sniff — the video twin of
    image_real_png_decode): every 2nd frame's decoded gray_mean + phash
    must equal the driver-side reference pass over identical bytes. The
    container is the public Microsoft AVI format with per-frame baseline
    JPEG, so both layers of the wire (RIFF chunk walk, entropy-coded
    frames) are under the distributed gate; pixels never leave the
    mapInPandas task."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import frame_sample

    pdf = pd.DataFrame(
        [(vid, _mjpeg_payload(vid, w, h, n)) for vid, w, h, n in _mjpeg_specs()],
        columns=["video_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (frame_sample(payloads, every_n=2).where(F.col("ok"))
            .select("video_id", "fmt", "frame_idx", "t_ms", "n_frames",
                    "w", "h", "gray_mean", "phash")
            .orderBy("video_id", "frame_idx"))


def _mjpeg_sql() -> str:
    from distributed_webcrawler_spark.sources import codec

    rows = []
    for vid, w, h, n in _mjpeg_specs():
        frames, fmt, fps = codec.decode_video(_mjpeg_payload(vid, w, h, n))
        for i in range(0, len(frames), 2):
            px = frames[i]
            gm = round(float(px.astype("float64").mean()), 4)
            rows.append(f"('{vid}', '{fmt}', {i}, {i * 1000 // fps}, {n}, "
                        f"{w}, {h}, {gm!r}, {codec.phash64(px)})")
    vals = ",\n".join(rows)
    return f"""
SELECT video_id, fmt, cast(frame_idx as int) AS frame_idx,
       cast(t_ms as int) AS t_ms, cast(n_frames as int) AS n_frames,
       cast(w as int) AS w, cast(h as int) AS h,
       cast(gray_mean as double) AS gray_mean, cast(phash as bigint) AS phash
FROM (VALUES
{vals}
) AS t(video_id, fmt, frame_idx, t_ms, n_frames, w, h, gray_mean, phash)
ORDER BY video_id, frame_idx
"""


_JPEG_SWEEP_QUALITIES = [50, 75, 85, 90, 95, 100]
_JPEG_SWEEP_N = 12


def _jpeg_sweep_specs() -> list:
    import hashlib

    specs = []
    for i in range(_JPEG_SWEEP_N):
        hw = int(hashlib.md5(f"jsw:{i}".encode()).hexdigest()[:8], 16)
        hh = int(hashlib.md5(f"jsh:{i}".encode()).hexdigest()[:8], 16)
        specs.append((f"swp-{i:03d}", 24 + hw % 33, 24 + hh % 33))
    return specs


def q_jpeg_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG rate/distortion sweep — the compression-tradeoff measurement a
    training-data pipeline runs before choosing a storage quality: the
    SAME photo corpus encoded at 6 quality levels, decoded through the
    distributed Arrow stage, per-row PSNR + bits-per-pixel. Per-IMAGE
    rows (no float aggregation) so the gate is exact across engines; the
    curve is a trivial group-by for the reader. Pixels stay inside the
    mapInPandas task; the join back to byte sizes is id-keyed and
    corpus-dimension sized."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import decode_fidelity
    from distributed_webcrawler_spark.sources import codec
    from distributed_webcrawler_spark.sources import jpeg as jpeglib

    def _ref(image_id, w, h):
        from distributed_webcrawler_spark.sources import codec as _c

        return _c.synth_pixels_photo(image_id.split("|", 1)[1], w, h)

    rows = []
    for q in _JPEG_SWEEP_QUALITIES:
        for iid, w, h in _jpeg_sweep_specs():
            px = codec.synth_pixels_photo(iid, w, h)
            data = jpeglib.encode_jpeg(px, quality=q, subsampling="4:4:4")
            rows.append((f"q{q:03d}|{iid}", data, q, len(data)))
    pdf = pd.DataFrame(rows, columns=["image_id", "bytes", "quality", "n_bytes"])
    pay = spark.createDataFrame(pdf[["image_id", "bytes"]]).repartition(8)
    meta = F.broadcast(spark.createDataFrame(pdf[["image_id", "quality", "n_bytes"]]))
    fid = decode_fidelity(pay, ref_pixels=_ref).where(F.col("ok"))
    return (fid.join(meta, "image_id")
            .select(F.col("quality").cast("int").alias("quality"),
                    "image_id",
                    F.col("w").cast("int").alias("w"),
                    F.col("h").cast("int").alias("h"),
                    "psnr_db",
                    F.round(F.col("n_bytes") * 8.0 / (F.col("w") * F.col("h")), 4)
                     .alias("bits_per_px"))
            .orderBy("quality", "image_id"))


def _jpeg_sweep_sql() -> str:
    from distributed_webcrawler_spark.sources import codec
    from distributed_webcrawler_spark.sources import jpeg as jpeglib

    rows = []
    for q in _JPEG_SWEEP_QUALITIES:
        for iid, w, h in _jpeg_sweep_specs():
            px = codec.synth_pixels_photo(iid, w, h)
            data = jpeglib.encode_jpeg(px, quality=q, subsampling="4:4:4")
            p = codec.psnr(px, jpeglib.decode_jpeg(data))
            p = 99.0 if p == float("inf") else round(float(p), 4)
            bpp = round(len(data) * 8.0 / (w * h), 4)
            rows.append(f"({q}, 'q{q:03d}|{iid}', {w}, {h}, "
                        f"cast({p!r} as double), cast({bpp!r} as double))")
    vals = ",\n".join(rows)
    return f"""
SELECT cast(quality as int) AS quality, image_id, cast(w as int) AS w,
       cast(h as int) AS h, psnr_db, bits_per_px
FROM (VALUES
{vals}
) AS t(quality, image_id, w, h, psnr_db, bits_per_px)
ORDER BY quality, image_id
"""


_MIXED_WIRES = ["dws1-png", "dws1-jpeg", "dws1-webp", "real-png",
                "real-jpeg", "real-webp"]


def q_mixed_format_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-format-agnostic corpus: DWS1 containers, real PNG (mixed
    scanline filters) and real baseline JPEG interleaved in ONE binary
    column, decoded by the single magic-sniffing decode stage — the
    input_hint's fmt column realized end-to-end. Gates per-image decoded
    dims + phash (for lossy wires, the phash of the DECODED pixels, so
    codec determinism itself is under the gate). Same scale shape as
    every decode query: 16-byte stat rows shuffle, pixels never do."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import decode_stats
    from distributed_webcrawler_spark.sources import codec
    from distributed_webcrawler_spark.sources import jpeg as jpeglib

    rows = []
    for i, (iid, w, h, _fmt) in enumerate(_mm_specs()[:120]):
        wire = _MIXED_WIRES[i % len(_MIXED_WIRES)]
        px = codec.synth_pixels(iid, w, h)
        if wire == "real-png":
            data = codec.encode_png(px, filter_type=i % 5)
        elif wire == "real-jpeg":
            data = jpeglib.encode_jpeg(codec.synth_pixels_photo(iid, w, h),
                                       quality=95, subsampling="4:4:4")
        elif wire == "real-webp":
            from distributed_webcrawler_spark.sources import webp as webplib
            data = webplib.encode_webp_lossless(px)
        else:
            data = codec.encode_image(px, wire.split("-", 1)[1])
        rows.append((f"{wire}|{iid}", data))
    pdf = pd.DataFrame(rows, columns=["image_id", "bytes"])
    pay = spark.createDataFrame(pdf).repartition(8)
    st = decode_stats(pay).where(F.col("ok"))
    return (st.select(
                F.split_part(F.col("image_id"), F.lit("|"), F.lit(1)).alias("wire"),
                "image_id", "fmt",
                F.col("w").cast("int").alias("w"),
                F.col("h").cast("int").alias("h"),
                "phash")
            .orderBy("image_id"))


def _mixed_format_sql() -> str:
    from distributed_webcrawler_spark.sources import codec
    from distributed_webcrawler_spark.sources import jpeg as jpeglib

    rows = []
    for i, (iid, w, h, _fmt) in enumerate(_mm_specs()[:120]):
        wire = _MIXED_WIRES[i % len(_MIXED_WIRES)]
        px = codec.synth_pixels(iid, w, h)
        if wire == "real-png":
            data = codec.encode_png(px, filter_type=i % 5)
        elif wire == "real-jpeg":
            data = jpeglib.encode_jpeg(codec.synth_pixels_photo(iid, w, h),
                                       quality=95, subsampling="4:4:4")
        elif wire == "real-webp":
            from distributed_webcrawler_spark.sources import webp as webplib
            data = webplib.encode_webp_lossless(px)
        else:
            data = codec.encode_image(px, wire.split("-", 1)[1])
        dec, fmt = codec.decode_image(data)
        rows.append(f"('{wire}', '{wire}|{iid}', '{fmt}', {dec.shape[1]}, "
                    f"{dec.shape[0]}, {codec.phash64(dec)})")
    vals = ",\n".join(rows)
    return f"""
SELECT wire, image_id, fmt, cast(w as int) AS w, cast(h as int) AS h,
       cast(phash as bigint) AS phash
FROM (VALUES
{vals}
) AS t(wire, image_id, fmt, w, h, phash)
ORDER BY image_id
"""


# ---------------------------------------------------------------------------
# Context-window chunking, URL tracking-param canonicalization, aspect-ratio
# batch bucketing — the remaining pre-training data-prep steps between
# cleaning and shard output.
# ---------------------------------------------------------------------------
CHUNK_SIZE = 64       # tokens per training chunk (sandbox-scaled; 2048 in prod)
CHUNK_OVERLAP = 8     # tokens carried between consecutive chunks
CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-document chunking: fixed token windows with overlap carried
    between consecutive chunks — the context-window packing step between
    cleaning and shard output. Chunk count is pure integer math (no float
    ceil divergence across engines) and every chunk is identified by a
    portable hash of its joined tokens, so the oracle gates chunk CONTENT
    and boundaries, not just counts. Pure Column exprs (regexp tokenizer +
    sequence/explode + slice): zero UDF, and the explode is in-partition —
    no shuffle at any corpus size; downstream shard assignment is
    operators/topk.pack_shards."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    d = (docs.select("doc_id", toks.alias("toks"))
         .withColumn("n", F.size("toks"))
         .where(F.col("n") > 0)
         .withColumn("n_chunks",
                     ((F.greatest(F.col("n") - CHUNK_OVERLAP, F.lit(1))
                       + F.lit(CHUNK_STRIDE - 1)) / CHUNK_STRIDE).cast("bigint")))
    c = d.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))).alias("ci"))
    chunk = F.slice(F.col("toks"), F.col("ci") * CHUNK_STRIDE + 1, F.lit(CHUNK_SIZE))
    return c.select(
        "doc_id",
        F.col("ci").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tok"),
        h64(F.array_join(chunk, " ")).alias("chunk_h"))


_Q_DOC_CHUNK_SQL = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents),
n AS (
  SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
c AS (
  SELECT doc_id, toks,
         unnest(range((greatest(n - {CHUNK_OVERLAP}, 1) + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE})) AS ci
  FROM n),
s AS (
  SELECT doc_id, ci,
         list_slice(toks, ci * {CHUNK_STRIDE} + 1, ci * {CHUNK_STRIDE} + {CHUNK_SIZE}) AS chunk
  FROM c)
SELECT doc_id, cast(ci as int) AS chunk_idx,
       cast(len(chunk) as int) AS n_tok,
       {h64_sql("array_to_string(chunk, ' ')")} AS chunk_h
FROM s
"""


_TRACKING_PARAM_RE = "^(utm_[a-z]*|gclid|fbclid|msclkid|mc_eid|igshid|ref)="


def q_url_param_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization extra the crawl dedup needs beyond RFC-3986
    (functions/urls.py): strip tracking query params (utm_*/gclid/fbclid/...)
    and SORT the surviving params, so the same landing page reached through
    different campaigns collapses to one frontier key. URLs are synthesized
    deterministically from lineitem (same pattern as the frontier fixture)
    with a mix of no-query / mixed / tracking-only shapes; the op itself does
    the real string surgery — split at '?', lambda-filter the param list
    against the blocklist regex, array_sort, rejoin. Pure Column exprs
    (filter/array_sort are codegen'd HOFs): map-side, zero shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    base = F.concat(F.lit("https://host"),
                    (F.col("l_suppkey") % 50).cast("string"),
                    F.lit(".example.test/p/"), F.col("l_orderkey").cast("string"))
    m = F.col("l_linenumber") % 4
    url = (F.when(m == 0, base)
           .when(m == 1, F.concat(base, F.lit("?utm_source=mail&b=2&a=1")))
           .when(m == 2, F.concat(base, F.lit("?gclid=g"),
                                  (F.col("l_orderkey") % 7).cast("string"),
                                  F.lit("&z=9&utm_campaign=x")))
           .otherwise(F.concat(base, F.lit("?fbclid=f1&utm_medium=cpc"))))
    u = li.select(F.col("l_orderkey").alias("k1"),
                  F.col("l_linenumber").cast("int").alias("k2"),
                  url.alias("url"))
    parts = F.split(F.col("url"), "\\?", 2)
    base_c = F.get(parts, 0)
    qs = F.get(parts, 1)
    kept = F.array_sort(F.filter(F.split(qs, "&"),
                                 lambda p: ~p.rlike(_TRACKING_PARAM_RE)))
    canon = F.when(qs.isNull() | (F.size(kept) == 0), base_c).otherwise(
        F.concat(base_c, F.lit("?"), F.array_join(kept, "&")))
    n_stripped = F.when(qs.isNull(), F.lit(0)).otherwise(
        F.size(F.split(qs, "&")) - F.size(kept))
    return u.select("k1", "k2", "url",
                    canon.alias("canon_url"),
                    n_stripped.cast("int").alias("n_stripped"))


_Q_PARAM_STRIP_SQL = f"""
WITH u AS (
  SELECT l_orderkey AS k1, cast(l_linenumber as int) AS k2,
         concat('https://host', cast(l_suppkey % 50 as varchar),
                '.example.test/p/', cast(l_orderkey as varchar)) ||
         CASE cast(l_linenumber % 4 as int)
           WHEN 0 THEN ''
           WHEN 1 THEN '?utm_source=mail&b=2&a=1'
           WHEN 2 THEN concat('?gclid=g', cast(l_orderkey % 7 as varchar), '&z=9&utm_campaign=x')
           ELSE '?fbclid=f1&utm_medium=cpc' END AS url
  FROM lineitem),
p AS (
  SELECT k1, k2, url,
         string_split(url, '?')[1] AS base,
         string_split(url, '?')[2] AS qs
  FROM u),
f AS (
  SELECT k1, k2, url, base, qs,
         list_sort(list_filter(string_split(qs, '&'),
             x -> NOT regexp_matches(x, '{_TRACKING_PARAM_RE}'))) AS kept
  FROM p)
SELECT k1, k2, url,
       CASE WHEN qs IS NULL OR len(kept) = 0 THEN base
            ELSE concat(base, '?', array_to_string(kept, '&')) END AS canon_url,
       cast(CASE WHEN qs IS NULL THEN 0
                 ELSE len(string_split(qs, '&')) - len(kept) END as int) AS n_stripped
FROM f
"""


ASPECT_BATCH = 32  # images per training batch within a bucket


def q_aspect_bucket_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDXL/LAION-style aspect-ratio bucketing + per-bucket batch packing:
    every image goes to the nearest aspect bucket on a fixed ladder
    (nearest in log-ratio, so the CASE thresholds are the geometric
    midpoints), then batches of ASPECT_BATCH are cut inside each bucket in
    a deterministic order. The per-bucket sequence uses
    operators/topk.grouped_row_number — NOT Window.partitionBy(bucket),
    which would collapse 10^10 images into 5 tasks; dims are synthesized
    deterministically from part (w,h are table columns in the real payload
    schema, so this is pure Column math either way)."""
    return _frozen(_aspect_bucket_pack, spark, sf_dir)


def _aspect_bucket_pack(spark: SparkSession, sf_dir: str, reg: list) -> DataFrame:
    from distributed_webcrawler_spark.operators.topk import grouped_row_number

    part = _t(spark, sf_dir, "part")
    imgs = part.select(
        F.col("p_partkey").alias("image_key"),
        (F.lit(64) + (F.col("p_partkey") % 97) * 8).cast("int").alias("w"),
        (F.lit(64) + (F.col("p_partkey") % 53) * 8).cast("int").alias("h"))
    r = F.col("w") / F.col("h")
    # ladder 0.5, 0.75, 1.0, 4/3, 2.0; thresholds = geometric midpoints
    bucket = (F.when(r < 0.6123724356957945, "0.50")
               .when(r < 0.8660254037844386, "0.75")
               .when(r < 1.1547005383792515, "1.00")
               .when(r < 1.6329931618554518, "1.33")
               .otherwise("2.00"))
    b = imgs.withColumn("bucket", bucket)
    seq = grouped_row_number(b, ["bucket"], [F.col("image_key")],
                             seq_col="__seq", cache_registry=reg)
    return seq.select(
        "image_key", "w", "h", "bucket",
        ((F.col("__seq") - 1) / ASPECT_BATCH).cast("int").alias("batch_idx"))


_Q_ASPECT_SQL = f"""
WITH imgs AS (
  SELECT p_partkey AS image_key,
         cast(64 + (p_partkey % 97) * 8 as int) AS w,
         cast(64 + (p_partkey % 53) * 8 as int) AS h
  FROM part),
b AS (
  SELECT image_key, w, h,
         CASE WHEN w * 1.0 / h < 0.6123724356957945 THEN '0.50'
              WHEN w * 1.0 / h < 0.8660254037844386 THEN '0.75'
              WHEN w * 1.0 / h < 1.1547005383792515 THEN '1.00'
              WHEN w * 1.0 / h < 1.6329931618554518 THEN '1.33'
              ELSE '2.00' END AS bucket
  FROM imgs)
SELECT image_key, w, h, bucket,
       cast((row_number() OVER (PARTITION BY bucket ORDER BY image_key) - 1)
            // {ASPECT_BATCH} as int) AS batch_idx
FROM b
"""


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP redirect-chain resolution (operators/redirects.py): every
    redirecting URL mapped to its final target + exact hop count via
    pointer doubling (O(log d) equi-joins, saturating hop composition);
    redirect LOOPS flagged instead of followed forever. Chains are
    synthesized from lineitem's (orderkey, linenumber) PK — linenumber runs
    1..7 consecutively within an order, giving natural chains up to 6 hops —
    and orders with orderkey % 997 == 0 get a 1<->2 back-edge, planting
    cycles the loop flag must catch. Oracle = DuckDB recursive CTE walking
    the same edges hop by hop."""
    from distributed_webcrawler_spark.operators.redirects import resolve_redirects

    li = _t(spark, sf_dir, "lineitem")

    def node(e):
        return F.concat(F.lit("https://r.example.test/"), e.cast("string"))

    o, ln = F.col("l_orderkey"), F.col("l_linenumber")
    chain = (li.where(ln >= 2)
             .select(node(o * 8 + ln).alias("src"),
                     node(o * 8 + ln - 1).alias("dst")))
    cyc = (li.where((o % 997 == 0) & (ln == 1))
           .select(node(o * 8 + 1).alias("src"),
                   node(o * 8 + 2).alias("dst")))
    # the driver's synthetic lineitem is NOT keyed by (orderkey, linenumber)
    # — dedup so each src has exactly one outgoing edge (the operator's
    # contract; HTTP gives one Location per URL)
    return resolve_redirects(chain.unionByName(cyc).distinct(), max_hops=8)


_Q_REDIRECT_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT * FROM (
    SELECT concat('https://r.example.test/', cast(l_orderkey*8 + l_linenumber as varchar)) AS src,
           concat('https://r.example.test/', cast(l_orderkey*8 + l_linenumber - 1 as varchar)) AS dst
    FROM lineitem WHERE l_linenumber >= 2
    UNION ALL
    SELECT concat('https://r.example.test/', cast(l_orderkey*8 + 1 as varchar)),
           concat('https://r.example.test/', cast(l_orderkey*8 + 2 as varchar))
    FROM lineitem WHERE l_orderkey % 997 = 0 AND l_linenumber = 1
  )
),
walk AS (
  SELECT src, dst AS cur, 1 AS hops FROM edges
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN edges e ON w.cur = e.src
  WHERE w.hops < 9
),
last AS (
  SELECT src, arg_max(cur, hops) AS final, max(hops) AS hops
  FROM walk GROUP BY src
)
SELECT l.src,
       CASE WHEN t.src IS NULL AND l.hops <= 8 THEN l.final END AS final_url,
       CASE WHEN t.src IS NULL AND l.hops <= 8 THEN cast(l.hops as int) END AS hops,
       (t.src IS NOT NULL OR l.hops > 8) AS looped
FROM last l LEFT JOIN (SELECT DISTINCT src FROM edges) t ON l.final = t.src
"""


def q_rel_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical collapse — the page-declared duplicate signal crawlers
    must honor BEFORE content dedup: extract <link rel="canonical"> from the
    page head, resolve relative hrefs against the page's own host, fall back
    to self when absent. Pages are synthesized deterministically from
    documents (absent / absolute / host-relative / cross-host variants, ~5
    pages per canonical group) so the oracle gates extraction + resolution +
    self-fallback per row. Pure regexp + CASE Column ops: map-side, zero
    shuffle; downstream grouping by canonical_url is the dedup_first_wins
    shape."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    host = F.concat(F.col("source"), F.lit(".example.test"))
    page_url = F.concat(F.lit("https://"), host, F.lit("/d/"), ds)
    tgt = (d - d % 5).cast("string")
    m = d % 4
    link = (F.when(m == 0, F.lit(""))
            .when(m == 1, F.concat(F.lit('<link rel="canonical" href="https://'),
                                   host, F.lit('/d/'), tgt, F.lit('">')))
            .when(m == 2, F.concat(F.lit('<link rel="canonical" href="/d/'),
                                   tgt, F.lit('">')))
            .otherwise(F.concat(
                F.lit('<link rel="canonical" href="https://cdn.example.test/d/'),
                tgt, F.lit('">'))))
    html = F.concat(F.lit("<html><head>"), link,
                    F.lit("</head><body><p>"), F.substring("text", 1, 80),
                    F.lit("</p></body></html>"))
    p = docs.select(d.alias("doc_id"), page_url.alias("page_url"),
                    host.alias("host"), html.alias("html"))
    href = F.regexp_extract("html", '<link rel="canonical" href="([^"]*)"', 1)
    canon = (F.when(href == "", F.col("page_url"))
             .when(href.startswith("/"),
                   F.concat(F.lit("https://"), F.col("host"), href))
             .otherwise(href))
    return p.select("doc_id", "page_url", canon.alias("canonical_url"),
                    (canon == F.col("page_url")).alias("is_self"))


_Q_REL_CANONICAL_SQL = """
WITH p AS (
  SELECT doc_id,
         concat('https://', source, '.example.test/d/', cast(doc_id as varchar)) AS page_url,
         concat(source, '.example.test') AS host,
         concat('<html><head>',
           CASE cast(doc_id % 4 as int)
             WHEN 0 THEN ''
             WHEN 1 THEN concat('<link rel="canonical" href="https://', source,
                                '.example.test/d/', cast(doc_id - doc_id % 5 as varchar), '">')
             WHEN 2 THEN concat('<link rel="canonical" href="/d/',
                                cast(doc_id - doc_id % 5 as varchar), '">')
             ELSE concat('<link rel="canonical" href="https://cdn.example.test/d/',
                         cast(doc_id - doc_id % 5 as varchar), '">')
           END,
           '</head><body><p>', substr(text, 1, 80), '</p></body></html>') AS html
  FROM documents),
e AS (
  SELECT doc_id, page_url, host,
         regexp_extract(html, '<link rel="canonical" href="([^"]*)"', 1) AS href
  FROM p)
SELECT doc_id, page_url,
       CASE WHEN href = '' THEN page_url
            WHEN href LIKE '/%' THEN concat('https://', host, href)
            ELSE href END AS canonical_url,
       (CASE WHEN href = '' THEN page_url
             WHEN href LIKE '/%' THEN concat('https://', host, href)
             ELSE href END) = page_url AS is_self
FROM e
"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (top-5 terms per doc) — the
    corpus-level twin of BM25 search: document frequency via ONE term-keyed
    shuffle off the (doc, term) tf table, corpus size as a one-row broadcast
    cross join (never a global window), top-k per doc via the same rank
    window the frontier scheduler uses (operators/topk.py). Float parity
    follows operators/relevance.py: idf rounded to 9 right after ln on both
    engines, score to 9."""
    from distributed_webcrawler_spark.operators import topk

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]{3,}', 0)")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfs = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    idf = F.round(F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))), 9)
    scored = (tf.join(dfs, "term").crossJoin(F.broadcast(n))
              .withColumn("score", F.round(F.col("tf") * idf, 9)))
    top = topk.topk_per_group(
        scored, ["doc_id"], [F.col("score").desc(), F.col("term").asc()], 5)
    return top.select("doc_id", "term", F.col("tf").cast("int").alias("tf"),
                      "score", F.col("rk").cast("int").alias("rk"))


_Q_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * round(ln((n.n_docs + 1.0) / (dfs.df + 1.0)), 9), 9) AS score
  FROM tf JOIN dfs USING (term) CROSS JOIN n),
rk AS (
  SELECT doc_id, term, tf, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
  FROM sc)
SELECT doc_id, term, cast(tf as int) AS tf, score, cast(rk as int) AS rk
FROM rk WHERE rk <= 5
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build — the web-index artifact a crawler exists to
    feed: one row per term with document frequency, total term frequency,
    and the head of its posting list ('doc_id:tf' pairs, doc_id ASC,
    capped at 10 — real posting lists are df-sized by definition; the cap
    keeps the oracle row bounded). Plan: tokenize in-row (regexp, no UDF),
    ONE (term, doc_id) count agg, then df/tf_total stats and the capped
    head as two term-keyed aggs joined on term. The head pick reuses the
    frontier's rank-window top-k (operators/topk.py), whose map-side
    partial top-k already bounds stopword-grade hot terms, and posting
    assembly collect_lists at most the capped 10 rows per term — never
    the full df."""
    from distributed_webcrawler_spark.operators import topk

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]{3,}', 0)")).alias("term"))
    tf = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("tf_total"))
    head = topk.topk_per_group(tf, ["term"], [F.col("doc_id").asc()], 10)
    postings = (head.groupBy("term")
                .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                        lambda x: F.concat(x["doc_id"].cast("string"), F.lit(":"),
                                           x["tf"].cast("string"))),
                    ",").alias("postings_head")))
    return (stats.join(postings, "term")
            .select("term", "df", "tf_total", "postings_head"))


_Q_INVIDX_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
  FROM documents),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
stats AS (
  SELECT term, count(*) AS df, cast(sum(tf) as bigint) AS tf_total
  FROM tf GROUP BY 1),
head AS (
  SELECT term, doc_id, tf,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM tf),
post AS (
  SELECT term,
         string_agg(cast(doc_id as varchar) || ':' || cast(tf as varchar),
                    ',' ORDER BY doc_id) AS postings_head
  FROM head WHERE rn <= 10 GROUP BY 1)
SELECT stats.term, stats.df, stats.tf_total, post.postings_head
FROM stats JOIN post ON post.term = stats.term
"""


_DSIR_BUCKETS = 1024


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023, public literature):
    score every raw doc by how target-like its hashed-unigram profile is
    — log weight = SUM over tokens of ln(p_target(bucket)/p_raw(bucket))
    (the log of DSIR's product-of-feature-ratios importance weight) with
    add-1 smoothing over {buckets} hashed features — then accept
    doc d iff ln(u_d) < weight for a deterministic per-doc uniform u_d
    (Gumbel-style acceptance: P(keep) = min(1, e^weight), which IS
    importance resampling without materializing exp()). Target domain
    here: lang='en' docs; raw: the whole corpus.

    Scale shape (same two-pass skeleton as ccnet_perplexity_bucket): ONE
    corpus scan builds both count vectors with conditional partial aggs
    keyed by the FIXED {buckets}-bucket feature space (the table is 1024
    rows at any corpus size — always broadcastable, unlike a raw vocab);
    pass 2 re-scans, broadcast-joins bucket->log-ratio and partial-aggs
    the per-doc mean. Cross-engine float discipline: the ratio argument
    is a product/quotient of exact small ints (double-exact), ln() is
    rounded to 9 before averaging, the mean to 6, and the acceptance
    uniform is ln((h64(doc_id)%10000+0.5)/10000) rounded to 9 — every
    comparison happens between identically-rounded doubles.

    Note on the fixture: the synthetic documents draw text from ONE
    vocabulary regardless of lang, so the target/raw distributions are
    nearly identical and log weights hover just below 0 (smoothing +
    per-doc variance) — acceptance lands ~15-35% for every lang, which
    is exactly what an unbiased importance sampler should do on a
    signal-free corpus. On a real corpus the weight separates domains;
    the oracle gates the full weight+acceptance math either way."""
    docs = _t(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", "lang",
                       F.explode(SC.word_tokens("text")).alias("w"))
           .select("doc_id", "lang",
                   F.pmod(h64(F.col("w")), F.lit(_DSIR_BUCKETS)).cast("int").alias("b")))
    cnt = (tok.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
        F.count("*").alias("cr")))
    tot = cnt.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    lw = (cnt.crossJoin(F.broadcast(tot))
          .select("b", F.round(F.log(
              ((F.col("ct") + 1) * (F.col("nr") + _DSIR_BUCKETS))
              / ((F.col("cr") + 1) * (F.col("nt") + _DSIR_BUCKETS))), 9).alias("lr")))
    # decimal-exact sum of the 9-dp log-ratio grid (see nll_mean note)
    w = (tok.join(F.broadcast(lw), "b")
         .groupBy("doc_id")
         .agg(F.round(F.sum(F.col("lr").cast("decimal(20,9)"))
                      .cast("double"), 6).alias("log_weight")))
    u = F.round(F.log((F.pmod(h64(F.col("doc_id").cast("string")), F.lit(10000))
                       + F.lit(0.5)) / F.lit(10000.0)), 9)
    return (docs.select("doc_id", "lang").join(w, "doc_id")
            .select("doc_id", "lang", "log_weight",
                    (u < F.col("log_weight")).alias("keep")))


_Q_DSIR_SQL = f"""
WITH words AS (
  SELECT doc_id, lang,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents),
tok AS (
  SELECT doc_id, lang, cast({h64_sql("w")} % {_DSIR_BUCKETS} as int) AS b
  FROM words),
cnt AS (
  SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct, count(*) AS cr
  FROM tok GROUP BY b),
tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM cnt),
lw AS (
  SELECT b, round(ln(((ct + 1) * ((SELECT nr FROM tot) + {_DSIR_BUCKETS}) * 1.0)
                  / ((cr + 1) * ((SELECT nt FROM tot) + {_DSIR_BUCKETS}))), 9) AS lr
  FROM cnt),
w AS (
  SELECT doc_id,
         round(cast(sum(cast(lr as decimal(20,9))) as double), 6) AS log_weight
  FROM tok JOIN lw USING (b) GROUP BY doc_id)
SELECT d.doc_id, d.lang, w.log_weight,
       round(ln(({h64_sql("cast(d.doc_id as varchar)")} % 10000 + 0.5) / 10000.0), 9)
         < w.log_weight AS keep
FROM documents d JOIN w ON w.doc_id = d.doc_id
"""


_AGE_BOOST_PER_DAY = 0.002   # priority points per day waited
_AGE_TOPK = 5


def q_frontier_age_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority aging / starvation-freedom: effective priority =
    min(1.0, priority + boost*age_days), so a deep low-priority URL that
    has waited long enough eventually overtakes fresh high-priority ones
    (the standard fix for rank-window schedulers where a hot host's new
    discoveries would otherwise starve its tail forever). Age is measured
    against the frontier's own max(discovered_at) — deterministic, no
    wall clock. Emits each host's top-{k} by AGED rank alongside the
    unaged rank so the reordering is visible (aged_rank != raw_rank rows
    are the starvation saves).

    Scale shape: the aging term is pure Column math in the scan; ranks
    are per-host windows (the politeness shape, never a global sort); the
    max-date reference is a scalar agg broadcast back."""
    fr = _frontier(spark, sf_dir)
    ref = fr.agg(F.max("discovered_at").alias("ref_d"))
    aged = (fr.crossJoin(F.broadcast(ref))
            .select("host", "url", "depth", F.round("priority", 6).alias("priority"),
                    F.datediff(F.col("ref_d"), F.col("discovered_at")).alias("age_days"))
            .select("*", F.round(F.least(F.lit(1.0),
                                         F.col("priority") + F.lit(_AGE_BOOST_PER_DAY) * F.col("age_days")),
                                 6).alias("eff_priority")))
    # url alone is NOT unique (the synthetic frontier can emit the same
    # (orderkey, linenumber) twice with different discovered_at), so
    # age_days joins the tie-break on both windows.
    wa = Window.partitionBy("host").orderBy(
        F.col("eff_priority").desc(), F.col("url").asc(), F.col("age_days").desc())
    wr = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url").asc(), F.col("age_days").desc())
    return (aged.select("*", F.row_number().over(wa).alias("aged_rank"),
                        F.row_number().over(wr).alias("raw_rank"))
            .where(F.col("aged_rank") <= _AGE_TOPK))


_Q_AGE_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
aged AS (
  SELECT host, url, depth, round(priority, 6) AS priority,
         date_diff('day', discovered_at, (SELECT max(discovered_at) FROM frontier)) AS age_days,
         round(least(1.0, round(priority, 6) + {_AGE_BOOST_PER_DAY} * date_diff('day', discovered_at, (SELECT max(discovered_at) FROM frontier))), 6) AS eff_priority
  FROM frontier),
rk AS (
  SELECT *,
         row_number() OVER (PARTITION BY host ORDER BY eff_priority DESC, url ASC, age_days DESC) AS aged_rank,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC, age_days DESC) AS raw_rank
  FROM aged)
SELECT host, url, depth, priority, cast(age_days as bigint) AS age_days,
       eff_priority, cast(aged_rank as int) AS aged_rank, cast(raw_rank as int) AS raw_rank
FROM rk WHERE aged_rank <= {_AGE_TOPK}
"""


def q_warc_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index over crawl-archive records (the lookup artifact
    web archives build next to WARC files, public Common Crawl layout):
    one row per captured URI with capture count, first/last capture
    sequence, distinct-payload count (revisit detection: same URI, same
    digest => 'revisit' record, not a fresh copy), and the latest
    capture's digest. Captures are synthesized deterministically from
    documents (several doc_ids collapse onto one URI so revisit counts
    are non-trivial); digest is md5 of the payload head — both engines
    agree byte-for-byte.

    Scale shape: ONE groupBy(uri) with max_by for the latest digest —
    partial-agg friendly, no window, no self-join; at archive scale this
    is the textbook mergeable-agg CDX build."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    caps = docs.select(
        F.concat(F.lit("https://site"), (d % 20).cast("string"),
                 F.lit(".example.com/p/"), (d % 50).cast("string")).alias("uri"),
        d.alias("ts"),
        F.md5(F.substring("text", 1, 40)).alias("digest"))
    return (caps.groupBy("uri").agg(
        F.count("*").cast("int").alias("n_captures"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.countDistinct("digest").cast("int").alias("n_payloads"),
        F.expr("max_by(digest, ts)").alias("latest_digest")))


_Q_CDX_SQL = """
WITH caps AS (
  SELECT 'https://site' || cast(doc_id % 20 as varchar) || '.example.com/p/'
           || cast(doc_id % 50 as varchar) AS uri,
         doc_id AS ts, md5(substr(text, 1, 40)) AS digest
  FROM documents)
SELECT uri, cast(count(*) as int) AS n_captures, min(ts) AS first_ts,
       max(ts) AS last_ts, cast(count(DISTINCT digest) as int) AS n_payloads,
       arg_max(digest, ts) AS latest_digest
FROM caps GROUP BY uri
"""


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch calibration: for every LSH candidate pair, the
    signature-estimated Jaccard next to the EXACT shingle Jaccard over
    the same shingle universe, plus the absolute error — the evidence a
    pipeline owner needs before trusting the 8-perm sketch's threshold
    at 10^10 docs (E[|err|] ~ sqrt(j(1-j)/8); widening the sketch is a
    one-constant change). Exact Jaccard is computed ONLY on the
    LSH-candidate pairs (sub-quadratic: the shingle equi-join is keyed
    by the candidate ids, never all-pairs). Oracle reuses the exact CTE
    chain of dedup_minhash_lsh so both see identical candidates."""
    docs = _t(spark, sf_dir, "documents")
    # sharing note (measured NEGATIVE, r5): eagerly checkpointing the
    # shingle table to feed the LSH build and both exact-Jaccard legs
    # was ~30% SLOWER than recomputing it — materializing ~5M string
    # rows costs more than re-running the codegen-fused explode from
    # the parquet scan. The shared-`sh` operator API stays (callers at
    # larger shingle/doc ratios may win), but this query keeps the
    # recompute-from-scan plan.
    #
    # exact-Jaccard leg (r5 rewrite): per-doc DISTINCT shingle SETS via
    # collect_set, then two equi-joins keyed by the pair ids and a per-row
    # array_intersect. The prior form exploded pairs x shingles (|pairs| x
    # ~150 rows, ~60M at sf0.1) through a 3-join chain + a wide groupBy;
    # the set form shuffles only |docs| set rows + |pairs| result rows and
    # the intersection runs inside codegen. Shingle sets are bounded by
    # max_chars (<=195 entries), so a set row is ~2KB regardless of corpus
    # scale — at 10^10 docs these joins shuffle by id exactly like any
    # fact-to-fact equi-join, no broadcast assumption.
    sh = D.shingle_stream(docs, _MH_K, _MH_CHARS)
    pairs = D.minhash_lsh_pairs(
        docs, n_hashes=_MH_N, band_size=_MH_BAND,
        k=_MH_K, max_chars=_MH_CHARS, min_est=_MH_MIN, sh=sh)
    sets = sh.groupBy("id").agg(F.collect_set("sh").alias("shs"))
    inter = (pairs
             .join(sets.select(F.col("id").alias("id_a"),
                               F.col("shs").alias("shs_a")), "id_a")
             .join(sets.select(F.col("id").alias("id_b"),
                               F.col("shs").alias("shs_b")), "id_b")
             .select("id_a", "id_b", "est_sim",
                     F.size("shs_a").alias("sz_a"),
                     F.size("shs_b").alias("sz_b"),
                     F.size(F.array_intersect("shs_a", "shs_b")).alias("inter")))
    exact = F.round(F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6)
    return inter.select(
        "id_a", "id_b", "est_sim", exact.alias("exact_j"),
        F.round(F.abs(F.col("est_sim") - exact), 6).alias("abs_err"))


def _minhash_calib_sql() -> str:
    body, matches = _minhash_cte_body()
    return f"""
WITH {body},
est AS (
  SELECT id_a, id_b, round(({matches}) / 8.0, 6) AS est_sim
  FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
  WHERE round(({matches}) / 8.0, 6) >= {_MH_MIN}),
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
xin AS (
  SELECT e.id_a, e.id_b, e.est_sim, count(*) AS inter
  FROM est e JOIN sh a ON a.id = e.id_a JOIN sh b ON b.id = e.id_b AND b.sh = a.sh
  GROUP BY e.id_a, e.id_b, e.est_sim)
SELECT x.id_a, x.id_b, x.est_sim,
       round(x.inter * 1.0 / (sa.sz + sb.sz - x.inter), 6) AS exact_j,
       round(abs(x.est_sim - round(x.inter * 1.0 / (sa.sz + sb.sz - x.inter), 6)), 6) AS abs_err
FROM xin x JOIN sz sa ON sa.id = x.id_a JOIN sz sb ON sb.id = x.id_b
"""


_APPORTION_BUDGET = 10000


def q_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global fetch-budget apportionment across hosts by largest-remainder
    (Hamilton) rounding: quota_h = floor(B * demand_h / total_demand), then
    the leftover seats go to the largest fractional remainders — so
    per-host quotas are integers that sum EXACTLY to the round budget (a
    plain proportional floor under-allocates by up to n_hosts-1 fetches
    every round). Demand here is the host's summed frontier priority.

    Scale shape: one groupBy(host) partial agg; total demand is a scalar
    broadcast back; the remainder rank uses topk.global_row_number
    (range-repartition + per-bucket offsets), NEVER Window.orderBy()'s
    single-task global sort — host cardinality is ~10^8 at web scale.
    Cross-engine float discipline: demand and total are both rounded to 6
    (sums of 6-dp values; partition-order drift ~1e-10 can't move them),
    so the quotient B*demand/total is the identical IEEE double on both
    engines before floor()."""
    return _frozen(_budget_apportion, spark, sf_dir)


def _budget_apportion(spark: SparkSession, sf_dir: str, reg: list) -> DataFrame:
    from distributed_webcrawler_spark.operators.topk import global_row_number

    fr = _frontier(spark, sf_dir)
    w = fr.groupBy("host").agg(
        F.round(F.sum(F.round("priority", 6)), 6).alias("demand"))
    tot = w.agg(F.round(F.sum("demand"), 6).alias("td"))
    q = (F.lit(float(_APPORTION_BUDGET)) * F.col("demand") / F.col("td"))
    base = (w.crossJoin(F.broadcast(tot))
            .select("host", "demand",
                    F.floor(q).cast("bigint").alias("floor_q"),
                    F.round(q - F.floor(q), 9).alias("rem")))
    leftover = base.agg(
        (F.lit(_APPORTION_BUDGET) - F.sum("floor_q")).alias("l"))
    ranked = global_row_number(
        base, [F.col("rem").desc(), F.col("host").asc()], seq_col="seq",
        cache_registry=reg)
    return (ranked.crossJoin(F.broadcast(leftover))
            .select("host", "demand",
                    (F.col("floor_q")
                     + F.when(F.col("seq") <= F.col("l"), 1).otherwise(0))
                    .cast("bigint").alias("quota")))


_Q_APPORTION_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
w AS (SELECT host, round(sum(round(priority, 6)), 6) AS demand
      FROM frontier GROUP BY host),
tot AS (SELECT round(sum(demand), 6) AS td FROM w),
base AS (
  SELECT host, demand,
         cast(floor({_APPORTION_BUDGET} * demand / (SELECT td FROM tot)) as bigint) AS floor_q,
         round({_APPORTION_BUDGET} * demand / (SELECT td FROM tot)
               - floor({_APPORTION_BUDGET} * demand / (SELECT td FROM tot)), 9) AS rem
  FROM w),
lf AS (SELECT {_APPORTION_BUDGET} - sum(floor_q) AS l FROM base),
rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, host ASC) AS seq FROM base)
SELECT host, demand,
       cast(floor_q + CASE WHEN seq <= (SELECT l FROM lf) THEN 1 ELSE 0 END as bigint) AS quota
FROM rk
"""


def q_url_surt_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT canonical sort keys (Sort-friendly URI Reordering Transform —
    the key web archives sort CDX indexes by, public Heritrix/OpenWayback
    convention): reverse the host labels comma-joined, then ')' + path,
    so all URLs of a registrable domain sort contiguously regardless of
    subdomain ('com,example,www)/p/1'). Pure Column string ops embedded
    in the scan — zero shuffle at any corpus size beyond the DISTINCT."""
    fr = _frontier(spark, sf_dir)
    surt = F.concat(
        F.array_join(F.reverse(F.split("host", "[.]")), ","),
        F.lit(")"),
        F.regexp_extract("url", "https://[^/]+(/.*)", 1))
    return fr.select("url", surt.alias("surt_key")).distinct()


_Q_SURT_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL})
SELECT DISTINCT url,
       array_to_string(list_reverse(string_split(host, '.')), ',')
         || ')' || regexp_extract(url, 'https://[^/]+(/.*)', 1) AS surt_key
FROM frontier
"""


def q_image_channel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus color profile: per-channel 16-bucket pixel histogram over
    the REAL Arrow-batched decode of the deterministic payload batch
    (operators/multimodal.py channel_histogram — the partial aggregate
    lives inside the decode task, 48 counter rows per Arrow batch, pixels
    never shuffle). The oracle aggregates a driver-side numpy reference
    pass over the identical codec output, so decode + binning + rollup
    are all hash-gated."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import channel_histogram
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(codec.synth_pixels(iid, w, h), fmt))
         for iid, w, h, fmt in _mm_specs()],
        columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return channel_histogram(payloads)


def _img_hist_sql() -> str:
    import numpy as np

    from distributed_webcrawler_spark.sources import codec

    acc = np.zeros((3, 16), dtype=np.int64)
    for iid, w, h, fmt in _mm_specs():
        px, _ = codec.decode_image(
            codec.encode_image(codec.synth_pixels(iid, w, h), fmt))
        for c in range(3):
            acc[c] += np.bincount((px[:, :, c] >> 4).ravel(), minlength=16)
    vals = ",\n".join(f"({c}, {b}, {int(acc[c][b])})"
                      for c in range(3) for b in range(16))
    return f"""
SELECT cast(channel as int) AS channel, cast(bucket as int) AS bucket,
       cast(n_pixels as bigint) AS n_pixels
FROM (VALUES
{vals}
) AS t(channel, bucket, n_pixels)
"""


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality calibration: recall@5 of the LSH-bucketed search
    against the exact brute-force neighbors, per query vector — the
    companion to minhash_calibration on the embedding side, and the
    number that decides how many hyperplanes/probes the 10^10-vector
    deployment needs. Queries = vec_id%50==0 (the suite's standard query
    set). Plan: ONE signature pass, query-side filter BEFORE the bucket
    equi-join (candidates ~ |bucket| per query, never N^2), both top-5
    rank windows per query, one hits join. A query whose bucket holds no
    other vector scores recall 0, not a dropped row."""
    emb = _t(spark, sf_dir, "embeddings")
    sig = S.lsh_signature(emb, n_planes=_LSH_PLANES, dim=_LSH_DIM)
    from distributed_webcrawler_spark.operators.similarity import cosine

    a = (sig.where(F.col("id") % 50 == 0)
         .select(F.col("id").alias("query_id"), F.col("v").alias("qv"), "bucket"))
    b = sig.select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "bucket")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc())
    lsh = (a.join(b, "bucket")
           .where(F.col("query_id") != F.col("neighbor_id"))
           .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
           .withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") <= 5)
           .select("query_id", "neighbor_id"))
    brute = (S.brute_force_topk(emb.where(F.col("vec_id") % 50 == 0), emb, k=5)
             .select("query_id", "neighbor_id"))
    hits = (brute.join(lsh, ["query_id", "neighbor_id"])
            .groupBy("query_id").agg(F.count("*").alias("n_hits")))
    qset = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"))
    return (qset.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
                    F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(5.0), 6)
                    .alias("recall_at_5")))


def _ann_recall_sql() -> str:
    from distributed_webcrawler_spark.operators.similarity import hyperplane_weights

    bits = []
    for p in range(_LSH_PLANES):
        wt = ", ".join(repr(x) for x in hyperplane_weights(p, _LSH_DIM))
        bits.append(f"(CASE WHEN list_dot_product(cast(embedding as double[]), [{wt}]) > 0"
                    f" THEN {1 << p} ELSE 0 END)")
    sigexpr = " + ".join(bits)
    return f"""
WITH sig AS (SELECT vec_id AS id, cast({sigexpr} as int) AS bucket, embedding FROM embeddings),
cand AS (
  SELECT a.id AS query_id, b.id AS neighbor_id,
         round(list_cosine_similarity(cast(a.embedding as double[]), cast(b.embedding as double[])), 6) AS sim
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.id <> b.id
  WHERE a.id % 50 = 0),
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
    FROM cand) WHERE rk <= 5),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_cosine_similarity(cast(q.embedding as double[]), cast(c.embedding as double[])), 6) DESC,
                                       c.vec_id ASC) AS rk
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id % 50 = 0) WHERE rk <= 5),
hits AS (
  SELECT b.query_id, count(*) AS n_hits
  FROM brute b JOIN lsh l ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
  GROUP BY b.query_id),
q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0)
SELECT q.query_id, cast(coalesce(h.n_hits, 0) as int) AS n_hits,
       round(coalesce(h.n_hits, 0) / 5.0, 6) AS recall_at_5
FROM q LEFT JOIN hits h ON h.query_id = q.query_id
"""


_LPA_ITER = 3


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the host link graph — the
    site-family / link-farm detector that complements dedup_components
    (reachability) and trustrank (seeded authority): LPA groups densely
    interlinked hosts even when a long thin path connects them to
    everything else. Deterministic sync sweeps with most-frequent /
    min-label tie-break (operators/components.py label_propagation);
    report = per-community host counts, communities of one host omitted
    (they're just 'no family found')."""
    from distributed_webcrawler_spark.operators.components import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string")).alias("src"),
        F.concat(F.lit("host"), (F.col("l_partkey") % N_FRONTIER_HOSTS).cast("string")).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    lab = label_propagation(edges, n_iter=_LPA_ITER)
    return (lab.groupBy("community")
            .agg(F.count("*").cast("bigint").alias("n_hosts"))
            .where(F.col("n_hosts") > 1))


def _lpa_sql() -> str:
    parts = [f"""e0 AS (
  SELECT DISTINCT concat('host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar)) AS src,
                  concat('host', cast(l_partkey % {N_FRONTIER_HOSTS} as varchar)) AS dst
  FROM lineitem
  WHERE l_suppkey % {N_FRONTIER_HOSTS} <> l_partkey % {N_FRONTIER_HOSTS}),
sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
l0 AS (SELECT DISTINCT src AS id, src AS lab FROM sym)"""]
    for t in range(_LPA_ITER):
        parts.append(f"""v{t} AS (
  SELECT s.dst AS id, l.lab, count(*) AS n
  FROM sym s JOIN l{t} l ON l.id = s.src GROUP BY s.dst, l.lab),
p{t} AS (
  SELECT id, lab FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY n DESC, lab ASC) AS rk
    FROM v{t}) WHERE rk = 1),
l{t + 1} AS (
  SELECT l.id, coalesce(p.lab, l.lab) AS lab
  FROM l{t} l LEFT JOIN p{t} p ON p.id = l.id)""")
    body = ",\n".join(parts)
    return (f"WITH {body}\nSELECT lab AS community, count(*) AS n_hosts "
            f"FROM l{_LPA_ITER} GROUP BY lab HAVING count(*) > 1")


def q_host_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier skew report — the numbers that justify the scheduler's
    hot-host salting (operators/topk.py) and pick its threshold: host
    count, URL count, top-1 and top-10 host share, and Shannon entropy in
    bits (effective_hosts = 2^entropy is the 'how many hosts is this
    frontier REALLY spread over' figure; Zipf crawl frontiers sit far
    below n_hosts). Plan: one groupBy(host) count, a max + a top-10 rank
    (tiny post-agg table), and an entropy sum — per-term round-to-9 then
    final round-to-6, the suite's ln/log2 ulp discipline. The frontier
    itself is scanned once."""
    fr = _frontier(spark, sf_dir)
    # three consumers (totals, top-10, entropy) read the tiny host-count
    # table: materialize it once (eager checkpoint) instead of re-scanning
    # the frontier per consumer
    counts = (fr.groupBy("host").agg(F.count("*").alias("c"))
              .localCheckpoint(eager=True))
    tot = counts.agg(F.sum("c").alias("n"),
                     F.count("*").alias("n_hosts"),
                     F.max("c").alias("top1"))
    top10 = (counts.orderBy(F.col("c").desc(), F.col("host").asc()).limit(10)
             .agg(F.sum("c").alias("t10")))
    ent = (counts.crossJoin(F.broadcast(tot.select("n")))
           .select(F.round(-(F.col("c") / F.col("n"))
                           * F.log2(F.col("c") / F.col("n")), 9).alias("term"))
           # decimal-exact sum of the 9-dp term grid (see nll_mean note)
           .agg(F.round(F.sum(F.col("term").cast("decimal(20,9)"))
                        .cast("double"), 6).alias("entropy_bits")))
    out = (tot.crossJoin(top10).crossJoin(ent)
           .select(F.col("n_hosts").cast("bigint").alias("n_hosts"),
                   F.col("n").cast("bigint").alias("n_urls"),
                   F.round(F.col("top1") / F.col("n"), 6).alias("top1_share"),
                   F.round(F.col("t10") / F.col("n"), 6).alias("top10_share"),
                   "entropy_bits"))
    return out


_Q_SKEW_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
counts AS (SELECT host, count(*) AS c FROM frontier GROUP BY host),
tot AS (SELECT sum(c) AS n, count(*) AS n_hosts, max(c) AS top1 FROM counts),
rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, host ASC) AS rn FROM counts),
t10 AS (SELECT sum(c) AS t10 FROM rk WHERE rn <= 10),
ent AS (SELECT round(cast(sum(cast(round(-(c * 1.0 / (SELECT n FROM tot))
                               * log2(c * 1.0 / (SELECT n FROM tot)), 9) as decimal(20,9))) as double), 6) AS entropy_bits
        FROM counts)
SELECT cast(tot.n_hosts as bigint) AS n_hosts, cast(tot.n as bigint) AS n_urls,
       round(tot.top1 * 1.0 / tot.n, 6) AS top1_share,
       round(t10.t10 * 1.0 / tot.n, 6) AS top10_share,
       ent.entropy_bits
FROM tot, t10, ent
"""


_RSZ_W, _RSZ_H = 24, 24


def q_image_resize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-path gate: run the REAL Arrow-batched nearest-neighbor
    resize + lossless re-encode over the deterministic payload batch and
    report each output's dims and the md5 of its re-encoded container —
    so the whole decode -> index-map resize -> encode -> Arrow round trip
    is BYTE-exact against a driver-side numpy reference (the oracle holds
    hashlib digests of the same math). Closes the gate on the one
    multimodal op (resize) the decode/stats queries didn't cover."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import resize
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(codec.synth_pixels(iid, w, h), fmt))
         for iid, w, h, fmt in _mm_specs()],
        columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (resize(payloads, _RSZ_W, _RSZ_H)
            .select("image_id", "w", "h", "fmt", F.md5("bytes").alias("digest")))


def _img_resize_sql() -> str:
    import hashlib

    import numpy as np

    from distributed_webcrawler_spark.sources import codec

    rows = []
    for iid, w, h, fmt in _mm_specs():
        px, _ = codec.decode_image(
            codec.encode_image(codec.synth_pixels(iid, w, h), fmt))
        ys = (np.arange(_RSZ_H) * px.shape[0] // _RSZ_H).astype(int)
        xs = (np.arange(_RSZ_W) * px.shape[1] // _RSZ_W).astype(int)
        out = codec.encode_image(px[ys][:, xs], "png")
        rows.append((iid, hashlib.md5(out).hexdigest()))
    vals = ",\n".join(f"('{iid}', {_RSZ_W}, {_RSZ_H}, 'png', '{dg}')"
                      for iid, dg in rows)
    return f"""
SELECT image_id, cast(w as int) AS w, cast(h as int) AS h, fmt, digest
FROM (VALUES
{vals}
) AS t(image_id, w, h, fmt, digest)
"""


_AU_ND_HAM = 3


def _au_nd_payloads() -> list:
    """The audio_features spec batch plus planted near-dups: the first 4
    wav clips re-encoded LOSSY under '<id>-dup' — the quantizer perturbs
    samples slightly, so the energy-delta fingerprint lands a few bits
    away (the Haitsma-Kalker robustness property the banded search
    exists to exploit). Returns (audio_id, container_bytes)."""
    from distributed_webcrawler_spark.sources import codec

    out = []
    planted = 0
    for aid, n, sr, fmt in _au_specs():
        pcm = codec.synth_pcm(aid, n, sr)
        out.append((aid, codec.encode_audio(pcm, sr, fmt)))
        if fmt == "wav" and planted < 4:
            out.append((f"{aid}-dup", codec.encode_audio(pcm, sr, "aac")))
            planted += 1
    return out


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs gated end-to-end: real Arrow-batched decode ->
    afp64 fingerprint -> generic banded Hamming search (the same
    hamming_banded_pairs images use; post-decode shuffle carries 16
    bytes/row, never samples). The batch plants lossy re-encodes of 4
    clips so the pair set is non-trivial; the oracle recomputes afp64
    driver-side and brute-forces bit_count(xor) over the VALUES — with 4
    bands and Hamming<=3 the pigeonhole guarantees band search == brute
    filter, so the banding itself is what's being gated."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import audio_near_dup_pairs

    pdf = pd.DataFrame(_au_nd_payloads(), columns=["audio_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (audio_near_dup_pairs(payloads, max_hamming=_AU_ND_HAM)
            .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming")))


def _au_nd_sql() -> str:
    from distributed_webcrawler_spark.sources import codec

    sigs = []
    for aid, data in _au_nd_payloads():
        x, _, _ = codec.decode_audio(data)
        sigs.append((aid, codec.afp64(x)))
    vals = ",\n".join(f"('{aid}', {afp})" for aid, afp in sigs)
    return f"""
WITH sig AS (
  SELECT * FROM (VALUES
{vals}
  ) AS t(id, afp))
SELECT a.id AS id_a, b.id AS id_b,
       cast(bit_count(xor(a.afp, b.afp)) as int) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.afp, b.afp)) <= {_AU_ND_HAM}
"""


def q_robots_block_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host robots compliance report: how much of the frontier each
    host's robots.txt actually blocks — the number a crawl operator reads
    before deciding whether a host is worth its politeness budget. Robots
    are synthesized per host in-query (established pattern: hid%5==0
    disallows the whole /p tree, %5==1 disallows the /p/1 prefix, others
    allow all), the allow-first prefix check is pure Column string math
    on the URL path, and the report is ONE groupBy(host). Block rate is
    exact-integer-ratio rounded to 6 for cross-engine parity."""
    fr = _frontier(spark, sf_dir)
    hid = F.regexp_extract("host", "([0-9]+)", 1).cast("int")
    path = F.regexp_extract("url", "https://[^/]+(/.*)", 1)
    deny_prefix = (F.when(hid % 5 == 0, F.lit("/p"))
                   .when(hid % 5 == 1, F.lit("/p/1"))
                   .otherwise(F.lit(None).cast("string")))
    blocked = (deny_prefix.isNotNull()
               & path.startswith(deny_prefix)).cast("int")
    return (fr.select("host", blocked.alias("blocked"))
            .groupBy("host")
            .agg(F.count("*").cast("bigint").alias("n_urls"),
                 F.sum("blocked").cast("bigint").alias("n_blocked"),
                 F.round(F.sum("blocked") / F.count("*"), 6).alias("block_rate")))


_Q_ROBOTS_RATE_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
g AS (
  SELECT host,
         CASE WHEN cast(regexp_extract(host, '([0-9]+)', 1) as int) % 5 = 0
                THEN CASE WHEN regexp_extract(url, 'https://[^/]+(/.*)', 1) LIKE '/p%' THEN 1 ELSE 0 END
              WHEN cast(regexp_extract(host, '([0-9]+)', 1) as int) % 5 = 1
                THEN CASE WHEN regexp_extract(url, 'https://[^/]+(/.*)', 1) LIKE '/p/1%' THEN 1 ELSE 0 END
              ELSE 0 END AS blocked
  FROM frontier)
SELECT host, count(*) AS n_urls, cast(sum(blocked) as bigint) AS n_blocked,
       round(sum(blocked) * 1.0 / count(*), 6) AS block_rate
FROM g GROUP BY host
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot diff — the recrawl feedback artifact: compare two
    capture generations of the corpus by content digest and classify
    every URL as added / removed / changed / unchanged, rolled up per
    source. Generations are synthesized deterministically from documents
    (t1 skips doc_id%10==0, t2 skips %7==0, and %3==0 pages changed
    content in t2), so every class is populated. Plan: ONE full outer
    join on doc_id (the one join shape the rest of the suite doesn't
    exercise) + CASE classify + groupBy(source) rollup; digests are md5
    so both engines agree byte-for-byte. Change rates per source feed
    recrawl_schedule's TTL ladder."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t1 = (docs.where(d % 10 != 0)
          .select("doc_id", "source", F.md5("text").alias("dg1")))
    t2 = (docs.where(d % 7 != 0)
          .select("doc_id", "source",
                  F.md5(F.when(d % 3 == 0, F.concat(F.col("text"), F.lit("|v2")))
                        .otherwise(F.col("text"))).alias("dg2")))
    j = (t1.alias("a").join(t2.alias("b"), "doc_id", "full_outer")
         .select(F.coalesce("a.source", "b.source").alias("source"),
                 F.when(F.col("dg1").isNull(), F.lit("added"))
                  .when(F.col("dg2").isNull(), F.lit("removed"))
                  .when(F.col("dg1") != F.col("dg2"), F.lit("changed"))
                  .otherwise(F.lit("unchanged")).alias("status")))
    return (j.groupBy("source", "status")
            .agg(F.count("*").cast("bigint").alias("n")))


_Q_SNAPDIFF_SQL = """
WITH t1 AS (
  SELECT doc_id, source, md5(text) AS dg1 FROM documents WHERE doc_id % 10 <> 0),
t2 AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 3 = 0 THEN text || '|v2' ELSE text END) AS dg2
  FROM documents WHERE doc_id % 7 <> 0),
j AS (
  SELECT coalesce(t1.source, t2.source) AS source,
         CASE WHEN dg1 IS NULL THEN 'added'
              WHEN dg2 IS NULL THEN 'removed'
              WHEN dg1 <> dg2 THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM t1 FULL OUTER JOIN t2 ON t1.doc_id = t2.doc_id)
SELECT source, status, count(*) AS n FROM j GROUP BY source, status
"""


_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel over the event stream (view -> click ->
    purchase, each step's event strictly AFTER the user's previous step):
    users reached per step + conversion rate vs the previous step. The
    order constraint is what a naive per-type count gets wrong.

    Plan: one filtered min(ts) agg per step, each joined to the previous
    step's user set — K tiny user-keyed shuffles for a K-step funnel
    (never a per-user sort or UDF); rates are exact-int ratios rounded
    to 6."""
    ev = _t(spark, sf_dir, "events")
    counts = [ev.select("user_id").distinct().count()]
    prev = None
    for step in _FUNNEL_STEPS:
        cur = ev.where(F.col("event_type") == step)
        if prev is not None:
            cur = (cur.join(prev, "user_id")
                   .where(F.col("ts") > F.col("prev_ts")))
        cur = cur.groupBy("user_id").agg(F.min("ts").alias("prev_ts"))
        counts.append(cur.count())
        prev = cur
    rows = [(i + 1, step, counts[i + 1],
             round(counts[i + 1] / counts[i], 6) if counts[i] else 0.0)
            for i, step in enumerate(_FUNNEL_STEPS)]
    return spark.createDataFrame(
        rows, "step int, event_type string, n_users bigint, conv_rate double")


def _funnel_sql() -> str:
    body = ["u0 AS (SELECT count(DISTINCT user_id) AS n FROM events)"]
    prev = None
    for i, step in enumerate(_FUNNEL_STEPS, start=1):
        if prev is None:
            body.append(f"""s{i} AS (
  SELECT user_id, min(ts) AS prev_ts FROM events
  WHERE event_type = '{step}' GROUP BY user_id)""")
        else:
            body.append(f"""s{i} AS (
  SELECT e.user_id, min(e.ts) AS prev_ts
  FROM events e JOIN s{i - 1} p ON p.user_id = e.user_id
  WHERE e.event_type = '{step}' AND e.ts > p.prev_ts
  GROUP BY e.user_id)""")
        prev = step
    selects = []
    for i, step in enumerate(_FUNNEL_STEPS, start=1):
        denom = "(SELECT n FROM u0)" if i == 1 else f"(SELECT count(*) FROM s{i - 1})"
        selects.append(
            f"SELECT {i} AS step, '{step}' AS event_type, "
            f"count(*) AS n_users, "
            f"round(count(*) * 1.0 / {denom}, 6) AS conv_rate FROM s{i}")
    return "WITH " + ",\n".join(body) + "\n" + "\nUNION ALL\n".join(selects)


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph degree distribution (the power-law summary every crawl
    paper plots): per direction, bucket hosts by floor(log2(degree)) and
    count — the input for choosing skew-salting thresholds and for
    spotting crawl traps (a host whose in-degree bucket jumps a decade).
    floor(log2(int)) is cross-engine-safe: log2 of a power of two is an
    exact IEEE double, and log2 of any other integer is never integral.
    Plan: two degree aggs + a bucket agg each — three narrow shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string")).alias("src"),
        F.concat(F.lit("host"), (F.col("l_partkey") % N_FRONTIER_HOSTS).cast("string")).alias("dst"),
    ).where(F.col("src") != F.col("dst")).distinct()
    out = []
    for direction, key in (("out", "src"), ("in", "dst")):
        deg = edges.groupBy(key).agg(F.count("*").alias("deg"))
        out.append(deg.select(
            F.lit(direction).alias("direction"),
            F.floor(F.log2("deg")).cast("int").alias("log2_bucket"))
            .groupBy("direction", "log2_bucket")
            .agg(F.count("*").cast("bigint").alias("n_hosts")))
    return out[0].unionByName(out[1])


_Q_DEGHIST_SQL = f"""
WITH e AS (
  SELECT DISTINCT concat('host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar)) AS src,
                  concat('host', cast(l_partkey % {N_FRONTIER_HOSTS} as varchar)) AS dst
  FROM lineitem
  WHERE l_suppkey % {N_FRONTIER_HOSTS} <> l_partkey % {N_FRONTIER_HOSTS}),
od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
idg AS (SELECT dst, count(*) AS deg FROM e GROUP BY dst)
SELECT 'out' AS direction, cast(floor(log2(deg)) as int) AS log2_bucket,
       count(*) AS n_hosts FROM od GROUP BY 2
UNION ALL
SELECT 'in' AS direction, cast(floor(log2(deg)) as int) AS log2_bucket,
       count(*) AS n_hosts FROM idg GROUP BY 2
"""


# --- HyperLogLog distinct sketch ------------------------------------------
# m = 2^8 = 256 registers; alpha_m per Flajolet et al. 2007 (public paper).
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)  # embedded as repr on both engines


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog frontier cardinality — the mergeable sketch that
    answers "how many distinct URLs has this crawl seen" WITHOUT the full
    shuffle `count(distinct)` needs: at 10^10 URLs the exact count is a
    60-byte-per-row shuffle of the whole frontier, while HLL is a
    constant 256-register partial agg that merges across partitions,
    rounds, and checkpoints (same lifecycle as the bloom shards).

    Cross-engine float discipline: registers are exact integers
    (register = h % m, rho = 53 - bitlen(h div m) via unpadded binary
    strings on both engines), and the harmonic sum is computed as an
    EXACT integer Σ 2^(53-Mj) (max 256·2^53 < 2^63) so the only float
    ops are one division + one multiply chain, identical IEEE on both
    engines. Exact distinct is computed alongside ONLY as the sf0.01
    demo column — at scale you'd drop it; rel_err is the point.

    Ref parity: the reference sizes its (declared, unimplemented) bloom
    at 10^7 insertions (application.properties:33-34) but has no way to
    measure how full it is; this sketch is that missing gauge."""
    from distributed_webcrawler_spark.operators.sketch import hll_estimate, hll_registers

    fr = _frontier(spark, sf_dir)
    reg = hll_registers(fr, "url", p=8)
    exact = fr.agg(F.countDistinct("url").alias("exact_distinct"))
    scal = (hll_estimate(reg, p=8).crossJoin(F.broadcast(exact))
            .select("hll_estimate", "exact_distinct",
                    F.round(F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
                            / F.col("exact_distinct"), 6).alias("rel_err")))
    return (reg.crossJoin(F.broadcast(scal))
            .select("register", "max_rho",
                    "hll_estimate", "exact_distinct", "rel_err"))


def _hll_sql() -> str:
    raw = (f"(({_HLL_ALPHA!r}::DOUBLE * {float(_HLL_M * _HLL_M)!r}::DOUBLE)"
           f" * 9007199254740992.0::DOUBLE) / s_int")
    est = (f"round(CASE WHEN v_empty > 0 AND {raw} <= {2.5 * _HLL_M!r}::DOUBLE"
           f" THEN {float(_HLL_M)!r}::DOUBLE * ln({float(_HLL_M)!r}::DOUBLE / v_empty)"
           f" ELSE {raw} END, 4)")
    return f"""
WITH frontier AS ({_FRONTIER_SQL}),
hw AS (
  SELECT cast({h64_sql("url")} % {_HLL_M} as int) AS register,
         ({h64_sql("url")} // {_HLL_M}) AS w
  FROM frontier),
reg AS (
  SELECT register,
         cast(max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) as int) AS max_rho
  FROM hw GROUP BY register),
summ AS (
  SELECT sum((1::BIGINT << (53 - max_rho)))
           + ({_HLL_M} - count(*)) * 9007199254740992 AS s_int,
         cast({_HLL_M} - count(*) as bigint) AS v_empty
  FROM reg),
exact AS (SELECT count(DISTINCT url) AS exact_distinct FROM frontier),
scal AS (
  SELECT {est} AS hll_estimate, exact_distinct,
         round(abs({est} - exact_distinct) * 1.0 / exact_distinct, 6) AS rel_err
  FROM summ CROSS JOIN exact)
SELECT register, max_rho, hll_estimate, exact_distinct, rel_err
FROM reg CROSS JOIN scal
"""


# --- URL template mining ----------------------------------------------------
_TMPL_TRAP_N = 1000


def q_url_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template mining — collapse every URL to its structural
    template (digit runs -> 'N') and profile the URL space: crawler-trap
    detection (one template generating unbounded URLs: calendars,
    session ids, pagination), dedup-rule candidates (DUST-style), and a
    compression figure for frontier storage. The synthetic URL set is
    built from orders so several templates coexist (priority segment ×
    optional ?page= param).

    Plan shape: one regexp_replace projection (JVM codegen, no UDF) +
    one groupBy(template) with map-side partial agg — the template
    dimension is tiny (product of site layouts, not of URLs), so the
    shuffle is constant-width regardless of corpus size."""
    o = _t(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://shop"), (F.col("o_custkey") % 50).cast("string"),
        F.lit(".example.test/"),
        F.lower(F.col("o_orderpriority")),
        F.lit("/item"), F.col("o_orderkey").cast("string"),
        F.when(F.col("o_orderkey") % 3 == 0,
               F.concat(F.lit("?page="), (F.col("o_orderkey") % 11).cast("string")))
        .otherwise(F.lit("")))
    host = F.concat(F.lit("shop"), (F.col("o_custkey") % 50).cast("string"),
                    F.lit(".example.test"))
    rows = o.select(F.regexp_replace(url, "[0-9]+", "N").alias("template"),
                    host.alias("host"))
    return (rows.groupBy("template")
            .agg(F.count("*").cast("bigint").alias("n_urls"),
                 F.countDistinct("host").cast("bigint").alias("n_hosts"))
            .select("template", "n_urls", "n_hosts",
                    F.round(F.col("n_urls") / F.col("n_hosts"), 6)
                    .alias("urls_per_host"),
                    (F.col("n_urls") >= _TMPL_TRAP_N).alias("trap_risk")))


_Q_TMPL_SQL = f"""
WITH u AS (
  SELECT regexp_replace(
           concat('https://shop', cast(o_custkey % 50 as varchar), '.example.test/',
                  lower(o_orderpriority), '/item', cast(o_orderkey as varchar),
                  CASE WHEN o_orderkey % 3 = 0
                       THEN concat('?page=', cast(o_orderkey % 11 as varchar))
                       ELSE '' END),
           '[0-9]+', 'N', 'g') AS template,
         concat('shop', cast(o_custkey % 50 as varchar), '.example.test') AS host
  FROM orders)
SELECT template, count(*) AS n_urls, count(DISTINCT host) AS n_hosts,
       round(count(*) * 1.0 / count(DISTINCT host), 6) AS urls_per_host,
       count(*) >= {_TMPL_TRAP_N} AS trap_risk
FROM u GROUP BY template
"""


# --- host co-citation similarity -------------------------------------------
_COCITE_CAP, _COCITE_MIN, _COCITE_HOSTS = 12, 5, 200


def q_host_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host co-citation similarity — two hosts are related if the same
    pages link to both (Small 1973; the seed-expansion signal: "crawl
    what's co-cited with my vetted seeds"). The citing side is the
    orders-derived page set (pages cite the hosts of their orders'
    links) so out-degrees are naturally sparse and varied. Pairs come
    from a self-join of the out-edge list on src, so a hub src with
    out-degree d emits d² pairs — the classic quadratic skew bomb. The
    scale guard is explicit: srcs with out-degree > 12 are EXCLUDED
    (standard practice in co-citation/collab-filter systems — a page
    linking to everything carries no signal; at sf0.01 the cap visibly
    binds, dropping ~18% of srcs), bounding pairs at cap²/2 per src.
    Similarity = cocite / sqrt(indeg_a·indeg_b) (cosine on the exact
    integer counts), pairs reported at cocite >= 5."""
    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("page"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("host"), (F.col("o_orderkey") % _COCITE_HOSTS).cast("string")).alias("dst"),
    ).distinct()
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    kept = (edges.join(deg.where(F.col("outdeg") <= _COCITE_CAP), "src")
            .select("src", "dst"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (a.join(b, (F.col("a.src") == F.col("b.src"))
                    & (F.col("a.dst") < F.col("b.dst")))
             .groupBy(F.col("a.dst").alias("host_a"), F.col("b.dst").alias("host_b"))
             .agg(F.count("*").cast("bigint").alias("cocite"))
             .where(F.col("cocite") >= _COCITE_MIN))
    indeg = kept.groupBy("dst").agg(F.count("*").alias("indeg"))
    return (pairs
            .join(indeg.withColumnRenamed("dst", "host_a")
                  .withColumnRenamed("indeg", "indeg_a"), "host_a")
            .join(indeg.withColumnRenamed("dst", "host_b")
                  .withColumnRenamed("indeg", "indeg_b"), "host_b")
            .select("host_a", "host_b", "cocite",
                    F.round(F.col("cocite")
                            / F.sqrt(F.col("indeg_a") * F.col("indeg_b")), 6)
                    .alias("cosine")))


_Q_COCITE_SQL = f"""
WITH e AS (
  SELECT DISTINCT concat('page', cast(o_custkey as varchar)) AS src,
                  concat('host', cast(o_orderkey % {_COCITE_HOSTS} as varchar)) AS dst
  FROM orders),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
kept AS (SELECT e.src, e.dst FROM e JOIN deg d ON d.src = e.src
         WHERE d.outdeg <= {_COCITE_CAP}),
pairs AS (
  SELECT a.dst AS host_a, b.dst AS host_b, count(*) AS cocite
  FROM kept a JOIN kept b ON a.src = b.src AND a.dst < b.dst
  GROUP BY 1, 2 HAVING count(*) >= {_COCITE_MIN}),
indeg AS (SELECT dst, count(*) AS indeg FROM kept GROUP BY dst)
SELECT p.host_a, p.host_b, p.cocite,
       round(p.cocite / sqrt(ia.indeg * ib.indeg), 6) AS cosine
FROM pairs p JOIN indeg ia ON ia.dst = p.host_a
             JOIN indeg ib ON ib.dst = p.host_b
"""


def q_crawl_makespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl makespan forecast — given the politeness budget of
    100 fetches/host/round, how many rounds until each host's
    pending queue drains, and how long the whole frontier takes (the
    makespan = the slowest host, which is what actually bounds a polite
    crawl — adding executors cannot make one host go faster). Pure
    integer math ((pending + B-1) div B), one groupBy(host) + a scalar
    max broadcast; the capacity-planning twin of budget_apportion."""
    fr = _frontier(spark, sf_dir)
    per = (fr.groupBy("host").agg(F.count("*").cast("bigint").alias("pending"))
           .select("host", "pending",
                   F.expr(f"CAST((pending + {HOST_BUDGET - 1}) DIV {HOST_BUDGET} AS INT)")
                   .alias("drain_rounds"),
                   F.expr(f"CAST(pending - (pending - 1) DIV {HOST_BUDGET} * {HOST_BUDGET} AS BIGINT)")
                   .alias("last_round_urls")))
    mk = per.agg(F.max("drain_rounds").alias("makespan_rounds"))
    return (per.crossJoin(F.broadcast(mk))
            .select("host", "pending", "drain_rounds", "last_round_urls",
                    F.col("makespan_rounds").cast("int").alias("makespan_rounds")))


_TMIX_ALPHAS = [0.3, 0.7, 1.0]
_TMIX_SCALE = 1_000_000_000_000


def q_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing — the α-smoothing every
    multilingual/multi-source pretraining recipe applies (XLM-R §3.1,
    public literature): sampling weight w_s ∝ p_s^α, swept at α = 0.3 /
    0.7 / 1.0, with the expected per-source document draw for a corpus-
    sized sample. α=1 reproduces the natural mix; α<1 up-weights tail
    sources (the whole point). Float discipline: p^α is one identical
    pow() per source, then fixed-point-scaled to bigint so the
    normalizing sum is exact in any order; the weight division is the
    only remaining float op."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(F.count("*").alias("n"))
    tot = per.agg(F.sum("n").alias("t"))
    outs = []
    for a in _TMIX_ALPHAS:
        xi = F.round(F.pow(F.col("n") / F.col("t"), F.lit(a))
                     * F.lit(float(_TMIX_SCALE))).cast("bigint")
        base = (per.crossJoin(F.broadcast(tot)).select(
            F.lit(a).alias("alpha"), "lang",
            F.col("n").cast("bigint").alias("n_docs"), "t", xi.alias("xi")))
        z = base.agg(F.sum("xi").alias("z"))
        outs.append(base.crossJoin(F.broadcast(z)).select(
            "alpha", "lang", "n_docs",
            F.round(F.col("xi") / F.col("z"), 6).alias("weight"),
            F.round(F.col("xi") / F.col("z") * F.col("t")).cast("bigint")
            .alias("expected_docs")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _tmix_sql() -> str:
    sel = "\nUNION ALL\n".join(f"""
SELECT {a!r} AS alpha, lang, cast(n as bigint) AS n_docs,
       round(xi * 1.0 / (sum(xi) OVER ()), 6) AS weight,
       cast(round(xi * 1.0 / (sum(xi) OVER ()) * t) as bigint) AS expected_docs
FROM (
  SELECT lang, n, t,
         cast(round(pow(n * 1.0 / t, {a!r}) * {float(_TMIX_SCALE)!r}) as bigint) AS xi
  FROM per CROSS JOIN tot)""" for a in _TMIX_ALPHAS)
    return f"""
WITH per AS MATERIALIZED (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
tot AS (SELECT sum(n) AS t FROM per)
{sel}
"""


_ENORM_SCALE, _ENORM_BIN = 1_000_000_000_000, 0.25


def q_embedding_norm_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene histogram — per label, the distribution of
    vector L2 norms in 0.25-wide bins plus the zero-vector count: the
    check run before ANY cosine operator (a zero vector poisons cosine
    with NaN; a norm outlier usually means a truncated or unnormalized
    batch). Float discipline: each element's x² is scaled to a 10^12
    fixed-point bigint per element (identical per-element IEEE ops both
    engines), so the per-vector sum is an EXACT integer in any order —
    the only norm float op is one sqrt of that integer. Constant-width
    (label × bin) shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    s_int = F.expr(
        f"aggregate(transform(embedding, x -> cast(round(cast(x as double)"
        f" * cast(x as double) * {float(_ENORM_SCALE)!r}) as bigint)),"
        f" cast(0 as bigint), (a, i) -> a + i)")
    norm = F.sqrt(s_int / F.lit(float(_ENORM_SCALE)))
    rows = emb.select("label", s_int.alias("s"), norm.alias("norm"))
    return (rows.groupBy("label",
                         F.floor(F.col("norm") / _ENORM_BIN).cast("int")
                         .alias("norm_bin"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum((F.col("s") == 0).cast("int")).cast("bigint")
                 .alias("n_zero"))
            .select(F.col("label").cast("int").alias("label"),
                    "norm_bin", "n", "n_zero"))


_Q_ENORM_SQL = f"""
WITH el AS (
  SELECT vec_id, label,
         cast(round(cast(x as double) * cast(x as double)
                    * {float(_ENORM_SCALE)!r}) as bigint) AS xi
  FROM (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings)),
pv AS (
  SELECT vec_id, label, sum(xi) AS s,
         sqrt(sum(xi) / {float(_ENORM_SCALE)!r}) AS norm
  FROM el GROUP BY vec_id, label)
SELECT cast(label as int) AS label,
       cast(floor(norm / {_ENORM_BIN!r}) as int) AS norm_bin,
       cast(count(*) as bigint) AS n,
       cast(coalesce(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END), 0) as bigint) AS n_zero
FROM pv GROUP BY 1, 2
"""


def q_recrawl_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate estimation for freshness-optimal recrawl — the
    Cho & Garcia-Molina (TOIT 2003) estimator, public literature: pages
    change as a Poisson process, and from ONE revisit that found
    changed/unchanged you estimate λ̂ = -ln(1 - X/n) changes per revisit
    interval (the naive X/n underestimates because a page can change
    twice between visits). Per source over the same two synthesized
    capture generations as snapshot_diff (pages present in both):
    n pages, changed count, naive fraction, λ̂, and the suggested
    revisit interval 1/λ̂ in units of the capture gap. Exact integer
    counts; one ln per source."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    both = (docs.where((d % 10 != 0) & (d % 7 != 0))
            .select("doc_id", "source", (d % 3 == 0).alias("changed")))
    per = (both.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("changed").cast("int")).alias("x")))
    frac = F.col("x") / F.col("n")
    lam = -F.log(F.lit(1.0) - frac)
    return per.select(
        "source", F.col("n").cast("bigint").alias("n_pages"),
        F.col("x").cast("bigint").alias("n_changed"),
        F.round(frac, 6).alias("change_frac"),
        F.round(lam, 6).alias("lambda_hat"),
        F.round(F.lit(1.0) / lam, 6).alias("revisit_interval"))


_Q_LAMBDA_SQL = """
WITH both_ AS (
  SELECT doc_id, source, (doc_id % 3 = 0) AS changed
  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 7 <> 0),
per AS (
  SELECT source, count(*) AS n, sum(CASE WHEN changed THEN 1 ELSE 0 END) AS x
  FROM both_ GROUP BY source)
SELECT source, cast(n as bigint) AS n_pages, cast(x as bigint) AS n_changed,
       round(x * 1.0 / n, 6) AS change_frac,
       round(-ln(1.0 - x * 1.0 / n), 6) AS lambda_hat,
       round(1.0 / (-ln(1.0 - x * 1.0 / n)), 6) AS revisit_interval
FROM per
"""


def q_recrawl_due_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acting half of the Cho & Garcia-Molina freshness loop: from
    the per-source λ̂ that q_recrawl_lambda estimates, select which pages
    are DUE for recrawl now — age (rounds since last fetch, synthesized
    doc_id % 17) at or past the source's optimal revisit interval 1/λ̂ —
    and rank them by freshness debt λ̂·age. This is exactly the input the
    engine's reinject_for_recrawl(urls) consumes after the cuckoo
    seen-set eviction makes re-entry possible (plans/engine.py).

    Cross-engine determinism: λ̂ is one ln over exact integer ratios, so
    both engines produce the identical double; the due comparison uses
    those unrounded doubles; only the reported columns round (6dp).
    Scale: the λ table is a per-source dimension (broadcast); the due
    filter is a per-row comparison — one broadcast join, zero extra
    shuffle over the corpus."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    both = (docs.where((d % 10 != 0) & (d % 7 != 0))
            .select("doc_id", "source", (d % 3 == 0).alias("changed")))
    per = (both.groupBy("source")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("changed").cast("int")).alias("x")))
    lam = -F.log(F.lit(1.0) - F.col("x") / F.col("n"))
    rates = per.select("source", lam.alias("lam"),
                       (F.lit(1.0) / lam).alias("revisit"))
    aged = both.select("doc_id", "source", (d % 17).cast("double").alias("age"))
    j = aged.join(F.broadcast(rates), "source")
    return (j.where(F.col("age") >= F.col("revisit"))
            .select("doc_id", "source",
                    F.col("age").cast("int").alias("age_rounds"),
                    F.round(F.col("lam") * F.col("age"), 6).alias("freshness_debt"))
            .orderBy(F.col("freshness_debt").desc(), F.col("doc_id").asc()))


_Q_RECRAWL_DUE_SQL = """
WITH both_ AS (
  SELECT doc_id, source, (doc_id % 3 = 0) AS changed
  FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 7 <> 0),
per AS (
  SELECT source, count(*) AS n, sum(CASE WHEN changed THEN 1 ELSE 0 END) AS x
  FROM both_ GROUP BY source),
rates AS (
  SELECT source, -ln(1.0 - x * 1.0 / n) AS lam,
         1.0 / (-ln(1.0 - x * 1.0 / n)) AS revisit
  FROM per),
aged AS (
  SELECT doc_id, source, cast(doc_id % 17 as double) AS age FROM both_)
SELECT a.doc_id, a.source, cast(a.age as int) AS age_rounds,
       round(r.lam * a.age, 6) AS freshness_debt
FROM aged a JOIN rates r USING (source)
WHERE a.age >= r.revisit
ORDER BY freshness_debt DESC, doc_id ASC
"""


_OOV_VOCAB = 20


def q_tokenizer_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit report — out-of-vocabulary rate per source against a
    corpus-derived vocabulary (the top-20 terms by frequency, ties by
    term ASC): the health check run before committing a tokenizer/vocab
    to a 10^10-token corpus (a source whose OOV rate spikes is a
    different register/language than the vocab was fit on). The vocab is
    a bounded TakeOrderedAndProject broadcast; token membership is one
    broadcast left join; counts are exact integers."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .alias("term"))
    vocab = K.global_topk(
        toks.groupBy("term").agg(F.count("*").alias("freq")),
        [F.col("freq").desc(), F.col("term").asc()], _OOV_VOCAB).select("term")
    j = toks.join(F.broadcast(vocab.withColumn("iv", F.lit(1))), "term", "left")
    return (j.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_tokens"),
                 F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_oov"))
            .select("source", "n_tokens", "n_oov",
                    F.round(F.col("n_oov") / F.col("n_tokens"), 6)
                    .alias("oov_rate")))


_Q_OOV_SQL = f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS freq FROM toks GROUP BY term)
  ORDER BY freq DESC, term ASC LIMIT {_OOV_VOCAB})
SELECT source, cast(count(*) as bigint) AS n_tokens,
       cast(coalesce(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END), 0) as bigint) AS n_oov,
       round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.term = t.term
GROUP BY source
"""


def q_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings — the KPI a training-data owner actually reports:
    per language, documents and tokens BEFORE vs AFTER near-dup removal
    (MinHash-LSH pairs -> connected components -> keep the min-id
    representative per cluster, the engine's first-wins rule), plus the
    token reduction fraction. Composes three already-gated pieces
    (minhash pairs, components, token counts) into the number that
    justifies running them at 10^10 docs."""
    from distributed_webcrawler_spark.operators.components import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, n_hashes=_MH_N, band_size=_MH_BAND,
                                k=_MH_K, max_chars=_MH_CHARS, min_est=_MH_MIN)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    drop = (comp.where(F.col("id") != F.col("component"))
            .select(F.col("id").alias("doc_id")))
    base = docs.withColumn("tc", X.token_count("text"))
    kept = base.join(drop, "doc_id", "left_anti")
    b = base.groupBy("lang").agg(F.count("*").alias("n_docs"),
                                 F.sum("tc").alias("n_tokens"))
    k = kept.groupBy("lang").agg(F.count("*").alias("n_docs_kept"),
                                 F.sum("tc").alias("n_tokens_kept"))
    return (b.join(k, "lang")
            .select("lang", F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.col("n_docs_kept").cast("bigint").alias("n_docs_kept"),
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    F.col("n_tokens_kept").cast("bigint").alias("n_tokens_kept"),
                    F.round((F.col("n_tokens") - F.col("n_tokens_kept"))
                            / F.col("n_tokens"), 6).alias("token_reduction")))


def _dedup_savings_sql() -> str:
    body, matches = _minhash_cte_body()
    return f"""
WITH RECURSIVE {body},
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
  WHERE round(({matches}) / 8.0, 6) >= {_MH_MIN}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT DISTINCT src AS id, src AS r FROM edges
  UNION
  SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
drop_ AS (SELECT id AS doc_id FROM comp WHERE id <> component),
base AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tc
  FROM documents),
b AS (SELECT lang, count(*) AS n_docs, sum(tc) AS n_tokens
      FROM base GROUP BY lang),
k AS (SELECT lang, count(*) AS n_docs_kept, sum(tc) AS n_tokens_kept
      FROM base WHERE doc_id NOT IN (SELECT doc_id FROM drop_) GROUP BY lang)
SELECT b.lang, cast(b.n_docs as bigint) AS n_docs,
       cast(k.n_docs_kept as bigint) AS n_docs_kept,
       cast(b.n_tokens as bigint) AS n_tokens,
       cast(k.n_tokens_kept as bigint) AS n_tokens_kept,
       round((b.n_tokens - k.n_tokens_kept) * 1.0 / b.n_tokens, 6) AS token_reduction
FROM b JOIN k ON k.lang = b.lang
"""


def q_lossless_codec_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-container bake-off the archive team runs before picking a
    storage format at the 10^10-image tier: the SAME pixels encoded as
    real PNG (adaptive per-row filters + zlib, sources/codec.py) and as
    real lossless WebP/VP8L (subtract-green + canonical Huffman,
    sources/webp.py), per-image byte sizes + the winner. Both encoders
    are deterministic, so the report is exact-int oracle-able. Encode
    runs inside mapInPandas — pixels never leave the task; only two ints
    and a label ship per image."""
    import pandas as pd

    from distributed_webcrawler_spark.functions.batches import map_rows
    from distributed_webcrawler_spark.sources import codec
    from distributed_webcrawler_spark.sources import webp as webplib

    specs = pd.DataFrame([(iid, w, h) for iid, w, h, _f in _mm_specs()],
                         columns=["image_id", "w", "h"])

    def enc_sizes(iid, w, h):
        px = codec.synth_pixels(iid, int(w), int(h))
        return [(iid, int(w), int(h), len(codec.encode_png(px)),
                 len(webplib.encode_webp_lossless(px)))]

    st = map_rows(spark.createDataFrame(specs).repartition(8), enc_sizes,
                  "image_id string, w int, h int, png_bytes long, webp_bytes long")
    return (st.select(
                "image_id", "w", "h", "png_bytes", "webp_bytes",
                F.when(F.col("png_bytes") <= F.col("webp_bytes"), "png")
                 .otherwise("webp").alias("winner"))
            .orderBy("image_id"))


def _lossless_compare_sql() -> str:
    from distributed_webcrawler_spark.sources import codec
    from distributed_webcrawler_spark.sources import webp as webplib

    rows = []
    for iid, w, h, _f in _mm_specs():
        px = codec.synth_pixels(iid, w, h)
        pb = len(codec.encode_png(px))
        wb = len(webplib.encode_webp_lossless(px))
        rows.append(f"('{iid}', {w}, {h}, {pb}, {wb}, "
                    f"'{'png' if pb <= wb else 'webp'}')")
    vals = ",\n".join(rows)
    return f"""
SELECT image_id, cast(w as int) AS w, cast(h as int) AS h,
       cast(png_bytes as bigint) AS png_bytes,
       cast(webp_bytes as bigint) AS webp_bytes, winner
FROM (VALUES
{vals}
) AS t(image_id, w, h, png_bytes, webp_bytes, winner)
ORDER BY image_id
"""


def q_image_transcode_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive transcode planning — decode the payload batch once,
    re-encode everything to webp (the format with the best
    quality/size point in the DWS1 codec family), and report per
    ORIGINAL FORMAT: images, current bytes, transcoded bytes, and the
    savings fraction. The report a 10^10-image archive reads before
    deciding a migration (a few percent is petabytes); lossless PNGs
    show real savings, already-lossy formats show the (small or
    negative) residual. Decode-once mapInPandas
    (operators/multimodal.py transcode_size_stats): both byte strings
    stay inside the task, only two ints ship per image."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import transcode_size_stats
    from distributed_webcrawler_spark.sources import codec

    pdf = pd.DataFrame(
        [(iid, codec.encode_image(codec.synth_pixels(iid, w, h), fmt))
         for iid, w, h, fmt in _mm_specs()],
        columns=["image_id", "bytes"])
    st = transcode_size_stats(spark.createDataFrame(pdf).repartition(8))
    return (st.where(F.col("ok"))
            .groupBy("orig_fmt")
            .agg(F.count("*").cast("bigint").alias("n_images"),
                 F.sum("orig_bytes").cast("bigint").alias("bytes_now"),
                 F.sum("new_bytes").cast("bigint").alias("bytes_webp"))
            .select("orig_fmt", "n_images", "bytes_now", "bytes_webp",
                    F.round((F.col("bytes_now") - F.col("bytes_webp"))
                            / F.col("bytes_now"), 6).alias("savings_frac")))


def _transcode_sql() -> str:
    from collections import defaultdict

    from distributed_webcrawler_spark.sources import codec

    agg = defaultdict(lambda: [0, 0, 0])
    for iid, w, h, fmt in _mm_specs():
        data = codec.encode_image(codec.synth_pixels(iid, w, h), fmt)
        px, dfmt = codec.decode_image(data)
        a = agg[dfmt]
        a[0] += 1
        a[1] += len(data)
        a[2] += len(codec.encode_image(px, "webp"))
    vals = ",\n".join(
        f"('{fmt}', {n}, {bn}, {bw})"
        for fmt, (n, bn, bw) in sorted(agg.items()))
    # savings computed in SQL from the exact integer sums, with the SAME
    # round() as the Spark side — python round() (banker's) is never the
    # authority for a gated float
    return f"""
SELECT orig_fmt, cast(n_images as bigint) AS n_images,
       cast(bytes_now as bigint) AS bytes_now,
       cast(bytes_webp as bigint) AS bytes_webp,
       round((bytes_now - bytes_webp) * 1.0 / bytes_now, 6) AS savings_frac
FROM (VALUES
{vals}
) AS t(orig_fmt, n_images, bytes_now, bytes_webp)
"""


def q_corr_length_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pearson correlation between document length (chars)
    and whitespace token count — the generic two-variable corpus stat,
    done under the engine's float discipline: every regression sum (Σx,
    Σy, Σxy, Σx², Σy²) is an EXACT integer aggregate (both variables are
    integers), so no summation order exists to drift; r is one identical
    IEEE expression per group, rounded to 6. The same recipe computes
    any metric-vs-metric correlation at 10^10 rows with one map-side
    partial agg — never a corr() built-in whose internal accumulation
    order differs between engines."""
    d = _t(spark, sf_dir, "documents")
    xy = d.select(
        "lang", F.col("n_chars").alias("x"),
        (F.size(F.split(F.trim(F.col("text")), "\\s+"))).alias("y"))
    s = xy.groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    # each variance term fits bigint; their PRODUCT does not — go double
    # exactly once, in the same order as the oracle's (A * 1.0) * B
    den = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                 .cast("double")
                 * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
    return s.select("lang", F.col("n").cast("bigint").alias("n_docs"),
                    F.round(num / den, 6).alias("pearson_r"))


_Q_CORR_SQL = """
WITH xy AS (
  SELECT lang, n_chars AS x,
         length(regexp_split_to_array(trim(text), '\\s+')) AS y
  FROM documents),
s AS (
  SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM xy GROUP BY lang)
SELECT lang, cast(n as bigint) AS n_docs,
       round((n * sxy - sx * sy) * 1.0
             / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)), 6) AS pearson_r
FROM s
"""


# bloom shard health: per-bucket sizing at the reference's declared tier
# (10^7 insertions / fpp 0.01, application.properties:33-34) split over the
# 64 host_buckets -> per-shard m bits / k hashes from the standard formulas
_BFH_SHARDS = 64
_BFH_CAP = 10_000_000 // _BFH_SHARDS
_BFH_M = 1_497_651  # ceil(cap * -ln(0.01) / ln(2)^2) per shard
_BFH_K = 7          # round(m/n * ln 2)


def q_bloom_shard_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom shard health forecast — the gauge the sharded URL-seen
    filter needs before a round goes bad: per host_bucket shard, the
    EXACT number of distinct URLs routed to it, its fill ratio n/cap,
    and the predicted false-positive rate (1 - e^(-k·n/m))^k at the
    declared 10^7/0.01 tier sizing. A skewed bucket quietly saturates
    its shard (fpp explodes -> the prefilter stops filtering) long
    before the total count looks dangerous — exactly the failure
    host_bucket_balance's load factor hints at, here converted into the
    quantity that actually matters. Integer counts -> one exp/pow per
    shard, identical IEEE both engines."""
    fr = _frontier(spark, sf_dir)
    per = (fr.select(F.pmod(h64(F.col("url")), F.lit(_BFH_SHARDS)).cast("int")
                     .alias("shard"), "url")
           .groupBy("shard")
           .agg(F.countDistinct("url").alias("n")))
    fpp = F.round(
        F.pow(F.lit(1.0) - F.exp((F.lit(float(-_BFH_K)) * F.col("n"))
                                 / F.lit(float(_BFH_M))), F.lit(float(_BFH_K))), 9)
    return per.select(
        "shard", F.col("n").cast("bigint").alias("n_urls"),
        F.round(F.col("n") / F.lit(float(_BFH_CAP)), 6).alias("fill_ratio"),
        fpp.alias("fpp_est"),
        (fpp > F.lit(0.01)).alias("over_budget"))


_Q_BFH_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
per AS (
  SELECT cast({h64_sql("url")} % {_BFH_SHARDS} as int) AS shard,
         count(DISTINCT url) AS n
  FROM frontier GROUP BY 1)
SELECT shard, cast(n as bigint) AS n_urls,
       round(n / {float(_BFH_CAP)!r}, 6) AS fill_ratio,
       round(pow(1.0 - exp(({float(-_BFH_K)!r} * n) / {float(_BFH_M)!r}),
                 {float(_BFH_K)!r}), 9) AS fpp_est,
       round(pow(1.0 - exp(({float(-_BFH_K)!r} * n) / {float(_BFH_M)!r}),
                 {float(_BFH_K)!r}), 9) > 0.01 AS over_budget
FROM per
"""


_BUDGET_SWEEP = [25, 50, 100, 200]


def q_budget_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-budget sensitivity — the what-if the makespan forecast
    exists to answer: at budgets 25/50/100/200 fetches/host/round, how
    long does the frontier take to drain (makespan = slowest host), how
    many rounds does the AVERAGE host need, and how many hosts sit on
    the critical path? The curve shows where extra budget stops helping
    (once every host drains in one round, politeness — not capacity — is
    the binding constraint). One groupBy(host), then pure integer math
    per sweep level over the 500-row host dimension."""
    fr = _frontier(spark, sf_dir)
    per = fr.groupBy("host").agg(F.count("*").alias("pending"))
    outs = []
    for b in _BUDGET_SWEEP:
        d = per.select(F.expr(f"CAST((pending + {b - 1}) DIV {b} AS INT)")
                       .alias("drain"))
        agg = d.agg(
            F.max("drain").alias("makespan_rounds"),
            F.round(F.avg(F.col("drain").cast("double")), 6).alias("mean_drain"),
        )
        crit = (d.crossJoin(F.broadcast(agg.select("makespan_rounds")))
                .where(F.col("drain") == F.col("makespan_rounds"))
                .agg(F.count("*").cast("bigint").alias("n_critical_hosts")))
        outs.append(agg.crossJoin(F.broadcast(crit))
                    .select(F.lit(b).alias("budget"),
                            F.col("makespan_rounds").cast("int").alias("makespan_rounds"),
                            "mean_drain", "n_critical_hosts"))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _budget_sweep_sql() -> str:
    sel = "\nUNION ALL\n".join(f"""
SELECT {b} AS budget,
       cast(max((pending + {b - 1}) // {b}) as int) AS makespan_rounds,
       round(avg(cast((pending + {b - 1}) // {b} as double)), 6) AS mean_drain,
       (SELECT cast(count(*) as bigint) FROM per p2
        WHERE (p2.pending + {b - 1}) // {b} =
              (SELECT max((p3.pending + {b - 1}) // {b}) FROM per p3)) AS n_critical_hosts
FROM per""" for b in _BUDGET_SWEEP)
    return f"""
WITH frontier AS ({_FRONTIER_SQL}),
per AS MATERIALIZED (SELECT host, count(*) AS pending FROM frontier GROUP BY host)
{sel}
"""


_Q_MAKESPAN_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
per AS (
  SELECT host, count(*) AS pending,
         cast((count(*) + {HOST_BUDGET - 1}) // {HOST_BUDGET} as int) AS drain_rounds,
         cast(count(*) - (count(*) - 1) // {HOST_BUDGET} * {HOST_BUDGET} as bigint) AS last_round_urls
  FROM frontier GROUP BY host),
mk AS (SELECT max(drain_rounds) AS makespan_rounds FROM per)
SELECT host, pending, drain_rounds, last_round_urls,
       cast((SELECT makespan_rounds FROM mk) as int) AS makespan_rounds
FROM per
"""


# --- image phash recall on planted corruptions ----------------------------------
_IPR_N, _IPR_OFF = 90, "v-"


def _ipr_payloads() -> tuple[list, list]:
    """(payloads, planted): originals (PNG) plus one corrupted variant
    each, corruption tier cycling by index — 0: jpeg re-encode (6-bit
    quantize), 1: webp re-encode (7-bit), 2: crop 3 border rows/cols then
    re-encode jpeg. planted = (orig_id, var_id, tier)."""
    import hashlib

    import numpy as np

    from distributed_webcrawler_spark.sources import codec

    payloads, planted = [], []
    for i in range(_IPR_N):
        hw = int(hashlib.md5(f"iprw:{i}".encode()).hexdigest()[:8], 16)
        hh = int(hashlib.md5(f"iprh:{i}".encode()).hexdigest()[:8], 16)
        w, h = 24 + hw % 25, 24 + hh % 25
        oid, vid = f"ip-{i:05d}", f"{_IPR_OFF}ip-{i:05d}"
        px = codec.synth_pixels(oid, w, h)
        payloads.append((oid, codec.encode_image(px, "png")))
        tier = i % 3
        if tier == 0:
            var = codec.encode_image(px, "jpeg")
        elif tier == 1:
            var = codec.encode_image(px, "webp")
        else:
            var = codec.encode_image(np.ascontiguousarray(px[3:-3, 3:-3]), "jpeg")
        payloads.append((vid, var))
        planted.append((oid, vid, tier))
    return payloads, planted


def q_image_phash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash dedup recall on PLANTED image corruptions — the
    image-side twin of dedup_method_recall: every original gets one
    corrupted variant (lossy jpeg / lossy webp / border-crop+jpeg), the
    banded-Hamming phash detector runs over the union, and each planted
    pair is scored found/missed with its Hamming distance; per-tier
    recall rides every row. Expectation the gate certifies: re-encodes
    are phash-stable (quantization barely moves the DCT signs), crops
    shift the whole grid — the corruption class phash dedup is known to
    miss, now MEASURED instead of asserted. Banding is
    pigeonhole-complete for Hamming <= 3, so the oracle's expected rows
    are computable exactly from the codec driver-side."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import phash_near_dup_pairs

    payloads, planted = _ipr_payloads()
    pdf = pd.DataFrame(payloads, columns=["image_id", "bytes"])
    pairs = phash_near_dup_pairs(spark.createDataFrame(pdf).repartition(8),
                                 max_hamming=3)
    pl = spark.createDataFrame(planted, "orig_id string, var_id string, tier int")
    # banded pairs order ids lexicographically; 'ip-*' < 'v-ip-*' always
    hit = (pl.join(pairs.withColumnRenamed("id_a", "orig_id")
                   .withColumnRenamed("id_b", "var_id"),
                   ["orig_id", "var_id"], "left")
           .select("tier", "orig_id", "var_id",
                   F.col("hamming").isNotNull().alias("found"),
                   F.coalesce(F.col("hamming"), F.lit(-1)).cast("int")
                   .alias("hamming")))
    per = (hit.groupBy("tier")
           .agg(F.round(F.avg(F.col("found").cast("double")), 6)
                .alias("tier_recall")))
    return hit.join(F.broadcast(per), "tier")


def _ipr_sql() -> str:
    from distributed_webcrawler_spark.sources import codec

    payloads, planted = _ipr_payloads()
    ph = {iid: codec.phash64(codec.decode_image(data)[0])
          for iid, data in payloads}
    rows, per_tier = [], {0: [], 1: [], 2: []}
    for oid, vid, tier in planted:
        d = bin(ph[oid] ^ ph[vid]).count("1")
        found = d <= 3
        per_tier[tier].append(found)
        rows.append((tier, oid, vid, found, d if found else -1))
    recall = {t: round(sum(v) / len(v), 6) for t, v in per_tier.items()}
    vals = ",\n".join(
        f"({t}, '{o}', '{v}', {str(f).upper()}, {d}, {recall[t]!r})"
        for t, o, v, f, d in rows)
    return f"""
SELECT cast(tier as int) AS tier, orig_id, var_id, found,
       cast(hamming as int) AS hamming, cast(tier_recall as double) AS tier_recall
FROM (VALUES
{vals}
) AS t(tier, orig_id, var_id, found, hamming, tier_recall)
"""


# --- UCB host prioritization ----------------------------------------------------
_UCB_HOSTS, _UCB_C, _UCB_GOOD = 25, 1.5, 50.0


def q_host_ucb_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 host prioritization — the explore/exploit scheduler: each
    host's priority is its observed yield (fraction of fetches that
    produced useful content) PLUS an exploration bonus
    c·sqrt(ln(N)/n_i) that grows for under-crawled hosts (Auer et al.
    2002). A pure-yield ranker starves never-tried hosts forever; UCB is
    the principled fix, and composes with the politeness budget the same
    way the PageRank blend does. Inputs are exact integer counts from
    the fetch log; ln/sqrt run once per host on those exact integers,
    identical IEEE both engines; scores round to 6 with host ASC as the
    deterministic tie-break rank."""
    ev = _t(spark, sf_dir, "events")
    per = (ev.select(F.concat(F.lit("uh"), (F.col("user_id") % _UCB_HOSTS)
                              .cast("string")).alias("host"),
                     (F.col("value") >= _UCB_GOOD).cast("int").alias("good"))
           .groupBy("host")
           .agg(F.count("*").alias("n"), F.sum("good").alias("g")))
    tot = per.agg(F.sum("n").alias("t"))
    score = F.round(
        F.col("g") / F.col("n")
        + F.lit(_UCB_C) * F.sqrt(F.log(F.col("t").cast("double")) / F.col("n")), 6)
    w = Window.orderBy(F.col("ucb").desc(), F.col("host").asc())  # host dim: tiny
    return (per.crossJoin(F.broadcast(tot))
            .select("host", F.col("n").cast("bigint").alias("n_fetches"),
                    F.col("g").cast("bigint").alias("n_good"),
                    F.round(F.col("g") / F.col("n"), 6).alias("yield"),
                    score.alias("ucb"))
            .withColumn("rank", F.row_number().over(w).cast("int")))


_Q_UCB_SQL = f"""
WITH per AS (
  SELECT concat('uh', cast(user_id % {_UCB_HOSTS} as varchar)) AS host,
         count(*) AS n,
         sum(CASE WHEN value >= {_UCB_GOOD} THEN 1 ELSE 0 END) AS g
  FROM events GROUP BY 1),
tot AS (SELECT sum(n) AS t FROM per),
scored AS (
  SELECT host, cast(n as bigint) AS n_fetches, cast(g as bigint) AS n_good,
         round(g * 1.0 / n, 6) AS yield,
         round(g * 1.0 / n
               + {_UCB_C} * sqrt(ln(cast((SELECT t FROM tot) as double)) / n), 6) AS ucb
  FROM per)
SELECT host, n_fetches, n_good, yield, ucb,
       cast(row_number() OVER (ORDER BY ucb DESC, host ASC) as int) AS rank
FROM scored
"""


# --- planted-mutation dedup recall ---------------------------------------------
_REC_MOD, _REC_ID_OFF = 5, 1_000_000
# mutation tiers: how much of the document survives (prefix dropped)
_REC_TIERS = {0: "6", 1: "greatest(1, length(text) DIV 2)",
              2: "greatest(1, (length(text) * 2) DIV 3)"}


def q_dedup_recall_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup recall vs PLANTED ground truth, swept over mutation
    strength — the evaluation every near-dup threshold decision needs:
    every 5th document gets a mutated twin (id + 10^6) whose corruption
    tier cycles light / medium / heavy (drop 5 chars, drop half, drop
    two-thirds), the MinHash-LSH detector runs over the union corpus,
    and each planted (original, mutant) pair is scored found/missed with
    its estimated similarity; recall PER TIER rides every row. Unlike
    minhash_calibration (estimator vs exact Jaccard on DETECTED pairs),
    this measures what the detector FAILED to detect across a corruption
    curve — light-tier recall should be ~1, heavy-tier visibly lower
    (the banding sensitivity cliff made measurable). One union scan +
    the already-gated sub-quadratic LSH pipeline."""
    corpus, planted = _planted_corpus(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(corpus, n_hashes=_MH_N, band_size=_MH_BAND,
                                k=_MH_K, max_chars=_MH_CHARS, min_est=_MH_MIN)
    hit = (planted.join(pairs.withColumnRenamed("id_a", "orig_id")
                        .withColumnRenamed("id_b", "mut_id"),
                        ["orig_id", "mut_id"], "left")
           .select("orig_id", "mut_id", "tier",
                   F.col("est_sim").isNotNull().alias("found"),
                   F.coalesce(F.round("est_sim", 6), F.lit(0.0)).alias("est_sim")))
    per_tier = (hit.groupBy("tier")
                .agg(F.round(F.avg(F.col("found").cast("double")), 6)
                     .alias("tier_recall")))
    return hit.join(F.broadcast(per_tier), "tier")


def _planted_corpus(spark: SparkSession, sf_dir: str):
    """(corpus, planted) for the recall evals: documents plus tiered
    mutated twins, and the (orig_id, mut_id, tier) ground-truth pairs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tier = (F.col("doc_id") / _REC_MOD).cast("bigint") % 3
    cut = F.expr(f"""CASE cast(doc_id / {_REC_MOD} as bigint) % 3
        WHEN 0 THEN {_REC_TIERS[0]} WHEN 1 THEN {_REC_TIERS[1]}
        ELSE {_REC_TIERS[2]} END""")
    mut = (docs.where(F.col("doc_id") % _REC_MOD == 0)
           .select((F.col("doc_id") + _REC_ID_OFF).alias("doc_id"),
                   F.substring(F.col("text"), cut,
                               F.lit(2_000_000_000)).alias("text")))
    planted = (docs.where(F.col("doc_id") % _REC_MOD == 0)
               .select(F.col("doc_id").alias("orig_id"),
                       (F.col("doc_id") + _REC_ID_OFF).alias("mut_id"),
                       tier.cast("int").alias("tier")))
    return docs.unionByName(mut), planted


_PLANTED_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_REC_ID_OFF} AS doc_id,
         substr(text, cast(CASE (doc_id // {_REC_MOD}) % 3
                  WHEN 0 THEN 6 WHEN 1 THEN greatest(1, length(text) // 2)
                  ELSE greatest(1, (length(text) * 2) // 3) END as int)) AS text
  FROM documents WHERE doc_id % {_REC_MOD} = 0
"""

_PLANTED_PAIRS_SQL = f"""
  SELECT doc_id AS orig_id, doc_id + {_REC_ID_OFF} AS mut_id,
         cast((doc_id // {_REC_MOD}) % 3 as int) AS tier
  FROM documents WHERE doc_id % {_REC_MOD} = 0
"""


def q_dedup_method_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector shoot-out on the SAME planted ground truth — MinHash-LSH
    vs banded 64-bit SimHash, per corruption tier: the comparison that
    actually picks a production detector (agreement matrices compare
    detectors on what they FOUND; this compares them on what was
    PLANTED). Per (method, tier): recall over the planted pairs; both
    detectors run over the identical mutated union corpus through their
    already-gated sub-quadratic pipelines."""
    corpus, planted = _planted_corpus(spark, sf_dir)
    mh = D.minhash_lsh_pairs(corpus, n_hashes=_MH_N, band_size=_MH_BAND,
                             k=_MH_K, max_chars=_MH_CHARS,
                             min_est=_MH_MIN).select("id_a", "id_b")
    sh = D.simhash_banded_pairs(corpus, max_hamming=_SH64_HAM,
                                n_bits=_SH64_BITS, n_bands=_SH64_BANDS,
                                max_chars=_SIM_CHARS).select("id_a", "id_b")
    outs = []
    for method, prs in (("minhash", mh), ("simhash64", sh)):
        hit = (planted.join(prs.withColumnRenamed("id_a", "orig_id")
                            .withColumnRenamed("id_b", "mut_id")
                            .withColumn("f", F.lit(1)),
                            ["orig_id", "mut_id"], "left")
               .select(F.lit(method).alias("method"), "tier", "orig_id",
                       "mut_id", F.col("f").isNotNull().alias("found")))
        outs.append(hit)
    hits = outs[0].unionByName(outs[1])
    per = (hits.groupBy("method", "tier")
           .agg(F.round(F.avg(F.col("found").cast("double")), 6)
                .alias("tier_recall")))
    return hits.join(F.broadcast(per), ["method", "tier"])


def _method_recall_sql() -> str:
    mh_body, matches = _minhash_cte_body("corpus")
    sh_body = _simhash64_cte_body("corpus", "sx_")
    return f"""
WITH corpus AS ({_PLANTED_CORPUS_SQL}),
{mh_body},
mh_pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
  WHERE round(({matches}) / 8.0, 6) >= {_MH_MIN}),
{sh_body},
sh_pairs AS (
  SELECT id_a, id_b FROM sx_cand
  WHERE bit_count(xor(sig_a, sig_b)) <= {_SH64_HAM}),
planted AS ({_PLANTED_PAIRS_SQL}),
hits AS (
  SELECT 'minhash' AS method, p.tier, p.orig_id, p.mut_id,
         f.id_a IS NOT NULL AS found
  FROM planted p LEFT JOIN mh_pairs f
    ON f.id_a = p.orig_id AND f.id_b = p.mut_id
  UNION ALL
  SELECT 'simhash64', p.tier, p.orig_id, p.mut_id,
         f.id_a IS NOT NULL AS found
  FROM planted p LEFT JOIN sh_pairs f
    ON f.id_a = p.orig_id AND f.id_b = p.mut_id),
per AS (
  SELECT method, tier, round(avg(cast(found as double)), 6) AS tier_recall
  FROM hits GROUP BY method, tier)
SELECT h.method, h.tier, h.orig_id, h.mut_id, h.found, t.tier_recall
FROM hits h JOIN per t ON t.method = h.method AND t.tier = h.tier
"""


def _recall_sql() -> str:
    body, matches = _minhash_cte_body("corpus")
    return f"""
WITH corpus AS ({_PLANTED_CORPUS_SQL}),
{body},
found AS (
  SELECT id_a, id_b, round(({matches}) / 8.0, 6) AS est_sim
  FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
  WHERE round(({matches}) / 8.0, 6) >= {_MH_MIN}),
planted AS ({_PLANTED_PAIRS_SQL}),
hit AS (
  SELECT p.orig_id, p.mut_id, p.tier, f.est_sim IS NOT NULL AS found,
         coalesce(round(f.est_sim, 6), 0.0) AS est_sim
  FROM planted p LEFT JOIN found f ON f.id_a = p.orig_id AND f.id_b = p.mut_id),
per_tier AS (
  SELECT tier, round(avg(cast(found as double)), 6) AS tier_recall
  FROM hit GROUP BY tier)
SELECT h.tier, h.orig_id, h.mut_id, h.found, h.est_sim, t.tier_recall
FROM hit h JOIN per_tier t ON t.tier = h.tier
"""


# --- cross-host mirror detection -----------------------------------------------
_MIR_SHIFT, _MIR_MIN_SHARED, _MIR_TH = 250, 20, 0.2


def q_host_mirror_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-host mirror detection — hosts serving the same content
    digests (mirrors, CDNs, scraped clones): crawl ONE of them, not both.
    A third of the content (orderkey%3==0) is planted on a second host
    (suppkey shifted by 250), so real mirror pairs exist to find. The
    pair join is on DIGEST, and each digest lives on a bounded handful
    of hosts (here 2; production caps hosts-per-digest before pairing,
    same guard as co-citation's out-degree cap), so candidate pairs grow
    linearly with content, never quadratically with hosts. Jaccard over
    the hosts' digest sets from three exact counts."""
    li = _t(spark, sf_dir, "lineitem")
    digest = h64(F.concat(F.lit("c:"), F.col("l_orderkey").cast("string"),
                          F.lit("-"), F.col("l_linenumber").cast("string")))
    h1 = F.concat(F.lit("host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string"))
    h2 = F.concat(F.lit("host"),
                  ((F.col("l_suppkey") + _MIR_SHIFT) % N_FRONTIER_HOSTS).cast("string"))
    placed = (li.select(digest.alias("digest"), h1.alias("host"))
              .unionByName(li.where(F.col("l_orderkey") % 3 == 0)
                           .select(digest.alias("digest"), h2.alias("host")))
              .distinct())
    per = placed.groupBy("host").agg(F.count("*").alias("n_digests"))
    a, b = placed.alias("a"), placed.alias("b")
    pairs = (a.join(b, (F.col("a.digest") == F.col("b.digest"))
                    & (F.col("a.host") < F.col("b.host")))
             .groupBy(F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b"))
             .agg(F.count("*").cast("bigint").alias("shared"))
             .where(F.col("shared") >= _MIR_MIN_SHARED))
    jac = F.round(F.col("shared")
                  / (F.col("na") + F.col("nb") - F.col("shared")), 6)
    return (pairs
            .join(per.select(F.col("host").alias("host_a"),
                             F.col("n_digests").alias("na")), "host_a")
            .join(per.select(F.col("host").alias("host_b"),
                             F.col("n_digests").alias("nb")), "host_b")
            .select("host_a", "host_b", "shared",
                    F.col("na").cast("bigint").alias("n_a"),
                    F.col("nb").cast("bigint").alias("n_b"),
                    jac.alias("jaccard"), (jac >= _MIR_TH).alias("mirror")))


_Q_MIRROR_SQL = f"""
WITH placed AS (
  SELECT DISTINCT digest, host FROM (
    SELECT {h64_sql("concat('c:', cast(l_orderkey as varchar), '-', cast(l_linenumber as varchar))")} AS digest,
           concat('host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar)) AS host
    FROM lineitem
    UNION ALL
    SELECT {h64_sql("concat('c:', cast(l_orderkey as varchar), '-', cast(l_linenumber as varchar))")} AS digest,
           concat('host', cast((l_suppkey + {_MIR_SHIFT}) % {N_FRONTIER_HOSTS} as varchar)) AS host
    FROM lineitem WHERE l_orderkey % 3 = 0)),
per AS (SELECT host, count(*) AS n_digests FROM placed GROUP BY host),
pairs AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
  FROM placed a JOIN placed b ON a.digest = b.digest AND a.host < b.host
  GROUP BY 1, 2 HAVING count(*) >= {_MIR_MIN_SHARED})
SELECT p.host_a, p.host_b, p.shared,
       cast(pa.n_digests as bigint) AS n_a, cast(pb.n_digests as bigint) AS n_b,
       round(p.shared * 1.0 / (pa.n_digests + pb.n_digests - p.shared), 6) AS jaccard,
       round(p.shared * 1.0 / (pa.n_digests + pb.n_digests - p.shared), 6) >= {_MIR_TH} AS mirror
FROM pairs p JOIN per pa ON pa.host = p.host_a JOIN per pb ON pb.host = p.host_b
"""


# --- event-type co-occurrence PMI ----------------------------------------------


def q_event_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence PMI over per-(user, day) baskets — which
    behaviors actually travel together (PMI > 0) vs merely being common
    (the raw-count trap). All inputs are exact integers (basket counts),
    the single ln() per pair is the only float op, identical IEEE both
    engines. Bounded everywhere: event-type pairs are a tiny dimension,
    baskets partition by (user, day)."""
    ev = _t(spark, sf_dir, "events")
    baskets = (ev.select("user_id", F.to_date("ts").alias("day"), "event_type")
               .distinct())
    n = baskets.select("user_id", "day").distinct().count()
    per = baskets.groupBy("event_type").agg(F.count("*").alias("c"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.day") == F.col("b.day"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("type_a"),
                      F.col("b.event_type").alias("type_b"))
             .agg(F.count("*").cast("bigint").alias("c_ab")))
    return (pairs
            .join(F.broadcast(per.select(F.col("event_type").alias("type_a"),
                                         F.col("c").alias("c_a"))), "type_a")
            .join(F.broadcast(per.select(F.col("event_type").alias("type_b"),
                                         F.col("c").alias("c_b"))), "type_b")
            .select("type_a", "type_b", "c_ab",
                    F.col("c_a").cast("bigint").alias("c_a"),
                    F.col("c_b").cast("bigint").alias("c_b"),
                    F.round(F.log(F.col("c_ab").cast("double") * F.lit(float(n))
                                  / (F.col("c_a") * F.col("c_b"))), 6).alias("pmi")))


def _pmi_sql() -> str:
    # N (total baskets) is embedded as a literal on the Spark side via a
    # driver count; the oracle computes it as a scalar subquery — both are
    # the same exact integer, so the float expression is identical
    return f"""
WITH baskets AS (
  SELECT DISTINCT user_id, cast(ts as date) AS day, event_type FROM events),
nb AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, day FROM baskets)),
per AS (SELECT event_type, count(*) AS c FROM baskets GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS c_ab
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT p.type_a, p.type_b, p.c_ab,
       cast(pa.c as bigint) AS c_a, cast(pb.c as bigint) AS c_b,
       round(ln(p.c_ab * cast((SELECT n FROM nb) as double)
                / (pa.c * pb.c)), 6) AS pmi
FROM pairs p JOIN per pa ON pa.event_type = p.type_a
             JOIN per pb ON pb.event_type = p.type_b
"""


# --- sitemap coverage gap -------------------------------------------------------


def q_sitemap_coverage_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-vs-crawl coverage gap — per host, how much of what the
    host ADVERTISES (its sitemap URL set) the crawl actually discovered,
    and how much the crawl found that the sitemap never listed (organic
    link-graph discoveries). The audit that decides whether to trust a
    host's sitemap as a frontier seed source. Sitemap set: the host
    advertises its line-1..4 pages plus a phantom '/p/<order>-99' per
    order (content it lists but never links — the classic stale-sitemap
    row). One url-keyed full outer join + per-host rollup; both sides
    pre-projected to (host, url)."""
    fr = _frontier(spark, sf_dir).select("host", "url")
    li = _t(spark, sf_dir, "lineitem")
    host = F.concat(F.lit("host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string"),
                    F.lit(".example.test"))
    base = F.concat(F.lit("https://"), host, F.lit("/p/"),
                    F.col("l_orderkey").cast("string"))
    adv = (li.where(F.col("l_linenumber") <= 4)
           .select(host.alias("host"),
                   F.concat(base, F.lit("-"), F.col("l_linenumber").cast("string"))
                   .alias("url"))
           .unionByName(
               li.where(F.col("l_linenumber") == 1)
               .select(host.alias("host"), F.concat(base, F.lit("-99")).alias("url")))
           .distinct())
    j = (adv.withColumn("a", F.lit(1))
         .join(fr.withColumn("d", F.lit(1)), ["host", "url"], "full_outer"))
    return (j.groupBy("host")
            .agg(F.sum("a").cast("bigint").alias("n_advertised"),
                 F.sum(F.when(F.col("a").isNotNull() & F.col("d").isNotNull(), 1)
                       .otherwise(0)).cast("bigint").alias("n_matched"),
                 F.sum(F.when(F.col("a").isNotNull() & F.col("d").isNull(), 1)
                       .otherwise(0)).cast("bigint").alias("n_stale"),
                 F.sum(F.when(F.col("a").isNull() & F.col("d").isNotNull(), 1)
                       .otherwise(0)).cast("bigint").alias("n_organic"))
            .select("host", "n_advertised", "n_matched", "n_stale", "n_organic",
                    F.round(F.col("n_matched") / F.col("n_advertised"), 6)
                    .alias("coverage")))


_Q_SMGAP_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
fr AS (SELECT host, url FROM frontier),
adv AS (
  SELECT DISTINCT host, url FROM (
    SELECT concat('host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar),
                  '.example.test') AS host,
           concat('https://host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar),
                  '.example.test/p/', cast(l_orderkey as varchar), '-',
                  cast(l_linenumber as varchar)) AS url
    FROM lineitem WHERE l_linenumber <= 4
    UNION ALL
    SELECT concat('host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar),
                  '.example.test') AS host,
           concat('https://host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar),
                  '.example.test/p/', cast(l_orderkey as varchar), '-99') AS url
    FROM lineitem WHERE l_linenumber = 1)),
j AS (
  SELECT coalesce(a.host, f.host) AS host,
         CASE WHEN a.url IS NOT NULL THEN 1 END AS a,
         CASE WHEN f.url IS NOT NULL THEN 1 END AS d
  FROM adv a FULL OUTER JOIN fr f ON f.host = a.host AND f.url = a.url)
SELECT host, cast(sum(a) as bigint) AS n_advertised,
       cast(coalesce(sum(CASE WHEN a IS NOT NULL AND d IS NOT NULL THEN 1 ELSE 0 END), 0) as bigint) AS n_matched,
       cast(coalesce(sum(CASE WHEN a IS NOT NULL AND d IS NULL THEN 1 ELSE 0 END), 0) as bigint) AS n_stale,
       cast(coalesce(sum(CASE WHEN a IS NULL AND d IS NOT NULL THEN 1 ELSE 0 END), 0) as bigint) AS n_organic,
       round(coalesce(sum(CASE WHEN a IS NOT NULL AND d IS NOT NULL THEN 1 ELSE 0 END), 0) * 1.0
             / sum(a), 6) AS coverage
FROM j GROUP BY host
"""


# --- per-image color profile ---------------------------------------------------
_DC_N = 160


def _dc_payloads() -> list:
    """Deterministic payload batch with PLANTED color pathologies: i%9==0
    images are forced grayscale (r=g=b), i==11 is a solid placeholder
    tile (one color everywhere), the rest are raw synth pixels."""
    import hashlib

    import numpy as np

    from distributed_webcrawler_spark.sources import codec

    out = []
    fmts = ["png", "jpeg", "webp"]
    for i in range(_DC_N):
        hw = int(hashlib.md5(f"dcw:{i}".encode()).hexdigest()[:8], 16)
        hh = int(hashlib.md5(f"dch:{i}".encode()).hexdigest()[:8], 16)
        w, h = 18 + hw % 27, 18 + hh % 27
        iid = f"dc-{i:05d}"
        px = codec.synth_pixels(iid, w, h).copy()
        if i == 11:
            px[:] = (200, 180, 40)                         # solid tile
        elif i % 9 == 0:
            px[:, :, 1] = px[:, :, 0]
            px[:, :, 2] = px[:, :, 0]                      # grayscale
        out.append((iid, codec.encode_image(np.ascontiguousarray(px), fmts[i % 3])))
    return out


def q_image_color_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image dominant color + grayscale profiling — the image-set
    quality filters (drop monochrome thumbnails, solid placeholder tiles
    with dom_share ~ 1.0, desaturated scans) a multimodal training
    pipeline applies before captioning. Decode-once Arrow batches
    (operators/multimodal.py color_profile); planted-pathology batch, so
    the oracle gates rows+schema+hash against a precomputed expected
    table."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import color_profile

    pdf = pd.DataFrame(_dc_payloads(), columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (color_profile(payloads).where(F.col("ok"))
            .select("image_id", "dom_color", "dom_share", "gray_frac", "is_gray"))


def _dc_sql() -> str:
    from distributed_webcrawler_spark.operators.multimodal import color_profile_np
    from distributed_webcrawler_spark.sources import codec

    rows = []
    for iid, data in _dc_payloads():
        px, _ = codec.decode_image(data)
        dom, share, gf = color_profile_np(px)
        rows.append(f"('{iid}', {dom}, {share!r}, {gf!r}, "
                    f"{str(gf >= 0.9).upper()})")
    vals = ",\n".join(rows)
    return f"""
SELECT image_id, cast(dom_color as int) AS dom_color,
       cast(dom_share as double) AS dom_share,
       cast(gray_frac as double) AS gray_frac, is_gray
FROM (VALUES
{vals}
) AS t(image_id, dom_color, dom_share, gray_frac, is_gray)
"""


# --- politeness compliance audit ----------------------------------------------
_PCA_HOSTS, _PCA_MIN_GAP_US = 25, 30_000_000  # 30s required gap per host


def q_politeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness compliance audit — the after-the-fact check every
    polite crawler owes its targets: from the fetch event log, the gap
    between consecutive fetches of the same host (lag window per host,
    ordered by event time with event_id as the total-order tie-break)
    and, per host, the fetch count, violation count (gap < 30s), minimum
    observed gap, and violation rate. The reference ENFORCES politeness
    (Thread.sleep(500), BasicCrawler.java:72-74) but never audits it;
    this is the report that proves the budget held. Gaps are exact
    integer microseconds (unix_micros / epoch_us), so no float enters
    until the rounded rate.

    Plan: one lag window PER HOST partition (each host's log is
    politeness-bounded by construction — never a global sort), one
    groupBy(host) rollup."""
    ev = _t(spark, sf_dir, "events")
    fetches = ev.select(
        F.concat(F.lit("ph"), (F.col("user_id") % _PCA_HOSTS).cast("string")).alias("host"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("t_us"), "event_id")
    w = Window.partitionBy("host").orderBy(F.col("t_us").asc(), F.col("event_id").asc())
    gaps = fetches.select(
        "host", (F.col("t_us") - F.lag("t_us").over(w)).alias("gap_us"))
    return (gaps.groupBy("host")
            .agg(F.count("*").cast("bigint").alias("n_fetches"),
                 F.sum(F.when(F.col("gap_us") < _PCA_MIN_GAP_US, 1).otherwise(0))
                 .cast("bigint").alias("n_violations"),
                 F.min("gap_us").alias("min_gap_us"),
                 F.count("gap_us").alias("n_gaps"))
            .select("host", "n_fetches", "n_violations",
                    F.col("min_gap_us").cast("bigint").alias("min_gap_us"),
                    F.when(F.col("n_gaps") > 0,
                           F.round(F.col("n_violations") / F.col("n_gaps"), 6))
                    .otherwise(F.lit(0.0)).alias("violation_rate")))


_Q_PCA_SQL = f"""
WITH fetches AS (
  SELECT concat('ph', cast(user_id % {_PCA_HOSTS} as varchar)) AS host,
         epoch_us(ts) AS t_us, event_id
  FROM events),
gaps AS (
  SELECT host,
         t_us - lag(t_us) OVER (PARTITION BY host ORDER BY t_us ASC, event_id ASC) AS gap_us
  FROM fetches)
SELECT host, count(*) AS n_fetches,
       cast(coalesce(sum(CASE WHEN gap_us < {_PCA_MIN_GAP_US} THEN 1 ELSE 0 END), 0)
            as bigint) AS n_violations,
       cast(min(gap_us) as bigint) AS min_gap_us,
       CASE WHEN count(gap_us) > 0
            THEN round(sum(CASE WHEN gap_us < {_PCA_MIN_GAP_US} THEN 1 ELSE 0 END) * 1.0
                       / count(gap_us), 6)
            ELSE 0.0 END AS violation_rate
FROM gaps GROUP BY host
"""


# --- RFC 9309 robots matching -------------------------------------------------
_R9_HOSTS = 40


def _r9_rules() -> list:
    """Deterministic per-host robots rule set exercising every RFC 9309
    precedence feature: wildcard prefixes, '$' end anchors, longest-match
    beats shorter, Allow beats Disallow on equal length ('/p/*7$' vs
    '/p/*-2' is a planted length tie)."""
    rules = []
    for h in range(_R9_HOSTS):
        host = f"rb{h}.example.test"
        rules.append((host, "/p/*", False))       # disallow the product tree
        rules.append((host, "/p/1*", True))       # …except ids starting 1
        if h % 3 == 0:
            rules.append((host, "/p/*7$", False))  # …but never ids ending 7
        if h % 5 == 0:
            rules.append((host, "/p/*-2", True))   # len-6 tie vs the anchor
    return rules


def q_robots_rfc9309(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots evaluation — wildcard '*', '$' end anchors, and
    LONGEST-MATCH precedence with Allow winning ties: the real-web robots
    semantics the reference's prefix-only matcher (BasicCrawler.java:
    268-286; kept verbatim elsewhere for parity) cannot express. The
    matcher compiles each rule to a SQL LIKE pattern once
    (functions/robots_fn.py rule_to_like), so BOTH engines evaluate the
    match natively — no UDF, no regex-engine divergence; the per-URL
    winner is a rank window over the handful of matched rules of that
    URL's host (broadcast rule table, never a global sort); no-match
    URLs default to allowed (§2.2.2) via a left join that cannot drop
    rows."""
    from distributed_webcrawler_spark.functions.robots_fn import rfc9309_gate

    return rfc9309_gate(_r9_urls(spark, sf_dir), _r9_rules_df(spark, _r9_rules()))


def _r9_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    host = F.concat(F.lit("rb"), (F.col("l_suppkey") % _R9_HOSTS).cast("string"),
                    F.lit(".example.test"))
    path = F.concat(F.lit("/p/"), F.col("l_orderkey").cast("string"),
                    F.lit("-"), F.col("l_linenumber").cast("string"))
    return (li.select(host.alias("host"), path.alias("path"),
                      F.concat(F.lit("https://"), host, path).alias("url"))
            .distinct())


def _r9_rules_df(spark: SparkSession, rules: list) -> DataFrame:
    from distributed_webcrawler_spark.functions.robots_fn import rule_to_like

    return spark.createDataFrame(
        [(h, r, rule_to_like(r), a) for h, r, a in rules],
        "host string, rule string, pattern string, is_allow boolean")


def _r9_rules_gen2() -> list:
    """The next robots generation: h%4 hosts TIGHTEN (the '/p/1*' Allow
    escape hatch is withdrawn), h%7 hosts LOOSEN (a new '/p/2*' Allow) —
    both realistic webmaster edits, both deterministic."""
    out = []
    for h, r, a in _r9_rules():
        idx = int(h[2:h.index(".")])
        if idx % 4 == 0 and r == "/p/1*":
            continue
        out.append((h, r, a))
    for h in range(_R9_HOSTS):
        if h % 7 == 0:
            out.append((f"rb{h}.example.test", "/p/2*", True))
    return out


def q_robots_generation_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-change impact report — when a host publishes a new
    robots.txt, which frontier URLs flip allowed->blocked (must be
    evicted NOW) and blocked->allowed (new crawl inventory)? Evaluates
    the SAME frontier against both rule generations with the RFC 9309
    matcher (reused, already oracle-gated) and rolls the verdict diff up
    per host. The recrawl scheduler's compliance hook: the reference
    re-reads robots per fetch but can never answer "what did this change
    affect" — this query is that answer, over 10^10 URLs two broadcast
    rule tables and one url-keyed join."""
    from distributed_webcrawler_spark.functions.robots_fn import rfc9309_gate

    urls = _r9_urls(spark, sf_dir)
    v1 = (rfc9309_gate(urls, _r9_rules_df(spark, _r9_rules()))
          .select("host", "url", F.col("allowed").alias("a1")))
    v2 = (rfc9309_gate(urls, _r9_rules_df(spark, _r9_rules_gen2()))
          .select("url", F.col("allowed").alias("a2")))
    return (v1.join(v2, "url")
            .groupBy("host")
            .agg(F.count("*").cast("bigint").alias("n_urls"),
                 F.sum(F.when(F.col("a1") & ~F.col("a2"), 1).otherwise(0))
                 .cast("bigint").alias("newly_blocked"),
                 F.sum(F.when(~F.col("a1") & F.col("a2"), 1).otherwise(0))
                 .cast("bigint").alias("newly_allowed"))
            .select("host", "n_urls", "newly_blocked", "newly_allowed",
                    (F.col("newly_blocked") + F.col("newly_allowed") > 0)
                    .alias("changed")))


def _rdelta_sql() -> str:
    return f"""
WITH urls AS ({_R9_URLS_SQL}),
{_r9_verdict_sql(_r9_rules(), "1")},
{_r9_verdict_sql(_r9_rules_gen2(), "2")}
SELECT v1.host, count(*) AS n_urls,
       cast(coalesce(sum(CASE WHEN v1.allowed AND NOT v2.allowed THEN 1 ELSE 0 END), 0)
            as bigint) AS newly_blocked,
       cast(coalesce(sum(CASE WHEN NOT v1.allowed AND v2.allowed THEN 1 ELSE 0 END), 0)
            as bigint) AS newly_allowed,
       (coalesce(sum(CASE WHEN v1.allowed AND NOT v2.allowed THEN 1 ELSE 0 END), 0)
        + coalesce(sum(CASE WHEN NOT v1.allowed AND v2.allowed THEN 1 ELSE 0 END), 0)) > 0
         AS changed
FROM verdict1 v1 JOIN verdict2 v2 ON v2.url = v1.url
GROUP BY v1.host
"""


_R9_URLS_SQL = f"""
  SELECT DISTINCT
         concat('rb', cast(l_suppkey % {_R9_HOSTS} as varchar), '.example.test') AS host,
         concat('/p/', cast(l_orderkey as varchar), '-', cast(l_linenumber as varchar)) AS path,
         concat('https://rb', cast(l_suppkey % {_R9_HOSTS} as varchar), '.example.test',
                '/p/', cast(l_orderkey as varchar), '-', cast(l_linenumber as varchar)) AS url
  FROM lineitem
"""


def _r9_verdict_sql(rules: list, tag: str) -> str:
    """CTE fragments (uniquely ``tag``-suffixed) ending in verdict{tag}
    (host, url, path, matched_rule, allowed) — the RFC 9309 evaluation of
    the `urls` CTE against the given rule set."""
    from distributed_webcrawler_spark.functions.robots_fn import rule_to_like

    vals = ",\n".join(
        f"('{h}', '{r}', '{rule_to_like(r)}', {str(a).upper()})"
        for h, r, a in rules)
    return f"""rules{tag} AS (SELECT * FROM (VALUES
{vals}
) v(host, rule, pattern, is_allow)),
m{tag} AS (
  SELECT u.url, r.rule, r.is_allow,
         row_number() OVER (PARTITION BY u.url
                            ORDER BY length(r.rule) DESC, r.is_allow DESC, r.rule ASC) AS rk
  FROM urls u JOIN rules{tag} r ON r.host = u.host AND u.path LIKE r.pattern ESCAPE '\\'),
verdict{tag} AS (
  SELECT u.host, u.url, u.path, w.rule AS matched_rule,
         coalesce(w.is_allow, TRUE) AS allowed
  FROM urls u LEFT JOIN (SELECT url, rule, is_allow FROM m{tag} WHERE rk = 1) w
    ON w.url = u.url)"""


def _r9_sql() -> str:
    return f"""
WITH urls AS ({_R9_URLS_SQL}),
{_r9_verdict_sql(_r9_rules(), "1")}
SELECT host, url, path, matched_rule, allowed FROM verdict1
"""


# --- Zipf rank-frequency fit --------------------------------------------------
_ZIPF_TOPK = 100
_ZIPF_SCALE = 1_000_000  # fixed-point ln() quantum for exact integer OLS sums


def q_zipf_term_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary — the corpus
    health check every tokenizer/dedup decision leans on (natural text
    fits slope ≈ -1; boilerplate-flooded or template-generated crawls
    bend the curve). Term counts are one groupBy; the head is a bounded
    TakeOrderedAndProject (top-100 by freq DESC, term ASC — never a
    global sort); the OLS of ln(freq) on ln(rank) runs in FIXED-POINT:
    each row contributes round(ln(v)·10^6) as bigint, so every
    regression sum is an exact order-independent integer (float sums
    would drift between engines with summation order — Spark partial
    aggs vs DuckDB's window segment trees) and only the final
    slope/intercept division is float, identical IEEE on both engines."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]{3,}', 0)"))
        .alias("term"))
    freq = toks.groupBy("term").agg(F.count("*").alias("freq"))
    top = K.global_topk(freq, [F.col("freq").desc(), F.col("term").asc()],
                        _ZIPF_TOPK)
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    ranked = top.withColumn("rank", F.row_number().over(w))  # 100-row dim
    xi = F.round(F.log(F.col("rank").cast("double")) * _ZIPF_SCALE).cast("bigint")
    yi = F.round(F.log(F.col("freq").cast("double")) * _ZIPF_SCALE).cast("bigint")
    pts = ranked.select("rank", "term", "freq", xi.alias("xi"), yi.alias("yi"))
    s = pts.agg(F.count("*").alias("n"), F.sum("xi").alias("sx"),
                F.sum("yi").alias("sy"),
                F.sum(F.col("xi") * F.col("yi")).alias("sxy"),
                F.sum(F.col("xi") * F.col("xi")).alias("sxx"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    intercept = ((F.col("sy") - slope * F.col("sx"))
                 / (F.col("n") * F.lit(float(_ZIPF_SCALE))))
    fit = s.select(F.round(slope, 6).alias("zipf_slope"),
                   F.round(intercept, 6).alias("zipf_intercept"))
    return (pts.select("rank", "term", F.col("freq").cast("bigint").alias("freq"))
            .crossJoin(F.broadcast(fit)))


_Q_ZIPF_SQL = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]{{3,}}')) AS term
  FROM documents),
freq AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
top_ AS (SELECT term, freq FROM freq ORDER BY freq DESC, term ASC LIMIT {_ZIPF_TOPK}),
ranked AS (
  SELECT term, freq,
         row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
  FROM top_),
pts AS (
  SELECT rank, term, freq,
         cast(round(ln(cast(rank as double)) * {_ZIPF_SCALE}) as bigint) AS xi,
         cast(round(ln(cast(freq as double)) * {_ZIPF_SCALE}) as bigint) AS yi
  FROM ranked),
s AS (
  SELECT count(*) AS n, sum(xi) AS sx, sum(yi) AS sy,
         sum(xi * yi) AS sxy, sum(xi * xi) AS sxx
  FROM pts)
SELECT p.rank, p.term, cast(p.freq as bigint) AS freq,
       round((s.n * s.sxy - s.sx * s.sy) * 1.0
             / (s.n * s.sxx - s.sx * s.sx), 6) AS zipf_slope,
       round((s.sy - ((s.n * s.sxy - s.sx * s.sy) * 1.0
                      / (s.n * s.sxx - s.sx * s.sx)) * s.sx)
             / (s.n * {float(_ZIPF_SCALE)!r}), 6) AS zipf_intercept
FROM pts p CROSS JOIN s
"""


# --- letterbox / pillarbox margin detection ---------------------------------
_LB_N = 192


def _lb_payloads() -> list:
    """Deterministic (image_id, bytes) batch with PLANTED uniform borders:
    i%4==0 rows get top/bottom letterbox bars, i%4==1 rows get left/right
    pillarbox bars, one image is fully blank, the rest are raw synth
    pixels (no uniform border). md5-derived sizes, same recipe as the
    multimodal decode batch."""
    import hashlib

    import numpy as np

    from distributed_webcrawler_spark.sources import codec

    out = []
    fmts = ["png", "jpeg", "webp"]
    for i in range(_LB_N):
        hw = int(hashlib.md5(f"lbw:{i}".encode()).hexdigest()[:8], 16)
        hh = int(hashlib.md5(f"lbh:{i}".encode()).hexdigest()[:8], 16)
        w, h = 20 + hw % 29, 20 + hh % 29
        iid = f"lb-{i:05d}"
        px = codec.synth_pixels(iid, w, h).copy()
        if i == 7:
            px[:] = (12, 12, 12)                     # fully blank
        elif i % 4 == 0:
            k = 2 + i % 5
            px[:k] = (0, 0, 0)
            px[-k:] = (0, 0, 0)                      # letterbox bars
        elif i % 4 == 1:
            k = 2 + i % 3
            px[:, :k] = (0, 0, 0)
            px[:, -k:] = (0, 0, 0)                   # pillarbox bars
        out.append((iid, codec.encode_image(np.ascontiguousarray(px), fmts[i % 3])))
    return out


def q_image_letterbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letterbox/pillarbox detection — uniform-border margins + content
    box per image, the pre-training crop signal (bars poison phash dedup
    and aspect bucketing). Arrow-batched decode-once mapInPandas
    (operators/multimodal.py letterbox_stats); the planted-border batch
    is deterministic, so the oracle gates rows+schema+hash against a
    precomputed expected table, same discipline as multimodal_decode."""
    import pandas as pd

    from distributed_webcrawler_spark.operators.multimodal import letterbox_stats

    pdf = pd.DataFrame(_lb_payloads(), columns=["image_id", "bytes"])
    payloads = spark.createDataFrame(pdf).repartition(8)
    return (letterbox_stats(payloads).where(F.col("ok"))
            .select("image_id", "w", "h", "top", "bottom", "left", "right",
                    "content_w", "content_h", "letterboxed"))


def _lb_sql() -> str:
    from distributed_webcrawler_spark.operators.multimodal import letterbox_margins_np
    from distributed_webcrawler_spark.sources import codec

    rows = []
    for iid, data in _lb_payloads():
        px, _ = codec.decode_image(data)
        t, b, lf, r = letterbox_margins_np(px)
        h, w = px.shape[0], px.shape[1]
        rows.append(f"('{iid}', {w}, {h}, {t}, {b}, {lf}, {r}, "
                    f"{w - lf - r}, {h - t - b}, {str(max(t, b, lf, r) >= 2).upper()})")
    vals = ",\n".join(rows)
    return f"""
SELECT image_id, cast(w as int) AS w, cast(h as int) AS h,
       cast(top as int) AS top, cast(bottom as int) AS bottom,
       cast("left" as int) AS "left", cast("right" as int) AS "right",
       cast(content_w as int) AS content_w, cast(content_h as int) AS content_h,
       letterboxed
FROM (VALUES
{vals}
) AS t(image_id, w, h, top, bottom, "left", "right", content_w, content_h, letterboxed)
"""


# --- triangle counting over the host graph ---------------------------------
_TRI_HOSTS, _TRI_MOD = 200, 4
_TRI_EDGE_SQL = f"""
  SELECT DISTINCT least(o_orderkey % {_TRI_HOSTS}, o_custkey % {_TRI_HOSTS}) AS a,
                  greatest(o_orderkey % {_TRI_HOSTS}, o_custkey % {_TRI_HOSTS}) AS b
  FROM orders
  WHERE o_orderkey % {_TRI_HOSTS} <> o_custkey % {_TRI_HOSTS}
    AND (o_orderkey + o_custkey) % {_TRI_MOD} = 0
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + clustering coefficient per host — the link-
    farm detector (spam rings are near-cliques: high clustering at high
    degree) and the community-density summary. The Spark side runs the
    degree-ordered ORIENTED enumeration (operators/graphstats.py: each
    triangle found once at its lowest-(degree,id) corner, so hub nodes
    never become wedge centers — the 'last reducer' fix from Suri &
    Vassilvitskii WWW'11); the oracle states the naive neighbor-pair
    form. Orientation is a physical strategy, not a semantic: the counts
    are provably identical, which is the point of gating it."""
    from distributed_webcrawler_spark.operators.graphstats import triangle_counts

    o = _t(spark, sf_dir, "orders")
    ka, kb = F.col("o_orderkey") % _TRI_HOSTS, F.col("o_custkey") % _TRI_HOSTS
    edges = (o.where((ka != kb)
                     & ((F.col("o_orderkey") + F.col("o_custkey")) % _TRI_MOD == 0))
             .select(ka.alias("src"), kb.alias("dst")))
    return (triangle_counts(edges)
            .select(F.col("id").cast("bigint").alias("node"),
                    "degree", "triangles", "clustering"))


_Q_TRI_SQL = f"""
WITH e AS ({_TRI_EDGE_SQL}),
und AS (SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT s AS id, count(*) AS degree FROM und GROUP BY s),
tri AS (
  SELECT e1.s AS id, count(*) AS triangles
  FROM und e1 JOIN und e2 ON e1.s = e2.s AND e1.d < e2.d
  JOIN e e3 ON e3.a = e1.d AND e3.b = e2.d
  GROUP BY e1.s)
SELECT d.id AS node, cast(d.degree as bigint) AS degree,
       cast(coalesce(t.triangles, 0) as bigint) AS triangles,
       CASE WHEN d.degree >= 2
            THEN round(2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1)), 6)
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tri t ON t.id = d.id
"""


def q_grouped_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group approximate quantiles (p50/p95 of extended price per
    return flag) from ONE shared histogram pass — the grouped
    generalization of approx_quantile_hist (operators/sketch.py
    binned_quantiles_by): shuffle width is groups × bins, the cumulative
    window runs per group over the bounded bin dimension, and no
    per-group row sort exists anywhere — the shape that survives 10^10
    rows × 10^4 groups where exact grouped percentile cannot."""
    from distributed_webcrawler_spark.operators.sketch import binned_quantiles_by

    li = _t(spark, sf_dir, "lineitem")
    return (binned_quantiles_by(li, "l_extendedprice", "l_returnflag",
                                _AQ_BIN_W, [("p50", 0.5), ("p95", 0.95)])
            .select(F.col("l_returnflag").alias("returnflag"),
                    "label", "q", "est_value"))


def _gq_sql() -> str:
    from distributed_webcrawler_spark.operators.sketch import binned_quantiles_by_sql

    inner = binned_quantiles_by_sql("l_extendedprice", "l_returnflag",
                                    "lineitem", _AQ_BIN_W,
                                    [("p50", 0.5), ("p95", 0.95)])
    return f"SELECT grp AS returnflag, label, q, est_value FROM ({inner})"


_FANO_TH = 1.5


def q_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor) of daily event counts per type — the
    model check behind recrawl_lambda: the Poisson revisit math assumes
    Fano = var/mean ≈ 1; a type with Fano >> 1 is BURSTY (flash crowds,
    batch imports) and its λ̂-derived revisit interval will under-crawl
    the bursts. Sample variance rebuilt from exact integer sums (n, Σc,
    Σc²) exactly like the anomaly z-scores — no stddev built-in, no
    accumulation-order drift."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("c")))
    s = (daily.groupBy("event_type")
         .agg(F.count("*").alias("n"), F.sum("c").alias("sc"),
              F.sum(F.col("c") * F.col("c")).alias("scc")))
    mean = F.col("sc") / F.col("n")
    var = ((F.col("scc") - F.col("sc") * F.col("sc") / F.col("n"))
           / (F.col("n") - 1))
    fano = F.round(var / mean, 6)
    return (s.where(F.col("n") > 1)
            .select("event_type", F.col("n").cast("bigint").alias("n_days"),
                    F.round(mean, 6).alias("mean_daily"),
                    fano.alias("fano"),
                    (fano > _FANO_TH).alias("bursty")))


_Q_FANO_SQL = f"""
WITH daily AS (
  SELECT event_type, cast(ts as date) AS day, count(*) AS c
  FROM events GROUP BY 1, 2),
s AS (
  SELECT event_type, count(*) AS n, sum(c) AS sc, sum(c * c) AS scc
  FROM daily GROUP BY 1)
SELECT event_type, cast(n as bigint) AS n_days,
       round(sc * 1.0 / n, 6) AS mean_daily,
       round(((scc - sc * 1.0 * sc / n) / (n - 1)) / (sc * 1.0 / n), 6) AS fano,
       round(((scc - sc * 1.0 * sc / n) / (n - 1)) / (sc * 1.0 / n), 6) > {_FANO_TH} AS bursty
FROM s WHERE n > 1
"""


def q_frontier_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the frontier's per-host URL distribution —
    the single-number inequality gauge beside the skew report's entropy:
    0 = perfectly balanced hosts, ->1 = one host owns the frontier (and
    your politeness budget owns your makespan). Computed from the
    rank-weighted integer sum G = 2·Σ(rank·n)/(H·N) − (H+1)/H with hosts
    ranked by (count ASC, host ASC): every sum is an exact integer (the
    rank window runs over the bounded HOST dimension), so the one float
    expression is identical on both engines."""
    fr = _frontier(spark, sf_dir)
    per = fr.groupBy("host").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").asc(), F.col("host").asc())  # host dim: bounded
    ranked = per.withColumn("rk", F.row_number().over(w))
    s = ranked.agg(F.count("*").alias("h"), F.sum("n").alias("t"),
                   F.sum(F.col("rk") * F.col("n")).alias("s"))
    gini = (F.lit(2.0) * F.col("s") / (F.col("h") * F.col("t"))
            - (F.col("h") + 1) / F.col("h"))
    return s.select(F.col("h").cast("bigint").alias("n_hosts"),
                    F.col("t").cast("bigint").alias("n_urls"),
                    F.round(gini, 6).alias("gini"))


_Q_GINI_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
per AS (SELECT host, count(*) AS n FROM frontier GROUP BY host),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n ASC, host ASC) AS rk FROM per),
s AS (SELECT count(*) AS h, sum(n) AS t, sum(rk * n) AS s FROM ranked)
SELECT cast(h as bigint) AS n_hosts, cast(t as bigint) AS n_urls,
       round(2.0 * s / (h * t) - (h + 1) * 1.0 / h, 6) AS gini
FROM s
"""


def q_frontier_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz deciles of host load — the curve behind the Gini number:
    hosts ranked lightest-first into 10 deciles, each with its host and
    URL counts and the cumulative URL share ("the bottom 50% of hosts
    hold X% of the frontier"). The rank window runs over the bounded
    host dimension; cumulative sums are over the 10-row decile dimension
    and integer-exact, so the only float is the final share division."""
    fr = _frontier(spark, sf_dir)
    per = fr.groupBy("host").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").asc(), F.col("host").asc())
    ranked = per.withColumn("rk", F.row_number().over(w))
    hcount = per.agg(F.count("*").alias("h"))
    dec = (ranked.crossJoin(F.broadcast(hcount))
           .select(F.expr("CAST((rk * 10 + h - 1) DIV h AS INT)").alias("decile"),
                   "n")
           .groupBy("decile")
           .agg(F.count("*").cast("bigint").alias("n_hosts"),
                F.sum("n").cast("bigint").alias("n_urls")))
    tot = dec.agg(F.sum("n_urls").alias("t"))
    cw = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (dec.crossJoin(F.broadcast(tot))
            .select("decile", "n_hosts", "n_urls",
                    F.round(F.sum("n_urls").over(cw) / F.col("t"), 6)
                    .alias("cum_url_share")))


_Q_LORENZ_SQL = f"""
WITH frontier AS ({_FRONTIER_SQL}),
per AS (SELECT host, count(*) AS n FROM frontier GROUP BY host),
hc AS (SELECT count(*) AS h FROM per),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n ASC, host ASC) AS rk FROM per),
dec AS (
  SELECT cast((rk * 10 + (SELECT h FROM hc) - 1) // (SELECT h FROM hc) as int) AS decile,
         count(*) AS n_hosts, sum(n) AS n_urls
  FROM ranked GROUP BY 1),
tot AS (SELECT sum(n_urls) AS t FROM dec)
SELECT decile, cast(n_hosts as bigint) AS n_hosts, cast(n_urls as bigint) AS n_urls,
       round(sum(n_urls) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 1.0 / (SELECT t FROM tot), 6) AS cum_url_share
FROM dec
"""


def q_graph_mixing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row host-graph mixing summary: reciprocity (fraction of
    directed edges whose reverse also exists — high between mirrored /
    federated sites, near zero for pure hub-and-spoke link farms) and
    degree assortativity (Newman 2002: Pearson correlation of endpoint
    total-degrees over edges — the web is famously DISassortative, hubs
    link to leaves). Both from exact integer sums: degrees are integers,
    so every regression sum is exact; only the final r expression is
    float (variance product cast double once, the corr recipe). One
    degree agg + two edge joins."""
    li = _t(spark, sf_dir, "lineitem")
    edges = (li.select(
        (F.col("l_suppkey") % N_FRONTIER_HOSTS).alias("src"),
        (F.col("l_partkey") % N_FRONTIER_HOSTS).alias("dst"))
        .where(F.col("src") != F.col("dst")).distinct())
    rev = edges.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    recip = (edges.join(rev, ["src", "dst"], "left_semi")
             .agg(F.count("*").alias("n_recip")))
    deg = (edges.select(F.col("src").alias("id"))
           .unionAll(edges.select(F.col("dst").alias("id")))
           .groupBy("id").agg(F.count("*").alias("deg")))
    ed = (edges
          .join(deg.select(F.col("id").alias("src"), F.col("deg").alias("x")), "src")
          .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("y")), "dst"))
    s = ed.agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
               F.sum("y").alias("sy"), F.sum(F.col("x") * F.col("y")).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"),
               F.sum(F.col("y") * F.col("y")).alias("syy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                 .cast("double")
                 * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
    return (s.crossJoin(F.broadcast(recip))
            .select(F.col("n").cast("bigint").alias("n_edges"),
                    F.round(F.col("n_recip") / F.col("n"), 6).alias("reciprocity"),
                    F.round(num / den, 6).alias("assortativity")))


_Q_MIXING_SQL = f"""
WITH e AS (
  SELECT DISTINCT l_suppkey % {N_FRONTIER_HOSTS} AS src,
                  l_partkey % {N_FRONTIER_HOSTS} AS dst
  FROM lineitem WHERE l_suppkey % {N_FRONTIER_HOSTS} <> l_partkey % {N_FRONTIER_HOSTS}),
recip AS (
  SELECT count(*) AS n_recip FROM e
  WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)),
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT src AS id FROM e UNION ALL SELECT dst FROM e) GROUP BY id),
ed AS (
  SELECT dx.deg AS x, dy.deg AS y
  FROM e JOIN deg dx ON dx.id = e.src JOIN deg dy ON dy.id = e.dst),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM ed)
SELECT cast(n as bigint) AS n_edges,
       round((SELECT n_recip FROM recip) * 1.0 / n, 6) AS reciprocity,
       round((n * sxy - sx * sy) * 1.0
             / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)), 6) AS assortativity
FROM s
"""


# --- k-core ------------------------------------------------------------------
_KCORE_K, _KCORE_ROUNDS = 20, 12


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the host graph (k=20) — the densest tightly-cross-linked
    site cluster, peeled by iterative degree filtering (at sf0.01 the
    cascade runs 9 rounds: removing sub-20 hosts drops neighbors below
    20, and so on — the non-trivial dynamics the gate certifies). Spark
    runs operators/graphstats.py k_core (early-exit fixpoint loop); the
    oracle unrolls a fixed 12 rounds — peeling is monotone, so the two
    agree exactly whenever the fixpoint arrives within the unroll."""
    from distributed_webcrawler_spark.operators.graphstats import k_core

    o = _t(spark, sf_dir, "orders")
    ka, kb = F.col("o_orderkey") % _TRI_HOSTS, F.col("o_custkey") % _TRI_HOSTS
    edges = (o.where((ka != kb)
                     & ((F.col("o_orderkey") + F.col("o_custkey")) % _TRI_MOD == 0))
             .select(ka.alias("src"), kb.alias("dst")))
    return (k_core(edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS)
            .select(F.col("id").cast("bigint").alias("node"), "core_degree"))


def _kcore_sql() -> str:
    # AS MATERIALIZED: each round references the previous edge set three
    # times — default CTE inlining would expand e0 exponentially (the
    # same trap the HITS oracle documents)
    parts = [f"e0 AS MATERIALIZED ({_TRI_EDGE_SQL})"]
    for t in range(_KCORE_ROUNDS):
        parts.append(f"""d{t} AS MATERIALIZED (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM e{t} UNION ALL SELECT b FROM e{t}) GROUP BY id),
k{t} AS MATERIALIZED (SELECT id FROM d{t} WHERE deg >= {_KCORE_K}),
e{t + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{t} e
  JOIN k{t} x ON x.id = e.a JOIN k{t} y ON y.id = e.b)""")
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT cast(id as bigint) AS node, cast(count(*) as bigint) AS core_degree
FROM (SELECT a AS id FROM e{_KCORE_ROUNDS} UNION ALL SELECT b FROM e{_KCORE_ROUNDS})
GROUP BY id
"""


# --- BFS seed distance -------------------------------------------------------
_BFS_NODES, _BFS_SEED_MOD, _BFS_HOPS = 400, 50, 6
_BFS_EDGE_SQL = f"""
  SELECT DISTINCT l_orderkey % {_BFS_NODES} AS src,
                  (l_orderkey * 3 + l_linenumber % 2) % {_BFS_NODES} AS dst
  FROM lineitem
  WHERE l_orderkey % {_BFS_NODES} <> (l_orderkey * 3 + l_linenumber % 2) % {_BFS_NODES}
"""


def q_graph_seed_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the seed set over the link graph, exact up
    to 6 hops — the offline twin of crawl depth: "if I seed these hosts,
    what does round N's frontier look like" (the synthetic graph spreads
    seeds' reach across depths 0-8, so the 6-hop horizon visibly
    truncates: unreached nodes are absent, as in a real crawl). Spark
    runs frontier-only expansion (operators/graphstats.py, one equi-join
    + min-agg per hop, checkpointed); the oracle states the Bellman-Ford
    relax-everything form — after t rounds both give the exact min-hop
    distance for every node within t hops, so the gate proves the
    frontier optimization changes nothing."""
    from distributed_webcrawler_spark.operators.graphstats import bfs_distances

    li = _t(spark, sf_dir, "lineitem")
    edges = (li.select((F.col("l_orderkey") % _BFS_NODES).alias("src"),
                       ((F.col("l_orderkey") * 3 + F.col("l_linenumber") % 2)
                        % _BFS_NODES).alias("dst"))
             .where(F.col("src") != F.col("dst")).distinct())
    nodes = (edges.select(F.col("src").alias("id"))
             .unionByName(edges.select(F.col("dst").alias("id"))).distinct())
    seeds = nodes.where(F.col("id") % _BFS_SEED_MOD == 0)
    return (bfs_distances(edges, seeds, max_hops=_BFS_HOPS)
            .select(F.col("id").cast("bigint").alias("node"), "dist"))


def _bfs_sql() -> str:
    parts = [f"""e AS ({_BFS_EDGE_SQL}),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
d0 AS (SELECT id, 0 AS dist FROM nodes WHERE id % {_BFS_SEED_MOD} = 0)"""]
    for t in range(_BFS_HOPS):
        parts.append(f"""d{t + 1} AS (
  SELECT id, min(dist) AS dist FROM (
    SELECT id, dist FROM d{t}
    UNION ALL
    SELECT e.dst AS id, d.dist + 1 AS dist FROM d{t} d JOIN e ON e.src = d.id
  ) GROUP BY id)""")
    body = ",\n".join(parts)
    return (f"WITH {body}\nSELECT cast(id as bigint) AS node,"
            f" cast(dist as int) AS dist FROM d{_BFS_HOPS}")


# --- approximate quantiles from a fixed-width histogram ----------------------
_AQ_BIN_W = 100.0
_AQ_QS = [("p50", 0.5), ("p95", 0.95), ("p99", 0.99)]


def q_approx_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-binned approximate quantiles of l_extendedprice — the
    10^10-row replacement for exact `percentile`'s global sort: a
    constant-width groupBy(bin) (mergeable, partial-agg bounded) plus
    linear interpolation where the cumulative count crosses q·n
    (operators/sketch.py binned_quantiles; max error bin_width/2). The
    exact percentile is computed alongside and the relative error
    reported — the accuracy-vs-shuffle tradeoff made visible and gated."""
    from distributed_webcrawler_spark.operators.sketch import binned_quantiles

    li = _t(spark, sf_dir, "lineitem")
    est = binned_quantiles(li, "l_extendedprice", _AQ_BIN_W, _AQ_QS)
    ex = li.agg(*[F.expr(f"percentile(l_extendedprice, {q!r})").alias(lbl)
                  for lbl, q in _AQ_QS])
    exm = (ex.select(F.explode(F.array(*[
        F.struct(F.lit(lbl).alias("label"),
                 F.round(F.col(lbl), 6).alias("exact_value"))
        for lbl, _ in _AQ_QS])).alias("s"))
        .select("s.label", "s.exact_value"))
    return (est.join(F.broadcast(exm), "label")
            .select("label", "q", "est_value", "exact_value",
                    F.round(F.abs(F.col("est_value") - F.col("exact_value"))
                            / F.col("exact_value"), 6).alias("rel_err")))


def _aq_sql() -> str:
    from distributed_webcrawler_spark.operators.sketch import binned_quantiles_sql

    inner = binned_quantiles_sql("l_extendedprice", "lineitem", _AQ_BIN_W, _AQ_QS)
    exact = " UNION ALL ".join(
        f"SELECT '{lbl}' AS label, round(quantile_cont(l_extendedprice, {q!r}), 6)"
        f" AS exact_value FROM lineitem" for lbl, q in _AQ_QS)
    return f"""
WITH est AS ({inner}),
ex AS ({exact})
SELECT est.label, est.q, est.est_value, ex.exact_value,
       round(abs(est.est_value - ex.exact_value) / ex.exact_value, 6) AS rel_err
FROM est JOIN ex ON ex.label = est.label
"""


# --- DUST rule mining ---------------------------------------------------------
_DUST_MIN_SUPPORT = 100


def q_dust_rule_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST rule mining — "Different URLs with Similar Text" (Bar-Yossef
    et al., WWW 2007): discover URL rewrite rules from content-duplicate
    URL pairs, so the frontier can canonicalize aliases BEFORE fetching
    them (www-prefix, /index.html suffix, session-id params — the three
    planted alias families here). The miner is generic: group URLs by
    content digest, elect the lexicographic-min URL as the canonical,
    emit template(alias) -> template(canonical) per non-canonical member
    (templates = digit-masked), and count supporting digest groups; only
    rules above min-support survive (one noisy pair is not a rule).

    Scale shape: one shuffle on digest (groupBy min + join back on the
    same key — co-partitioned), one constant-width rule agg. The rule
    table is then a broadcast-size artifact the canonicalizer applies
    map-side, which is the whole point: discovered once, applied for
    free at 10^10 URLs."""
    # spread before the projection (interleaved A/B: 7.3s -> 4.4s): the
    # digest is a seeded-md5 h64 evaluated per row in the scan stage, and
    # the urls leg is read by BOTH join sides — exactly the heavy-fused-
    # compute case the guarded repartition exists for (no-op at scale).
    li = D.spread_for_explode(_t(spark, sf_dir, "lineitem"))
    host = F.concat(F.lit("host"), (F.col("l_suppkey") % N_FRONTIER_HOSTS).cast("string"))
    tail = F.concat(F.col("l_orderkey").cast("string"), F.lit("-"),
                    F.col("l_linenumber").cast("string"))
    base = F.concat(F.lit("https://"), host, F.lit(".example.test/p/"), tail)
    v = F.col("l_linenumber") % 3
    alias = (F.when(v == 0, F.concat(F.lit("https://www."), host,
                                     F.lit(".example.test/p/"), tail))
             .when(v == 1, F.concat(base, F.lit("/index.html")))
             .otherwise(F.concat(base, F.lit("?session="),
                                 (F.col("l_orderkey") % 1000).cast("string"))))
    urls = (li.select(h64(base).alias("digest"),
                      F.explode(F.array(base, alias)).alias("url")))
    canon = urls.groupBy("digest").agg(F.min("url").alias("canon"))
    tmpl = lambda c: F.regexp_replace(c, "[0-9]+", "N")  # noqa: E731
    return (urls.join(canon, "digest")
            .where(F.col("url") != F.col("canon"))
            .select(tmpl(F.col("url")).alias("rule_from"),
                    tmpl(F.col("canon")).alias("rule_to"))
            .groupBy("rule_from", "rule_to")
            .agg(F.count("*").cast("bigint").alias("support"))
            .where(F.col("support") >= _DUST_MIN_SUPPORT))


_Q_DUST_SQL = f"""
WITH rows_ AS (
  SELECT concat('https://host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar),
                '.example.test/p/', cast(l_orderkey as varchar), '-',
                cast(l_linenumber as varchar)) AS base,
         l_orderkey, l_linenumber, l_suppkey
  FROM lineitem),
pairs AS (
  SELECT {h64_sql("base")} AS digest, base,
         CASE l_linenumber % 3
           WHEN 0 THEN concat('https://www.host', cast(l_suppkey % {N_FRONTIER_HOSTS} as varchar),
                              '.example.test/p/', cast(l_orderkey as varchar), '-',
                              cast(l_linenumber as varchar))
           WHEN 1 THEN concat(base, '/index.html')
           ELSE concat(base, '?session=', cast(l_orderkey % 1000 as varchar))
         END AS alias
  FROM rows_),
urls AS (
  SELECT digest, base AS url FROM pairs
  UNION ALL SELECT digest, alias FROM pairs),
canon AS (SELECT digest, min(url) AS canon FROM urls GROUP BY digest)
SELECT regexp_replace(u.url, '[0-9]+', 'N', 'g') AS rule_from,
       regexp_replace(c.canon, '[0-9]+', 'N', 'g') AS rule_to,
       count(*) AS support
FROM urls u JOIN canon c ON c.digest = u.digest
WHERE u.url <> c.canon
GROUP BY 1, 2 HAVING count(*) >= {_DUST_MIN_SUPPORT}
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "crawl_round_schedule": q_crawl_round_schedule,
        "frontier_topk_global": q_frontier_topk_global,
        "priority_ladder": q_priority_ladder,
        "url_validity_filter": q_url_validity_filter,
        "seen_antijoin": q_seen_antijoin,
        "dedup_first_wins": q_dedup_first_wins,
        "politeness_budget": q_politeness_budget,
        "round_robin_quota": q_round_robin_quota,
        "status_counts": q_status_counts,
        "pages_by_type_day": q_pages_by_type_day,
        "metrics_snapshot": q_metrics_snapshot,
        "pricing_summary": q_pricing_summary,
        "fetch_join_revenue": q_fetch_join_revenue,
        "broadcast_dim_join": q_broadcast_dim_join,
        "depth_gate": q_depth_gate,
        "link_explode": q_link_explode,
        "sessionize_events": q_sessionize_events,
        "latest_wins": q_latest_wins,
        "props_json_extract": q_props_json_extract,
        "agg_rollup": q_agg_rollup,
        "set_intersect": q_set_intersect,
        "pivot_status": q_pivot_status,
        "rolling_window": q_rolling_window,
        "count_distinct": q_count_distinct,
        "quantile_stats": q_quantile_stats,
        "dedup_exact": q_dedup_exact,
        "substring_dedup": q_substring_dedup,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_components": q_dedup_components,
        "dedup_incremental": q_dedup_incremental,
        "semdedup_pairs": q_semdedup,
        "pagerank_hosts": q_pagerank_hosts,
        "bm25_search": q_bm25_search,
        "kmeans_centroids": q_kmeans_centroids,
        "kmv_distinct": q_kmv_distinct,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "embedding_quantize_int8": q_embedding_quantize,
        "image_dup_clusters": q_image_dup_clusters,
        "anchor_text_agg": q_anchor_text_agg,
        "inverted_index": q_inverted_index,
        "hits_hosts": q_hits_hosts,
        "dsir_importance": q_dsir_importance,
        "frontier_age_priority": q_frontier_age_priority,
        "warc_cdx_index": q_warc_cdx_index,
        "budget_apportion": q_budget_apportion,
        "url_surt_key": q_url_surt_key,
        "minhash_calibration": q_minhash_calibration,
        "robots_block_rate": q_robots_block_rate,
        "snapshot_diff": q_snapshot_diff,
        "event_funnel": q_event_funnel,
        "degree_histogram": q_degree_histogram,
        "trustrank_hosts": q_trustrank_hosts,
        "image_channel_histogram": q_image_channel_histogram,
        "host_skew_report": q_host_skew_report,
        "ann_recall_report": q_ann_recall_report,
        "lpa_communities": q_lpa_communities,
        "image_resize_check": q_image_resize_check,
        "audio_near_dup": q_audio_near_dup,
        "shard_balance_report": q_shard_balance_report,
        "crawl_depth_profile": q_crawl_depth_profile,
        "robots_sitemap_discovery": q_robots_sitemap_discovery,
        "pagerank_priority_blend": q_pagerank_priority_blend,
        "dedup_method_agreement": q_dedup_method_agreement,
        "host_bucket_balance": q_host_bucket_balance,
        "event_rate_anomaly": q_event_rate_anomaly,
        "caption_dup_images": q_caption_dup_images,
        "hll_distinct": q_hll_distinct,
        "url_template_mining": q_url_template_mining,
        "host_cocitation": q_host_cocitation,
        "crawl_makespan": q_crawl_makespan,
        "budget_sensitivity": q_budget_sensitivity,
        "bloom_shard_health": q_bloom_shard_health,
        "corr_length_tokens": q_corr_length_tokens,
        "image_transcode_savings": q_image_transcode_savings,
        "dedup_savings_report": q_dedup_savings_report,
        "tokenizer_oov_rate": q_tokenizer_oov_rate,
        "recrawl_lambda": q_recrawl_lambda,
        "recrawl_due_set": q_recrawl_due_set,
        "embedding_norm_hist": q_embedding_norm_hist,
        "corpus_temperature_mix": q_corpus_temperature_mix,
        "graph_mixing_stats": q_graph_mixing_stats,
        "frontier_gini": q_frontier_gini,
        "event_burstiness": q_event_burstiness,
        "grouped_quantile_hist": q_grouped_quantile_hist,
        "frontier_lorenz": q_frontier_lorenz,
        "graph_triangles": q_graph_triangles,
        "graph_seed_distance": q_graph_seed_distance,
        "approx_quantile_hist": q_approx_quantile_hist,
        "dust_rule_mining": q_dust_rule_mining,
        "image_letterbox": q_image_letterbox,
        "zipf_term_fit": q_zipf_term_fit,
        "robots_rfc9309": q_robots_rfc9309,
        "politeness_audit": q_politeness_audit,
        "robots_generation_diff": q_robots_generation_diff,
        "image_color_profile": q_image_color_profile,
        "sitemap_coverage_gap": q_sitemap_coverage_gap,
        "graph_kcore": q_graph_kcore,
        "host_mirror_detect": q_host_mirror_detect,
        "event_pmi": q_event_pmi,
        "dedup_recall_planted": q_dedup_recall_planted,
        "host_ucb_priority": q_host_ucb_priority,
        "ann_nprobe_sweep": q_ann_nprobe_sweep,
        "dedup_method_recall": q_dedup_method_recall,
        "image_phash_recall": q_image_phash_recall,
        "weighted_sample": q_weighted_sample,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash64": q_dedup_simhash64,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_lsh_signature": q_ann_lsh_signature,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_nprobe": q_ann_ivf_nprobe,
        "asof_join_purchase": q_asof_join_purchase,
        "range_join_followups": q_range_join_followups,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "text_token_stats": q_text_token_stats,
        "text_fingerprint": q_text_fingerprint,
        "multimodal_decode": q_multimodal_decode,
        "image_header_meta": q_image_header_meta,
        "image_caption_pair_filter": q_image_caption_pair_filter,
        "caption_image_alignment": q_caption_image_alignment,
        "video_frame_sample": q_video_frame_sample,
        "audio_features": q_audio_features,
        "image_phash_near_dup": q_image_phash_near_dup,
        "dataset_split": q_dataset_split,
        "pii_scrub": q_pii_scrub,
        "quality_repetition": q_quality_repetition,
        "contamination_overlap": q_contamination_overlap,
        "dedup_keep_best": q_dedup_keep_best,
        "recrawl_schedule": q_recrawl_schedule,
        "html_text_extract": q_html_text_extract,
        "c4_line_filter": q_c4_line_filter,
        "paragraph_dedup": q_paragraph_dedup,
        "crawl_trap_hosts": q_crawl_trap_hosts,
        "corpus_mix": q_corpus_mix,
        "gopher_quality_filter": q_gopher_quality_filter,
        "token_shard_pack": q_token_shard_pack,
        "url_blocklist_filter": q_url_blocklist_filter,
        "image_exact_dedup": q_image_exact_dedup,
        "ccnet_perplexity_bucket": q_ccnet_perplexity_bucket,
        "stratified_sample": q_stratified_sample,
        "crawl_delay_budget": q_crawl_delay_budget,
        "sitemap_extract": q_sitemap_extract,
        "quality_linear_score": q_quality_linear_score,
        "meta_robots_gate": q_meta_robots_gate,
        "host_circuit_breaker": q_host_circuit_breaker,
        "warc_record_parse": q_warc_record_parse,
        "image_size_stats": q_image_size_stats,
        "image_real_png_decode": q_image_real_png_decode,
        "image_real_webp_decode": q_image_real_webp_decode,
        "lossless_codec_compare": q_lossless_codec_compare,
        "image_real_jpeg_decode": q_image_real_jpeg_decode,
        "jpeg_quality_sweep": q_jpeg_quality_sweep,
        "mixed_format_decode": q_mixed_format_decode,
        "audio_real_wav_decode": q_audio_real_wav_decode,
        "video_real_mjpeg_decode": q_video_real_mjpeg_decode,
        "clip_pair_filter": q_clip_pair_filter,
        "pair_dedup_union": q_pair_dedup_union,
        "aesthetic_score_filter": q_aesthetic_score_filter,
        "pair_filter_funnel": q_pair_filter_funnel,
        "webdataset_shard_manifest": q_webdataset_shard_manifest,
        "phash_hamming_histogram": q_phash_hamming_histogram,
        "recrawl_policy_compare": q_recrawl_policy_compare,
        "doc_chunk": q_doc_chunk,
        "url_param_strip": q_url_param_strip,
        "aspect_bucket_pack": q_aspect_bucket_pack,
        "redirect_resolve": q_redirect_resolve,
        "rel_canonical": q_rel_canonical,
        "tfidf_keywords": q_tfidf_keywords,
    }


def _quality_sql() -> str:
    return _Q_QUALITY_SQL.replace(
        "(SELECT_EN_SCORE)",
        "(" + " + ".join(
            f"cast((length(concat(' ', lower(text), ' ')) - length(replace(concat(' ', lower(text), ' '), '{m}', ''))) / {len(m)} as int)"
            for m in X.LANG_MARKERS["en"]) + ")")


def oracle_sql() -> dict[str, str]:
    return {
        "crawl_round_schedule": _Q_CRAWL_SQL,
        "frontier_topk_global": _Q_TOPK_GLOBAL_SQL,
        "priority_ladder": _Q_PRIORITY_SQL,
        "url_validity_filter": _Q_VALIDITY_SQL,
        "seen_antijoin": _Q_ANTI_SQL,
        "dedup_first_wins": _Q_FIRSTWINS_SQL,
        "politeness_budget": _Q_BUDGET_SQL,
        "round_robin_quota": _Q_RR_SQL,
        "status_counts": _Q_STATUS_SQL,
        "pages_by_type_day": _Q_TYPEDAY_SQL,
        "metrics_snapshot": _Q_METRICS_SQL,
        "pricing_summary": _Q_PRICING_SQL,
        "fetch_join_revenue": _Q_REVENUE_SQL,
        "broadcast_dim_join": _Q_DIMJOIN_SQL,
        "depth_gate": _Q_DEPTH_SQL,
        "link_explode": _Q_EXPLODE_SQL,
        "sessionize_events": _Q_SESSIONIZE_SQL,
        "latest_wins": _Q_LATEST_SQL,
        "props_json_extract": _Q_JSON_SQL,
        "agg_rollup": _Q_ROLLUP_SQL,
        "set_intersect": _Q_INTERSECT_SQL,
        "pivot_status": _Q_PIVOT_SQL,
        "rolling_window": _Q_ROLLING_SQL,
        "count_distinct": _Q_COUNTD_SQL,
        "quantile_stats": _Q_QUANTILE_SQL,
        "dedup_exact": _Q_DEDUP_EXACT_SQL,
        "substring_dedup": _substring_dedup_sql(),
        "dedup_ngram_jaccard": _Q_JACCARD_SQL,
        "dedup_minhash_lsh": _minhash_sql(),
        "dedup_components": _components_sql(),
        "dedup_incremental": _minhash_incr_sql(),
        "semdedup_pairs": _semdedup_sql(),
        "pagerank_hosts": _pagerank_sql(),
        "bm25_search": _bm25_sql(),
        "kmeans_centroids": _kmeans_sql(),
        "kmv_distinct": _kmv_sql(),
        "cms_heavy_hitters": _cms_sql(),
        "embedding_quantize_int8": _embedding_quantize_sql(),
        "image_dup_clusters": _image_clusters_sql(),
        "anchor_text_agg": _Q_ANCHOR_SQL,
        "inverted_index": _Q_INVIDX_SQL,
        "hits_hosts": _hits_sql(),
        "dsir_importance": _Q_DSIR_SQL,
        "frontier_age_priority": _Q_AGE_SQL,
        "warc_cdx_index": _Q_CDX_SQL,
        "budget_apportion": _Q_APPORTION_SQL,
        "url_surt_key": _Q_SURT_SQL,
        "minhash_calibration": _minhash_calib_sql(),
        "robots_block_rate": _Q_ROBOTS_RATE_SQL,
        "snapshot_diff": _Q_SNAPDIFF_SQL,
        "event_funnel": _funnel_sql(),
        "degree_histogram": _Q_DEGHIST_SQL,
        "trustrank_hosts": _trustrank_sql(),
        "image_channel_histogram": _img_hist_sql(),
        "host_skew_report": _Q_SKEW_SQL,
        "ann_recall_report": _ann_recall_sql(),
        "lpa_communities": _lpa_sql(),
        "image_resize_check": _img_resize_sql(),
        "audio_near_dup": _au_nd_sql(),
        "shard_balance_report": _Q_SHARD_BAL_SQL,
        "crawl_depth_profile": _Q_DEPTH_PROFILE_SQL,
        "robots_sitemap_discovery": _Q_SMAP_DISC_SQL,
        "pagerank_priority_blend": _blend_sql(),
        "dedup_method_agreement": _dedup_agreement_sql(),
        "host_bucket_balance": _Q_HB_BAL_SQL,
        "event_rate_anomaly": _Q_ANOM_SQL,
        "caption_dup_images": _Q_CAPDUP_SQL,
        "hll_distinct": _hll_sql(),
        "url_template_mining": _Q_TMPL_SQL,
        "host_cocitation": _Q_COCITE_SQL,
        "crawl_makespan": _Q_MAKESPAN_SQL,
        "budget_sensitivity": _budget_sweep_sql(),
        "bloom_shard_health": _Q_BFH_SQL,
        "corr_length_tokens": _Q_CORR_SQL,
        "image_transcode_savings": _transcode_sql(),
        "dedup_savings_report": _dedup_savings_sql(),
        "tokenizer_oov_rate": _Q_OOV_SQL,
        "recrawl_lambda": _Q_LAMBDA_SQL,
        "recrawl_due_set": _Q_RECRAWL_DUE_SQL,
        "embedding_norm_hist": _Q_ENORM_SQL,
        "corpus_temperature_mix": _tmix_sql(),
        "graph_mixing_stats": _Q_MIXING_SQL,
        "frontier_gini": _Q_GINI_SQL,
        "event_burstiness": _Q_FANO_SQL,
        "grouped_quantile_hist": _gq_sql(),
        "frontier_lorenz": _Q_LORENZ_SQL,
        "graph_triangles": _Q_TRI_SQL,
        "graph_seed_distance": _bfs_sql(),
        "approx_quantile_hist": _aq_sql(),
        "dust_rule_mining": _Q_DUST_SQL,
        "image_letterbox": _lb_sql(),
        "zipf_term_fit": _Q_ZIPF_SQL,
        "robots_rfc9309": _r9_sql(),
        "politeness_audit": _Q_PCA_SQL,
        "robots_generation_diff": _rdelta_sql(),
        "image_color_profile": _dc_sql(),
        "sitemap_coverage_gap": _Q_SMGAP_SQL,
        "graph_kcore": _kcore_sql(),
        "host_mirror_detect": _Q_MIRROR_SQL,
        "event_pmi": _pmi_sql(),
        "dedup_recall_planted": _recall_sql(),
        "host_ucb_priority": _Q_UCB_SQL,
        "ann_nprobe_sweep": _np_sweep_sql(),
        "dedup_method_recall": _method_recall_sql(),
        "image_phash_recall": _ipr_sql(),
        "weighted_sample": _weighted_sample_sql(),
        "dedup_simhash": _simhash_sql(),
        "dedup_simhash64": _simhash64_sql(),
        "ann_brute_topk": _Q_ANN_BRUTE_SQL,
        "ann_lsh_signature": _lsh_sql(),
        "ann_ivf_topk": _Q_IVF_SQL,
        "ann_ivf_nprobe": _Q_IVF_NPROBE_SQL,
        "asof_join_purchase": _Q_ASOF_SQL,
        "range_join_followups": _Q_RANGE_SQL,
        "dedup_embedding_cosine": _emb_nd_sql(),
        "text_lang_id": _lang_id_sql(),
        "text_quality": _quality_sql(),
        "text_token_stats": _Q_TOKENS_SQL,
        "text_fingerprint": _Q_FP_SQL,
        "multimodal_decode": _mm_sql(),
        "image_header_meta": _hdr_sql(),
        "image_caption_pair_filter": _pairfilter_sql(),
        "caption_image_alignment": _alignment_sql(),
        "video_frame_sample": _vid_sql(),
        "audio_features": _au_sql(),
        "image_phash_near_dup": _pn_sql(),
        "dataset_split": _Q_SPLIT_SQL,
        "pii_scrub": _pii_sql(),
        "quality_repetition": _Q_REPETITION_SQL,
        "contamination_overlap": _Q_CONTAMINATION_SQL,
        "dedup_keep_best": _keep_best_sql(),
        "recrawl_schedule": _Q_RECRAWL_SQL,
        "html_text_extract": _Q_HTML_SQL,
        "c4_line_filter": _c4_sql(),
        "paragraph_dedup": _paragraph_dedup_sql(),
        "crawl_trap_hosts": _Q_TRAP_SQL,
        "corpus_mix": _Q_MIX_SQL,
        "gopher_quality_filter": _gopher_sql(),
        "token_shard_pack": _Q_PACK_SQL,
        "url_blocklist_filter": _blocklist_sql(),
        "image_exact_dedup": _img_dedup_sql(),
        "ccnet_perplexity_bucket": _Q_PPL_SQL,
        "stratified_sample": _strat_sql(),
        "crawl_delay_budget": _crawl_delay_sql(),
        "sitemap_extract": _Q_SITEMAP_SQL,
        "quality_linear_score": _qls_sql(),
        "meta_robots_gate": _Q_METAROBOTS_SQL,
        "host_circuit_breaker": _Q_CIRCUIT_SQL,
        "warc_record_parse": _Q_WARC_SQL,
        "image_size_stats": _img_stats_sql(),
        "image_real_png_decode": _real_png_sql(),
        "image_real_webp_decode": _real_webp_sql(),
        "lossless_codec_compare": _lossless_compare_sql(),
        "image_real_jpeg_decode": _real_jpeg_sql(),
        "jpeg_quality_sweep": _jpeg_sweep_sql(),
        "mixed_format_decode": _mixed_format_sql(),
        "audio_real_wav_decode": _wav_sql(),
        "video_real_mjpeg_decode": _mjpeg_sql(),
        "clip_pair_filter": _Q_CLIP_PAIR_SQL,
        "pair_dedup_union": _pair_union_sql(),
        "aesthetic_score_filter": _aesthetic_sql(),
        "pair_filter_funnel": _pair_funnel_sql(),
        "webdataset_shard_manifest": _Q_WDS_SQL,
        "phash_hamming_histogram": _phash_hist_sql(),
        "recrawl_policy_compare": _Q_RECRAWL_POLICY_SQL,
        "doc_chunk": _Q_DOC_CHUNK_SQL,
        "url_param_strip": _Q_PARAM_STRIP_SQL,
        "aspect_bucket_pack": _Q_ASPECT_SQL,
        "redirect_resolve": _Q_REDIRECT_SQL,
        "rel_canonical": _Q_REL_CANONICAL_SQL,
        "tfidf_keywords": _Q_TFIDF_SQL,
    }
