"""Rank-window operators: the Spark-native replacement for the reference's
Redis-ZSET priority dequeue (CrawlUrlRepository.java:31-43, ZREVRANGE).

Three shapes (SURVEY.md §2.5):
- W1 per-group top-k — rank window, NO global sort; this is the 10^10-row
  scale path (each host_bucket partition ranks independently; one shuffle
  on the partition key, which the fetch join then reuses),
- W2 round-robin quota per session — same window, different key,
- compat global top-k — orderBy().limit() reproducing ZREVRANGE semantics
  exactly for parity tests (acceptable only at test scale; Spark's
  TakeOrderedAndProject keeps it a per-partition top-k + driver merge, so
  even this avoids a full global sort).

Deterministic tie-break everywhere (SURVEY.md §2.5 W3):
  priority DESC, discovered_at ASC, url ASC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TIE_BREAK = ("priority", "discovered_at", "url")


def tie_break_cols(df: DataFrame | None = None) -> list[Column]:
    return [F.col("priority").desc(), F.col("discovered_at").asc(), F.col("url").asc()]


def topk_per_group(df: DataFrame, group_cols: list[str], order_cols: list[Column],
                   k: int | Column, rank_col: str = "rk") -> DataFrame:
    """Keep the top-k rows per group under a total order. The rank column is
    retained (callers use it as the deterministic in-round sequence).

    Skew note: with a LITERAL k, Catalyst's InferWindowGroupLimit (Spark
    3.5+) rewrites this into a map-side partial top-k per group BEFORE the
    exchange plus a final pass after — so at most k rows per (group, input
    partition) ever shuffle and a Zipf-hot group cannot pile its whole
    pending set into one window task. That makes the plain window both the
    least-shuffle AND the skew-safe plan. A COLUMN k disables the rewrite
    — use :func:`topk_per_group_budget`, which smuggles a literal bound
    back in."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    ranked = df.withColumn(rank_col, F.row_number().over(w))
    k_expr = F.lit(k) if isinstance(k, int) else k
    return ranked.where(F.col(rank_col) <= k_expr)


def topk_per_group_budget(df: DataFrame, group_cols: list[str],
                          order_cols: list[Column], budgets: DataFrame,
                          key_col: str, k_default: int, max_budget: int,
                          rank_col: str = "rk") -> DataFrame:
    """Variable per-group caps (``key_col`` -> ``budget`` in the tiny
    broadcast ``budgets`` table, ``k_default`` fallback) in ONE window,
    WindowGroupLimit-shaped: the filter is the conjunction
    ``rank <= max_budget AND rank <= budget`` where ``max_budget`` is a
    LITERAL upper bound over all budgets (the engine takes it from its
    config, so no job computes it). Catalyst
    extracts the literal conjunct into a map-side partial top-max_budget
    per group (verified: 2 WindowGroupLimit nodes in the executed plan),
    so the hot-host partition receives at most max_budget rows per input
    partition; the column conjunct then applies the exact per-key cap.
    Budgets MUST be unique per key — a duplicate budget row would duplicate
    every joined row straight through the rank filter
    (robots_fn.crawl_delay_budgets enforces this with a min-per-host
    aggregate); one row per key means the join broadcasts at any corpus
    size."""
    joined = df.join(F.broadcast(budgets), key_col, "left").withColumn(
        "__b", F.coalesce(F.col("budget"), F.lit(k_default))).drop("budget")
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    ranked = joined.withColumn(rank_col, F.row_number().over(w))
    return (ranked.where((F.col(rank_col) <= F.lit(max_budget))
                         & (F.col(rank_col) <= F.col("__b")))
            .drop("__b"))


def global_topk(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Reference-compat ZREVRANGE: global priority order, take k."""
    return df.orderBy(*order_cols).limit(k)


def global_row_number(df: DataFrame, order_cols: list[Column], seq_col: str = "seq",
                      partitions: int | None = None,
                      cache_registry: list | None = None,
                      meta_out: dict | None = None) -> DataFrame:
    """Exact global row_number under a total order WITHOUT a single-partition
    window (the `Window.orderBy(...)` trap collapses the whole frame into one
    task and serializes every downstream stage).

    Scalable pattern: range-repartition on the sort key (range bucket i holds
    keys strictly before bucket i+1), rank locally inside each bucket in
    parallel, then add per-bucket offsets (a tiny driver-side cumsum — one
    number per partition, not per row). Exactness does not depend on where
    the sampled range bounds fall; they only affect balance.
    """
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism * 2
    rp = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    # cache so the sampled range bounds are IDENTICAL between the counts job
    # and the downstream consumption (offsets must describe the same layout);
    # callers unpersist via cache_registry at the end of their unit of work.
    rp = rp.cache()
    if cache_registry is not None:
        cache_registry.append(rp)
    counts = {r["__pid"]: r["cnt"] for r in
              rp.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if meta_out is not None:
        # the counts job already materialized an exact global count — hand
        # it to the caller so it never pays a separate count() action
        meta_out["total"] = acc
    offset_df = F.broadcast(spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "__pid int, __offset long"))
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (
        rp.join(offset_df, "__pid")
        .withColumn(seq_col, (F.col("__offset") + F.row_number().over(w)).cast("int"))
        .drop("__pid", "__offset")
    )
    return out


def grouped_row_number(df: DataFrame, group_cols: list[str],
                       order_cols: list[Column], seq_col: str = "seq",
                       partitions: int | None = None,
                       cache_registry: list | None = None) -> DataFrame:
    """Exact per-group row_number (1-based within each group, ordered by
    ``order_cols``) WITHOUT one-task-per-group windows.

    ``Window.partitionBy(group)`` puts each group in ONE task — fatal when
    group cardinality is small relative to data (5 aspect buckets over 10^10
    images = 5 tasks). Same cure as :func:`global_row_number`: range-
    repartition on (group, order) so a big group spans many contiguous range
    buckets, count per (bucket, group), driver-side cumsum per group in
    bucket order (O(partitions + groups) driver rows — fine for group
    cardinalities up to ~millions; beyond that use pack-style weights of 1
    per group shard), broadcast offsets back, rank locally.
    """
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism * 2
    gcols = [F.col(g) for g in group_cols]
    rp = (
        df.repartitionByRange(n, *gcols, *order_cols)
        .sortWithinPartitions(*gcols, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    rp = rp.cache()
    if cache_registry is not None:
        cache_registry.append(rp)
    counts = rp.groupBy("__pid", *group_cols).agg(F.count("*").alias("cnt")).collect()
    acc: dict[tuple, int] = {}
    offsets = []
    for r in sorted(counts, key=lambda r: (tuple(str(r[g]) for g in group_cols), r["__pid"])):
        gkey = tuple(r[g] for g in group_cols)
        offsets.append((r["__pid"], *gkey, acc.get(gkey, 0)))
        acc[gkey] = acc.get(gkey, 0) + r["cnt"]
    offset_df = F.broadcast(spark.createDataFrame(
        offsets, ["__pid", *group_cols, "__offset"]))
    w = Window.partitionBy("__pid", *group_cols).orderBy(*order_cols)
    return (
        rp.join(offset_df, ["__pid", *group_cols])
        .withColumn(seq_col, (F.col("__offset") + F.row_number().over(w)).cast("long"))
        .drop("__pid", "__offset")
    )
