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

Exact global order (row numbers, per-group row numbers, running sums)
goes through ONE range-offset pass, :func:`_range_offsets`.

Deterministic tie-break everywhere (SURVEY.md §2.5 W3):
  priority DESC, discovered_at ASC, url ASC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

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


def _range_offsets(df: DataFrame, group_cols: list[str], order_cols: list[Column],
                   measure: Column, partitions: int | None,
                   cache_registry: list | None) -> tuple[DataFrame, int]:
    """The one global-order pass behind every operator below, WITHOUT a
    single-partition window (the `Window.orderBy(...)` trap collapses the
    whole frame into one task and serializes every downstream stage).

    Range-repartition on (group, order) so range bucket i holds keys
    strictly before bucket i+1 and a big group spans many buckets, sort
    within buckets, then ONE collect of ``measure`` per (bucket, group), a
    driver-side cumsum per group in bucket order (O(partitions + groups)
    numbers, never one per row), and a broadcast join of the offsets.
    Returns ``df``'s columns plus ``__pid`` and ``__offset`` (the measure
    summed over the group's earlier buckets), and the measure's grand
    total. Exactness does not depend on where the sampled range bounds
    fall; they only affect balance."""
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism * 2
    keys = [*(F.col(g) for g in group_cols), *order_cols]
    rp = (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__pid", F.spark_partition_id())
    )
    # cache so the sampled range bounds are IDENTICAL between the measure
    # job and the downstream consumption (offsets must describe the same
    # layout); callers unpersist via cache_registry after their unit of work.
    rp = rp.cache()
    if cache_registry is not None:
        cache_registry.append(rp)
    acc: dict[tuple, int] = {}
    offsets = []
    for r in sorted(rp.groupBy("__pid", *group_cols).agg(measure.alias("__m")).collect(),
                    key=lambda r: r["__pid"]):
        g = tuple(r[c] for c in group_cols)
        offsets.append((r["__pid"], *g, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + int(r["__m"] or 0)
    # explicit schema: an empty frame has no rows to infer the types from
    schema = StructType([StructField("__pid", IntegerType()),
                         *(rp.schema[g] for g in group_cols),
                         StructField("__offset", LongType())])
    offset_df = F.broadcast(spark.createDataFrame(offsets, schema))
    return rp.join(offset_df, ["__pid", *group_cols]), sum(acc.values())


def _row_number(df: DataFrame, group_cols: list[str], order_cols: list[Column],
                seq_col: str, seq_type: str, partitions: int | None,
                cache_registry: list | None) -> tuple[DataFrame, int]:
    """The offsets pass with one count per (bucket, group), then a local
    rank per (bucket, group); returns the frame and the row count."""
    rp, total = _range_offsets(df, group_cols, order_cols, F.count("*"), partitions,
                               cache_registry)
    w = Window.partitionBy("__pid", *group_cols).orderBy(*order_cols)
    return (rp.withColumn(seq_col, (F.col("__offset") + F.row_number().over(w)).cast(seq_type))
            .drop("__pid", "__offset")), total


def global_row_number(df: DataFrame, order_cols: list[Column], seq_col: str = "seq",
                      partitions: int | None = None,
                      cache_registry: list | None = None,
                      meta_out: dict | None = None) -> DataFrame:
    """Exact global row_number (``int``) under a total order."""
    out, total = _row_number(df, [], order_cols, seq_col, "int", partitions,
                             cache_registry)
    if meta_out is not None:
        # the counts job already materialized an exact global count — hand
        # it to the caller so it never pays a separate count() action
        meta_out["total"] = total
    return out


def grouped_row_number(df: DataFrame, group_cols: list[str],
                       order_cols: list[Column], seq_col: str = "seq",
                       partitions: int | None = None,
                       cache_registry: list | None = None) -> DataFrame:
    """Exact per-group row_number (``long``, 1-based within each group,
    ordered by ``order_cols``) WITHOUT one-task-per-group windows.

    ``Window.partitionBy(group)`` puts each group in ONE task — fatal when
    group cardinality is small relative to data (5 aspect buckets over 10^10
    images = 5 tasks). The offsets pass counts per (bucket, group) instead,
    so the local rank runs per (bucket, group) in parallel; the driver holds
    O(partitions + groups) rows, fine up to ~millions of groups."""
    return _row_number(df, group_cols, order_cols, seq_col, "long", partitions,
                       cache_registry)[0]


def pack_shards(df: DataFrame, order_cols: list[Column], weight_col: str,
                budget: int, shard_col: str = "shard_id",
                partitions: int | None = None,
                cache_registry: list | None = None) -> DataFrame:
    """Token-budget shard packing: the sharding step between filtering and
    tokenizer output in an LLM data pipeline (each shard feeds one loader
    worker, so boundaries must be stable and budget-bounded). Returns
    ``df``'s columns plus ``cum_before`` (exact running total of
    ``weight_col`` over all earlier rows in the total order) and
    ``shard_col`` = floor(cum_before / budget): a doc lands in the shard
    open when it arrived and may straddle its boundary (greedy packing).
    The naive ``sum() OVER (ORDER BY ...)`` is one window task; here the
    offsets pass sums per range bucket and a local running sum finishes."""
    rp, _ = _range_offsets(df, [], order_cols, F.sum(weight_col), partitions,
                           cache_registry)
    w = (Window.partitionBy("__pid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_local = F.coalesce(F.sum(weight_col).over(w), F.lit(0))
    return (
        rp.withColumn("cum_before", (F.col("__offset") + cum_local).cast("bigint"))
        .withColumn(shard_col, F.floor(F.col("cum_before") / F.lit(budget)).cast("int"))
        .drop("__pid", "__offset")
    )
