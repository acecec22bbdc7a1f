"""Skew: the single-window variable-cap rank stays exact when one host
holds half the frontier."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from distributed_webcrawler_spark.operators.topk import tie_break_cols, topk_per_group_budget


def test_budget_topk_exact_on_pathological_host(spark):
    """The Gini≈1 case q_frontier_gini detects: ONE host holds 50% of the
    frontier. topk_per_group_budget (variable per-host caps, literal
    max-budget conjunct for the WindowGroupLimit rewrite) must be
    permutation-identical to the plain variable-cap rank window — same
    (host, url, rk) set — under that skew, including budget fallbacks."""
    df = spark.range(0, 40_000).select(
        F.when(F.col("id") % 2 == 0, "hot.example.com").otherwise(
            F.concat(F.lit("h"), (F.col("id") % 97).cast("string"))).alias("host"),
        F.concat(F.lit("https://h/p/"), F.col("id").cast("string")).alias("url"),
        (F.pmod(F.col("id") * 37, 1000) / 1000.0).alias("priority"),
        F.timestamp_seconds(F.col("id") % 7).alias("discovered_at"),
    )
    budgets = spark.createDataFrame(
        [("hot.example.com", 40), ("h1", 3), ("h2", 1)], "host string, budget int")
    order = tie_break_cols()
    got = topk_per_group_budget(df, ["host"], order, budgets, "host", 5, max_budget=40)
    joined = (df.join(F.broadcast(budgets), "host", "left")
              .withColumn("__b", F.coalesce(F.col("budget"), F.lit(5))))
    w = Window.partitionBy("host").orderBy(*order)
    want = (joined.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= F.col("__b")).select("host", "url", "rk"))
    g = sorted(tuple(r) for r in got.select("host", "url", "rk").collect())
    e = sorted(tuple(r) for r in want.collect())
    assert g == e and len(g) > 0
    # the hot host actually hit its larger budget
    assert sum(1 for h, _, _ in g if h == "hot.example.com") == 40
