"""The range-offset operators (pack_shards, grouped_row_number,
global_row_number): exact global running sums and row numbers without a
single-partition window."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_webcrawler_spark.operators.topk import pack_shards


def test_pack_matches_serial_cumsum(spark):
    rows = [(i, (i * 37) % 50 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w long").repartition(13)
    reg = []
    out = pack_shards(df, [F.col("doc_id")], "w", budget=300,
                      partitions=7, cache_registry=reg)
    got = {r.doc_id: (r.cum_before, r.shard_id) for r in out.collect()}
    acc = 0
    for i, w in rows:
        assert got[i] == (acc, acc // 300), f"doc {i}"
        acc += w
    # shards are budget-bounded: each shard's pre-straddle mass < budget
    assert max(r[1] for r in got.values()) == (acc - rows[-1][1]) // 300
    empty = pack_shards(spark.createDataFrame([], "doc_id long, w long"),
                        [F.col("doc_id")], "w", budget=300, partitions=7,
                        cache_registry=reg)
    assert empty.collect() == [] and empty.schema == out.schema
    for c in reg:
        c.unpersist()


def test_pack_no_single_partition_window(spark):
    df = spark.createDataFrame([(i, 1) for i in range(100)],
                               "doc_id long, w long")
    reg = []
    out = pack_shards(df, [F.col("doc_id")], "w", budget=10, partitions=5,
                      cache_registry=reg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window must be keyed by __pid (parallel), not empty-key global
    assert "Window" in plan
    assert "SinglePartition" not in plan
    for c in reg:
        c.unpersist()


def test_grouped_row_number_matches_window(spark):
    """grouped_row_number == Window.partitionBy(group).orderBy(key) exactly,
    including groups that span many range partitions and groups smaller
    than one partition."""
    from distributed_webcrawler_spark.operators.topk import grouped_row_number

    rows = [(i, ["a", "b", "c"][i % 3] if i < 300 else "big") for i in range(900)]
    df = spark.createDataFrame(rows, "k long, g string").repartition(11)
    reg = []
    out = grouped_row_number(df, ["g"], [F.col("k")], seq_col="seq",
                             partitions=7, cache_registry=reg)
    got = {(r.g, r.k): r.seq for r in out.collect()}
    expect: dict = {}
    counts: dict = {}
    for k, g in sorted(rows, key=lambda t: (t[1], t[0])):
        counts[g] = counts.get(g, 0) + 1
        expect[(g, k)] = counts[g]
    assert got == expect
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # the offsets frame of an empty input has no rows to infer a schema from
    empty = grouped_row_number(spark.createDataFrame([], "k long, g string"),
                               ["g"], [F.col("k")], seq_col="seq",
                               partitions=7, cache_registry=reg)
    assert empty.collect() == [] and empty.schema == out.schema
    for c in reg:
        c.unpersist()


def test_global_row_number_matches_serial_order(spark):
    """global_row_number == Window.orderBy(key) exactly, planned as a window
    keyed by range bucket, never the one-task empty-key window; an empty
    input counts 0 rows."""
    from distributed_webcrawler_spark.operators.topk import global_row_number

    rows = [((i * 37) % 101, i) for i in range(300)]
    df = spark.createDataFrame(rows, "p long, k long").repartition(9)
    reg: list = []
    meta: dict = {}
    out = global_row_number(df, [F.col("p").desc(), F.col("k")], partitions=5,
                            cache_registry=reg, meta_out=meta)
    expect = {k: i + 1 for i, (_p, k) in enumerate(sorted(rows, key=lambda t: (-t[0], t[1])))}
    assert {r.k: r.seq for r in out.collect()} == expect and meta["total"] == 300
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "SinglePartition" not in plan
    empty = global_row_number(spark.createDataFrame([], "p long, k long"),
                              [F.col("k")], partitions=5, cache_registry=reg,
                              meta_out=meta)
    assert meta["total"] == 0
    assert empty.collect() == [] and empty.schema == out.schema
    for c in reg:
        c.unpersist()
