"""Bucketed co-located join: the cluster technique for the frontier <->
seen-set / done joins that repeat every round on the same key. Writing
both sides bucketed + sorted on the join key lets Spark plan a SortMergeJoin
with NO Exchange on either side — the shuffle is paid once at write time and
amortized over every subsequent round. On the 10^10 tier this is the
recommended layout for the done table (see plans/engine.py
pending()); parquet snapshot appends can't carry bucket metadata, so this is
exercised against saveAsTable (the Iceberg bucket-partition-transform
equivalent on a real cluster).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def warehouse(spark):
    d = tempfile.mkdtemp(prefix="dws-bucket-wh-")
    yield d
    for t in ("b_frontier", "b_done"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(d, ignore_errors=True)


def test_bucketed_join_has_no_exchange(spark, warehouse):
    fr = spark.range(0, 10_000).select(
        F.col("id").alias("url_hash"),
        (F.col("id") % 97).alias("host_bucket"))
    done = spark.range(0, 5_000).select(
        (F.col("id") * 2).alias("url_hash"), F.lit("done").alias("status"))

    (fr.write.mode("overwrite").bucketBy(8, "url_hash").sortBy("url_hash")
       .option("path", f"{warehouse}/b_frontier").saveAsTable("b_frontier"))
    (done.write.mode("overwrite").bucketBy(8, "url_hash").sortBy("url_hash")
       .option("path", f"{warehouse}/b_done").saveAsTable("b_done"))

    a = spark.table("b_frontier")
    b = spark.table("b_done")
    # force the sort-merge path (at the 10^10 tier neither side broadcasts;
    # on this toy input Spark would otherwise pick a BroadcastHashJoin and
    # ignore the buckets entirely)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "url_hash", "left_anti")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 5_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    # count above: evens 0..9998 are matched by done's 0,2,..,9998, so the
    # 5,000 odd url_hashes remain pending


def test_hive_partition_pruning(spark, tmpdir):
    """File-layout twin of the bucketed join: pages written partitioned by
    host_bucket must let a bucket-filtered scan PRUNE directories — the
    physical plan carries the predicate as PartitionFilters (zero data
    files of other buckets opened), which is the layout that makes
    per-bucket operations (bloom shard rebuild, per-host exports) O(1/B)
    at the 10^10 tier."""
    pages = spark.range(0, 20_000).select(
        F.col("id").alias("url_hash"),
        (F.col("id") % 16).alias("host_bucket"),
        (F.col("id") * 7 % 1000).alias("size"))
    out = f"{tmpdir}/pages_part"
    pages.write.partitionBy("host_bucket").parquet(out)

    df = spark.read.parquet(out).where(F.col("host_bucket") == 3)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan
    # the partition predicate must sit in PartitionFilters (pruning),
    # not survive as a post-scan data Filter
    import re
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "host_bucket" in m.group(1), plan
    assert df.count() == 20_000 // 16


def test_store_schema_evolution_read(spark, tmpdir):
    """Iceberg-style schema evolution on the snapshot store: a later
    snapshot adds a column; merge_schema=True unions the generations with
    nulls for pre-evolution rows, while the default read stays on the
    cheap single-footer path."""
    from distributed_webcrawler_spark.sources.store import SnapshotStore

    store = SnapshotStore(str(tmpdir))
    t = store.table("pages_evo")
    t.append(spark.createDataFrame([(1, "a")], "id long, status string"))
    t.append(spark.createDataFrame(
        [(2, "b", 0.9)], "id long, status string, quality double"))

    merged = t.read(spark, merge_schema=True)
    assert set(merged.columns) == {"id", "status", "quality"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["quality"] is None and rows[2]["quality"] == 0.9
