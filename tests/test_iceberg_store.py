"""Dual-backend store contract: the SAME assertions run against the parquet
SnapshotStore (always) and the Iceberg backend (when a runtime + catalog
exist — recorded blocker in this sandbox: no iceberg jar, no network)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from distributed_webcrawler_spark import CrawlConfig
from distributed_webcrawler_spark.plans.engine import CrawlEngine
from distributed_webcrawler_spark.sources.iceberg import (
    IcebergStore,
    IcebergTable,
    iceberg_available,
)
from distributed_webcrawler_spark.sources.store import SnapshotStore


def _contract(spark, store, suffix):
    t = store.table(f"t_{suffix}")
    assert t.read(spark) is None
    assert t.read_local(["id"]).num_rows == 0
    t.append(spark.range(0, 5))
    t.append(spark.range(5, 9))
    assert t.snapshot_id() == 2
    assert t.read(spark).count() == 9
    assert t.read(spark, as_of=1).count() == 5            # time travel
    assert t.total_rows() == 9                            # metadata only
    assert sorted(t.read_snapshot(spark, 2).collect()[i].id
                  for i in range(4)) == [5, 6, 7, 8]      # incremental read
    t.rollback(1)
    assert t.read(spark).count() == 5
    t.append(spark.range(100, 103))
    assert sorted(r.id for r in t.read(spark).collect()) == \
        [0, 1, 2, 3, 4, 100, 101, 102]
    t.overwrite_compacted(t.read(spark).where("id >= 100"))
    assert t.snapshot_id() == 1 and t.read(spark).count() == 3
    t.append(spark.range(200, 202))
    assert t.snapshot_id() == 2 and t.read(spark).count() == 5
    # engine-critical surfaces run_round depends on (engine.py
    # _branch_expand): counted append with empty-skip, and the driver-local
    # read of a just-written snapshot or of the whole table
    snap, n = t.append_counted(spark.range(300, 304))
    assert n == 4 and snap == t.snapshot_id()
    snap2, n2 = t.append_counted(spark.range(0, 0), skip_empty=True)
    assert n2 == 0 and t.snapshot_id() == snap
    assert sorted(t.read_local(["id"], snap)["id"].to_pylist()) == [300, 301, 302, 303]
    assert sorted(t.read_local(["id"])["id"].to_pylist()) == \
        [100, 101, 102, 200, 201, 300, 301, 302, 303]


def test_store_contract_parquet(spark, warehouse):
    _contract(spark, SnapshotStore(warehouse), "parquet")


def test_store_contract_iceberg(spark, warehouse):
    if not iceberg_available(spark):
        pytest.skip("iceberg runtime absent in this sandbox (no jar, no "
                    "network) — recorded blocker; this leg activates on a "
                    "cluster with iceberg-spark-runtime + a catalog conf")
    _contract(spark, IcebergStore(warehouse + "-ice", spark), "iceberg")


# the public table contract both backends implement
_CONTRACT = ("append", "append_counted", "append_rows", "overwrite_compacted",
             "read", "read_snapshot", "read_local", "total_rows", "snapshot_id",
             "rollback")


class _ContractTable:
    """A table that exposes the public contract and nothing else (no path,
    no manifest helpers), as IcebergTable does."""

    def __init__(self, table):
        for m in _CONTRACT:
            setattr(self, m, getattr(table, m))


class _ContractOnlyStore(SnapshotStore):
    def table(self, name):
        return _ContractTable(super().table(name))


def test_engine_session_control_uses_only_the_table_contract(spark, fixture_dir, warehouse):
    """Seeding (with the driver seen set's snapshot fold), session control
    and the pending view run through the public table contract alone, so
    they work on any backend that implements it."""
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")
    eng = CrawlEngine(spark, _ContractOnlyStore(warehouse), CrawlConfig(use_bloom=True),
                      wg, pay, None)
    eng.start_session(seeds, "sess-A")
    eng.start_session(seeds, "sess-B")
    eng.stop_session("sess-A")
    pend = eng.pending()
    assert {r.session_id for r in pend.select("session_id").distinct().collect()} == {"sess-B"}


def test_iceberg_rollback_to_zero_drops_the_table():
    """rollback(0) must empty the table as the parquet Table.rollback(0)
    does (a checkpoint records 0 for every table still empty at its round);
    rolling back to the current snapshot issues nothing. Runs without the
    Iceberg runtime: the session only records its SQL and the snapshot list
    is stubbed."""
    calls: list[str] = []
    t = IcebergTable(SimpleNamespace(sql=calls.append), "local", "dws", "done")
    snaps = [SimpleNamespace(snapshot_id=11), SimpleNamespace(snapshot_id=12)]
    t._snaps = lambda: snaps
    t.rollback(len(snaps))
    assert calls == []
    t.rollback(1)
    assert calls == ["CALL local.system.rollback_to_snapshot('dws.done', 11)"]
    calls.clear()
    t.rollback(0)
    assert calls == ["DROP TABLE local.dws.done"]
