"""Iceberg backend for the store interface — the 1:1 swap SnapshotStore's
contract promises (store.py:1-28; SURVEY.md §1.3).

RECORDED BLOCKER (round-3, RE-VERIFIED round-5): this sandbox has no
Iceberg runtime jar and no network to fetch one (round-5 attempt:
`find / -name '*iceberg*jar'` over the whole container returns nothing,
and urllib to repo1.maven.org fails DNS resolution — "Name or service
not known"), so this module cannot execute here. It exists so
the swap is CODE with tests, not a claim: tests/test_iceberg_store.py runs
the exact SnapshotStore contract suite against this backend and skips with
the blocker message when `iceberg_available(spark)` is false; on a cluster
with `--packages org.apache.iceberg:iceberg-spark-runtime-...` and a
catalog conf, the same tests exercise both backends unchanged.

Mapping (all public Iceberg Spark APIs):
  append            -> df.writeTo(ident).append()   (create() on first write)
  read(as_of=i)     -> VERSION AS OF the i-th snapshot since the last
                       replace (positional ids, like the parquet manifest)
  read_snapshot(i)  -> incremental append scan (start/end-snapshot-id)
  read_local        -> the same scans, select(...).toArrow() to the driver
  rollback(i)       -> CALL <cat>.system.rollback_to_snapshot(...)
  total_rows        -> snapshots summary['total-records'] (metadata-only,
                       the same footer-stat trick the parquet layer uses)
  overwrite_compacted -> createOrReplace(); positional ids restart at the
                       replace boundary (detected via the snapshots
                       metadata table's `operation` column)
Checkpoint JSON stays file-based (inherited) — checkpoints are engine
metadata, not table data, exactly as on the parquet backend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .store import SnapshotStore


def iceberg_available(spark: SparkSession, catalog: str = "local") -> bool:
    """True when an Iceberg catalog named ``catalog`` is configured AND the
    runtime classes load."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    except Exception:
        impl = None
    if not impl or "iceberg" not in impl.lower():
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class IcebergTable:
    def __init__(self, spark: SparkSession, catalog: str, namespace: str,
                 name: str):
        self.spark = spark
        self.catalog, self.namespace, self.name = catalog, namespace, name
        self.ident = f"{catalog}.{namespace}.{name}"

    # -- snapshot bookkeeping (positional ids over the snapshots table) ----
    def _snaps(self) -> list:
        if not self.spark.catalog.tableExists(self.ident):
            return []
        rows = self.spark.sql(
            f"SELECT snapshot_id, parent_id, operation, summary "
            f"FROM {self.ident}.snapshots ORDER BY committed_at, snapshot_id"
        ).collect()
        # positional ids restart after the most recent table replace
        base = 0
        for i, r in enumerate(rows):
            if r.operation in ("replace", "overwrite", "delete"):
                base = i
        return rows[base:] if base else rows

    def snapshot_id(self) -> int:
        return len(self._snaps())

    def _real(self, snapshot_id: int):
        return self._snaps()[snapshot_id - 1]

    # -- write -------------------------------------------------------------
    def append(self, df: DataFrame) -> int:
        return self.append_counted(df)[0]

    def append_counted(self, df: DataFrame, skip_empty: bool = False) -> tuple[int, int]:
        before = self.snapshot_id()
        if skip_empty and df.isEmpty():
            return before, 0
        if self.spark.catalog.tableExists(self.ident):
            df.writeTo(self.ident).append()
        else:
            df.writeTo(self.ident).create()
        snaps = self._snaps()
        added = int(snaps[-1].summary.get("added-records", 0))
        return len(snaps), added

    def append_rows(self, rows_data: list[dict], schema) -> int:
        import pyarrow as pa

        tbl = pa.Table.from_pydict(
            {f.name: [r[f.name] for r in rows_data] for f in schema},
            schema=schema)
        return self.append(self.spark.createDataFrame(tbl.to_pandas()))

    def overwrite_compacted(self, df: DataFrame) -> int:
        df.writeTo(self.ident).createOrReplace()
        return 1

    # -- read --------------------------------------------------------------
    def read(self, spark: SparkSession, as_of: int | None = None,
             merge_schema: bool = False) -> DataFrame | None:
        snaps = self._snaps()
        if not snaps:
            return None
        real = snaps[(as_of or len(snaps)) - 1].snapshot_id
        return (spark.read.option("snapshot-id", real).table(self.ident))

    def read_snapshot(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        snaps = self._snaps()
        real = snaps[snapshot_id - 1]
        reader = spark.read.format("iceberg")
        if real.parent_id is not None and snapshot_id > 1:
            return (reader.option("start-snapshot-id", real.parent_id)
                    .option("end-snapshot-id", real.snapshot_id)
                    .load(self.ident))
        return spark.read.option("snapshot-id", real.snapshot_id).table(self.ident)

    def read_local(self, columns: list[str], snapshot_id: int | None = None):
        df = (self.read(self.spark) if snapshot_id is None
              else self.read_snapshot(self.spark, snapshot_id))
        if df is None:
            import pyarrow as pa

            return pa.table({c: [] for c in columns})
        return df.select(*columns).toArrow()

    def total_rows(self) -> int | None:
        snaps = self._snaps()
        if not snaps:
            return 0
        v = snaps[-1].summary.get("total-records")
        return int(v) if v is not None else None

    # -- resume ------------------------------------------------------------
    def rollback(self, snapshot_id: int) -> None:
        snaps = self._snaps()
        if snapshot_id >= len(snaps):
            return
        if snapshot_id == 0:
            # no snapshot precedes the first one: drop the table, so that
            # snapshot_id() reads 0 and read() returns None, as the parquet
            # Table.rollback(0) empties its manifest
            self.spark.sql(f"DROP TABLE {self.ident}")
            return
        real = snaps[snapshot_id - 1].snapshot_id
        self.spark.sql(
            f"CALL {self.catalog}.system.rollback_to_snapshot("
            f"'{self.namespace}.{self.name}', {real})")


class IcebergStore(SnapshotStore):
    """SnapshotStore with Iceberg-backed tables. ``warehouse`` still names a
    local/object-store dir for the engine's checkpoint JSON (inherited);
    table data lives in the Iceberg catalog under ``namespace``."""

    def __init__(self, warehouse: str, spark: SparkSession,
                 catalog: str = "local", namespace: str = "dws"):
        super().__init__(warehouse)
        self.spark, self.catalog, self.namespace = spark, catalog, namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def table(self, name: str) -> IcebergTable:  # type: ignore[override]
        return IcebergTable(self.spark, self.catalog, self.namespace, name)
