"""SnapshotStore — an append-only, snapshot-isolated Parquet table layer.

The design target is Iceberg (SURVEY.md §1.3): ACID appends, snapshot ids,
time travel, exact checkpoint resume. This sandbox has no Iceberg runtime
jar, so we implement the minimal subset on plain Parquet with the same
interface shape. On a real cluster, `Table` maps 1:1 onto an Iceberg table
(`writeTo(...).append()`, `VERSION AS OF`), and nothing above this module
changes.

Layout per table:
    <warehouse>/<name>/snap-00000001/part-*.parquet   (one dir per commit)
    <warehouse>/<name>/manifest.json                  {"snapshots": [...]}

Commit protocol: write data dir first, then atomically os.replace() the
manifest — a crashed commit leaves an orphan data dir that no manifest
references (cleaned lazily), never a torn table. Readers list the manifest,
so they always see a consistent snapshot set (snapshot isolation for our
single-writer round model; matches the engine's "one Spark batch per crawl
round" design where the driver is the only committer).

Scale notes (100 TB): each snapshot dir holds however many files the write
produced (we do NOT coalesce(1) — writes keep the job's parallelism);
reads pass the full dir list to spark.read.parquet so Spark plans one scan
over all files with normal partition packing; status flips are modelled as
append-only logs + latest-wins views (no rewrite amplification), exactly
the fallback SURVEY.md §7(d) prescribes when MERGE would dominate.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _parquet_num_rows(snap_dir: str) -> int:
    """Sum num_rows over the snapshot's parquet footers (metadata only)."""
    import pyarrow.parquet as pq

    total = 0
    for f in os.listdir(snap_dir):
        if f.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(snap_dir, f)).metadata.num_rows
    return total


def write_atomic(path: str, data: bytes) -> None:
    """Temp file in the same directory, then os.replace: a reader sees the
    old file or the new one, never a torn one."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


class Table:
    def __init__(self, warehouse: str, name: str):
        self.name = name
        self.path = os.path.join(warehouse, name)
        os.makedirs(self.path, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _read_full_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": [], "rows": {}}
        with open(self._manifest_path) as f:
            m = json.load(f)
        m.setdefault("rows", {})
        return m

    def _read_manifest(self) -> list[str]:
        return self._read_full_manifest()["snapshots"]

    def _write_manifest(self, snapshots: list[str], rows: dict) -> None:
        # the atomic commit point
        write_atomic(self._manifest_path,
                     json.dumps({"snapshots": snapshots, "rows": rows}).encode())

    @staticmethod
    def _next_snap_name(snaps: list[str]) -> str:
        """Monotonic dir name: max(existing)+1, NOT len+1 — after a
        compaction (overwrite_compacted) the manifest shrinks to one entry
        while higher-numbered dirs were already used; len+1 would collide
        with the compacted snapshot itself."""
        nxt = 1 + max((int(s.split("-")[1]) for s in snaps), default=0)
        return f"snap-{nxt:08d}"

    # -- write -------------------------------------------------------------
    def _commit(self, write, skip_empty: bool = False,
                replace: bool = False) -> tuple[int, int]:
        """The one commit path: ``write(dir)`` fills the next snapshot dir,
        its parquet footers give the row count (driver-side metadata only —
        the Iceberg manifest carries the same stat), then the manifest is
        replaced atomically, appending the snapshot or, with ``replace``,
        making it the table's only one. With ``skip_empty``, a zero-row
        result commits nothing (an empty snapshot dir would have no parquet
        files for readers to union). Returns (snapshot_id, rows_written)."""
        m = self._read_full_manifest()
        snaps, rows = ([], {}) if replace else (m["snapshots"], m["rows"])
        snap_name = self._next_snap_name(m["snapshots"])
        out = os.path.join(self.path, snap_name)
        write(out)
        n = _parquet_num_rows(out)
        if skip_empty and n == 0:
            shutil.rmtree(out, ignore_errors=True)
            return len(snaps), 0
        rows[snap_name] = n
        self._write_manifest(snaps + [snap_name], rows)
        return len(snaps) + 1, n

    def append(self, df: DataFrame) -> int:
        """Append df as a new snapshot; returns the new snapshot id
        (= number of snapshots after commit). The manifest records the
        snapshot's row count, so planners can bound table size without
        running a job."""
        return self.append_counted(df)[0]

    def append_counted(self, df: DataFrame, skip_empty: bool = False) -> tuple[int, int]:
        """Append df and return (snapshot_id, rows_appended) — the count
        comes from the parquet footers the write just produced, so callers
        never pay a separate count() job over the same data. With
        ``skip_empty``, a zero-row result commits nothing and returns the
        UNCHANGED snapshot id with 0."""
        return self._commit(lambda out: df.write.mode("errorifexists").parquet(out),
                            skip_empty=skip_empty)

    def append_rows(self, rows_data: list[dict], schema: "pa.Schema") -> int:
        """Append a handful of driver-side rows (metrics snapshots, control
        rows) as a new snapshot WITHOUT a Spark job — one pyarrow parquet
        file. A 1-row metrics append through a full Spark write was ~1s of
        driver-serial time per round for no parallelism at all."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def write(out: str) -> None:
            os.makedirs(out)
            cols = {f.name: [r[f.name] for r in rows_data] for f in schema}
            pq.write_table(pa.Table.from_pydict(cols, schema=schema),
                           os.path.join(out, "part-00000.parquet"))

        return self._commit(write)[0]

    def overwrite_compacted(self, df: DataFrame) -> int:
        """Replace the table's whole content with ``df`` as ONE snapshot —
        the copy-on-write DELETE/REWRITE an Iceberg `DELETE FROM` performs
        (new data files, one new manifest, old files unreferenced then
        removed). Used by recrawl eviction, which must FORGET keys from
        append-only tables; rare (once per TTL epoch), so the full rewrite
        is acceptable even at scale — on real Iceberg the same call site
        becomes a metadata-level positional delete. The caller must write
        a fresh engine checkpoint right after: older checkpoints' snapshot
        ids refer to pre-compaction positions. Returns the new snapshot id
        (always 1)."""
        old = self._read_manifest()
        self._commit(lambda out: df.write.mode("errorifexists").parquet(out), replace=True)
        for s in old:
            shutil.rmtree(os.path.join(self.path, s), ignore_errors=True)
        return 1

    def read_local(self, columns: list[str], snapshot_id: int | None = None) -> "pa.Table":
        """Read ``columns`` driver-side via pyarrow (no Spark job): of ONE
        snapshot (e.g. the url_hash column the seen-set update needs right
        after the frontier append wrote it), or of the whole table when
        ``snapshot_id`` is None (e.g. the handful of session control rows)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snaps = self._read_manifest()
        if snapshot_id is not None:
            snaps = [snaps[snapshot_id - 1]]
        if not snaps:
            return pa.table({c: [] for c in columns})
        # promote: snapshots may differ in nullability (a Spark write of a
        # literal column is non-null)
        return pa.concat_tables([pq.read_table(os.path.join(self.path, s), columns=columns)
                                 for s in snaps], promote_options="default")

    # -- metadata ----------------------------------------------------------
    def total_rows(self) -> int | None:
        """Exact total row count from manifest metadata (no Spark job).
        None when any snapshot predates row tracking."""
        m = self._read_full_manifest()
        if not m["snapshots"]:
            return 0
        if any(s not in m["rows"] for s in m["snapshots"]):
            return None
        return sum(m["rows"][s] for s in m["snapshots"])

    # -- read --------------------------------------------------------------
    def snapshot_id(self) -> int:
        return len(self._read_manifest())

    def read_snapshot(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Read exactly one committed snapshot (e.g. 'this round's appended
        rows') — lets callers derive follow-up tables from data already on
        disk instead of recomputing the producing plan."""
        snaps = self._read_manifest()
        return spark.read.parquet(os.path.join(self.path, snaps[snapshot_id - 1]))

    def read(self, spark: SparkSession, as_of: int | None = None,
             merge_schema: bool = False) -> DataFrame | None:
        """Read the table at the given snapshot (default: latest).
        Returns None when the table has no committed data yet.

        ``merge_schema=True`` is the Iceberg-style schema-evolution read:
        snapshots appended with extra columns union cleanly, older rows
        reading the new columns as null. Opt-in because Spark must then
        read every file's footer up front (a real cost at 10^5 files) —
        steady-state readers on a settled schema skip it."""
        snaps = self._read_manifest()
        if as_of is not None:
            snaps = snaps[:as_of]
        if not snaps:
            return None
        paths = [os.path.join(self.path, s) for s in snaps]
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    # -- resume ------------------------------------------------------------
    def rollback(self, snapshot_id: int) -> None:
        """Truncate to snapshot_id (checkpoint resume). Data dirs beyond the
        kept set are removed so a resumed run is byte-equivalent to an
        uninterrupted one."""
        m = self._read_full_manifest()
        snaps = m["snapshots"]
        keep, drop = snaps[:snapshot_id], snaps[snapshot_id:]
        self._write_manifest(keep, {s: n for s, n in m["rows"].items() if s in keep})
        for s in drop:
            shutil.rmtree(os.path.join(self.path, s), ignore_errors=True)


class SnapshotStore:
    """A warehouse of Tables + a checkpoint manifest for exact resume."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.warehouse, name)

    # engine checkpoints: {round, tables: {name: snapshot_id}, extras...}
    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.warehouse, "checkpoints.json")

    def _write_checkpoints(self, ckpts: list[dict]) -> None:
        write_atomic(self._ckpt_path, json.dumps(ckpts).encode())

    def write_checkpoint(self, payload: dict) -> None:
        self._write_checkpoints(self.read_checkpoints() + [payload])

    def read_checkpoints(self) -> list[dict]:
        if not os.path.exists(self._ckpt_path):
            return []
        with open(self._ckpt_path) as f:
            return json.load(f)

    def latest_checkpoint(self) -> dict | None:
        ckpts = self.read_checkpoints()
        return ckpts[-1] if ckpts else None

    def rollback_to_checkpoint(self, ckpt: dict) -> None:
        """Roll every table referenced by the checkpoint back to its recorded
        snapshot id and drop newer checkpoints."""
        for name, snap_id in ckpt["tables"].items():
            self.table(name).rollback(snap_id)
        self._write_checkpoints(
            [c for c in self.read_checkpoints() if c["round"] <= ckpt["round"]])
