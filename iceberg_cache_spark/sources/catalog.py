"""Snapshot-aware table catalog: metadata, file pruning, time travel.

Re-expression of the reference's Iceberg metadata plane (C13–C18, ref
``src/iceberg_management/metadata.py``). Two backends:

- **Iceberg catalog** (production): when the session has an Iceberg
  catalog configured, every capability maps to the connector —
  ``VERSION AS OF`` / ``TIMESTAMP AS OF`` reads, ``<t>.snapshots`` /
  ``<t>.files`` metadata tables, manifest-driven pruning. Detected at
  runtime; no hard dependency.
- **SnapshotParquetCatalog** (dev/offline): a parquet warehouse with an
  explicit snapshot log (``_snapshots.json``) per table. Provides the
  same surface — snapshot history, snapshot-pinned schema/reads,
  min/max file pruning from parquet footers — so metadata logic and
  snapshot-keyed caching are testable without the Iceberg runtime jar.

The reference's time travel is known-broken (returns CURRENT files, ref
``src/iceberg_management/metadata.py:257-260``); here snapshot reads
resolve the actual historical file set.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class SnapshotInfo:
    snapshot_id: str
    timestamp_ms: int
    files: tuple[str, ...]
    record_count: int
    total_size_bytes: int


@dataclass(frozen=True)
class DataFileInfo:
    """Per-file metadata, the shape of Iceberg's ``.files`` rows (and of
    the reference's PartitionInfo, ref ``src/core/cache_data_model.py:26-49``)."""

    file_path: str
    record_count: int
    file_size_bytes: int
    lower_bounds: dict[str, object]
    upper_bounds: dict[str, object]


class SnapshotParquetCatalog:
    """Dev warehouse: ``root/<table>/_snapshots.json`` + data files."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- write path --------------------------------------------------------

    def _log_path(self, table_id: str) -> str:
        return os.path.join(self.root, table_id, "_snapshots.json")

    def _read_log(self, table_id: str) -> list[dict]:
        path = self._log_path(table_id)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)

    def _write_log(self, table_id: str, log: list[dict]) -> None:
        """Replace the log atomically: a temp file in the table directory
        is renamed over it, so a failed write leaves the previous history
        whole and a concurrent reader sees the old log or the new one,
        never a truncated file."""
        path = self._log_path(table_id)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(log, f, indent=1)
            os.replace(tmp, path)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise

    def write_snapshot(
        self, table_id: str, df: DataFrame, mode: str = "overwrite"
    ) -> SnapshotInfo:
        """Commit a new snapshot. ``mode='overwrite'`` replaces table
        content; ``mode='append'`` carries the previous snapshot's files
        forward (Iceberg-append semantics — data files are immutable and
        shared between snapshots)."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unknown write mode '{mode}'")
        snap_id = uuid.uuid4().hex[:16]
        ts_ms = int(time.time() * 1000)
        data_dir = os.path.join(self.root, table_id, f"snap-{snap_id}")
        df.write.mode("overwrite").parquet(data_dir)
        files = sorted(
            os.path.join(data_dir, f)
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        )
        if mode == "append":
            log_now = self._read_log(table_id)
            if log_now:
                files = sorted(set(files) | set(log_now[-1]["files"]))
        records = sum(pq.read_metadata(f).num_rows for f in files)
        size = sum(os.path.getsize(f) for f in files)
        log = self._read_log(table_id)
        os.makedirs(os.path.dirname(self._log_path(table_id)), exist_ok=True)
        log.append(
            {
                "snapshot_id": snap_id,
                "timestamp_ms": ts_ms,
                "files": files,
                "record_count": records,
                "total_size_bytes": size,
            }
        )
        self._write_log(table_id, log)
        _notify_commit_listeners(self, table_id)
        return self.get_snapshot(table_id, snap_id)

    # -- snapshot lookup (C15, C16) ---------------------------------------

    def list_snapshots(self, table_id: str) -> list[SnapshotInfo]:
        return [SnapshotInfo(**{**s, "files": tuple(s["files"])}) for s in self._read_log(table_id)]

    def get_snapshot(
        self,
        table_id: str,
        snapshot_id: str | None = None,
        as_of_timestamp_ms: int | None = None,
    ) -> SnapshotInfo:
        snaps = self.list_snapshots(table_id)
        if not snaps:
            raise KeyError(f"table '{table_id}' has no snapshots")
        if snapshot_id is not None:
            for s in snaps:
                if s.snapshot_id == snapshot_id:
                    return s
            raise KeyError(f"snapshot '{snapshot_id}' not found for '{table_id}'")
        if as_of_timestamp_ms is not None:
            eligible = [s for s in snaps if s.timestamp_ms <= as_of_timestamp_ms]
            if not eligible:
                raise KeyError(
                    f"no snapshot of '{table_id}' at or before {as_of_timestamp_ms}"
                )
            return max(eligible, key=lambda s: s.timestamp_ms)
        return max(snaps, key=lambda s: s.timestamp_ms)

    def snapshot_history(self, table_id: str, limit: int | None = None) -> list[SnapshotInfo]:
        """Newest-first history (the reference's get_snapshot_history,
        ref ``src/iceberg_management/metadata.py:188-219``)."""
        snaps = sorted(
            self.list_snapshots(table_id), key=lambda s: s.timestamp_ms, reverse=True
        )
        return snaps[:limit] if limit else snaps

    # -- schema (C14) ------------------------------------------------------

    def get_schema(self, table_id: str, snapshot_id: str | None = None):
        snap = self.get_snapshot(table_id, snapshot_id)
        return self.spark.read.parquet(*snap.files).schema

    # -- file planning + pruning (C13) ------------------------------------

    def get_data_files(
        self,
        table_id: str,
        partition_filter: dict[str, object] | None = None,
        snapshot_id: str | None = None,
        as_of_timestamp_ms: int | None = None,
    ) -> list[DataFileInfo]:
        """File listing with min/max (zone-map) pruning from parquet
        footers — the manifest-level skipping Iceberg does natively.
        ``partition_filter`` is {column: required_value}; a file is kept
        iff every filtered column's [min, max] range covers the value."""
        snap = self.get_snapshot(table_id, snapshot_id, as_of_timestamp_ms)
        out: list[DataFileInfo] = []
        for path in snap.files:
            md = pq.read_metadata(path)
            lower: dict[str, object] = {}
            upper: dict[str, object] = {}
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    stats = col.statistics
                    if stats is None or not stats.has_min_max:
                        continue
                    name = col.path_in_schema
                    lo, hi = stats.min, stats.max
                    lower[name] = lo if name not in lower else min(lower[name], lo)
                    upper[name] = hi if name not in upper else max(upper[name], hi)
            keep = True
            for col_name, value in (partition_filter or {}).items():
                if col_name in lower and not (lower[col_name] <= value <= upper[col_name]):
                    keep = False
                    break
            if keep:
                out.append(
                    DataFileInfo(
                        file_path=path,
                        record_count=md.num_rows,
                        file_size_bytes=os.path.getsize(path),
                        lower_bounds=lower,
                        upper_bounds=upper,
                    )
                )
        return out

    # -- reads / time travel (C18 — correct, unlike the reference) ---------

    def read_table(
        self,
        table_id: str,
        snapshot_id: str | None = None,
        as_of_timestamp_ms: int | None = None,
        partition_filter: dict[str, object] | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """The snapshot's files, read whole: ``partition_filter`` becomes
        a Spark filter, and parquet pushdown skips the row groups whose
        min/max exclude it, the pruning ``get_data_files`` would do from
        the footers. So no footer is opened here, and the schema is the
        snapshot's whatever the filter keeps."""
        snap = self.get_snapshot(table_id, snapshot_id, as_of_timestamp_ms)
        # mergeSchema: appended snapshots may add columns (schema
        # evolution — the reference's design-doc aspiration, ref
        # docs/arrow_iceberg_cache_design.md:126-133, never implemented
        # there); older files surface the new columns as nulls.
        df = self.spark.read.option("mergeSchema", "true").parquet(*snap.files)
        for col_name, value in (partition_filter or {}).items():
            df = df.filter(df[col_name] == value)
        if columns:
            df = df.select(*columns)
        return df

    # -- table stats (C17) -------------------------------------------------

    def table_stats(self, table_id: str) -> dict:
        snap = self.get_snapshot(table_id)
        history = self.snapshot_history(table_id)
        return {
            "table_id": table_id,
            "current_snapshot_id": snap.snapshot_id,
            "snapshot_count": len(history),
            "total_records": snap.record_count,
            "total_size_bytes": snap.total_size_bytes,
            "schema": [f.name for f in self.get_schema(table_id).fields],
        }


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured on this session."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return False
    return any(
        k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
        for k, v in confs
    )


class IcebergCatalog:
    """Production backend over the Iceberg Spark connector. Thin by
    design — every capability (C13–C18) is a native connector feature:
    snapshots/files metadata tables, ``VERSION AS OF`` / ``TIMESTAMP AS
    OF`` reads, manifest-driven pruning. Exercised by the env-gated
    integration tier (``tests/test_iceberg_integration.py``) when an
    iceberg-spark-runtime jar is on the session classpath — the
    container this repo builds in has no jar and no network, so the
    connector path is integration-gated, not unit-tested (documented
    blocker; the dev ``SnapshotParquetCatalog`` covers the semantics).

    Reference parity: ref ``src/iceberg_management/metadata.py:26-79``
    (catalog init), ``:154-317`` (snapshot/file listing, history)."""

    def __init__(self, spark: SparkSession, catalog: str = "spark_catalog") -> None:
        if not iceberg_available(spark):
            raise RuntimeError(
                "no Iceberg catalog configured on this SparkSession; "
                "use SnapshotParquetCatalog for offline development"
            )
        self.spark = spark
        self.catalog = catalog

    def _qualified(self, table_id: str) -> str:
        return f"{self.catalog}.{table_id}"

    # -- snapshot lookup (C15, C16) ----------------------------------------

    def list_snapshots(self, table_id: str):
        return self.spark.sql(
            f"SELECT snapshot_id, committed_at FROM {self._qualified(table_id)}.snapshots "
            "ORDER BY committed_at DESC"
        )

    def snapshot_history(self, table_id: str, limit: int | None = None):
        df = self.spark.sql(
            f"SELECT made_current_at, snapshot_id, is_current_ancestor "
            f"FROM {self._qualified(table_id)}.history ORDER BY made_current_at DESC"
        )
        return df.limit(limit) if limit else df

    def current_snapshot_id(self, table_id: str) -> str:
        """Resolve the snapshot a plain read of the table would see.

        NOT ``MAX(committed_at) FROM .snapshots``: that metadata table
        lists every *retained* snapshot — rolled-back heads, WAP/staged
        commits, branch/tag snapshots — so after a rollback the newest
        ``committed_at`` row is exactly the snapshot the table is NOT
        on, and a cache keyed by it would serve stale results as fresh
        (the reference resolves via ``table.current_snapshot()``, ref
        ``src/iceberg_management/metadata.py:125,182``). The ``main``
        branch ref IS the current table state; ``.history`` rows with
        ``is_current_ancestor`` are the fallback for catalogs predating
        the ``.refs`` metadata table."""
        q = self._qualified(table_id)
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {q}.refs "
            "WHERE name = 'main' AND type = 'BRANCH'"
        ).collect()
        if not rows:
            rows = self.spark.sql(
                f"SELECT snapshot_id FROM {q}.history "
                "WHERE is_current_ancestor "
                "ORDER BY made_current_at DESC LIMIT 1"
            ).collect()
        if not rows:
            raise KeyError(f"table '{table_id}' has no snapshots")
        return str(rows[0].snapshot_id)

    def get_snapshot(self, table_id: str):
        """CachedQueryEngine seam: object with a .snapshot_id attribute."""
        from types import SimpleNamespace

        return SimpleNamespace(snapshot_id=self.current_snapshot_id(table_id))

    # -- reads / time travel (C18) -----------------------------------------

    def read_table(
        self,
        table_id: str,
        snapshot_id: str | None = None,
        as_of_timestamp_ms: int | None = None,
    ):
        reader = self.spark.read
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", snapshot_id)
        elif as_of_timestamp_ms is not None:
            reader = reader.option("as-of-timestamp", str(as_of_timestamp_ms))
        return reader.table(self._qualified(table_id))

    # -- schema (C14) ------------------------------------------------------

    def get_schema(self, table_id: str, snapshot_id: str | None = None):
        return self.read_table(table_id, snapshot_id).schema

    # -- file planning (C13) -----------------------------------------------

    def get_data_files(self, table_id: str, partition_filter: dict | None = None):
        """File listing from the ``.files`` metadata table. With a
        ``partition_filter`` ({column: value}) the listing is restricted
        to files whose partition struct matches — manifest-level
        pruning, no data scan (the reference's filtered
        ``get_data_files``, ref ``src/iceberg_management/metadata.py:221-255``)."""
        df = self.spark.sql(
            f"SELECT file_path, record_count, file_size_in_bytes, partition, "
            f"lower_bounds, upper_bounds FROM {self._qualified(table_id)}.files"
        )
        for col_name, value in (partition_filter or {}).items():
            df = df.filter(df["partition"][col_name] == value)
        return df

    # -- table stats (C17) -------------------------------------------------

    def table_stats(self, table_id: str) -> dict:
        files = self.get_data_files(table_id).collect()
        return {
            "table_id": table_id,
            "current_snapshot_id": self.current_snapshot_id(table_id),
            "snapshot_count": self.list_snapshots(table_id).count(),
            "total_records": sum(r.record_count for r in files),
            "total_size_bytes": sum(r.file_size_in_bytes for r in files),
            "schema": [f.name for f in self.get_schema(table_id).fields],
        }


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink: directory layout ``col=value/`` so any
    engine (and Spark's own partition pruning) can skip at the file
    level — the lake-write counterpart of the catalog's read pruning."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sort-bucketed) managed
    table: joins/aggregations on the bucket column between co-bucketed
    tables need **no shuffle** — the physical layout IS the exchange.
    At 100 TB this converts every fact-fact join on the bucket key from
    a full network shuffle into a local zip of matching buckets."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def _notify_commit_listeners(catalog: "SnapshotParquetCatalog", table_id: str) -> None:
    for cb in getattr(catalog, "_commit_listeners", []):
        try:
            cb(table_id)
        except Exception:
            pass


def add_commit_listener(catalog: "SnapshotParquetCatalog", callback) -> None:
    """Subscribe to table commits (the reference's event-driven cache
    invalidation idea, ref docs design.md:135-140 — aspirational there,
    wired for real here via CachedQueryEngine.watch_catalog)."""
    if not hasattr(catalog, "_commit_listeners"):
        catalog._commit_listeners = []
    catalog._commit_listeners.append(callback)


def delete_where(
    catalog: "SnapshotParquetCatalog", table_id: str, condition_sql: str
) -> "SnapshotInfo":
    """Row-level delete as a new snapshot (Iceberg copy-on-write DELETE
    semantics): rows matching ``condition_sql`` are absent from the new
    snapshot; history still time-travels to the pre-delete state. The
    right-to-be-forgotten primitive for a training-data lake — with the
    caveat that true erasure also requires expiring old snapshots."""
    current = catalog.read_table(table_id)
    # SQL/Iceberg DELETE removes rows where the predicate is TRUE and
    # KEEPS rows where it is FALSE **or NULL**; a bare NOT(cond) would
    # silently drop NULL-predicate rows (permanent after
    # expire_snapshots), so coalesce the three-valued result to FALSE.
    remaining = current.filter(f"NOT coalesce(({condition_sql}), false)")
    return catalog.write_snapshot(table_id, remaining, mode="overwrite")


def expire_snapshots(
    catalog: "SnapshotParquetCatalog", table_id: str, keep_last: int = 1
) -> int:
    """Drop all but the newest ``keep_last`` snapshots and delete data
    files no surviving snapshot references — the erasure half of
    delete_where, and the storage-reclaim half of compaction. The new
    log is written before any file goes, so no snapshot in the log
    ever names a deleted file."""
    log = catalog._read_log(table_id)
    if len(log) <= keep_last:
        return 0
    keep, drop = log[-keep_last:], log[:-keep_last]
    kept_files = {f for s in keep for f in s["files"]}
    catalog._write_log(table_id, keep)
    removed = 0
    for snap in drop:
        for f in snap["files"]:
            if f not in kept_files and os.path.exists(f):
                os.remove(f)
                removed += 1
    _notify_commit_listeners(catalog, table_id)
    return removed


def compact(
    catalog: "SnapshotParquetCatalog", table_id: str, target_files: int = 1
) -> "SnapshotInfo":
    """Small-file compaction: rewrite the current snapshot's content
    into ``target_files`` files as a new snapshot (old snapshots keep
    referencing the original files until expired). The streaming-
    ingestion companion — per-micro-batch commits accumulate small
    files; periodic compaction restores scan efficiency."""
    current = catalog.read_table(table_id)
    return catalog.write_snapshot(
        table_id, current.coalesce(target_files), mode="overwrite"
    )


def upsert(
    catalog: "SnapshotParquetCatalog",
    table_id: str,
    updates: DataFrame,
    key_col: str,
) -> "SnapshotInfo":
    """MERGE-style upsert as a new snapshot: rows whose key appears in
    ``updates`` are replaced, new keys are inserted (copy-on-write —
    the Iceberg MERGE INTO shape). Anti-join keeps untouched rows; at
    scale the anti-join shuffles on the key like any MERGE."""
    current = catalog.read_table(table_id)
    keys = updates.select(key_col).distinct()
    untouched = current.join(keys, key_col, "left_anti")
    merged = untouched.unionByName(updates.select(*current.columns))
    return catalog.write_snapshot(table_id, merged, mode="overwrite")
