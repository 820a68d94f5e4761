"""Snapshot catalog tests (C13–C18 semantics offline): history, time
travel resolving *historical* files (the reference's C18 bug, fixed),
min/max file pruning."""

from __future__ import annotations

import pytest

from iceberg_cache_spark.sources.catalog import SnapshotParquetCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return SnapshotParquetCatalog(spark, str(tmp_path / "warehouse"))


def test_snapshot_history_and_time_travel(spark, catalog):
    s1 = catalog.write_snapshot("t", spark.range(0, 10))
    s2 = catalog.write_snapshot("t", spark.range(0, 25))

    hist = catalog.snapshot_history("t")
    assert [s.snapshot_id for s in hist] == [s2.snapshot_id, s1.snapshot_id]
    assert catalog.get_snapshot("t").snapshot_id == s2.snapshot_id

    # pinned reads resolve the actual historical file set
    assert catalog.read_table("t", snapshot_id=s1.snapshot_id).count() == 10
    assert catalog.read_table("t").count() == 25
    # timestamp-based travel
    assert (
        catalog.get_snapshot("t", as_of_timestamp_ms=s1.timestamp_ms).snapshot_id
        == s1.snapshot_id
    )
    with pytest.raises(KeyError):
        catalog.get_snapshot("t", as_of_timestamp_ms=s1.timestamp_ms - 10_000)


def test_file_pruning_by_minmax(spark, catalog):
    # range-partitioned write -> disjoint id ranges per file
    df = spark.range(0, 1000).repartitionByRange(4, "id")
    catalog.write_snapshot("p", df)
    all_files = catalog.get_data_files("p")
    assert len(all_files) == 4
    assert sum(f.record_count for f in all_files) == 1000
    pruned = catalog.get_data_files("p", partition_filter={"id": 5})
    assert len(pruned) == 1  # only the file whose [min,max] covers 5
    assert catalog.read_table("p", partition_filter={"id": 5}).count() == 1


def test_stats_and_schema(spark, catalog):
    catalog.write_snapshot("s", spark.range(0, 7).withColumnRenamed("id", "x"))
    stats = catalog.table_stats("s")
    assert stats["total_records"] == 7
    assert stats["schema"] == ["x"]
    assert stats["snapshot_count"] == 1


def test_append_mode_shares_files(spark, catalog):
    catalog.write_snapshot("a", spark.range(0, 10))
    s2 = catalog.write_snapshot("a", spark.range(100, 105), mode="append")
    assert catalog.read_table("a").count() == 15
    assert catalog.read_table("a", snapshot_id=s2.snapshot_id).count() == 15
    first = catalog.snapshot_history("a")[-1]
    assert set(first.files) < set(s2.files)  # immutable files shared forward
    with pytest.raises(ValueError):
        catalog.write_snapshot("a", spark.range(1), mode="merge")


def test_metadata_latency_smoke(spark, catalog):
    """Perf smoke mirroring the reference's only executable perf bound:
    avg get_data_files < 5.0 s over 10 iterations
    (ref src/tests/test_metadata_manager.py:248-262)."""
    import time as _time

    catalog.write_snapshot("perf", spark.range(0, 100))
    t0 = _time.time()
    for _ in range(10):
        files = catalog.get_data_files("perf")
        assert files
    assert (_time.time() - t0) / 10 < 5.0


def test_write_partitioned_prunes(spark, tmp_path):
    from iceberg_cache_spark.sources.catalog import write_partitioned

    df = spark.range(0, 100).selectExpr("id", "id % 4 AS part")
    out = str(tmp_path / "part_table")
    write_partitioned(df, out, ["part"])
    back = spark.read.parquet(out)
    assert back.count() == 100
    plan = back.filter("part = 2")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part" in plan  # pruning at plan time
    assert back.filter("part = 2").count() == 25


def test_corrupt_file_fails_fast(spark, tmp_path):
    """The reference's loader silently dropped failed files
    (ref src/storage/dataloader.py:108-127, timeout path) — SURVEY.md
    flags that as a do-not-copy. Spark default (ignoreCorruptFiles=false)
    fails fast, surfacing the error instead of returning partial data."""
    d = tmp_path / "t"
    spark.range(10).coalesce(1).write.parquet(str(d))
    (d / "junk.parquet").write_bytes(b"definitely not parquet data")
    with pytest.raises(Exception):
        spark.read.parquet(str(d)).count()


def test_delete_where_and_time_travel(spark, catalog):
    from iceberg_cache_spark.sources.catalog import delete_where

    s1 = catalog.write_snapshot("d", spark.range(0, 100))
    delete_where(catalog, "d", "id >= 90")
    assert catalog.read_table("d").count() == 90
    assert catalog.read_table("d").filter("id >= 90").count() == 0
    # pre-delete state still reachable
    assert catalog.read_table("d", snapshot_id=s1.snapshot_id).count() == 100


def test_compact_and_expire(spark, catalog):
    from iceberg_cache_spark.sources.catalog import compact, expire_snapshots

    catalog.write_snapshot("c", spark.range(0, 50).repartition(6))
    for start in (50, 60, 70):
        catalog.write_snapshot(
            "c", spark.range(start, start + 10).repartition(2), mode="append"
        )
    before_files = len(catalog.get_data_files("c"))
    assert before_files >= 8  # small-file accumulation from appends
    compact(catalog, "c", target_files=1)
    assert len(catalog.get_data_files("c")) == 1
    assert catalog.read_table("c").count() == 80
    # expire everything but the compacted snapshot; orphan files deleted
    removed = expire_snapshots(catalog, "c", keep_last=1)
    assert removed >= before_files - 1
    assert len(catalog.snapshot_history("c")) == 1
    assert catalog.read_table("c").count() == 80


def test_interrupted_log_write_keeps_the_history(spark, catalog, monkeypatch):
    """One ``_snapshots.json`` holds a table's whole history. A commit,
    or an expiry, whose log write dies part-way must leave the previous
    history readable and every file it names on disk."""
    import json
    import os

    from iceberg_cache_spark.sources.catalog import expire_snapshots

    s1 = catalog.write_snapshot("t", spark.range(0, 10))
    s2 = catalog.write_snapshot("t", spark.range(0, 25))
    dump = json.dump

    def dies_midway(obj, f, **kw):
        f.write(json.dumps(obj, **kw)[:40])
        raise OSError("no space left on device")

    monkeypatch.setattr(json, "dump", dies_midway)
    with pytest.raises(OSError):
        catalog.write_snapshot("t", spark.range(0, 99))
    with pytest.raises(OSError):
        expire_snapshots(catalog, "t", keep_last=1)
    monkeypatch.setattr(json, "dump", dump)

    hist = catalog.snapshot_history("t")
    assert [s.snapshot_id for s in hist] == [s2.snapshot_id, s1.snapshot_id]
    assert catalog.read_table("t", snapshot_id=s1.snapshot_id).count() == 10
    assert catalog.read_table("t").count() == 25
    table_dir = os.path.join(catalog.root, "t")
    assert not [f for f in os.listdir(table_dir) if f.endswith(".tmp")]


def test_upsert_merge_semantics(spark, catalog):
    from iceberg_cache_spark.sources.catalog import upsert

    catalog.write_snapshot(
        "u", spark.range(0, 10).selectExpr("id", "id * 10 AS v")
    )
    updates = spark.createDataFrame([(3, 999), (42, 4200)], ["id", "v"])
    s1 = catalog.snapshot_history("u")[-1]
    upsert(catalog, "u", updates, "id")
    rows = {r.id: r.v for r in catalog.read_table("u").collect()}
    assert rows[3] == 999      # updated
    assert rows[42] == 4200    # inserted
    assert rows[5] == 50       # untouched
    assert len(rows) == 11
    # pre-merge state time-travelable
    assert catalog.read_table("u", snapshot_id=s1.snapshot_id).count() == 10


def test_schema_evolution_on_append(spark, catalog):
    catalog.write_snapshot("ev", spark.range(0, 5).selectExpr("id"))
    catalog.write_snapshot(
        "ev",
        spark.range(5, 8).selectExpr("id", "id * 2 AS extra"),
        mode="append",
    )
    df = catalog.read_table("ev")
    assert set(df.columns) == {"id", "extra"}
    rows = {r.id: r.extra for r in df.collect()}
    assert rows[6] == 12 and rows[1] is None  # old rows: nulls for new col
    assert df.count() == 8
