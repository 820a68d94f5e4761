"""Engine facade: SQL seam, read-through caching, snapshot-keyed misses."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from iceberg_cache_spark.cache import CacheManager
from iceberg_cache_spark.engine import CachedQueryEngine
from iceberg_cache_spark.sources.catalog import SnapshotParquetCatalog


@pytest.fixture()
def engine(spark):
    return CachedQueryEngine(spark, CacheManager(capacity_bytes=10**9))


def test_sql_over_registered_tables(spark, sf_dir, engine):
    for t in ("region", "nation"):
        engine.register_parquet(t, os.path.join(sf_dir, f"{t}.parquet"))
    rows = engine.sql(
        "SELECT r.r_name, COUNT(*) AS n FROM region r "
        "JOIN nation n ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name"
    ).collect()
    assert len(rows) == 5 and all(r.n == 5 for r in rows)
    # second query reuses the registered views (register-once): the
    # cache keeps exactly one entry per table — no reload, no new miss
    misses_before = engine.stats()["misses"]
    entries_before = engine.stats()["entries"]
    n = engine.sql("SELECT COUNT(*) AS n FROM nation").collect()[0].n
    assert n == 25
    assert engine.stats()["misses"] == misses_before
    assert engine.stats()["entries"] == entries_before
    engine.cache.clear()


def test_snapshot_commit_is_cache_miss(spark, tmp_path, engine):
    catalog = SnapshotParquetCatalog(spark, str(tmp_path / "wh"))
    catalog.write_snapshot("t", spark.range(0, 10))
    engine.register_catalog_table(catalog, "t")

    assert engine.table("t").count() == 10
    assert engine.table("t").count() == 10  # cache hit, same snapshot
    stats = engine.stats()
    assert stats["hits"] == 1 and stats["misses"] == 1

    catalog.write_snapshot("t", spark.range(0, 30))
    assert engine.table("t").count() == 30  # new snapshot -> miss -> reload
    assert engine.stats()["misses"] == 2
    engine.cache.clear()


def test_column_subsumption_reuse(spark, tmp_path, engine):
    calls = []

    def loader():
        calls.append(1)
        return spark.range(100).selectExpr("id", "id * 2 AS a", "id * 3 AS b")

    engine.register_loader("t", loader)
    engine.table("t")  # full-column entry
    before = engine.stats()
    narrow = engine.table("t", columns=["id", "a"])  # served from cache
    after = engine.stats()
    assert len(calls) == 1
    assert after["hits"] - before["hits"] == 1  # one hit, no miss on the way
    assert after["misses"] == before["misses"]
    assert narrow.columns == ["id", "a"] and narrow.count() == 100
    engine.cache.clear()


def test_projected_read_keeps_the_callers_column_order(spark, engine):
    engine.register_loader("c", lambda: spark.range(10).selectExpr("id", "id * 2 AS a"))
    assert engine.table("c", columns=["id", "a"]).columns == ["id", "a"]
    assert engine.table("c", columns=["a", "id"]).columns == ["a", "id"]
    engine.cache.clear()


def test_plan_fingerprint_result_cache(spark, sf_dir, engine):
    import os as _os

    engine.register_parquet("region", _os.path.join(sf_dir, "region.parquet"))
    q1 = "SELECT r_regionkey, COUNT(*) AS n FROM region GROUP BY r_regionkey"
    # same plan, cosmetically different SQL
    q2 = "SELECT   r_regionkey,  COUNT(*)   AS n\nFROM region\nGROUP BY r_regionkey"
    d1 = engine.sql(q1, cache_result=True)
    misses_after_first = engine.stats()["misses"]
    d2 = engine.sql(q2, cache_result=True)
    assert engine.stats()["misses"] == misses_after_first  # plan-level hit
    assert d2.is_cached
    assert sorted(map(tuple, d1.collect())) == sorted(map(tuple, d2.collect()))
    # semantically different SQL is a different fingerprint
    engine.sql(q1 + " HAVING COUNT(*) > 0", cache_result=True)
    assert engine.stats()["misses"] == misses_after_first + 1
    engine.cache.clear()


def test_cluster_conf_sizing():
    from iceberg_cache_spark.session import cluster_conf

    conf = cluster_conf(data_tb=100, executors=1000, cores_per_executor=8)
    parts = int(conf["spark.sql.shuffle.partitions"])
    assert 16_000 <= parts <= 200_000  # ≥ 2x cores, bounded
    assert conf["spark.sql.adaptive.enabled"] == "true"
    small = cluster_conf(data_tb=0.1, executors=4, cores_per_executor=4)
    assert int(small["spark.sql.shuffle.partitions"]) >= 32


def test_point_lookup_with_bloom_skip(spark, sf_dir, engine):
    import os as _os

    engine.register_parquet("customer", _os.path.join(sf_dir, "customer.parquet"))
    engine.attach_bloom("customer", "c_custkey")
    present = engine.point_lookup("customer", "c_custkey", 1)
    assert present.count() == 1
    absent = engine.point_lookup("customer", "c_custkey", 10**12)
    # bloom proved absence: optimizer folds limit(0) to an empty local
    # relation — no parquet scan in the plan at all
    plan = absent._jdf.queryExecution().executedPlan().toString()
    assert absent.count() == 0 and "Scan parquet" not in plan
    engine.cache.clear()


def _outcome(read):
    """The rows a read returns, sorted, or the name of the error it raises."""
    try:
        return sorted(read().collect())
    except Exception as e:
        return type(e).__name__


def test_point_lookup_never_returns_fewer_rows_than_the_scan(spark, engine):
    """Boolean, double and timestamp columns are refused by the bloom
    index (Python's str() of True, 1e20 and a fractional-second
    timestamp differs from Spark's string cast, which once hid present
    rows), and so is a case-insensitive collation; string and long
    columns keep the skip, and an all-NULL column gets an empty filter."""
    ts = dt.datetime(2024, 1, 1, 12, 0, 0, 250000)
    frame = spark.createDataFrame(
        [
            (True, 1e20, ts, "k-1", 1 << 40, None),
            (False, 2.5, dt.datetime(2024, 1, 2), "k-2", 7, None),
        ],
        "b boolean, d double, ts timestamp, s string, l long, n long",
    ).withColumn("ci", F.collate("s", "UTF8_LCASE"))
    engine.register_loader("typed", lambda: frame)
    df = engine.table("typed")
    refused = [
        ("b", True, "boolean"),
        ("d", 1e20, "double"),
        ("ts", ts, "timestamp"),
        ("ci", "K-1", "UTF8_LCASE"),
    ]
    for column, value, type_name in refused:
        with pytest.raises(TypeError, match=type_name):
            engine.attach_bloom("typed", column)
        scan = df.filter(df[column] == value).collect()
        assert len(scan) == 1
        assert sorted(engine.point_lookup("typed", column, value).collect()) == sorted(scan)
    for column, present, absent in [("s", "k-1", "k-3"), ("l", 1 << 40, 8)]:
        engine.attach_bloom("typed", column)
        scan = df.filter(df[column] == present).collect()
        assert len(scan) == 1
        assert engine.point_lookup("typed", column, present).collect() == scan
        skipped = engine.point_lookup("typed", column, absent)
        plan = skipped._jdf.queryExecution().executedPlan().toString()
        assert skipped.count() == 0 and "InMemoryTableScan" not in plan
    engine.attach_bloom("typed", "n")  # nothing to put: an empty filter
    assert engine.point_lookup("typed", "n", 7).count() == 0
    engine.cache.clear()


def test_bloom_refuses_padded_char_columns(spark, engine, tmp_path):
    """CHAR(n) stores 'ab' padded to 'ab   ', and equality still matches
    'ab': a filter over the stored values would hide the row."""
    spark.sql(f"CREATE TABLE bloom_char (c CHAR(5)) USING parquet LOCATION '{tmp_path / 'c'}'")
    try:
        spark.sql("INSERT INTO bloom_char VALUES ('ab')")
        engine.register_loader("bloom_char", lambda: spark.table("bloom_char"))
        with pytest.raises(TypeError, match=r"char\(5\)"):
            engine.attach_bloom("bloom_char", "c")
        assert engine.point_lookup("bloom_char", "c", "ab").count() == 1
    finally:
        engine.cache.clear()
        spark.sql("DROP TABLE IF EXISTS bloom_char")


def test_point_lookup_with_a_mismatched_probe_scans(spark, engine):
    """A probe whose Python type is not the column's may still equal a
    row under Spark's casts (or make the scan fail): the lookup answers
    exactly as the filtered scan does."""
    frame = spark.createDataFrame(
        [("05", "true", 5), ("7", "false", 7)], "s string, flag string, l long"
    )
    engine.register_loader("t", lambda: frame)
    df = engine.table("t")
    for column in ("s", "flag", "l"):
        engine.attach_bloom("t", column)
    probes = [
        ("s", 5), ("l", "5"), ("l", None), ("s", None), ("l", 2**70), ("flag", True), ("l", True),
    ]
    for column, value in probes:
        scan = _outcome(lambda: df.filter(df[column] == value))
        assert _outcome(lambda: engine.point_lookup("t", column, value)) == scan, (column, value)
    assert len(_outcome(lambda: engine.point_lookup("t", "s", 5))) == 1
    assert len(_outcome(lambda: engine.point_lookup("t", "flag", True))) == 1
    engine.cache.clear()


def test_reference_golden_sql(spark, engine):
    """The reference's one end-to-end SQL assertion, verbatim semantics:
    a 2-column table registered as a view, `SELECT id, value FROM
    test_table WHERE id > 1` returns exactly [(2,'b'), (3,'c')]
    (ref src/tests/test_sql_query_engine.py:18-33)."""
    engine.register_loader(
        "test_table",
        lambda: spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "value"]),
    )
    rows = engine.sql("SELECT id, value FROM test_table WHERE id > 1").collect()
    assert sorted((r.id, r.value) for r in rows) == [(2, "b"), (3, "c")]
    engine.cache.clear()


def test_event_driven_invalidation(spark, tmp_path, engine):
    catalog = SnapshotParquetCatalog(spark, str(tmp_path / "wh2"))
    catalog.write_snapshot("t2", spark.range(0, 5))
    engine.register_catalog_table(catalog, "t2")
    engine.watch_catalog(catalog, "t2")
    engine.table("t2").count()
    assert len(engine.cache.keys()) == 1
    catalog.write_snapshot("t2", spark.range(0, 9))  # commit fires listener
    assert engine.cache.keys() == []  # entries dropped eagerly
    assert engine.table("t2").count() == 9
    engine.cache.clear()


def test_sql_unknown_table_clean_error(spark, engine):
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException):
        engine.sql("SELECT * FROM definitely_not_a_table").collect()


def test_table_without_loader_raises_keyerror(engine):
    with pytest.raises(KeyError):
        engine.table("unregistered")


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"engine-test-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store caught up
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_parquet_load_runs_no_job(spark, sf_dir, engine):
    """register_parquet infers the schema once; a load then builds its
    DataFrame without the schema-inference job."""
    engine.register_parquet("nation_schema", os.path.join(sf_dir, "nation.parquet"))
    assert _jobs_run_by(spark, lambda: engine.table("nation_schema", use_cache=False)) == 0
    assert engine.table("nation_schema", use_cache=False).count() == 25


def test_small_entry_is_one_partition_unless_above_the_advisory_size(spark, engine):
    """A table whose estimate fits the session's advisory partition size
    is stored coalesced to one partition; with the advisory size set
    below its estimate the entry keeps the source's partitions."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    engine.register_loader("ranged4", lambda: spark.range(0, 10_000, 1, 4))

    def stored_plan():
        return engine.table("ranged4")._jdf.queryExecution().executedPlan().toString()

    small = engine.table("ranged4")
    assert small.rdd.getNumPartitions() == 1
    assert "Coalesce" in stored_plan()
    engine.cache.clear()

    before = spark.conf.get(key)
    spark.conf.set(key, "1k")  # below the 80 KB estimate
    try:
        large = engine.table("ranged4")
        assert large.rdd.getNumPartitions() == 4
        assert "Coalesce" not in stored_plan()
    finally:
        spark.conf.set(key, before)
        engine.cache.clear()


def test_one_partition_entry_answers_like_the_plain_scan(spark, sf_dir, engine):
    """The same GROUP BY ... ORDER BY returns the same rows over the
    engine's one-partition entry as over a plain parquet read, and the
    entry's plan has no exchange."""
    path = os.path.join(sf_dir, "customer.parquet")
    engine.register_parquet("customer_layout", path)
    agg = (
        "SELECT c_nationkey, COUNT(*) AS n, SUM(c_acctbal) AS bal "
        "FROM {} GROUP BY c_nationkey ORDER BY c_nationkey"
    )
    try:
        got = engine.sql(agg.format("customer_layout"))
        assert "Exchange" not in got._jdf.queryExecution().executedPlan().toString()
        spark.read.parquet(path).createOrReplaceTempView("customer_plain")
        want = spark.sql(agg.format("customer_plain")).collect()
        assert got.collect() == want and len(want) == 25
    finally:
        spark.catalog.dropTempView("customer_plain")
        engine.cache.clear()
