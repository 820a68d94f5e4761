"""Round-3 fix tests (VERDICT.md round-2 "Next round" items + ADVICE):

1. q96 emits only scalar columns (driver's pandas canonicalizer can
   sort them — the one red CORRECTNESS_r02 row).
2. Registry rotation, derived from the committed driver files: red
   rows first, then never-certified queries, then certified queries
   oldest-evidence-first, rows-only last.
3. grouped_zscore defaults to the relational aggregate (no grouped
   pandas in the plan) and stays bit-identical to the pandas path.
4. CacheManager refreshes the admission estimate to the ACTUAL
   materialized size, and eviction decisions use the refreshed number.
5. shuffle_order / shuffle_order_write: production form of q112 —
   range shuffle + local sort, no single-partition Exchange, same
   total order as the global-window form.
6. Flight serving is columnar end-to-end (no per-row Python
   conversion) and timestamp instants survive a non-UTC session
   timezone (ADVICE round-2 tz bug).
"""

from __future__ import annotations

import datetime as dt
import glob
import inspect
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from iceberg_cache_spark.sources.testdata import load_table


# -- 1. q96 driver canonicalization -------------------------------------


def test_q96_emits_only_scalar_columns(spark, sf_dir):
    from iceberg_cache_spark.plans import QUERIES

    df = QUERIES["q96_embedding_quantize"](spark, sf_dir)
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for name, kind in kinds.items():
        assert not any(t in kind for t in ("array", "map", "struct")), (
            f"{name}: {kind} would break the driver's pandas sort_values"
        )


# -- 2. registry rotation ------------------------------------------------


# sha256 of "\n".join(order) for the registry order the hand-kept
# per-round sets produced before the order was derived from the
# committed driver files (r01–r12, with q190 led by hand in r13).
_HAND_KEPT_ORDER_SHA256 = (
    "ab25224f933f7fc4659e67fd5fe975fd1e50902f99e6a2045e62a5d40e7e6807"
)


def test_registry_orders_stalest_evidence_first():
    """The live order, ranked from the committed driver files: names
    the newest round left red lead, then oracle-matched names with no
    green row yet, then every other oracle-matched name sorted stalest
    driver evidence FIRST (newest certifying round ascending), and
    rows-only names dead LAST (all carry their `no_oracle` rows; they
    spend no driver slots)."""
    import iceberg_cache_spark.plans as P
    from iceberg_cache_spark.plans import ORACLE, QUERIES

    names = list(QUERIES)
    rounds = P.driver_rounds()
    freshest = P.last_green(rounds)
    newest = rounds[-1]
    head = [
        n
        for n in names
        if n in ORACLE and n in newest and not newest[n].get("hash_match")
    ]
    new_unverified = [
        n
        for n in names
        if n in ORACLE and n not in freshest and n not in head
    ]
    rows_only = [n for n in names if n not in ORACLE]
    rotation = [
        n
        for n in names
        if n not in head and n not in new_unverified and n not in rows_only
    ]
    k0 = len(head)
    assert names[:k0] == head
    k1 = k0 + len(new_unverified)
    assert names[k0:k1] == new_unverified
    k2 = k1 + len(rotation)
    assert names[k1:k2] == rotation
    # within the rotation tier: staleness is monotonically
    # non-decreasing — the window always re-certifies the oldest rows
    ranks = [freshest[n] for n in rotation]
    assert ranks == sorted(ranks), (
        "rotation tier is not stalest-evidence-first"
    )
    # rows-only names are dead last: every driver slot goes to a
    # hash-checkable query (VERDICT r6 item 3 — r6 burned 6 of 50
    # slots confirming the driver cannot check them)
    assert names[k2:] == rows_only
    assert all(n in ORACLE for n in names[:50]), (
        "a rows-only name leaked into the driver's ~50-row window"
    )
    # the must-certify tiers (head + first-row names) never overflow
    # the window; the rotation tier self-truncates by construction
    assert len(head) + len(new_unverified) <= 50
    # the window never re-samples what the newest round just certified
    assert not set(names[:50]) & (set(newest) - set(head))


def test_registry_order_reproduces_the_hand_kept_order():
    """Fed only r01–r12 plus r13's one hand decision (q190 led because
    its expression changed, i.e. treated as not yet green), the
    derivation equals the order the hand-kept sets produced."""
    import hashlib

    import iceberg_cache_spark.plans as P

    rounds = P.driver_rounds()[:12] + [
        {"q190_source_mixture_plan": {"hash_match": False}}
    ]
    order = P.registry_order(P._DECLARED, P.ORACLE, rounds)
    digest = hashlib.sha256("\n".join(order).encode()).hexdigest()
    assert len(order) == 194
    assert digest == _HAND_KEPT_ORDER_SHA256


def test_registry_order_follows_a_new_driver_file(tmp_path):
    """Committing a CORRECTNESS_r{NN}.json re-ranks with no code edit:
    its green names move to the back of the rotation tier and its red
    oracle names lead. Local verification files never count."""
    import json
    import shutil

    import iceberg_cache_spark.plans as P

    for f in P._REPO_ROOT.glob("CORRECTNESS_r[0-9][0-9].json"):
        shutil.copy(f, tmp_path / f.name)
    live = P.registry_order(P._DECLARED, P.ORACLE, P.driver_rounds(tmp_path))
    assert live == list(P.QUERIES)

    green, red = live[:3], live[10]
    rows = {n: {"hash_match": True} for n in green}
    rows[red] = {"rows_match": True, "hash_match": False}
    (tmp_path / "CORRECTNESS_r15.json").write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_local_r15.json").write_text(
        json.dumps({n: {"hash_match": False} for n in live[:20]})
    )
    order = P.registry_order(P._DECLARED, P.ORACLE, P.driver_rounds(tmp_path))
    rest = [n for n in live if n in P.ORACLE and n not in green and n != red]
    rows_only = [n for n in live if n not in P.ORACLE]
    assert order == [red] + rest + green + rows_only


def test_registry_order_without_driver_files_is_declaration_order(tmp_path):
    import iceberg_cache_spark.plans as P

    order = P.registry_order(P._DECLARED, P.ORACLE, P.driver_rounds(tmp_path))
    assert order == (
        [n for n in P._DECLARED if n in P.ORACLE]
        + [n for n in P._DECLARED if n not in P.ORACLE]
    )


# -- 3. grouped z-score: relational default ------------------------------


def test_grouped_zscore_relational_default_no_pandas_in_plan(spark, sf_dir):
    from iceberg_cache_spark.operators.udfs import grouped_zscore

    d = load_table(spark, sf_dir, "documents")
    rel = grouped_zscore(d, "source", "n_chars", "doc_id")
    plan = rel._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_grouped_zscore_paths_bit_identical(spark, sf_dir):
    from iceberg_cache_spark.operators.udfs import grouped_zscore

    d = load_table(spark, sf_dir, "documents")
    rel = grouped_zscore(d, "source", "n_chars", "doc_id")
    pan = grouped_zscore(d, "source", "n_chars", "doc_id", use_pandas=True)
    assert (
        rel.orderBy("doc_id").collect() == pan.orderBy("doc_id").collect()
    )


# -- 4. cache size refresh ----------------------------------------------


def _wide_df(spark, start, n):
    # uuid strings: optimizer sizeInBytes badly underestimates these
    return spark.range(start, start + n).selectExpr(
        "id", "repeat(uuid(), 3) AS s"
    )


def test_cache_size_refreshed_after_materialization(spark):
    from iceberg_cache_spark.cache.manager import CacheManager

    m = CacheManager(capacity_bytes=1 << 30)
    df = _wide_df(spark, 0, 50_000)
    est = m.estimate_size(df)
    try:
        m.load_and_put("t#a", lambda: df)
        entry = m._entries["t#a"]
        assert entry.size_bytes > est
        assert m.stats()["size_bytes"] == entry.size_bytes
    finally:
        m.clear()


def test_eviction_uses_refreshed_sizes(spark):
    from iceberg_cache_spark.cache.manager import CacheManager

    # Estimates (~0.9 MB each) say two entries fit in 8 MiB; actuals
    # (~6 MB each) say they don't. With refresh, admitting the second
    # entry must evict the first — without it both would sit "within
    # budget" at 12 MB real usage.
    m = CacheManager(capacity_bytes=8 << 20)
    try:
        m.load_and_put("t#a", lambda: _wide_df(spark, 0, 50_000))
        assert m._entries["t#a"].size_bytes > 4 << 20
        m.load_and_put("t#b", lambda: _wide_df(spark, 50_000, 50_000))
        assert "t#b" in m._entries
        assert "t#a" not in m._entries
    finally:
        m.clear()


def test_refresh_never_evicts_its_own_entry(spark):
    from iceberg_cache_spark.cache.manager import CacheManager

    m = CacheManager(capacity_bytes=2 << 20)  # smaller than the actual size
    try:
        m.load_and_put("t#solo", lambda: _wide_df(spark, 0, 50_000))
        assert "t#solo" in m._entries  # over budget but protected
        assert m._entries["t#solo"].size_bytes > m.capacity_bytes
    finally:
        m.clear()


# -- 5. shuffle_order production form ------------------------------------


def test_shuffle_order_plan_is_range_shuffle_not_global_sort(spark, sf_dir):
    from iceberg_cache_spark.operators.curation import shuffle_order

    d = load_table(spark, sf_dir, "documents")
    plan = (
        shuffle_order(d, num_partitions=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_shuffle_order_write_matches_global_window_order(
    spark, sf_dir, tmp_path
):
    from iceberg_cache_spark.operators.curation import shuffle_order_write

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    out = str(tmp_path / "ordered")
    shuffle_order_write(d, out, num_partitions=4)
    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    assert len(files) > 1, "range shuffle should produce multiple files"
    got: list[int] = []
    for f in files:
        got.extend(pq.read_table(f).column("doc_id").to_pylist())
    w = W.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    want = [
        r.doc_id
        for r in d.select("doc_id", F.row_number().over(w).alias("pos"))
        .orderBy("pos")
        .collect()
    ]
    assert got == want


# -- 6. columnar Flight + timezone correctness ---------------------------


def test_flight_no_per_row_python_conversion():
    import iceberg_cache_spark.serving.flight as fl

    src = inspect.getsource(fl)
    for marker in ("from_pydict", "asDict", "_plain", "_rows_to_batch"):
        assert marker not in src, f"row-at-a-time path resurfaced: {marker}"
    assert "toArrowBatchRdd" in src  # JVM-encoded columnar stream


def test_flight_batches_respect_batch_size(spark, sf_dir):
    from iceberg_cache_spark.serving.flight import _batches, _df_schema

    d = load_table(spark, sf_dir, "orders").select("o_orderkey")
    batches = list(_batches(d, 100))
    assert all(b.num_rows <= 100 for b in batches)
    assert sum(b.num_rows for b in batches) == d.count()
    assert all(b.schema == _df_schema(d) for b in batches)


def test_flight_timestamp_instants_survive_non_utc_session(spark):
    from iceberg_cache_spark.serving.flight import _batches, _df_schema

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.sql(
            "SELECT id, timestamp'2024-06-01 12:00:00' AS ts FROM range(5)"
        )
        schema = _df_schema(df)
        table = pa.Table.from_batches(list(_batches(df, 10)), schema=schema)
        vals = table.column("ts").to_pylist()
        # 12:00 America/New_York (EDT) == 16:00 UTC — the INSTANT must
        # survive; the old row path shifted it by the tz offset.
        want = dt.datetime(2024, 6, 1, 16, 0, tzinfo=dt.timezone.utc)
        assert all(v.astimezone(dt.timezone.utc) == want for v in vals)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_flight_server_roundtrip_non_utc(spark, sf_dir):
    pytest.importorskip("pyarrow.flight")
    from iceberg_cache_spark.engine import CachedQueryEngine
    from iceberg_cache_spark.serving.flight import (
        SparkFlightServer,
        query_sql,
        serve_background,
    )

    # Engine FIRST: its constructor pins the session to UTC
    # (ensure_session_defaults) for oracle determinism; the tz switch
    # below emulates a deployment that serves in a local timezone.
    engine = CachedQueryEngine(spark)
    engine.register_parquet("region", os.path.join(sf_dir, "region.parquet"))
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        srv = SparkFlightServer(engine, "grpc://127.0.0.1:0")
        serve_background(srv)
        try:
            got = query_sql(
                f"grpc://127.0.0.1:{srv.port}",
                "SELECT r_regionkey, timestamp'2024-06-01 12:00:00' AS ts "
                "FROM region ORDER BY r_regionkey",
            )
            assert got.num_rows == 5
            want = dt.datetime(2024, 6, 1, 16, 0, tzinfo=dt.timezone.utc)
            assert all(
                v.astimezone(dt.timezone.utc) == want
                for v in got.column("ts").to_pylist()
            )
        finally:
            srv.shutdown()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
