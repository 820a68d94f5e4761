"""Cache manager + eviction policy tests (reference test style:
direct semantics checks, ref ``src/tests/test_bloom_filter.py`` et al.)."""

from __future__ import annotations

import time

import pytest

from iceberg_cache_spark.cache import (
    CacheKey,
    CacheManager,
    CompositeEvictionPolicy,
    LFUEvictionPolicy,
    LRUEvictionPolicy,
)
from iceberg_cache_spark.cache import manager
from iceberg_cache_spark.cache.manager import CacheEntry


class FakeDF:
    """Stands in for a DataFrame: the manager only persists/unpersists."""

    def __init__(self) -> None:
        self.persisted = False

    def persist(self, level=None):
        self.persisted = True
        return self

    def unpersist(self):
        self.persisted = False
        return self

    def count(self):
        return 0


def entry(size: int, accessed: float, count: int = 0, created: float = 0.0) -> CacheEntry:
    e = CacheEntry(df=FakeDF(), size_bytes=size, created_at=created)
    e.last_accessed = accessed
    e.access_count = count
    return e


# -- keys (C7) --------------------------------------------------------------


def test_cache_key_scheme():
    k = CacheKey.of("orders", {"region": "EU"}, ["a", "b"], snapshot_id=7)
    s = str(k)
    assert s.startswith("orders#7#")
    assert '"region": "EU"' in s
    # column order canonicalized
    assert str(CacheKey.of("t", None, ["b", "a"])) == str(CacheKey.of("t", None, ["a", "b"]))
    # snapshot changes the key (stale-snapshot hit is impossible)
    assert str(CacheKey.of("t", None, None, 1)) != str(CacheKey.of("t", None, None, 2))


# -- policies (C3) ----------------------------------------------------------


def test_lru_policy_evicts_oldest_first():
    entries = {"old": entry(10, accessed=1.0), "new": entry(10, accessed=9.0)}
    assert LRUEvictionPolicy().select_victims(entries, 5) == ["old"]
    assert LRUEvictionPolicy().select_victims(entries, 15) == ["old", "new"]


def test_lfu_policy_evicts_coldest_first():
    entries = {
        "hot": entry(10, accessed=1.0, count=100),
        "cold": entry(10, accessed=9.0, count=1),
    }
    assert LFUEvictionPolicy().select_victims(entries, 5) == ["cold"]


def test_composite_policy_scores():
    pol = CompositeEvictionPolicy()
    now = 1000.0
    old_cold_big = entry(50 * 1024 * 1024, accessed=0, count=0, created=0.0)
    new_hot_small = entry(1024, accessed=now, count=50, created=now)
    assert pol.score(old_cold_big, now) > pol.score(new_hot_small, now)
    entries = {"a": old_cold_big, "b": new_hot_small}
    assert pol.select_victims(entries, 1)[0] == "a"


# -- manager (C1, C2, C5, C6, C9, C10) --------------------------------------


def test_put_get_hit_miss_accounting():
    m = CacheManager(capacity_bytes=1000)
    assert m.get("k") is None
    m.put("k", FakeDF(), size_bytes=100)
    assert m.get("k") is not None
    s = m.stats()
    assert s == {
        "entries": 1,
        "size_bytes": 100,
        "capacity_bytes": 1000,
        "utilization": 0.1,
        "hits": 1,
        "misses": 1,
    }


def test_eviction_until_fits():
    m = CacheManager(capacity_bytes=100)
    a, b, c = FakeDF(), FakeDF(), FakeDF()
    m.put("a", a, size_bytes=60)
    time.sleep(0.01)
    m.put("b", b, size_bytes=40)
    time.sleep(0.01)
    m.get("b")  # touch b so a is LRU victim
    m.put("c", c, size_bytes=50)  # needs 50: evicts a (oldest)
    assert set(m.keys()) == {"b", "c"}
    assert not a.persisted and b.persisted and c.persisted


def test_oversized_put_evicts_everything_but_admits():
    m = CacheManager(capacity_bytes=100)
    m.put("a", FakeDF(), size_bytes=90)
    m.put("big", FakeDF(), size_bytes=500)
    assert m.keys() == ["big"]


def test_invalidate_table_by_prefix():
    m = CacheManager(capacity_bytes=10_000)
    m.put(CacheKey.of("orders", None, ["a"]), FakeDF(), 10)
    m.put(CacheKey.of("orders", {"p": 1}), FakeDF(), 10)
    m.put(CacheKey.of("orders_archive"), FakeDF(), 10)
    assert m.invalidate_table("orders") == 2
    assert len(m.keys()) == 1  # orders_archive survives (exact table match)


def test_entry_tables_decide_invalidation():
    """An entry drops when any table it recorded at put is invalidated,
    and only then."""
    m = CacheManager(capacity_bytes=10_000)
    m.put("__plan#x", FakeDF(), 10, tables={"a", "b"})
    assert m.invalidate_table("c") == 0
    assert m.keys() == ["__plan#x"]
    assert m.invalidate_table("b") == 1
    assert m.keys() == []


def test_lookup_serves_covering_entries_to_projections_only():
    """A projection is served from an entry whose columns cover it and
    counts as one hit; a column-less key matches only its exact entry."""
    m = CacheManager(capacity_bytes=10_000)
    full = m.put(CacheKey.of("t"), FakeDF(), 10)
    m.put(CacheKey.of("u", None, ["a"]), FakeDF(), 10)
    assert m.get(CacheKey.of("t", None, ["a"])) is full
    assert m.get(CacheKey.of("u")) is None
    assert (m.stats()["hits"], m.stats()["misses"]) == (1, 1)


def test_ttl_sweep(monkeypatch):
    monkeypatch.setattr(manager, "TTL_SECONDS", 10)
    m = CacheManager(capacity_bytes=1000)
    m.put("a", FakeDF(), 10)
    m.put("b", FakeDF(), 10)
    m._entries["a"].last_accessed = time.time() - 100
    assert m.sweep_expired() == 1
    assert m.keys() == ["b"]


def test_get_or_load_loads_once(spark):
    m = CacheManager(capacity_bytes=10**9)
    calls = []

    def loader():
        calls.append(1)
        return spark.range(10)

    df1 = m.get_or_load("k", loader)
    df2 = m.get_or_load("k", loader)
    assert len(calls) == 1
    assert df1.count() == df2.count() == 10
    m.clear()


def test_maintenance_thread_lifecycle(monkeypatch):
    monkeypatch.setattr(manager, "SWEEP_SECONDS", 0.05)
    monkeypatch.setattr(manager, "TTL_SECONDS", 0.01)
    m = CacheManager(capacity_bytes=1000)
    m.put("a", FakeDF(), 10)
    m.start_maintenance()
    time.sleep(0.2)
    m.stop_maintenance()
    assert m.keys() == []  # the sweep actually ran (unlike the reference)


# -- bloom index (C11 — consulted for real, unlike the reference) -----------


def test_bloom_index_fp_rate(spark):
    """Reference-style statistical bound (<5% FP over 1000 absent keys,
    ref src/tests/test_bloom_filter.py:25-47)."""
    from iceberg_cache_spark.cache.bloom import EntryBloomIndex

    df = spark.range(0, 1000).selectExpr("CAST(id AS STRING) AS s")
    idx = EntryBloomIndex(df, "s")
    assert all(idx.might_contain(str(i)) for i in range(0, 1000, 50))  # no FN
    fps = sum(idx.might_contain(str(i)) for i in range(100_000, 101_000))
    assert fps / 1000 < 0.05
    assert idx.definitely_absent("nope-definitely-not-there")


def test_bloom_index_fp_rate_at_300k_keys(spark):
    """At most 5% false positives over 2,000 absent keys with 300k keys
    present: the filter is sized by the entry's row count (a fixed
    2^20-bit filter with 5 hashes gives about 25% here)."""
    from iceberg_cache_spark.cache.bloom import EntryBloomIndex

    df = spark.range(0, 300_000).withColumnRenamed("id", "k").persist()
    idx = EntryBloomIndex(df, "k")
    assert all(idx.might_contain(i) for i in range(0, 300_000, 150))  # no FN
    fps = sum(idx.might_contain(i) for i in range(10**9, 10**9 + 2000))
    assert fps / 2000 <= 0.05
    df.unpersist()


def test_concurrent_get_or_load_loads_once(spark):
    import threading as _threading

    m = CacheManager(capacity_bytes=10**9)
    calls = []
    barrier = _threading.Barrier(4)

    def loader():
        calls.append(1)
        time.sleep(0.05)
        return spark.range(5)

    def worker():
        barrier.wait()
        m.get_or_load("race-key", loader)

    threads = [_threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1  # per-key lock: single load despite 4 racers
    m.clear()


def test_loading_locks_do_not_outlive_their_load():
    """Each snapshot key loads once; its per-key lock must not stay
    behind after the load."""
    m = CacheManager(capacity_bytes=10**9)
    for i in range(5):
        m.get_or_load(f"t#{i}", FakeDF, materialize=False)
    assert len(m.keys()) == 5
    assert m._loading == {}
