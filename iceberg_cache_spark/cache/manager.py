"""CacheManager: byte-budgeted pool of persisted DataFrames.

The Spark re-expression of the reference's cache plane (ref
``src/core/lru_cache.py``, ``src/core/cache_node.py``): cached values
are *executor-resident* persisted DataFrames (StorageLevel
MEMORY_AND_DISK — blocks live across the cluster, not on one node's
heap), and the driver keeps only bookkeeping. Capabilities:

- get / put with recency+frequency accounting        (C1, C2)
- byte-budget admission + evict-until-fits           (C2, C5 — the
  reference declared ``_ensure_memory_available`` but never called it;
  here it actually runs on every put)
- pluggable eviction policies                        (C3)
- TTL maintenance sweep that is genuinely scheduled  (C6 — the
  reference defined the sweep thread but never started it)
- get_or_load read-through path, with column
  subsumption folded into the one lookup             (C8)
- table invalidation by the tables each entry read   (C9 — the
  reference matched the key's ``table#`` prefix; here every entry
  records its tables at ``put``, defaulting to that same prefix)
- stats                                              (C10)

Sizing: Spark has no exact analogue of ``pa.Table.nbytes``; the plan's
optimizer stats (``sizeInBytes``) are used as the admission estimate,
and a materialized entry is re-accounted at the cached plan's own
estimate. Neither is the stored size: the five benchmark tables are
charged 60.5 MB while Spark's storage info holds 23.0 MB for them
(``perfbench/NOTES.md``, dashboard_hit).
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from iceberg_cache_spark.cache.keys import CacheKey
from iceberg_cache_spark.cache.policies import EvictionPolicy, LRUEvictionPolicy

DEFAULT_CAPACITY_BYTES = 2 * 1024 * 1024 * 1024  # reference default: 2 GiB
TTL_SECONDS = 3600.0  # an entry idle this long is swept
SWEEP_SECONDS = 60.0  # maintenance sweep interval


@dataclass
class CacheEntry:
    df: DataFrame
    size_bytes: int
    created_at: float = field(default_factory=time.time)
    last_accessed: float = field(default_factory=time.time)
    access_count: int = 0
    key: object = None  # original CacheKey when provided (for subsumption)
    tables: frozenset[str] = frozenset()  # what invalidate_table matches

    def touch(self) -> None:
        self.last_accessed = time.time()
        self.access_count += 1


class CacheManager:
    def __init__(
        self,
        capacity_bytes: int = DEFAULT_CAPACITY_BYTES,
        policy: EvictionPolicy | None = None,
    ) -> None:
        self.capacity_bytes = capacity_bytes
        self.policy = policy or LRUEvictionPolicy()
        self._entries: dict[str, CacheEntry] = {}
        self._loading: dict[str, threading.Lock] = {}
        self._lock = threading.RLock()
        self._hits = 0
        self._misses = 0
        self._sweeper: threading.Timer | None = None

    # -- size estimation ---------------------------------------------------

    @staticmethod
    def estimate_size(df: DataFrame) -> int:
        """Optimizer stats estimate of the DataFrame's bytes."""
        try:
            jdf = df._jdf  # noqa: SLF001 - no public stats API in PySpark
            return int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            return 0

    # -- core ops ----------------------------------------------------------

    def _lookup(self, key: CacheKey | str) -> DataFrame | None:
        """The one probe, uncounted: the exact entry, or — for a
        ``CacheKey`` that names columns — an entry for the same table /
        snapshot / partition filter whose column set covers them (a
        full-column entry covers any). A narrower projection is then
        served from cached blocks without a reload, the improvement the
        reference's keying scheme left on the table (SURVEY.md §4.1
        'predicate-aware cache keying'). A column-less key matches only
        its exact entry."""
        with self._lock:
            entry = self._entries.get(str(key))
            if entry is None and isinstance(key, CacheKey) and key.columns:
                entry = next(
                    (
                        e
                        for e in self._entries.values()
                        if isinstance(e.key, CacheKey)
                        and e.key.table_id == key.table_id
                        and e.key.snapshot_id == key.snapshot_id
                        and e.key.partition_filter == key.partition_filter
                        and (not e.key.columns or set(key.columns) <= set(e.key.columns))
                    ),
                    None,
                )
            if entry is None:
                return None
            entry.touch()
            return entry.df

    def get(self, key: CacheKey | str) -> DataFrame | None:
        df = self._lookup(key)
        with self._lock:
            if df is None:
                self._misses += 1
            else:
                self._hits += 1
        return df

    def put(
        self,
        key: CacheKey | str,
        df: DataFrame,
        size_bytes: int | None = None,
        tables: frozenset[str] | set[str] | None = None,
    ) -> DataFrame:
        """Admit a DataFrame: evict-until-fits, persist, bookkeep.

        ``tables`` are the tables the entry was read from, the ones whose
        invalidation drops it. By default that is the key's table: its
        ``table_id``, or a string key's first ``#`` segment."""
        size = size_bytes if size_bytes is not None else self.estimate_size(df)
        if tables is None:
            tables = {key.table_id if isinstance(key, CacheKey) else key.split("#", 1)[0]}
        with self._lock:
            # Replacing an existing entry: unpersist the old DataFrame's
            # blocks first, and stop double-counting its bytes in the
            # evict-until-fits accounting below.
            self._drop(str(key))
            self._evict_until_fits(size)
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._entries[str(key)] = CacheEntry(
                df=df,
                size_bytes=size,
                key=key if isinstance(key, CacheKey) else None,
                tables=frozenset(tables),
            )
        return df

    def get_or_load(
        self,
        key: CacheKey | str,
        loader: Callable[[], DataFrame],
        materialize: bool = True,
    ) -> DataFrame:
        """Read-through path (the reference's ``get_table_data`` shape,
        ref ``src/core/cache_node.py:127-162``): probe → load → admit.

        Concurrent misses on the same key are serialized by a per-key
        lock so the loader runs once (the reference had this race)."""
        cached = self.get(key)
        if cached is not None:
            return cached
        return self.load_and_put(key, loader, materialize)

    def load_and_put(
        self,
        key: CacheKey | str,
        loader: Callable[[], DataFrame],
        materialize: bool = True,
    ) -> DataFrame:
        """Load-under-lock half of get_or_load (probe already counted).
        The per-key lock is forgotten once its load ends, so snapshot
        keys do not leave one lock each behind; a caller already waiting
        on it still re-checks the cache before loading."""
        name = str(key)
        with self._lock:
            lock = self._loading.setdefault(name, threading.Lock())
        try:
            with lock:
                cached = self._lookup(key)
                if cached is not None:
                    return cached
                df = self.put(key, loader())
                if materialize:
                    df.count()  # force the persisted blocks to fill
                    self._refresh_size(key, df)
                return df
        finally:
            with self._lock:
                if self._loading.get(name) is lock:
                    del self._loading[name]

    def _refresh_size(self, key: CacheKey | str, df: DataFrame) -> None:
        """Replace the admission estimate with the cached plan's estimate.

        Once the persisted blocks are filled, the cached plan's
        ``InMemoryRelation`` computes its stats from the batches it
        built rather than the pre-materialization optimizer guess; that
        is still an estimate, not the bytes Spark stores (see the module
        docstring). The stats must be read through a FRESH Dataset
        over the same logical plan (``df.alias``): the original df's
        QueryExecution is a lazy val computed before persist, so its
        optimizedPlan never re-runs cache substitution. Eviction
        decisions at capacity hinge on these numbers, so the entry is
        re-accounted and the budget re-enforced (the cached estimate can
        exceed the admission one; measured 6.7x on a uuid-string
        fixture)."""
        actual = self.estimate_size(df.alias("__cache_size_probe"))
        if actual <= 0:
            return
        with self._lock:
            entry = self._entries.get(str(key))
            if entry is None or entry.df is not df:
                return  # dropped or replaced while materializing
            entry.size_bytes = actual
            self._evict_until_fits(0, protect=str(key))

    def _evict_until_fits(self, incoming_bytes: int, protect: str | None = None) -> None:
        used = sum(e.size_bytes for e in self._entries.values())
        need = used + incoming_bytes - self.capacity_bytes
        if need <= 0:
            return
        candidates = {k: e for k, e in self._entries.items() if k != protect}
        for key in self.policy.select_victims(candidates, need):
            self._drop(key)

    def _drop(self, key: str) -> None:
        entry = self._entries.pop(key, None)
        if entry is not None:
            try:
                entry.df.unpersist()
            except Exception:
                pass

    def invalidate_table(self, table_id: str) -> int:
        """Drop every entry that read ``table_id`` (C9)."""
        with self._lock:
            victims = [k for k, e in self._entries.items() if table_id in e.tables]
            for k in victims:
                self._drop(k)
            return len(victims)

    def clear(self) -> None:
        with self._lock:
            for k in list(self._entries):
                self._drop(k)

    # -- maintenance (C6 — actually scheduled, unlike the reference) -------

    def sweep_expired(self, now: float | None = None) -> int:
        now = now if now is not None else time.time()
        with self._lock:
            victims = [
                k
                for k, e in self._entries.items()
                if now - e.last_accessed > TTL_SECONDS
            ]
            for k in victims:
                self._drop(k)
            return len(victims)

    def start_maintenance(self) -> None:
        def tick() -> None:
            self.sweep_expired()
            with self._lock:
                if self._sweeper is not None:
                    self._sweeper = threading.Timer(SWEEP_SECONDS, tick)
                    self._sweeper.daemon = True
                    self._sweeper.start()

        with self._lock:
            if self._sweeper is None:
                self._sweeper = threading.Timer(SWEEP_SECONDS, tick)
                self._sweeper.daemon = True
                self._sweeper.start()

    def stop_maintenance(self) -> None:
        with self._lock:
            if self._sweeper is not None:
                self._sweeper.cancel()
                self._sweeper = None

    # -- stats (C10) -------------------------------------------------------

    def stats(self) -> dict:
        with self._lock:
            used = sum(e.size_bytes for e in self._entries.values())
            return {
                "entries": len(self._entries),
                "size_bytes": used,
                "capacity_bytes": self.capacity_bytes,
                "utilization": used / self.capacity_bytes if self.capacity_bytes else 0.0,
                "hits": self._hits,
                "misses": self._misses,
            }

    def keys(self) -> list[str]:
        with self._lock:
            return list(self._entries)
