"""CachedQueryEngine: the query façade.

The reference's engine registers every cached Arrow table as a view and
delegates the SQL to DataFusion (ref ``src/sql/engine.py:66-71``); here
cached *DataFrames* are registered as temp views and the SQL goes to
``spark.sql`` — Catalyst/Tungsten replace DataFusion wholesale.

Unlike the reference — whose engine and cache node were never actually
wired (``get_all_tables`` exists only in its test double, ref
``src/tests/test_sql_query_engine.py:5-10``) — registration here is
driven by the live cache manager state.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from iceberg_cache_spark.cache import CacheKey, CacheManager
from iceberg_cache_spark.session import ensure_session_defaults


class CachedQueryEngine:
    def __init__(
        self,
        spark: SparkSession,
        cache: CacheManager | None = None,
    ) -> None:
        self.spark = spark
        self.cache = cache or CacheManager()
        self._loaders: dict[str, Callable[[], DataFrame]] = {}
        # table_id -> snapshot id current when its temp view was last
        # registered (None for non-catalog tables). Lets sql() register
        # each view once instead of per call, re-registering only when
        # the table's snapshot moved or it was invalidated.
        self._registered: dict[str, str | None] = {}
        # __plan#key -> tables the cached plan read (None = unknown ->
        # drop on ANY invalidation). Lets invalidate_table keep cached
        # SQL results that never touched the invalidated table.
        self._plan_participants: dict[str, frozenset[str] | None] = {}
        # table_id -> snapshot-aware catalog (register_catalog_table)
        self._catalogs: dict[str, object] = {}
        # (table_id, column) -> EntryBloomIndex (attach_bloom)
        self._blooms: dict[tuple[str, str], object] = {}
        ensure_session_defaults(spark)

    # -- table registration -------------------------------------------------

    def register_loader(self, table_id: str, loader: Callable[[], DataFrame]) -> None:
        """Declare how a table is loaded on cache miss (parquet path,
        Iceberg table, anything producing a DataFrame)."""
        self._loaders[table_id] = loader

    def register_parquet(self, table_id: str, path: str) -> None:
        self.register_loader(table_id, lambda: self.spark.read.parquet(path))

    def register_catalog_table(self, catalog, table_id: str) -> None:
        """Bind a snapshot-aware catalog table (SnapshotParquetCatalog or
        IcebergCatalog). Cache keys then carry the current snapshot id, so
        a table commit is automatically a cache miss — the semantics the
        reference's PartitionInfo.get_cache_key intended (ref
        ``src/core/cache_data_model.py:41-49``)."""
        self._catalogs[table_id] = catalog
        self.register_loader(table_id, lambda: catalog.read_table(table_id))

    def watch_catalog(self, catalog, table_id: str) -> None:
        """Event-driven invalidation: a catalog commit immediately drops
        this table's cache entries (in addition to the snapshot-keyed
        miss), releasing executor memory the moment data is stale."""
        from iceberg_cache_spark.sources.catalog import add_commit_listener

        add_commit_listener(
            catalog,
            lambda tid: self.invalidate_table(tid) if tid == table_id else None,
        )

    def _snapshot_of(self, table_id: str) -> str | None:
        catalog = self._catalogs.get(table_id)
        if catalog is None:
            return None
        try:
            return catalog.get_snapshot(table_id).snapshot_id
        except Exception:
            return None

    def table(
        self,
        table_id: str,
        partition_filter: dict | None = None,
        columns: list[str] | None = None,
        use_cache: bool = True,
        materialize: bool = True,
    ) -> DataFrame:
        """Read-through cached table access (entry point C of the
        reference, ref ``src/core/cache_node.py:127-162``)."""
        if table_id not in self._loaders:
            raise KeyError(f"no loader registered for table '{table_id}'")

        def load() -> DataFrame:
            df = self._loaders[table_id]()
            if partition_filter:
                for col, val in partition_filter.items():
                    df = df.filter(df[col] == val)
            if columns:
                df = df.select(*columns)
            return df

        if not use_cache:
            return load()
        key = CacheKey.of(
            table_id, partition_filter, columns, snapshot_id=self._snapshot_of(table_id)
        )
        cached = self.cache.get(key)
        if cached is not None:
            return cached
        if columns:
            superset = self.cache.find_subsuming(key)
            if superset is not None:
                return superset.select(*columns)  # projection of cached blocks
        return self.cache.load_and_put(key, load, materialize=materialize)

    # -- SQL entry point ----------------------------------------------------

    def sql(self, query: str, cache_result: bool = False) -> DataFrame:
        """Register all known tables as temp views, then delegate to
        Catalyst (the reference's ``execute_query`` seam).

        ``cache_result=True`` enables plan-fingerprint result reuse
        (SURVEY.md §4.4's stretch goal): the canonicalized analyzed
        plan's semantic hash keys a persisted result, so any SQL that
        Catalyst normalizes to the same plan — different whitespace,
        aliasing, predicate order — is served from cache without
        re-execution."""
        self._ensure_views()
        df = self.spark.sql(query)
        if not cache_result:
            return df
        key = f"__plan#{self._plan_fingerprint(df)}"
        cached = self.cache.get(key)
        if cached is not None:
            return cached
        self._plan_participants[key] = self._plan_tables(df)
        return self.cache.put(key, df)

    def _ensure_views(self) -> None:
        """Register each known table as a temp view exactly once; a view
        is re-registered only when its catalog snapshot moved or the
        table was invalidated. Lazy registration: persist() only marks
        storage — blocks fill when a query actually touches the view, so
        registering N tables to answer a query over one costs nothing."""
        for table_id in self._loaders:
            snap = self._snapshot_of(table_id)
            if table_id in self._registered and self._registered[table_id] == snap:
                continue
            self.table(table_id, materialize=False).createOrReplaceTempView(table_id)
            self._registered[table_id] = snap

    def _plan_tables(self, df: DataFrame) -> frozenset[str] | None:
        """Registered tables the analyzed plan actually reads: every
        temp view resolves to ``SubqueryAlias <name>`` in the analyzed
        plan, so walking node names and matching against the loader
        registry names the participants. Returns ``None`` (= unknown,
        treat as touching everything) on any reflection failure —
        correctness degrades to the old drop-all behavior, never to a
        stale hit."""
        known = set(self._loaders)
        try:
            found: set[str] = set()
            stack = [df._jdf.queryExecution().analyzed()]  # noqa: SLF001
            while stack:
                node = stack.pop()
                if node.nodeName() == "SubqueryAlias":
                    name = node.identifier().name()
                    if name in known:
                        found.add(name)
                children = node.children()
                for i in range(children.size()):
                    stack.append(children.apply(i))
                inner = node.innerChildren()
                for i in range(inner.size()):
                    stack.append(inner.apply(i))
            return frozenset(found)
        except Exception:
            return None

    def _plan_fingerprint(self, df: DataFrame) -> str:
        """Semantic hash of the canonicalized analyzed plan (attribute
        ids normalized away; no public PySpark API — JVM access), salted
        with the snapshot ids of the catalog-backed tables the plan
        actually READS (``_plan_tables``). A commit to a participant
        changes the fingerprint and the cached result is a natural miss
        — the stale entry ages out via eviction/TTL (and
        invalidate_table eagerly drops the ``__plan#`` entries whose
        plan read the invalidated table); a commit to an UNRELATED
        catalog table leaves the fingerprint intact, so the cached
        result keeps serving. If the participant walk fails, ALL
        catalog snapshots fold in — unrelated commits then cost one
        re-run, never a stale hit."""
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        base = str(plan.canonicalized().semanticHash())
        catalogs = self._catalogs
        if not catalogs:
            return base
        participants = self._plan_tables(df)
        salted = (
            sorted(catalogs)
            if participants is None
            else sorted(t for t in catalogs if t in participants)
        )
        if not salted:
            return base
        snaps = ",".join(f"{t}={self._snapshot_of(t)}" for t in salted)
        return f"{base}|{snaps}"

    # -- point lookups with bloom skip (C11 consulted for real) -------------

    def attach_bloom(self, table_id: str, column: str, **bloom_kwargs) -> None:
        """Build a bloom index over ``column`` of the cached table, used
        by point_lookup to prove absence without running a Spark job."""
        from iceberg_cache_spark.cache.bloom import EntryBloomIndex

        self._blooms[(table_id, column)] = EntryBloomIndex(
            self.table(table_id), column, **bloom_kwargs
        )

    def point_lookup(self, table_id: str, column: str, value) -> DataFrame:
        """Equality lookup. If a bloom index proves the value absent the
        cached *empty* projection returns immediately — no scan, no job;
        otherwise a normal filtered read of the cached table."""
        bloom = self._blooms.get((table_id, column))
        df = self.table(table_id)
        if bloom is not None and bloom.definitely_absent(value):
            return df.limit(0)
        return df.filter(df[column] == value)

    # -- lifecycle ----------------------------------------------------------

    def invalidate_table(self, table_id: str) -> int:
        n = self.cache.invalidate_table(table_id)
        # Bloom indexes summarize a specific snapshot's data: a commit can
        # add keys the bloom has never seen, turning definitely_absent
        # into a wrong (stale) answer. Drop them; attach_bloom rebuilds
        # on demand from the fresh cached table.
        for bkey in [k for k in self._blooms if k[0] == table_id]:
            del self._blooms[bkey]
        # Cached SQL results: drop exactly the __plan# entries whose
        # analyzed plan read this table (participation tracked at put
        # time via _plan_tables). Entries with unknown participation
        # (walker failed) and untracked strays drop too — correctness
        # over reuse; a result that only read OTHER tables survives.
        tracked = self._plan_participants
        victims = [
            k for k, tabs in tracked.items() if tabs is None or table_id in tabs
        ]
        victims += [
            k
            for k in self.cache.keys()
            if k.startswith("__plan#") and k not in tracked
        ]
        self.cache.drop_keys(victims)
        for k in victims:
            tracked.pop(k, None)
        # bookkeeping GC: forget records whose entry was evicted anyway
        live = set(self.cache.keys())
        for k in [k for k in tracked if k not in live]:
            tracked.pop(k, None)
        self._registered.pop(table_id, None)
        try:
            self.spark.catalog.refreshTable(table_id)
        except Exception:
            pass
        return n

    def stats(self) -> dict:
        return self.cache.stats()
