"""CachedQueryEngine: the query façade.

The reference's engine registers every cached Arrow table as a view and
delegates the SQL to DataFusion (ref ``src/sql/engine.py:66-71``); here
cached *DataFrames* are registered as temp views and the SQL goes to
``spark.sql`` — Catalyst/Tungsten replace DataFusion wholesale.

Unlike the reference — whose engine and cache node were never actually
wired (``get_all_tables`` exists only in its test double, ref
``src/tests/test_sql_query_engine.py:5-10``) — registration here is
driven by the live cache manager state.

Dependencies live on the cache entries: every entry records the tables
it read (a table entry its own table, a cached SQL result the tables
its analyzed plan reads), so ``invalidate_table`` is one call into the
manager. A bloom index remembers the DataFrame it was built over and is
consulted only while that DataFrame is still the table's cached one.

Layout: a table read whose size estimate is known and at most the
session's ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (64 MB
by default, read on every load) is stored as one partition
(``coalesce(1)``). Its cached scan then reports ``SinglePartition``,
which satisfies what an aggregate, a sort and a join of two such
tables require, so none of them plans a shuffle: a GROUP BY ... ORDER
BY over a resident table runs one job instead of four. Larger and
unestimable reads keep the source's layout. The cost: a source of
several files or row groups just under the bound is scanned in one
task when it is loaded.
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
        # table_id -> snapshot-aware catalog (register_catalog_table)
        self._catalogs: dict[str, object] = {}
        # (table_id, column) -> (DataFrame the bloom summarizes,
        # EntryBloomIndex) (attach_bloom)
        self._blooms: dict[tuple[str, str], tuple[DataFrame, object]] = {}
        ensure_session_defaults(spark)

    # -- table registration -------------------------------------------------

    def register_loader(self, table_id: str, loader: Callable[[], DataFrame]) -> None:
        """Declare how a table is loaded on cache miss (parquet path,
        Iceberg table, anything producing a DataFrame)."""
        self._loaders[table_id] = loader

    def register_parquet(self, table_id: str, path: str) -> None:
        """Read ``path`` as a table. Its schema is inferred once, here
        (one Spark job), and every load reads with it and runs no job.
        The files at ``path`` must therefore keep their schema; a table
        whose schema evolves belongs in a catalog
        (``register_catalog_table``)."""
        schema = self.spark.read.parquet(path).schema
        self.register_loader(table_id, lambda: self.spark.read.schema(schema).parquet(path))

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

    def _one_partition_bytes(self) -> int:
        """The session's ``spark.sql.adaptive.advisoryPartitionSizeInBytes``,
        the size AQE already merges each shuffle partition up to."""
        value = self.spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        return self.spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(value)

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
            if 0 < CacheManager.estimate_size(df) <= self._one_partition_bytes():
                return df.coalesce(1)  # see "Layout" in the module docstring
            return df

        if not use_cache:
            return load()
        key = CacheKey.of(
            table_id, partition_filter, columns, snapshot_id=self._snapshot_of(table_id)
        )
        df = self.cache.get_or_load(key, load, materialize=materialize)
        # The entry may be another caller's column order or a covering
        # superset: project to exactly what this caller asked for.
        return df.select(*columns) if columns else df

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
        tables = self._plan_tables(df)
        key = f"__plan#{self._plan_fingerprint(df, tables)}"
        cached = self.cache.get(key)
        if cached is not None:
            return cached
        return self.cache.put(key, df, tables=tables)

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

    def _plan_tables(self, df: DataFrame) -> frozenset[str]:
        """Registered tables the analyzed plan actually reads: every
        temp view resolves to ``SubqueryAlias <name>`` in the analyzed
        plan, so walking node names and matching against the loader
        registry names the participants. On any reflection failure it
        returns every registered table — the result then drops on any
        invalidation and its fingerprint folds in every snapshot, so
        correctness degrades to re-running, never to a stale hit."""
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
            return frozenset(known)

    def _plan_fingerprint(self, df: DataFrame, tables: frozenset[str]) -> str:
        """Semantic hash of the canonicalized analyzed plan (attribute
        ids normalized away; no public PySpark API — JVM access), salted
        with the snapshot ids of the catalog-backed ``tables`` the plan
        reads (``_plan_tables``). A commit to a participant changes the
        fingerprint and the cached result is a natural miss — the stale
        entry ages out via eviction/TTL, and invalidate_table drops it
        eagerly since the entry records the tables it read; a commit to
        an UNRELATED catalog table leaves the fingerprint intact, so the
        cached result keeps serving."""
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        base = str(plan.canonicalized().semanticHash())
        salted = sorted(t for t in self._catalogs if t in tables)
        if not salted:
            return base
        snaps = ",".join(f"{t}={self._snapshot_of(t)}" for t in salted)
        return f"{base}|{snaps}"

    # -- point lookups with bloom skip (C11 consulted for real) -------------

    def attach_bloom(self, table_id: str, column: str) -> None:
        """Build a bloom index over ``column`` of the cached table, used
        by point_lookup to prove absence without running a Spark job.
        Raises ``TypeError`` for a column type the index refuses (see
        ``cache/bloom.py``)."""
        from iceberg_cache_spark.cache.bloom import EntryBloomIndex

        df = self.table(table_id)
        self._blooms[(table_id, column)] = (df, EntryBloomIndex(df, column))

    def point_lookup(self, table_id: str, column: str, value) -> DataFrame:
        """Equality lookup. If a bloom index proves the value absent the
        cached *empty* projection returns immediately — no scan, no job;
        otherwise a normal filtered read of the cached table.

        A bloom summarizes the entry it was built over, so it is used
        only while the table still reads as that same DataFrame. A
        commit (a new snapshot key), an invalidation or an eviction
        loads a new one, and the lookup scans until attach_bloom runs
        again — never a stale claim of absence. A probe whose Python
        type is not the column's (``None``, ``True``, ``"5"`` into a
        long column) also scans."""
        df = self.table(table_id)
        built_over, bloom = self._blooms.get((table_id, column), (None, None))
        if built_over is df and bloom.definitely_absent(value):
            return df.limit(0)
        return df.filter(df[column] == value)

    # -- lifecycle ----------------------------------------------------------

    def invalidate_table(self, table_id: str) -> int:
        n = self.cache.invalidate_table(table_id)
        self._registered.pop(table_id, None)
        try:
            self.spark.catalog.refreshTable(table_id)
        except Exception:
            pass
        return n

    def stats(self) -> dict:
        return self.cache.stats()
