"""Engine configuration + factory.

The reference sketched this as an empty ``CacheConfig`` placeholder and
a docstring example (ref ``src/core/config.py``) plus an abstract
``CacheStrategy`` (ref ``src/core/cache_strategies.py``) nothing
implemented. Here the config is a real dataclass wired into a factory
that assembles session, cache and engine — the "spin up the cache in
your own system" path the reference promised. Front the engine with
``serving.flight.SparkFlightServer`` to serve it over Arrow Flight.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from iceberg_cache_spark.cache import (
    CacheManager,
    CompositeEvictionPolicy,
    LFUEvictionPolicy,
    LRUEvictionPolicy,
)
from iceberg_cache_spark.engine import CachedQueryEngine
from iceberg_cache_spark.session import get_spark

_POLICIES = {
    "lru": LRUEvictionPolicy,
    "lfu": LFUEvictionPolicy,
    "composite": CompositeEvictionPolicy,
}


@dataclass
class EngineConfig:
    app_name: str = "iceberg_cache_spark"
    master: str | None = None
    shuffle_partitions: int | None = None
    # cache plane (reference defaults: 2 GiB, 1 h TTL, 60 s sweep)
    max_cache_bytes: int = 2 * 1024 * 1024 * 1024
    eviction_policy: str = "lru"
    ttl_seconds: float = 3600.0
    sweep_seconds: float = 60.0
    start_maintenance: bool = True
    # tables: table_id -> parquet path (Iceberg tables register via
    # engine.register_catalog_table after construction)
    parquet_tables: dict[str, str] = field(default_factory=dict)
    spark_conf: dict[str, str] = field(default_factory=dict)


def build_engine(config: EngineConfig) -> CachedQueryEngine:
    """Assemble a ready engine from config (session → cache → loaders)."""
    if config.eviction_policy not in _POLICIES:
        raise ValueError(
            f"unknown eviction policy '{config.eviction_policy}' "
            f"(expected one of {sorted(_POLICIES)})"
        )
    spark = get_spark(
        app_name=config.app_name,
        master=config.master,
        shuffle_partitions=config.shuffle_partitions,
        extra_conf=config.spark_conf,
    )
    cache = CacheManager(
        capacity_bytes=config.max_cache_bytes,
        policy=_POLICIES[config.eviction_policy](),
        ttl_seconds=config.ttl_seconds,
        sweep_seconds=config.sweep_seconds,
        start_maintenance=config.start_maintenance,
    )
    engine = CachedQueryEngine(spark, cache)
    for table_id, path in config.parquet_tables.items():
        engine.register_parquet(table_id, path)
    return engine

