"""iceberg_cache_spark — a PySpark-native analytics engine.

A from-scratch engine with the query and data-processing capabilities of
the reference system (an Arrow/DataFusion in-memory Iceberg cache,
surveyed in SURVEY.md): a cached query engine over columnar lake data,
the full relational SQL surface, an Arrow Flight serving plane, plus
large-scale data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) and a Structured Streaming slice.

Design stance (Spark-first, 100 TB-ready):
- Spark SQL / Catalyst IS the query engine (the reference delegates its
  entire relational surface to an embedded DataFusion at a single call
  site, ref ``src/sql/engine.py:70``; we delegate to ``spark.sql`` /
  the DataFrame API the same way).
- The cache manager, serving shim, and extension operators are the code
  this package actually contributes — mirroring what the reference
  itself implements (ref ``src/core/``, ``src/flight_server/``).
- Everything is expressed declaratively (DataFrame / SQL) so Catalyst
  handles pushdown, pruning, join selection, and AQE at scale.
"""

from iceberg_cache_spark.session import cluster_conf, get_spark
from iceberg_cache_spark.engine import CachedQueryEngine

__all__ = [
    "get_spark",
    "cluster_conf",
    "CachedQueryEngine",
]
__version__ = "0.1.0"
