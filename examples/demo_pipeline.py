#!/usr/bin/env python
"""End-to-end demo: cached engine + Flight serving + a training-data
pipeline (clean → dedup → quality-filter → chunk → partitioned write).

Run: python examples/demo_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from iceberg_cache_spark.cache import CacheManager, CompositeEvictionPolicy
from iceberg_cache_spark.engine import CachedQueryEngine
from iceberg_cache_spark.operators import dedup as D
from iceberg_cache_spark.operators import text as X
from iceberg_cache_spark.operators.udfs import chunk_documents
from iceberg_cache_spark.serving.flight import (
    SparkFlightServer,
    query_sql,
    serve_background,
)
from iceberg_cache_spark.session import get_spark
from iceberg_cache_spark.sources.catalog import write_partitioned


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    cache = CacheManager(capacity_bytes=1 << 30, policy=CompositeEvictionPolicy())
    cache.start_maintenance()
    engine = CachedQueryEngine(get_spark(app_name="demo_pipeline"), cache)
    for name in ("documents", "customer", "nation"):
        engine.register_parquet(name, os.path.join(sf_dir, f"{name}.parquet"))

    # 1. SQL through the cached engine (view sweep -> Catalyst)
    top = engine.sql(
        "SELECT n.n_name, COUNT(*) AS customers FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "GROUP BY n.n_name ORDER BY customers DESC LIMIT 3"
    )
    print("top nations:", [tuple(r) for r in top.collect()])
    print("cache stats:", engine.stats())

    # 2. Training-data pipeline over documents
    docs = engine.table("documents")
    deduped = D.exact_dedup(docs, ["text"], "doc_id").join(docs, ["doc_id", "text"])
    scored = deduped.select(
        "doc_id", "text",
        X.quality_score(F.col("text")).alias("quality"),
        X.lang_id(F.col("text")).alias("lang"),
    )
    kept = scored.filter((F.col("quality") >= 0.5))
    chunks = chunk_documents(kept, chunk_tokens=50)
    out_dir = os.path.join(tempfile.mkdtemp(prefix="demo_"), "chunks")
    write_partitioned(chunks.join(scored.select("doc_id", "lang"), "doc_id"),
                      out_dir, ["lang"])
    n_files = sum(len(fs) for _, _, fs in os.walk(out_dir))
    print(f"pipeline: {docs.count()} docs -> {kept.count()} kept -> "
          f"{chunks.count()} chunks -> {out_dir} ({n_files} files)")

    # 3. Serve over Arrow Flight (SQL-in-ticket)
    srv = SparkFlightServer(engine, "grpc://127.0.0.1:0")
    serve_background(srv)
    result = query_sql(
        f"grpc://127.0.0.1:{srv.port}",
        "SELECT COUNT(*) AS n FROM documents",
    )
    print("flight sql result:", result.to_pylist())
    srv.shutdown()
    cache.stop_maintenance()
    cache.clear()


if __name__ == "__main__":
    main()
