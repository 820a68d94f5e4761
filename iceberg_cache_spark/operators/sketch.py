"""Count-min sketch: sublinear frequency summaries built as a DataFrame.

Build: d seed rows × w buckets; each key increments one cell per seed
(groupBy (seed, bucket) — partial-aggregated, one shuffle, output is
d·w rows regardless of input size). Estimate: min over seeds of the
key's cell counts — a one-sided overestimate (classic CMS guarantee).

Hashing is a portable md5 scheme, ``_bucket_expr`` on the JVM and its
mirror ``_bucket_py`` in Python, the only copy in the repo: the same
bucket comes out of Spark, DuckDB and Python, so sketches are
reproducible across engines and the build is oracle-checkable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket_expr(col: str, seed: int, width: int) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col(col).cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % width
    )


def _bucket_py(value, seed: int, width: int) -> int:
    return int(hashlib.md5(f"{seed}:{value}".encode()).hexdigest()[:15], 16) % width


def build_count_min(
    df: DataFrame, key_col: str, depth: int = 3, width: int = 64
) -> DataFrame:
    """(seed, bucket, cnt) cells of the CMS over ``key_col``."""
    parts = []
    for seed in range(depth):
        parts.append(
            df.select(
                F.lit(seed).alias("seed"),
                _bucket_expr(key_col, seed, width).alias("bucket"),
            )
        )
    stacked = parts[0]
    for p in parts[1:]:
        stacked = stacked.unionByName(p)
    return stacked.groupBy("seed", "bucket").agg(F.count("*").alias("cnt"))


def estimate_count(cells: list[tuple], value, depth: int = 3, width: int = 64) -> int:
    """Point frequency estimate from collected cells [(seed,bucket,cnt)]."""
    lookup = {(s, b): c for s, b, c in cells}
    return min(
        lookup.get((seed, _bucket_py(value, seed, width)), 0) for seed in range(depth)
    )


# ---------------------------------------------------------------------------
# HLL sketch persistence: the mergeable-rollup story end-to-end
# ---------------------------------------------------------------------------


def hll_sketch_write(
    df: DataFrame,
    path: str,
    group_cols: list[str],
    value_col: str,
    lgk: int = 12,
) -> None:
    """Persist per-group HLL distinct-count sketches as a BINARY column
    in parquet. This is the 100 TB cardinality pattern: each
    shard/day/partition writes O(groups x 2^lgk bytes) of sketch state
    once, and every later rollup — any group subset, any shard union —
    is answered from the sketch files in O(sketch) time without ever
    rescanning the raw corpus. ``lgk`` must match across files that
    will be unioned (Datasketches unions across different lgK by
    downsampling; pinning one value keeps estimates bit-identical to a
    single-pass sketch)."""
    (
        df.groupBy(*group_cols)
        .agg(F.hll_sketch_agg(value_col, lgk).alias("hll_sketch"))
        .write.mode("overwrite")
        .parquet(path)
    )


def hll_sketch_read(spark, path: str) -> DataFrame:
    """Read persisted sketch files (glob/dir ok — shards union freely)."""
    return spark.read.parquet(path)


def hll_union_estimate(sketches: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge sketch rows (across shards and/or groups) into distinct-count
    estimates. HLL register state is a pointwise max — associative and
    commutative — so unioning per-shard sketches yields the IDENTICAL
    estimate a single full-corpus sketch would (asserted in tests)."""
    if group_cols:
        return (
            sketches.groupBy(*group_cols)
            .agg(F.hll_union_agg("hll_sketch").alias("u"))
            .select(
                *group_cols, F.hll_sketch_estimate("u").alias("approx_distinct")
            )
        )
    return sketches.agg(F.hll_union_agg("hll_sketch").alias("u")).select(
        F.hll_sketch_estimate("u").alias("approx_distinct")
    )
