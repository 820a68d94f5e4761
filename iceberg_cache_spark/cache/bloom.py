"""Bloom-filter probing for cached entries (C11 — wired for real).

The reference built bloom filters over string columns of every cached
batch but never consulted them (ref ``src/core/cache_node.py:187-200``,
built at :189, no read path; its filter hashes with Python ``hash()`` —
not even stable across processes, ref ``src/core/bloom_filter.py:9-12``).

This index is Spark's own ``BloomFilter`` (``spark-sketch``), built by
``DataFrameStatFunctions.bloomFilter``: one aggregate job over the
cached entry, sized by the column's non-null count at Spark's default
false-positive rate. PySpark does not expose that method, so it is
called through ``df._jdf.stat()``, and the filter stays in the JVM. A
probe is one py4j ``mightContain`` call and runs no Spark job. A
point lookup can then skip any cached entry whose filter proves the
key absent.

Types. Spark's filter hashes an integral value as its long and a string
as its UTF-8 bytes, which is what equality on those columns compares.
It refuses boolean, floating, decimal, date and timestamp columns, and
so does this index, naming the type. Two kinds of string column are
refused as well, although Spark would build over them: a non-binary
collation (``UTF8_LCASE`` equality matches bytes the filter never
saw) and CHAR(n), whose stored values are padded while equality
matches them unpadded (VARCHAR(n), declared the same way, goes with
it). A probe is checked only when its Python type is the column's: a
``str`` for a string column, a non-bool ``int`` within 64 bits for an
integral one. Any other probe (``None``, ``True``, ``"5"`` into a long
column, ``2**70``) may still equal a row under Spark's casts, or make
the scan fail, so it "might be contained" and the caller scans.

At the storage level the same role is played by parquet/Iceberg bloom
filters (``write.parquet.bloom-filter-enabled.column.X``), which Spark
scans consume natively; this class covers the *cache-entry* level the
reference aimed at.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

FPP = 0.03  # Spark's default false-positive rate for bloomFilter
_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


class EntryBloomIndex:
    """might_contain index over one column of a cached DataFrame."""

    def __init__(self, df: DataFrame, column: str) -> None:
        field = df.schema[column]
        kind = field.metadata.get("__CHAR_VARCHAR_TYPE_STRING") or field.dataType.simpleString()
        if isinstance(field.dataType, _INTEGRAL):
            self._probe_type = int
        elif kind == "string":  # binary collation, neither CHAR nor VARCHAR
            self._probe_type = str
        else:
            raise TypeError(
                f"a bloom index takes string or integral columns; '{column}' is {kind}"
            )
        self.column = column
        items = df.select(F.count(column)).first()[0]
        if items == 0:
            # Spark rejects 0 expected items, and its aggregate returns
            # no filter when nothing was put: use an empty one.
            sketch = df.sparkSession._jvm.org.apache.spark.util.sketch
            self._filter = sketch.BloomFilter.create(1, FPP)
        else:
            self._filter = df._jdf.stat().bloomFilter(column, items, FPP)  # noqa: SLF001

    def might_contain(self, value) -> bool:
        if isinstance(value, bool) or not isinstance(value, self._probe_type):
            return True  # Spark's casts may still make it equal a row
        if self._probe_type is str:
            return self._filter.mightContainString(value)
        return not -(1 << 63) <= value < 1 << 63 or self._filter.mightContainLong(value)

    def definitely_absent(self, value) -> bool:
        return not self.might_contain(value)
