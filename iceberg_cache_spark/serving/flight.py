"""Arrow Flight serving shim in front of the engine.

Re-expression of the reference's Flight plane (ref
``src/flight_server/server.py``): ``get_flight_info`` resolves the
schema, ``do_get`` streams the table as RecordBatches (reference batch
size 10,000 rows, ref ``src/flight_server/server.py:53``). Two ticket
forms:

- ``<table_id>`` — full-table fetch (the reference's path), and
- ``sql:<query>`` — runs SQL through the engine, fixing the client
  ``query_sql`` stub the reference left unimplemented (ref
  ``src/examples/client/flight_client.py:21-24``).

``list_flights`` is implemented (the reference declared it and left
``pass``).

Every read runs exactly one query plan: the resolved DataFrame's own.
The schema is derived from the analysed plan (no job), and the rows
come either from one parallel ``toArrow`` job (a trusted size estimate
within the session's ``spark.driver.maxResultSize``) or from the same
plan's JVM-encoded Arrow batches, pulled partition by partition with
bounded driver memory. Metadata calls
(``get_flight_info``, ``list_flights``) resolve table tickets without
admitting them to the cache, so listing tables never evicts hot
entries. Scale note: a 100 TB serving deployment fronts many sessions
— this shim is per-driver.
"""

from __future__ import annotations

import threading

import pyarrow as pa
import pyarrow.flight as flight

from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.util import _local_iterator_from_socket

from iceberg_cache_spark.engine import CachedQueryEngine

BATCH_SIZE = 10_000  # most rows in one reply batch (the reference's size)
# Longest error text a failing reply stream sends. gRPC carries it in
# the status metadata, and a client rejects metadata above its limit
# (8 KB by default) without showing any of it.
ERROR_TEXT_LIMIT = 1024


def _df_schema(df: DataFrame) -> pa.Schema:
    """Arrow schema of a DataFrame's result, derived from the analysed
    plan without a job: exactly the schema ``toArrow`` casts its result
    to (same conversion, same session flag)."""
    return to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (no job). Filters and
    projections shrink it; unknown stats return a huge sentinel so the
    caller falls back to the streaming path (never the materializing
    one) on missing information."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


# Operators whose non-CBO sizeInBytes passes the CHILD size through
# while the OUTPUT can be many times larger: Generate (explode & co.
# fan out rows) and Expand (rollup/cube/grouping-sets multiply rows by
# the grouping-set count). A plan containing one can under-estimate by
# the fan-out factor — the one direction that hurts (driver OOM on the
# materializing path). Over-estimates (joins multiply child sizes,
# aggregates inherit theirs) only cost the sequential streaming path.
_UNDERESTIMATING_NODES = frozenset({"Generate", "Expand"})

# Outer joins preserve every row of the outer side(s) no matter what
# the other side contributes, but the non-CBO Join estimate is the
# PRODUCT of the child sizes — which collapses toward zero when either
# child is estimated tiny (an empty-looking filtered dim, a fresh view
# with no stats smaller than the row width). Inner/cross products only
# over-estimate (the safe direction: the streaming path), so
# only outer join types are untrusted. ExistenceJoin (a correlated
# EXISTS Catalyst didn't rewrite to LeftSemi) also preserves the whole
# left side while its non-CBO estimate is the child product.
_UNDERESTIMATING_JOIN_TYPES = (
    "LeftOuter", "RightOuter", "FullOuter", "ExistenceJoin",
)


def _estimate_trustworthy(df: DataFrame) -> bool:
    """False when the optimized plan contains an operator whose size
    estimate can come out SMALLER than the actual output: a
    row-expanding operator with a pass-through estimate (see
    _UNDERESTIMATING_NODES) or an outer join whose child-size product
    collapses below the preserved side (_UNDERESTIMATING_JOIN_TYPES) —
    such results must take the bounded-memory streaming path no matter
    how small Catalyst thinks they are. Walks the (small) logical plan
    via py4j; any reflection failure counts as untrustworthy."""
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name in _UNDERESTIMATING_NODES:
                return False
            if name == "Join" and any(
                t in node.joinType().toString()
                for t in _UNDERESTIMATING_JOIN_TYPES
            ):
                return False
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        return True
    except Exception:
        return False


def _collect_bound(df: DataFrame) -> int:
    """Largest trusted size estimate served by the single-job ``toArrow``
    path: the session's ``spark.driver.maxResultSize`` (0, unlimited,
    counts as Spark's 1g default), the bound Spark enforces on that
    collect anyway. Read per call, so a session's setting always wins.

    Larger or unestimable results stream partition by partition, one
    job per partition in sequence, with driver memory bounded by two
    partitions. Both paths run the same plan; on 3 local cores
    streaming measured 0.97-0.98x the ``toArrow`` time for an 8k-row
    filter and a 600k-row table and 1.3x for a 5-row aggregate (median
    of 7), so the gap is the per-partition job sequence, which grows
    with partition count on a cluster. Same estimate-driven physical
    choice Spark itself makes for broadcast joins."""
    conf = df.sparkSession.sparkContext._jsc.sc().conf()
    return conf.getSizeAsBytes("spark.driver.maxResultSize", "1g") or 1 << 30


def _materialized_batches(df: DataFrame, batch_size: int):
    """Fast serve path for results estimated within ``_collect_bound``:
    one parallel ``toArrow`` job (no per-partition sequential jobs),
    then zero-copy re-chunking to the advertised batch size.
    ~gRPC-framing overhead over plain ``toArrow`` — the profile the
    reference serves from (an in-memory Arrow table, ref
    ``src/flight_server/server.py:53``)."""
    yield from df.toArrow().to_batches(max_chunksize=batch_size)


def _batches(df: DataFrame, batch_size: int):
    """Yield RecordBatches of at most ``batch_size`` rows, streaming,
    columnar end-to-end, from the DataFrame's own plan.

    The JVM encodes each partition as Arrow IPC record-batch messages
    (``toArrowBatchRdd``, the encoder ``toArrow`` uses); the driver pulls
    them one partition at a time through the same socket protocol as
    ``toLocalIterator`` with the next partition prefetched, so peak
    driver memory stays O(two partitions), never O(result). Each blob
    decodes straight into the advertised schema: no Python worker, no
    row-at-a-time conversion, no second query plan. Timestamps arrive
    as UTC instants whatever the session timezone (the tz annotation
    lives only in the schema), so reading them with the UTC schema
    ``toArrow`` uses is exact."""
    schema = _df_schema(df)
    sock_info = df.sparkSession._jvm.PythonRDD.toLocalIteratorAndServe(
        df._jdf.toArrowBatchRdd(), True
    )
    for blob in _local_iterator_from_socket(sock_info, NoOpSerializer()):
        batch = pa.ipc.read_record_batch(pa.py_buffer(blob), schema)
        if batch.num_rows <= batch_size:
            yield batch
        else:
            for off in range(0, batch.num_rows, batch_size):
                yield batch.slice(off, batch_size)


def _in_callers_context(df: DataFrame, gen):
    """Run ``gen`` under the Spark local properties (job group,
    scheduler pool, ...) of the thread that built it. gRPC resumes a
    reply stream on a fresh py4j connection whose JVM thread starts
    without them, so the read's jobs would otherwise leave the caller's
    job group — and with it cancellation and per-request accounting.
    Setting them once suffices: every job of the read is submitted
    from the first resume (``toArrow``) or from the JVM thread it
    starts, which inherits them (``toLocalIteratorAndServe``)."""
    jsc = df.sparkSession.sparkContext._jsc.sc()
    props = jsc.getLocalProperties().clone()

    def resumed():
        jsc.setLocalProperties(props)
        yield from gen

    return resumed()


def _error_line(e: BaseException) -> str:
    """The first line of what went wrong, at most ``ERROR_TEXT_LIMIT``
    characters. A JVM error raised through py4j (the streaming path)
    starts with py4j's own "An error occurred while calling ..." line,
    so its root cause is what names the failure."""
    java = getattr(e, "java_exception", None)
    if java is not None:
        while java.getCause() is not None:
            java = java.getCause()
        text = java.toString()
    else:
        text = str(e)
    lines = text.strip().splitlines()
    return (lines[0] if lines else type(e).__name__)[:ERROR_TEXT_LIMIT]


def _bounded_errors(gen):
    """Re-raise a failure inside the reply stream as a
    ``FlightServerError`` carrying one bounded line (``_error_line``),
    chained from the original. Passed through whole, a Spark error's
    stack trace overflows the client's gRPC metadata limit and the
    client sees only "received initial metadata size exceeds limit"."""
    try:
        yield from gen
    except Exception as e:
        raise flight.FlightServerError(_error_line(e)) from e


class SparkFlightServer(flight.FlightServerBase):
    def __init__(
        self,
        engine: CachedQueryEngine,
        location: str = "grpc://0.0.0.0:8815",
    ) -> None:
        super().__init__(location)
        self.engine = engine
        self.location = location

    # -- resolution --------------------------------------------------------

    def _resolve(self, name: str, use_cache: bool = True) -> DataFrame:
        if name.startswith("sql:"):
            return self.engine.sql(name[4:])
        # use_cache=False for metadata-only calls: a schema request must
        # neither materialize a cold table nor admit it (admission can
        # evict hot entries), so it reads the schema off a fresh load.
        return self.engine.table(name, use_cache=use_cache)

    # -- Flight protocol ---------------------------------------------------

    def get_flight_info(self, context, descriptor):  # noqa: D102
        name = descriptor.path[0].decode()
        df = self._resolve(name, use_cache=False)
        endpoint = flight.FlightEndpoint(name, [self.location])
        return flight.FlightInfo(_df_schema(df), descriptor, [endpoint], -1, -1)

    def do_get(self, context, ticket):  # noqa: D102
        name = ticket.ticket.decode()
        df = self._resolve(name)
        schema = _df_schema(df)
        if _estimated_bytes(df) <= _collect_bound(df) and _estimate_trustworthy(df):
            gen = _materialized_batches(df, BATCH_SIZE)
        else:
            gen = _batches(df, BATCH_SIZE)
        return flight.GeneratorStream(schema, _in_callers_context(df, _bounded_errors(gen)))

    def list_flights(self, context, criteria):  # noqa: D102
        for table_id in self.engine._loaders:
            df = self._resolve(table_id, use_cache=False)
            descriptor = flight.FlightDescriptor.for_path(table_id)
            endpoint = flight.FlightEndpoint(table_id, [self.location])
            yield flight.FlightInfo(_df_schema(df), descriptor, [endpoint], -1, -1)


def serve_background(server: SparkFlightServer) -> threading.Thread:
    """Run the server on a daemon thread (test/demo convenience)."""
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    return t


# -- client helpers (the reference's example client, ref
# src/examples/client/flight_client.py) -----------------------------------


def query_table(location: str, table_id: str) -> pa.Table:
    client = flight.connect(location)
    info = client.get_flight_info(flight.FlightDescriptor.for_path(table_id))
    reader = client.do_get(info.endpoints[0].ticket)
    return reader.read_all()


def query_sql(location: str, sql: str) -> pa.Table:
    client = flight.connect(location)
    reader = client.do_get(flight.Ticket(f"sql:{sql}".encode()))
    return reader.read_all()
