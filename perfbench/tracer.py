"""Per-layer tracing for the traced run (``--trace 1``).

Wrappers installed on the public functions of each layer record a span
per call: name, start, end, parent span and request id. Spans stay in
memory; when the window ends they become per-layer metrics and are
written out, with each span's self time, to ``.perfbench_work/traces/``. Each
Flight request gets its own Spark job group, so stage metrics from the
status store are attributed per request. The wrappers live here, in the
benchmark's own files; the program is not modified, and everything is
restored by ``disarm``.

Requests are numbered in arrival order. The single closed-loop client
sends operation ``i`` only after ``i - 1`` has finished, so request id
``i`` is operation ``i`` of the seeded sequence. Counts marked exact are
taken over the first ``EXACT_BLOCKS`` blocks of operations, which a 15-s
window completes unless a block takes over 15 s, so they do not depend on
how many operations a window happened to hold.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time

import pyspark.sql.classic.dataframe as classic_df

import serving
from iceberg_cache_spark.cache import manager as cache_manager
from iceberg_cache_spark.cache import policies
from iceberg_cache_spark.engine import CachedQueryEngine
from iceberg_cache_spark.serving.flight import SparkFlightServer
from iceberg_cache_spark.sources import catalog as catalog_api

EXACT_BLOCKS = 2
# per-layer metrics that must repeat exactly for a given seed
EXACT = (
    "serving.jobs_per_request", "serving.streamed_frac", "serving.mb_out",
    "engine.snapshot_lookups_per_request", "engine.view_registrations",
    "cache.loads", "cache.evictions", "cache.invalidations", "catalog.files_max",
    "spark.stages_per_request", "spark.tasks_per_request",
)
JOB_GROUP = "perfbench-req-"

# (owner, attribute, span name)
TRACED = (
    (SparkFlightServer, "do_get", "serving.do_get"),
    (SparkFlightServer, "get_flight_info", "serving.get_flight_info"),
    (serving.BenchFlightServer, "do_action", "serving.do_action"),
    (CachedQueryEngine, "sql", "engine.sql"),
    (CachedQueryEngine, "table", "engine.table"),
    (CachedQueryEngine, "invalidate_table", "engine.invalidate_table"),
    (cache_manager.CacheManager, "get", "cache.get"),
    (cache_manager.CacheManager, "put", "cache.put"),
    (cache_manager.CacheManager, "load_and_put", "cache.load_and_put"),
    (cache_manager.CacheManager, "invalidate_table", "cache.invalidate_table"),
    (policies.LRUEvictionPolicy, "select_victims", "cache.select_victims"),
    (policies.LFUEvictionPolicy, "select_victims", "cache.select_victims"),
    (policies.CompositeEvictionPolicy, "select_victims", "cache.select_victims"),
    (catalog_api.SnapshotParquetCatalog, "get_snapshot", "catalog.get_snapshot"),
    (catalog_api.SnapshotParquetCatalog, "get_data_files", "catalog.get_data_files"),
    (catalog_api.SnapshotParquetCatalog, "read_table", "catalog.read_table"),
    (catalog_api.SnapshotParquetCatalog, "write_snapshot", "catalog.write_snapshot"),
    (catalog_api, "compact", "catalog.compact"),
    (catalog_api, "expire_snapshots", "catalog.expire_snapshots"),
    (classic_df.DataFrame, "toArrow", "spark.toArrow"),
    (classic_df.DataFrame, "toLocalIterator", "spark.toLocalIterator"),
    (classic_df.DataFrame, "createOrReplaceTempView", "engine.view_registration"),
)
REQUEST_SPANS = ("serving.do_get", "serving.do_action")
RESULT_ACTIONS = ("spark.toArrow", "spark.toLocalIterator")
LARGE_REPLY_BYTES = 64 * 1024  # serving.mb_per_s counts only replies this big


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "rid", "result")

    def __init__(self, sid, name, start, parent, rid):
        self.sid, self.name, self.start, self.parent, self.rid = sid, name, start, parent, rid
        self.end = start
        self.result = None


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the part of it its children cover."""
    covered, cursor = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, cursor), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return span.end - span.start - covered


class Tracer:
    def __init__(self, spark, engine, writer, op_tables, block_ops: int) -> None:
        """``op_tables(i)``: the tables operation ``i`` touches (from the
        seeded sequence, so residency is judged without asking the engine)."""
        self.spark, self.engine, self.writer = spark, engine, writer
        self.op_tables = op_tables
        self.exact_prefix = EXACT_BLOCKS * block_ops
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._rids = itertools.count()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self.rid: int | None = None  # the request being served
        self.resident: dict[int, tuple[int, int]] = {}  # rid -> (resident, tables)

    # -- wrapping ----------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if name in REQUEST_SPANS:
                tracer._begin_request()
            elif name in RESULT_ACTIONS:
                # the reply stream runs these after do_get has returned, on
                # whichever thread gRPC uses; tag that thread's jobs too
                tracer._tag_jobs()
            stack = tracer._stack()
            span = Span(next(tracer._ids), name, time.perf_counter(),
                        stack[-1] if stack else None, tracer.rid)
            stack.append(span.sid)
            try:
                span.result = orig(*args, **kwargs)
                return span.result
            finally:
                span.end = time.perf_counter()
                stack.pop()
                tracer.spans.append(span)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def _tag_jobs(self) -> None:
        self.spark.sparkContext.setJobGroup(f"{JOB_GROUP}{self.rid}", "perfbench request")

    def _begin_request(self) -> None:
        self.rid = next(self._rids)
        self._tag_jobs()
        self.resident[self.rid] = self._residency(self.op_tables(self.rid))

    def _residency(self, tables) -> tuple[int, int]:
        """How many of the request's tables are resident when it starts,
        judged from cache.keys() and the writer's current snapshots, never
        from CacheManager.stats()."""
        keys = self.engine.cache.keys()
        current = self.writer.current if self.writer is not None else {}
        resident = sum(
            any(k.startswith(f"{t}#{current.get(t, 'current')}#") for k in keys)
            for t in tables)
        return resident, len(tables)

    def arm(self) -> None:
        for owner, attr, name in TRACED:
            self._wrap(owner, attr, name)

    def disarm(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- Spark status store -------------------------------------------------

    def _jobs(self, rid: int) -> list[dict]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()  # noqa: SLF001
        out = []
        for jid in sc.statusTracker().getJobIdsForGroup(f"{JOB_GROUP}{rid}"):
            job = store.job(jid)
            ids = job.stageIds()
            stages = [store.lastStageAttempt(ids.apply(i)) for i in range(ids.size())]
            ran = [s for s in stages if s.status().toString() == "COMPLETE"]
            done = job.completionTime()
            out.append({
                "ms": (done.get().getTime() - job.submissionTime().get().getTime())
                if done.isDefined() else 0.0,
                "stages": len(ran),
                "tasks": sum(s.numTasks() for s in ran),
                "cpu_ns": sum(s.executorCpuTime() for s in ran),
                "gc_ms": sum(s.jvmGcTime() for s in ran),
                "shuffle_bytes": sum(s.shuffleReadBytes() + s.shuffleWriteBytes() for s in ran),
            })
        return out

    def stored_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
        return sum(i.memSize() + i.diskSize() for i in infos)

    # -- metrics ------------------------------------------------------------

    def write(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "rid": s.rid, "parent": s.parent,
                    "start": s.start, "end": s.end,
                    "self_s": self_time(s, children.get(s.sid, [])),
                }) + "\n")

    def per_layer(self, records: list[dict], traced_e2e: dict) -> dict:
        by_rid: dict[int, list[Span]] = {}
        for s in self.spans:
            by_rid.setdefault(s.rid, []).append(s)
        ops = {r["index"]: r for r in records}
        reads = [i for i, r in ops.items() if r["kind"] == "read" and i in by_rid]
        prefix = [i for i in sorted(by_rid) if i is not None and i < self.exact_prefix and i in ops]
        prefix_reads = [i for i in prefix if ops[i]["kind"] == "read"]
        jobs = {i: self._jobs(i) for i in ops if i in by_rid}

        def spans(i, name):
            return [s for s in by_rid.get(i, ()) if s.name == name]

        def total(i, name):
            return sum(s.end - s.start for s in spans(i, name))

        def count(ids, name):
            return sum(len(spans(i, name)) for i in ids)

        def med(values):
            return statistics.median(values) if values else 0.0

        def per(ids, n):
            return n / len(ids) if ids else 0.0

        do_get = {i: spans(i, "serving.do_get")[0] for i in reads}
        stream_s = [ops[i]["end"] - do_get[i].end for i in reads]
        streamed = [i for i in prefix_reads if spans(i, "spark.toLocalIterator")]
        large = [i for i in reads if ops[i].get("bytes", 0) >= LARGE_REPLY_BYTES]
        large_mb = sum(ops[i]["bytes"] for i in large) / 1e6
        large_s = sum(ops[i]["end"] - do_get[i].end for i in large)
        victims = sum(len(s.result or ()) for i in prefix for s in spans(i, "cache.select_victims"))
        invalidated = sum(s.result or 0 for i in prefix for s in spans(i, "cache.invalidate_table"))
        loads = [s.end - s.start for i in ops for s in spans(i, "cache.load_and_put")]
        commits = [i for i in ops if ops[i]["kind"] == "commit" and i in by_rid]
        top_writes = [s for i in commits for s in spans(i, "catalog.write_snapshot")
                      if s.parent is not None and s.parent in {a.sid for a in spans(i, "serving.do_action")}]
        maint = [total(i, "catalog.compact") + total(i, "catalog.expire_snapshots")
                 for i in commits if spans(i, "catalog.compact")]
        files_max = max((len(ops[i]["commit"]["files"]) for i in prefix
                         if ops[i]["kind"] == "commit" and ops[i]["ok"]), default=0)
        res = [self.resident[i] for i in reads if i in self.resident]
        req_jobs = [jobs[i] for i in reads]
        prefix_jobs = [jobs[i] for i in prefix_reads]
        commit_lat = [(ops[i]["end"] - ops[i]["start"]) * 1000 for i in ops
                      if ops[i]["kind"] == "commit"]
        stats = self.engine.cache.stats()

        def m(value, unit):
            return {"value": float(value), "unit": unit}

        return {
            "serving.prepare_ms": m(med([(do_get[i].end - do_get[i].start) * 1e3 for i in reads]), "ms"),
            "serving.stream_ms": m(med(stream_s) * 1e3, "ms"),
            "serving.jobs_per_request": m(per(prefix_reads, sum(len(j) for j in prefix_jobs)), "count"),
            "serving.streamed_frac": m(per(prefix_reads, len(streamed)), "1"),
            "serving.mb_out": m(sum(ops[i].get("bytes", 0) for i in prefix_reads) / 1e6, "MB"),
            "serving.mb_per_s": m(large_mb / large_s if large_s else 0.0, "MB/s"),
            "engine.sql_ms": m(med([total(i, "engine.sql") * 1e3 for i in reads
                                    if spans(i, "engine.sql")]), "ms"),
            "engine.snapshot_lookups_per_request": m(
                per(prefix_reads, count(prefix_reads, "catalog.get_snapshot")), "count"),
            "engine.view_registrations": m(count(prefix, "engine.view_registration"), "count"),
            "cache.resident_read_frac": m(
                sum(a for a, _ in res) / max(1, sum(b for _, b in res)), "1"),
            "cache.loads": m(count(prefix, "cache.load_and_put"), "count"),
            "cache.load_ms": m(med(loads) * 1e3, "ms"),
            "cache.evictions": m(victims, "count"),
            "cache.invalidations": m(invalidated, "count"),
            "cache.estimated_mb": m(stats["size_bytes"] / 1e6, "MB"),
            "cache.stored_mb": m(self.stored_bytes() / 1e6, "MB"),
            "catalog.get_snapshot_ms": m(
                per(reads, sum(total(i, "catalog.get_snapshot") for i in reads)) * 1e3, "ms"),
            "catalog.data_files_ms": m(med([s.end - s.start for i in ops
                                            for s in spans(i, "catalog.get_data_files")]) * 1e3, "ms"),
            "catalog.commit_ms": m(med([s.end - s.start for s in top_writes]) * 1e3, "ms"),
            "catalog.maintenance_ms": m(med(maint) * 1e3, "ms"),
            "catalog.files_max": m(files_max, "count"),
            "commit.p50_ms": m(med(commit_lat), "ms"),
            "spark.exec_ms": m(med([sum(j["ms"] for j in js) for js in req_jobs]), "ms"),
            "spark.stages_per_request": m(
                per(prefix_reads, sum(j["stages"] for js in prefix_jobs for j in js)), "count"),
            "spark.tasks_per_request": m(
                per(prefix_reads, sum(j["tasks"] for js in prefix_jobs for j in js)), "count"),
            "spark.shuffle_mb": m(per(reads, sum(j["shuffle_bytes"] for js in req_jobs
                                                 for j in js)) / 1e6, "MB"),
            "spark.gc_ms": m(per(reads, sum(j["gc_ms"] for js in req_jobs for j in js)), "ms"),
            "spark.cpu_s": m(per(reads, sum(j["cpu_ns"] for js in req_jobs for j in js)) / 1e9, "s"),
            "trace.throughput_rps": m(traced_e2e["throughput_rps"]["value"], "1/s"),
        }

