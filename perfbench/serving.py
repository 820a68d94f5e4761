"""Server side of the Flight workloads: session, engine set-up, writer.

The benchmark drives the product's own path: a Flight ticket reaches
``SparkFlightServer.do_get``, which resolves it through
``CachedQueryEngine`` and its ``CacheManager`` (and, on commit_churn, a
``SnapshotParquetCatalog`` warehouse) and streams Arrow back. The only
thing added here is a ``commit`` Flight action, so the single client can
put writes through the public catalog API on the server side.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.flight as flight

from iceberg_cache_spark.cache import CacheManager
from iceberg_cache_spark.engine import CachedQueryEngine
from iceberg_cache_spark.serving.flight import SparkFlightServer
from iceberg_cache_spark.session import get_spark
from iceberg_cache_spark.sources import catalog as catalog_api

import workload as W

FLIGHT_TABLES = ("nation", "customer", "orders", "lineitem", "events")
CPUS = max(1, len(os.sched_getaffinity(0)) - 1)
MASTER = f"local[{CPUS}]"
DRIVER_MEMORY = "2g"
ROOMY_CACHE_BYTES = 2 << 30  # far above the working set (dashboard_hit)
CHURN_CACHE_FRACTION = 0.2  # commit_churn budget, share of the estimated working set


def start_spark(workdir: str):
    """Session with explicit master, driver memory and shuffle width, so
    results do not depend on SPARK_GRAFT_CPUS or the 16g default."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's scratch space inside the checkout; SPARK_LOCAL_DIRS
    # from the environment would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()


def estimated_working_set(spark, data_dir: str) -> int:
    """The cache manager's own size estimate of the five tables."""
    return sum(
        CacheManager.estimate_size(spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")))
        for t in FLIGHT_TABLES
    )


class CommitWriter:
    """Applies the seeded commits of commit_churn through the catalog API
    and keeps, for the checker, a hard link to every data file of every
    snapshot (expire_snapshots deletes the catalog's own names)."""

    def __init__(self, spark, catalog, seed: int, sf: float, archive: str) -> None:
        self.spark, self.catalog, self.seed, self.sf = spark, catalog, seed, sf
        self.archive = archive
        self.schemas = {t: catalog.read_table(t).schema for t in W.COMMIT_TABLES}
        self.current: dict[str, str] = {}  # table -> current snapshot id
        os.makedirs(archive, exist_ok=True)

    def archived(self, files) -> list[str]:
        out = []
        for f in files:
            dst = os.path.join(self.archive, f.replace(os.sep, "_"))
            if not os.path.exists(dst):
                os.link(f, dst)
            out.append(dst)
        return out

    def snapshot(self, table: str, snap=None) -> dict:
        """Reply for one table: current snapshot, row count, archived files."""
        snap = snap or self.catalog.get_snapshot(table)
        self.current[table] = snap.snapshot_id
        return {"table": table, "snapshot_id": snap.snapshot_id,
                "record_count": snap.record_count, "files": self.archived(snap.files)}

    def commit(self, table: str, commit_no: int, maintain: bool) -> dict:
        batch = W.commit_batch(self.seed, table, commit_no, self.sf)
        # one file per commit, as a micro-batch writer would produce
        df = self.spark.createDataFrame(batch.to_pandas(), schema=self.schemas[table]).coalesce(1)
        snap = self.catalog.write_snapshot(table, df, mode="append")
        if maintain:
            snap = catalog_api.compact(self.catalog, table)
            catalog_api.expire_snapshots(self.catalog, table, keep_last=1)
        return {**self.snapshot(table, snap), "commit_no": commit_no, "maintained": maintain}


class BenchFlightServer(SparkFlightServer):
    """The product's Flight server plus a ``commit`` action whose body is
    ``{"table": ..., "commit_no": ..., "maintain": ...}``; the reply is the
    new snapshot."""

    writer: CommitWriter | None = None

    def do_action(self, context, action):  # noqa: D102
        if action.type != "commit" or self.writer is None:
            raise flight.FlightServerError(f"unknown action {action.type}")
        req = json.loads(action.body.to_pybytes())
        info = self.writer.commit(req["table"], req["commit_no"], req["maintain"])
        return [json.dumps(info).encode()]


def setup_engine(spark, workload: str, data_dir: str, workdir: str, seed: int,
                 sf: float, cache_bytes: int):
    """One complete engine set-up. dashboard_hit registers the parquet
    files and admits every table (materialised); commit_churn builds the
    warehouse and registers and watches its tables, leaving admission to
    the first requests, since its budget cannot hold them all anyway.
    Returns (engine, writer)."""
    engine = CachedQueryEngine(spark, CacheManager(capacity_bytes=cache_bytes))
    writer = None
    if workload == "dashboard_hit":
        for t in FLIGHT_TABLES:
            engine.register_parquet(t, os.path.join(data_dir, f"{t}.parquet"))
        for t in FLIGHT_TABLES:
            engine.table(t)  # admit and materialise
    else:
        wh = os.path.join(workdir, "warehouse")
        shutil.rmtree(wh, ignore_errors=True)
        catalog = catalog_api.SnapshotParquetCatalog(spark, wh)
        for t in FLIGHT_TABLES:
            catalog.write_snapshot(t, spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")))
            engine.register_catalog_table(catalog, t)
            engine.watch_catalog(catalog, t)
        archive = os.path.join(workdir, "archive")
        shutil.rmtree(archive, ignore_errors=True)
        writer = CommitWriter(spark, catalog, seed, sf, archive)
    return engine, writer


def teardown_engine(spark, engine) -> None:
    engine.cache.clear()
    for t in FLIGHT_TABLES:
        spark.catalog.dropTempView(t)
    spark.catalog.clearCache()
