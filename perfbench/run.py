"""Serving-path benchmark for iceberg_cache_spark.

    python3 perfbench/run.py --workload dashboard_hit --seed 1 --seconds 15 --trace 0

Runs one workload (see BENCHMARK.json for the list and rationale) from
the root of a checkout: makes the data (once per checkout, under
``.perfbench_work/``), starts Spark and the product's Flight server,
sets the engine up three times, warms every request template, then lets
one closed-loop client process drive the server for ``--seconds`` (and on
to the next block boundary, see workload.py).
Every reply is checked against DuckDB afterwards. The last line of
stdout is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics (from a traced run) with ``--trace 1``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("dashboard_hit", "commit_churn")
SF = 0.1  # scale factor of the generated tables (lineitem: 600k rows)
SETUP_REPS = 3  # engine set-ups per run; setup_s takes their median
WARM_UP_THREADS = 3
CLIENT_GRACE_S = 90  # longest a single request may run past the window


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def warm_up(location: str, workload: str, sf: float) -> None:
    """Run every read template once (and, on commit_churn, one commit plus
    its freshness probe per table) through the real Flight path, so the
    window starts with compiled code and registered views. The first
    request registers the views; the remaining reads go out on
    WARM_UP_THREADS connections at once, since only their first-run cost
    matters here."""
    import random
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.flight as flight

    import workload as W

    def get(ticket: str) -> None:
        client = flight.connect(location)
        try:
            client.do_get(flight.Ticket(ticket.encode())).read_all()
        finally:
            client.close()

    builders = W.TILES + W.HEAVY + W.DRILL
    tickets = [b(random.Random(i), sf)[2] for i, b in enumerate(builders)]
    get(tickets[0])
    with ThreadPoolExecutor(WARM_UP_THREADS) as pool:
        for f in [pool.submit(get, t) for t in tickets[1:]]:
            f.result()
    if workload == "commit_churn":
        # a plain commit to one table and a compacting one to the other
        client = flight.connect(location)
        try:
            for i, table in enumerate(W.COMMIT_TABLES):
                body = json.dumps({"table": table, "commit_no": W.WARM_UP_COMMIT_NO + i,
                                   "maintain": bool(i)})
                list(client.do_action(flight.Action("commit", body.encode())))
                get(W.freshness_probe(table)[2])
        finally:
            client.close()


def start_client(port: int, workload: str, seed: int, seconds: float, out: str):
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "client.py"), "--port", str(port),
         "--workload", workload, "--seed", str(seed), "--sf", str(SF),
         "--seconds", str(seconds), "--out", out],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    if proc.stdout.readline().strip() != "ready":
        proc.kill()
        proc.wait()
        raise RuntimeError("load generator failed to start")
    return proc


def file_timeline(writer, data_dir: str, records: list[dict], initial: dict):
    """``files_at(index)``: the data files of each table as of an op."""
    import serving

    if writer is None:
        files = {t: (os.path.join(data_dir, f"{t}.parquet"),) for t in serving.FLIGHT_TABLES}
        return lambda index: files
    commits = [(r["index"], r["commit"]) for r in records if r["kind"] == "commit" and r["ok"]]

    def files_at(index: int) -> dict:
        state = dict(initial)
        for at, info in commits:
            if at < index:
                state[info["table"]] = tuple(info["files"])
        return state

    return files_at


def end_to_end(records, setup_s: float) -> dict:
    """The untraced metrics. Read latency is summarised by its geometric
    mean, not its median: the templates' latencies form clusters (tiles
    at 50-250 ms, heavy queries at 400-900 ms), and a median over a few
    dozen reads jumps between neighbouring clusters from run to run,
    while the geometric mean of every read in whole blocks does not."""
    reads = [r for r in records if r["kind"] == "read"]
    lat = [(r["end"] - r["start"]) * 1000 for r in reads]
    window = records[-1]["end"] - records[0]["start"]
    return {
        "throughput_rps": {"value": len(records) / window, "unit": "1/s"},
        "geomean_ms": {"value": math.exp(statistics.fmean(map(math.log, lat))), "unit": "ms"},
        "p90_ms": {"value": percentile(lat, 0.90), "unit": "ms"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def template_latencies(records) -> dict:
    """Median latency and share of operations per template."""
    by: dict[str, list[float]] = {}
    for r in records:
        by.setdefault(r["template"], []).append((r["end"] - r["start"]) * 1000)
    return {k: {"share": len(v) / len(records), "median_ms": statistics.median(v)}
            for k, v in sorted(by.items())}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    import datagen
    import serving  # imports the program: fails here in a bare directory
    from checker import verify

    import workload as W

    work = os.path.join(ROOT, ".perfbench_work")
    data_dir = datagen.ensure_data(os.path.join(work, "data"), SF)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    spark = server = client = None
    try:
        t0 = time.perf_counter()
        spark = serving.start_spark(run_dir)
        jvm_s = time.perf_counter() - t0
        server = serving.BenchFlightServer(None, "grpc://127.0.0.1:0")
        threading.Thread(target=server.serve, daemon=True).start()
        out = os.path.join(run_dir, "client.json")
        client = start_client(server.port, a.workload, a.seed, a.seconds, out)

        cache_bytes = serving.ROOMY_CACHE_BYTES
        if a.workload == "commit_churn":
            working_set = serving.estimated_working_set(spark, data_dir)
            cache_bytes = int(working_set * serving.CHURN_CACHE_FRACTION)
        reps = []
        for rep in range(SETUP_REPS):
            if rep:
                serving.teardown_engine(spark, engine)
            t = time.perf_counter()
            engine, writer = serving.setup_engine(
                spark, a.workload, data_dir, run_dir, a.seed, SF, cache_bytes)
            reps.append(time.perf_counter() - t)
        server.engine, server.writer = engine, writer
        t = time.perf_counter()
        warm_up(f"grpc://127.0.0.1:{server.port}", a.workload, SF)
        warm_s = time.perf_counter() - t
        initial = {}
        if writer is not None:
            initial = {t: tuple(writer.snapshot(t)["files"]) for t in serving.FLIGHT_TABLES}
        setup_s = jvm_s + statistics.median(reps) + warm_s

        tracer = None
        if a.trace:
            from tracer import Tracer

            tracer = Tracer(spark, engine, writer,
                            lambda i: W.op_at(a.workload, a.seed, i, SF).tables,
                            W.block_ops(a.workload))
            tracer.arm()
        t_window = time.perf_counter()
        client.stdin.write("go\n")
        client.stdin.flush()
        client.wait(timeout=a.seconds + CLIENT_GRACE_S)
        if tracer is not None:
            tracer.disarm()
        if client.returncode != 0:
            raise RuntimeError(f"load generator exited with {client.returncode}")
        with open(out) as f:
            records = json.load(f)

        oracle_sql = {r["index"]: W.op_at(a.workload, a.seed, r["index"], SF).oracle
                      for r in records if r["kind"] == "read"}
        files_at = file_timeline(writer, data_dir, records, initial)
        t = time.perf_counter()
        check = verify(records, oracle_sql, files_at)
        check_s = time.perf_counter() - t
        failed = sum(not r["correct"] for r in records)
        summary = {
            "reads": sum(r["kind"] == "read" for r in records),
            "commits": sum(r["kind"] == "commit" for r in records),
            "jvm_s": jvm_s, "setup_reps_s": reps, "warm_up_s": warm_s, "check_s": check_s,
            "before_window_s": t_window - T_PROCESS,
            "cache_bytes": cache_bytes, **check,
            "manager_stats": engine.cache.stats(),
            "template_ms": template_latencies(records),
        }
        print(json.dumps({"summary": summary}), file=sys.stderr)
        if a.trace:
            traces = os.path.join(work, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
            metrics = tracer.per_layer(records, end_to_end(records, setup_s))
        else:
            metrics = end_to_end(records, setup_s)
        print(json.dumps({"correct": failed == 0, "attempted": len(records),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if client is not None and client.poll() is None:
            client.kill()
            client.wait()
        if server is not None:
            server.shutdown()
        if spark is not None:
            serving.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
