"""One-off sf1 TPC-H bench anchor (round 10 — VERDICT r9 item 6).

Runs the q120–q144 TPC-H tier against the 10x-replicated sf1 corpus
(tools/gen_sf1.py) under bench.py's OWN measurement protocol —
calibration anchors first (recorded, drift_ratio None off-sf0.1 by
bench.py's guard), then fresh child processes per contiguous slice,
median-of-3 with the spread gate. Writes BENCH_sf1_r{N}.json with
SPARK_GRAFT_ROUND=<N>, else the uncommitted BENCH_sf1_rdev.json.

Reads to make of the artifact:
- per-query sf0.1 -> sf1 ratio: 10x rows on the same 32 cores should
  land well under ~12x for scan-bound shapes (AQE coalescing amortizes
  fixed overheads) — a far-above-12x query has a superlinear shuffle
  or build side and gets a SCALE_r{N}.md note;
- suite total: the committed evidence that the operator corpus holds
  at a scale factor where shuffles actually move data.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_sf1 import ensure_sf1  # noqa: E402
from tools.verify_contract import REPO, gate_output  # noqa: E402

OUT = gate_output("BENCH_sf1")
BENCH = os.path.join(REPO, "bench.py")


def main() -> int:
    sf_dir = ensure_sf1()
    from iceberg_cache_spark.plans import QUERIES

    names = sorted(QUERIES)
    # The TPC-H tier: q120–q125 (extensions-side TPC-H shapes) plus
    # everything defined in plans/tpch.py. q126–q131 interleave in the
    # number range but read events/documents/embeddings — NOT part of
    # this corpus — so the tier is sliced as contiguous index RUNS.
    tpch = sorted(
        n
        for n, f in QUERIES.items()
        if f.__module__.endswith("plans.tpch")
        or "q120" <= n[:4] <= "q125"
    )
    idx = [names.index(n) for n in tpch]
    runs: list[tuple[int, int]] = []
    for i in idx:
        if runs and i == runs[-1][1]:
            runs[-1] = (runs[-1][0], i + 1)
        else:
            runs.append((i, i + 1))

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    tmpdir = tempfile.mkdtemp(prefix="bench_sf1_")

    def child(args: list[str]) -> None:
        r = subprocess.run(
            [sys.executable, BENCH] + args, env=env, stdout=subprocess.DEVNULL
        )
        if r.returncode != 0:
            raise SystemExit(f"bench child failed: {args}")

    cal_out = os.path.join(tmpdir, "cal.json")
    child(["--calibration", cal_out])
    with open(cal_out) as fh:
        calibration = json.load(fh)

    times: dict = {}
    spread: dict = {}
    spread_ok: dict = {}
    remeasured: list = []
    config: dict = {}
    group = int(os.environ.get("SPARK_GRAFT_BENCH_GROUP_SIZE", "12"))
    for lo, hi in runs:
        for s in range(lo, hi, group):
            e = min(s + group, hi)
            out = os.path.join(tmpdir, f"slice_{s}_{e}.json")
            child(["--slice", str(s), str(e), out])
            with open(out) as fh:
                part = json.load(fh)
            times.update(part["times"])
            spread.update(part["spread"])
            spread_ok.update(part["spread_ok"])
            remeasured.extend(part["remeasured"])
            config = part["config"]
    assert sorted(times) == tpch, "anchor ran a different query set"

    payload = {
        "metric": "tpch_sf1_anchor_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": 1.0,
        "sf_dir": sf_dir,
        "n_queries": len(times),
        "queries": times,
        "spread": spread,
        "spread_ok": spread_ok,
        "remeasured": remeasured,
        "calibration": calibration,
        "config": config,
        "protocol": (
            "bench.py children (fresh JVM per slice, median-of-3, "
            "spread gate + re-measure); corpus = tools/gen_sf1.py "
            "10x key-offset replication of /root/testdata/sf0.1"
        ),
    }
    with open(OUT, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(json.dumps({"value": payload["value"], "n": len(times)}))
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
