"""Load generator: one process, one Flight connection, closed loop.

Started by run.py once the server is up. It builds its operation list
from the seed alone, waits for ``go`` on stdin, then sends each request
only after the previous reply has fully arrived, until the window ends
(at the first block boundary after ``--seconds``; see workload.py).
Replies are kept as Arrow tables; they are digested only after the
window, so checking adds no client work to the timed loop. The result
is written as JSON to ``--out``.

    python3 perfbench/client.py --port P --workload W --seed S --sf SF \
        --seconds N --out result.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pyarrow.flight as flight

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checker  # noqa: E402
import workload as W  # noqa: E402

PREGENERATED = 1000


def run(client, ops, seconds: float, block: int) -> list[dict]:
    records, tables = [], []
    end = time.perf_counter() + seconds
    for op in ops:
        # the window closes at the first block boundary after ``seconds``,
        # so every run holds whole blocks and exactly the stated mix
        if op.index % block == 0 and time.perf_counter() >= end:
            break
        rec = {"index": op.index, "kind": op.kind, "template": op.template,
               "tables": list(op.tables)}
        t0 = time.perf_counter()
        try:
            if op.kind == "commit":
                body = json.dumps({"table": op.tables[0], "commit_no": op.commit_no,
                                   "maintain": op.maintain})
                (res,) = client.do_action(flight.Action("commit", body.encode()))
                rec["commit"] = json.loads(res.body.to_pybytes())
                table = None
            else:
                table = client.do_get(flight.Ticket(op.ticket.encode())).read_all()
            rec["ok"] = True
        except flight.FlightError as exc:
            table = None
            rec["ok"] = False
            rec["error"] = str(exc)[:300]
        rec["start"], rec["end"] = t0, time.perf_counter()
        records.append(rec)
        tables.append(table)
    else:
        raise RuntimeError("operation list exhausted before the window ended")
    for rec, table in zip(records, tables):
        if table is not None:
            rec["rows"] = table.num_rows
            rec["bytes"] = table.nbytes
            rec["digest"] = checker.digest(table)
    return records


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    ops = W.ops(a.workload, a.seed, a.sf, PREGENERATED)
    client = flight.connect(f"grpc://127.0.0.1:{a.port}")
    try:
        print("ready", flush=True)
        if sys.stdin.readline().strip() != "go":
            return
        records = run(client, ops, a.seconds, W.block_ops(a.workload))
    finally:
        client.close()
    with open(a.out, "w") as f:
        json.dump(records, f)


if __name__ == "__main__":
    main()
