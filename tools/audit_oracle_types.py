"""Oracle type-parity audit (round 11).

Root cause of the r10 q179 driver red: the oracle's ``SUM() OVER ()``
was uncast, and DuckDB integer SUM returns HUGEINT — which survives a
``fetchall()`` comparator as a Python int (local gates + judge re-runs
green) but arrives as ``decimal128(38,0)`` → pandas ``float64`` through
an Arrow-based comparator (driver red: 123 vs 123.0 value-hash drift).

This audit closes the whole CLASS: for every declared query it compares
the Spark result schema against the DuckDB oracle's Arrow schema and
flags any column whose type pairing diverges under an Arrow/pandas
hasher even when a fetchall hasher would call it equal:

- DuckDB HUGEINT (arrow decimal128(38,0)) vs Spark integer  → RED
- decimal-vs-decimal with different SCALE                   → RED
  (Decimal('1.5') vs Decimal('1.50') stringify differently)
- int-vs-float either direction                             → RED
- decimal-vs-float                                          → WARN
  (both sides land on the same float64 through pandas; flagged so the
  corpus trends toward exact-type oracles)

Run: python tools/audit_oracle_types.py  [--sf /root/testdata/sf0.01]
Exit code 1 iff any RED. Writes TYPEAUDIT_local_r{N}.json with
SPARK_GRAFT_ROUND=<N>, else the uncommitted TYPEAUDIT_local_rdev.json.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle import (  # noqa: E402
    arrow_type_key,
    classify_type_pair as classify,
    spark_type_key,
)
from tools.verify_contract import REPO, gate_output  # noqa: E402

OUT = gate_output("TYPEAUDIT_local")


def main() -> int:
    sf = "/root/testdata/sf0.01"
    if "--sf" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf") + 1]

    import duckdb
    from pyspark.sql import SparkSession

    from tests.oracle import duck_connection

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(REPO, "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    queries = mod.queries()
    oracles = mod.oracle_sql()
    findings: list[dict] = []
    n_ok = 0
    for name in sorted(queries):
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            s_schema = {f.name: spark_type_key(f.dataType)
                        for f in queries[name](spark, sf).schema.fields}
            con = duck_connection(sf)
            try:
                d_arrow = con.execute(sql).fetch_arrow_table().schema
            finally:
                con.close()
            d_schema = {f.name: arrow_type_key(f.type) for f in d_arrow}
        except Exception as exc:  # noqa: BLE001 — audit must visit all rows
            findings.append({"query": name, "col": None, "sev": "RED",
                             "spark": None, "duck": None, "err": str(exc)[:200]})
            continue
        row_bad = False
        for col in sorted(set(s_schema) | set(d_schema)):
            sk, dk = s_schema.get(col), d_schema.get(col)
            if sk is None or dk is None:
                findings.append({"query": name, "col": col, "sev": "RED",
                                 "spark": str(sk), "duck": str(dk),
                                 "err": "column missing on one side"})
                row_bad = True
                continue
            sev = classify(sk, dk)
            if sev:
                findings.append({"query": name, "col": col, "sev": sev,
                                 "spark": str(sk), "duck": str(dk), "err": None})
                row_bad = row_bad or sev == "RED"
        if not row_bad:
            n_ok += 1

    reds = [f for f in findings if f["sev"] == "RED"]
    warns = [f for f in findings if f["sev"] == "WARN"]
    for f in findings:
        print(f"{f['sev']:4s} {f['query']} :: {f['col']} spark={f['spark']} "
              f"duck={f['duck']} {f['err'] or ''}", flush=True)
    print(f"RESULT: {n_ok} aligned, {len(reds)} RED, {len(warns)} WARN",
          flush=True)
    with open(OUT, "w") as fh:
        json.dump({"aligned": n_ok, "red": len(reds), "warn": len(warns),
                   "findings": findings}, fh, indent=1)
    return 1 if reds else 0


if __name__ == "__main__":
    raise SystemExit(main())
