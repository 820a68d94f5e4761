"""Drive __spark_entry__ exactly as the driver's verify does:
vanilla SparkSession, entry() smoke, then every queries() entry at
sf0.01 compared with its oracle_sql() via DuckDB. Writes the
machine-readable result to CORRECTNESS_local_r{N}.json (full-corpus
verification regardless of driver sampling — the driver checks only
the first ~50 registry entries each round). The round label comes from
SPARK_GRAFT_ROUND; without it the record goes to the uncommitted
``CORRECTNESS_local_rdev.json`` (see ``gate_output``), so a plain run
never rewrites a committed record.

``build_session()``, ``load_entry()``, ``run_variant_gate()`` and
``gate_output()`` are importable so sibling gates (``verify_nulls.py``)
run under the IDENTICAL engine settings and write their records by the
same rule — a config drift between the gates would make their evidence
incomparable.
"""
import importlib.util
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def gate_output(prefix: str, suffix: str = "") -> str:
    """Where a gate writes its record: ``<prefix>_r<N><suffix>.json`` at
    the root of this checkout when SPARK_GRAFT_ROUND names round N,
    else the gitignored ``<prefix>_rdev<suffix>.json``."""
    label = os.environ.get("SPARK_GRAFT_ROUND", "dev")
    return os.path.join(REPO, f"{prefix}_r{label}{suffix}.json")


# Default = the driver's correctness scale; override (e.g. sf0.1) for a
# heavier cross-check — non-default scales write to a suffixed file so
# the canonical sf0.01 snapshot is never clobbered.
SF = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
_SUFFIX = "" if SF.endswith("sf0.01") else "_" + os.path.basename(SF.rstrip("/"))
OUT = gate_output("CORRECTNESS_local", _SUFFIX)
# The payload's sf field derives from the directory actually verified
# (round 13, VERDICT r12 "What's wrong" #1: a hardcoded 0.01 made the
# sf0.1 snapshot self-report the wrong scale).
SF_VALUE = float(os.path.basename(SF.rstrip("/")).replace("sf", "") or 0.01)

sys.path.insert(0, REPO)

# Expected-minimum row counts for the rows-only (approximate-tier)
# queries (round 10 — VERDICT r9 "What's wrong" #1: q72 passed its r9
# gate row on an EMPTY result, which proved nothing). Each floor is a
# conservative lower bound on the DETERMINISTIC output at both gate
# scales (sf0.01 / sf0.1; measured r9–r10): a rows-only row now
# certifies "produced at least the planted/structural minimum", not
# merely "ran". Floors apply only to the main contract gate — the
# degenerate-input gates (empty-table variant!) legitimately emit 0.
ROWS_ONLY_MIN = {
    "q27_approx_count_distinct": 5,    # one row per group, exact
    "q62_minhash_near_dup": 20,        # 25 @sf0.01 / 256 @sf0.1
    "q63_simhash_near_dup": 15,        # 17 @sf0.01 / 525 @sf0.1
    "q71_lsh_cosine_topk": 25,         # 5 queries × top-5, exact
    "q72_embedding_near_dup": 10,      # ≥10 of 20 planted pairs
    "q73_ivf_cosine_topk": 25,         # 5 queries × top-5, exact
    "q126_cluster_balanced_sample": 50,  # 76 @sf0.01 / 80 @sf0.1
    "q127_quality_classifier": 400,    # 500 @sf0.01 / 5000 @sf0.1
    "q146_hll_cardinality": 6,         # one row per region+total, exact
    "q151_semdedup_apply": 10,         # top-10 survivors, exact
}


def build_session():
    """The driver-identical vanilla session. The canonical gate keeps
    the default driver heap — that is what the external harness does.
    Heavier-scale cross-checks (sf0.1: q16 alone collects ~19.5M rows
    for the hash compare) need a bigger driver; opt in via
    SPARK_GRAFT_VERIFY_DRIVER_MEM without changing the default
    contract."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
    )
    mem = os.environ.get("SPARK_GRAFT_VERIFY_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_entry():
    """Import __spark_entry__ the way the driver does (by file path)."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def run_variant_gate(
    spark,
    m,
    sf: str,
    out_path: str,
    include_rows_only: bool,
    skip: dict[str, str],
) -> int:
    """Shared loop for the degenerate-input gates (NULL / empty
    variants): compare every oracle-matched query vs DuckDB on the
    variant fixture dir, optionally executing rows-only queries too.
    One implementation so the gates' evidence files stay comparable
    (r6 review: the NULL and empty loops had started as copies)."""
    from tests.oracle import compare

    queries, oracle = m.queries(), m.oracle_sql()
    results, failed = {}, 0
    for name in sorted(queries):
        if name not in oracle and not include_rows_only:
            continue  # approximate queries: no NULL/empty oracle
        if name in skip:
            results[name] = {"status": "skip", "reason": skip[name]}
            print(f"{name:<28} SKIP   {skip[name]}", flush=True)
            continue
        t0 = time.time()
        try:
            if name in oracle:
                compare(queries[name](spark, sf), oracle[name], sf)
                status = "match"
            else:
                queries[name](spark, sf).count()
                status = "runs"
            results[name] = {"status": status, "sec": round(time.time() - t0, 1)}
            print(
                f"{name:<28} {status.upper():6s} {time.time() - t0:5.1f}s",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001 — record and continue
            failed += 1
            results[name] = {"status": "fail", "err": str(e)[:500]}
            print(f"{name:<28} FAIL   {str(e)[:200]}", flush=True)
    ok = sum(1 for r in results.values() if r["status"] in ("match", "runs"))
    print(f"RESULT: {ok} ok, {failed} failed, {len(skip)} skipped")
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    return 1 if failed else 0


def main() -> int:
    spark = build_session()
    m = load_entry()

    df = m.entry(spark)
    rows = df.collect()
    print(f"ENTRY: {len(rows)} rows, schema={df.schema.simpleString()}", flush=True)

    from tests.oracle import compare  # driver-identical canonicalization

    qs, oracles = m.queries(), m.oracle_sql()
    ok = bad = 0
    results: dict[str, dict] = {}
    for name in sorted(qs):
        t0 = time.time()
        try:
            res = qs[name](spark, SF)
            if name in oracles:
                compare(res, oracles[name], SF)
                status = "MATCH"
                results[name] = {
                    "rows_match": True, "schema_match": True, "hash_match": True,
                    "mode": "oracle", "err": None,
                }
            else:
                n = res.count()
                floor = ROWS_ONLY_MIN.get(name, 1)
                if n < floor:
                    raise AssertionError(
                        f"rows-only gate vacuous: {n} rows < expected "
                        f"minimum {floor}"
                    )
                status = f"ROWS_ONLY({n}>={floor})"
                results[name] = {
                    "rows_match": True, "mode": "rows_only", "rows": n,
                    "min_expected": floor, "err": None,
                }
            ok += 1
        except Exception as exc:
            status = f"FAIL: {str(exc)[:160]}"
            results[name] = {"rows_match": False, "err": str(exc)[:300]}
            bad += 1
        results[name]["sec"] = round(time.time() - t0, 2)
        print(f"{name:28s} {status:14s} {results[name]['sec']:5.1f}s", flush=True)
    print(f"RESULT: {ok} ok, {bad} failed", flush=True)

    with open(OUT, "w") as fh:
        json.dump(
            {"sf": SF_VALUE, "total": len(qs), "ok": ok, "failed": bad, "queries": results},
            fh, indent=1,
        )
    print(f"wrote {OUT}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
