"""Response checker: canonical digests and their DuckDB expectations.

A digest is the row count plus a hash of the rows in canonical form:
column order kept, rows sorted, floats rounded to 9 significant digits,
integral decimals as integers (DuckDB sums BIGINT to HUGEINT),
timestamps as naive UTC. The checker recomputes every read with DuckDB
over the same parquet files (for commit_churn, the files of the
snapshots current when the read ran) and compares digests.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import pyarrow as pa


def _canon(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):  # DuckDB's HUGEINT sums arrive as decimals
        return int(v) if v == v.to_integral_value() else str(v.normalize())
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return repr(v)


def digest(table: pa.Table) -> str:
    rows = sorted(repr(tuple(_canon(v) for v in r.values())) for r in table.to_pylist())
    h = hashlib.sha1("\n".join([",".join(table.column_names), *rows]).encode())
    return f"{table.num_rows}:{h.hexdigest()[:16]}"


class Oracle:
    """DuckDB over a fixed set of files per table; expected digests are
    memoised per (SQL, file set)."""

    def __init__(self) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self._memo: dict[tuple, str] = {}
        self._views: dict[str, tuple[str, ...]] = {}

    def expected(self, sql: str, files: dict[str, tuple[str, ...]]) -> str:
        key = (sql, tuple(sorted(files.items())))
        if key not in self._memo:
            for table, paths in files.items():
                if self._views.get(table) != paths:
                    listing = ", ".join(f"'{p}'" for p in paths)
                    self.con.execute(
                        f"CREATE OR REPLACE VIEW {table} AS "
                        f"SELECT * FROM read_parquet([{listing}], union_by_name=true)")
                    self._views[table] = paths
            self._memo[key] = digest(self.con.execute(sql).fetch_arrow_table())
        return self._memo[key]

    def close(self) -> None:
        self.con.close()


def verify(records: list[dict], oracle_sql: dict[int, str], files_at) -> dict:
    """Mark each record ``correct``. ``files_at(index)`` gives the file
    set per table as of operation ``index``. A failed request, a wrong
    digest, or a freshness probe that misses the committed row count
    all count as wrong; nothing is dropped."""
    oracle = Oracle()
    stale = wrong = 0
    examples: list[dict] = []
    last_commit = None
    try:
        for rec in records:
            if rec["kind"] == "commit":
                rec["correct"] = rec["ok"]
                last_commit = rec.get("commit")
                continue
            if not rec["ok"]:
                rec["correct"] = False
                wrong += 1
                continue
            files = files_at(rec["index"])
            want = oracle.expected(oracle_sql[rec["index"]],
                                   {t: files[t] for t in rec["tables"]})
            rec["correct"] = rec["digest"] == want
            if rec["template"] == "fresh.count" and last_commit is not None:
                fresh = rec["digest"] == oracle.expected(
                    "SELECT CAST(%d AS BIGINT) AS n" % last_commit["record_count"], {})
                stale += not fresh
                rec["correct"] = rec["correct"] and fresh
            if not rec["correct"]:
                wrong += 1
                examples.append({"index": rec["index"], "template": rec["template"],
                                 "got": rec["digest"], "want": want})
    finally:
        oracle.close()
    return {"wrong": wrong, "stale": stale, "wrong_examples": examples[:5]}
