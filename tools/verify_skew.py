"""Skew-robustness gate: the full oracle-matched corpus on hot-key data.

Runs every ``ORACLE``-matched declared query against the skewed fixture
variant (``tools/gen_skewdata.py`` → ``.skewdata/sf0.001`` — ~86% of
rows collapsed onto each grouping/FK column's modal value) and compares
Spark vs DuckDB with the driver-identical canonicalization. This is the
evidence class the NULL/empty gates don't cover: at 100 TB keys are
Zipf-distributed, and a plan whose determinism or semantics quietly
lean on key uniformity (window tiebreaks inside one giant partition,
per-group budgets when one group IS the corpus, salted fan-in
re-merge) diverges exactly here.

Writes SKEWCHECK_r{N}.json (same shape as the other variant gates).
Rows-only (approximate) queries still RUN on the skewed data so hot-key
crashes can't hide behind a missing oracle.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.verify_contract import REPO, gate_output  # noqa: E402

SKEW_SF = os.environ.get("SPARK_GRAFT_SKEW_SF", "sf0.001")
SF = os.path.join(REPO, ".skewdata", SKEW_SF)
_SUFFIX = "" if SKEW_SF == "sf0.001" else f"_{SKEW_SF}"
OUT = gate_output("SKEWCHECK", _SUFFIX)

SKIP: dict[str, str] = {}


def main() -> int:
    from tools.gen_skewdata import ensure_skewdata
    from tools.verify_contract import build_session, load_entry, run_variant_gate

    ensure_skewdata()
    return run_variant_gate(
        build_session(), load_entry(), SF, OUT,
        include_rows_only=True,
        skip=SKIP,
    )


if __name__ == "__main__":
    raise SystemExit(main())
