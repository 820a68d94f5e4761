"""Empty-input robustness gate: the full declared corpus on 0-row tables.

Runs EVERY declared query (oracle-matched ones compared vs DuckDB,
rows-only ones executed) against the all-empty fixture variant
(``tools/gen_emptydata.py``). An empty snapshot or fully-filtered
partition is routine at 100 TB; the engine contract is empty/degenerate
results, never a crash.

Queries in ``SKIP`` are excluded with a recorded justification — only
operator-contract exclusions belong there (an operator that documents a
non-empty input requirement), never engine crashes, which must be
fixed. Writes EMPTYCHECK_r{N}.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.verify_contract import REPO, gate_output  # noqa: E402

OUT = gate_output("EMPTYCHECK")

# name -> reason (operator-contract exclusions only)
SKIP: dict[str, str] = {}


def main() -> int:
    from tools.gen_emptydata import ensure_emptydata
    from tools.verify_contract import build_session, load_entry, run_variant_gate

    sf = ensure_emptydata()
    # session + entry loading + gate loop shared with the other gates
    # (r6 review: the loops had started as copies and could drift)
    return run_variant_gate(
        build_session(), load_entry(), sf, OUT,
        include_rows_only=True,  # rows-only queries must RUN on empty input
        skip=SKIP,
    )


if __name__ == "__main__":
    raise SystemExit(main())
