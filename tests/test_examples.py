"""Smoke test of the example scripts: each runs end to end at the test
scale factor."""

from __future__ import annotations

import ast
import importlib.util
import re
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_demo_pipeline_runs(spark, sf_dir, tmp_path, monkeypatch, capsys):
    spec = importlib.util.spec_from_file_location(
        "demo_pipeline", ROOT / "examples" / "demo_pipeline.py"
    )
    demo = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(demo)
    monkeypatch.setattr(sys, "argv", ["demo_pipeline.py", sf_dir])
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    demo.main()

    out = capsys.readouterr().out
    top = re.search(r"top nations: (\[.*\])", out).group(1)
    assert len(ast.literal_eval(top)) == 3
    docs, kept, chunks = map(int, re.search(
        r"pipeline: (\d+) docs -> (\d+) kept -> (\d+) chunks", out
    ).groups())
    assert docs >= kept > 0 and chunks >= kept
    assert f"flight sql result: [{{'n': {docs}}}]" in out
