"""Repository hygiene: every script under tools/ is documented, a
plain run of a gate never rewrites a committed record, and the public
options of the cache, engine and server are pinned."""

from __future__ import annotations

import fnmatch
import importlib.util
import inspect
import subprocess
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


def test_every_tool_is_named_in_readme():
    readme = (ROOT / "README.md").read_text()
    undocumented = [
        f"tools/{p.name}"
        for p in sorted((ROOT / "tools").glob("*.py"))
        if f"tools/{p.name}" not in readme
    ]
    assert not undocumented, (
        f"{undocumented} are not named in README.md: document each tool "
        "that stays, and delete one-off scripts once their result is recorded"
    )


@pytest.mark.parametrize(
    "gate",
    [
        "verify_contract", "verify_nulls", "verify_empty", "verify_skew",
        "bench_sf1", "audit_oracle_types",
    ],
)
def test_gate_record_without_round_is_uncommitted(gate, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    spec = importlib.util.spec_from_file_location(f"_gate_{gate}", ROOT / "tools" / f"{gate}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    out = Path(module.OUT).resolve()
    assert out.parent == ROOT
    ignored = (ROOT / ".gitignore").read_text().split()
    assert any(fnmatch.fnmatch(out.name, pattern) for pattern in ignored)
    tracked = subprocess.run(
        ["git", "ls-files", "--", out.name], cwd=ROOT, capture_output=True, text=True
    ).stdout
    assert not tracked.strip()


def test_public_options_are_pinned():
    """Each parameter here is an option a caller can set. Adding one
    should come with a measured reason, and it shows up as an edit of
    this list."""
    from iceberg_cache_spark.cache import CacheManager
    from iceberg_cache_spark.engine import CachedQueryEngine
    from iceberg_cache_spark.serving.flight import SparkFlightServer

    def params(fn):
        return [p for p in inspect.signature(fn).parameters if p != "self"]

    assert params(CacheManager.__init__) == ["capacity_bytes", "policy"]
    assert params(SparkFlightServer.__init__) == ["engine", "location"]
    assert params(CachedQueryEngine.__init__) == ["spark", "cache"]
    assert params(CachedQueryEngine.attach_bloom) == ["table_id", "column"]
