"""The benchmark's own tests: seeded determinism and the response checker.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test starts Spark twice (about three minutes); deselect it with
``-m "not spark"`` for a quick check.
"""

from __future__ import annotations

import collections
import json
import os
import random
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checker  # noqa: E402
import workload as W  # noqa: E402

SF = 0.1


@pytest.mark.parametrize("name", ["dashboard_hit", "commit_churn"])
def test_same_seed_same_sequence(name):
    assert W.ops(name, 7, SF, 300) == W.ops(name, 7, SF, 300)


@pytest.mark.parametrize("name", ["dashboard_hit", "commit_churn"])
def test_other_seed_other_sequence(name):
    a, b = W.ops(name, 7, SF, 100), W.ops(name, 8, SF, 100)
    assert [o.ticket for o in a] != [o.ticket for o in b]


def test_generator_reads_no_program_state():
    """The generator imports neither the program nor Spark, so it can
    only depend on its arguments."""
    code = (
        "import sys; sys.path.insert(0, %r); import workload as W; "
        "W.ops('commit_churn', 1, 0.1, 50); W.commit_batch(1, 'orders', 3, 0.1); "
        "bad = [m for m in sys.modules if m.split('.')[0] in "
        "('iceberg_cache_spark', 'pyspark', 'py4j')]; print(bad)" % HERE
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         check=True)
    assert out.stdout.strip() == "[]"


def test_every_read_block_has_the_stated_mix():
    n = len(W.READ_BLOCK)
    for seed in (1, 2, 3):
        for block in range(10):
            got = collections.Counter(W.read_at(seed, block * n + i, SF)[0] for i in range(n))
            assert got == collections.Counter(b(random.Random(0), SF)[0] for b in W.READ_BLOCK)


def test_commit_churn_has_the_same_reads_plus_commits_and_probes():
    ops = W.ops("commit_churn", 3, SF, 5 * W.block_ops("commit_churn"))
    reads = [o for o in ops if o.kind == "read" and o.template != "fresh.count"]
    assert [o.ticket for o in reads] == [W.read_at(3, r, SF)[2] for r in range(len(reads))]
    commits = [o.index for o in ops if o.kind == "commit"]
    assert {b - a for a, b in zip(commits, commits[1:])} == {10, 11}
    for i in commits:
        assert ops[i + 1].template == "fresh.count" and ops[i + 1].tables == ops[i].tables
    assert [ops[i].commit_no for i in commits] == list(range(len(commits)))
    pairs = list(zip(commits[::2], commits[1::2]))
    for a, b in pairs:
        assert {ops[a].tables[0], ops[b].tables[0]} == set(W.COMMIT_TABLES)
        assert not ops[a].maintain and ops[b].maintain
    # the compacted table alternates, so each table is compacted every other block
    compacted = [ops[b].tables[0] for _, b in pairs]
    assert all(x != y for x, y in zip(compacted, compacted[1:]))


def test_commit_batches_are_seeded_and_disjoint():
    a = W.commit_batch(5, "orders", 0, SF)
    assert a.equals(W.commit_batch(5, "orders", 0, SF))
    b = W.commit_batch(5, "orders", 1, SF)
    assert not set(a["o_orderkey"].to_pylist()) & set(b["o_orderkey"].to_pylist())


def _records(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.1, 0.2, 0.30000000000000004]}), path)
    sql = "SELECT k, v FROM t ORDER BY k"
    reply = pa.table({"k": [3, 1, 2], "v": [0.30000000000000004, 0.1, 0.2]})
    rec = {"index": 0, "kind": "read", "template": "tile.x", "tables": ["t"], "ok": True,
           "digest": checker.digest(reply)}
    return [rec], {0: sql}, (lambda i: {"t": (path,)})


def test_checker_accepts_a_correct_reply(tmp_path):
    records, sql, files_at = _records(tmp_path)
    assert checker.verify(records, sql, files_at)["wrong"] == 0
    assert records[0]["correct"]


def test_checker_fails_a_corrupted_digest(tmp_path):
    records, sql, files_at = _records(tmp_path)
    n, h = records[0]["digest"].split(":")
    records[0]["digest"] = f"{n}:{'0' * len(h)}"
    assert checker.verify(records, sql, files_at)["wrong"] == 1
    assert not records[0]["correct"]


def test_checker_fails_the_run_on_a_corrupted_expected_digest(tmp_path, monkeypatch):
    records, sql, files_at = _records(tmp_path)
    real = checker.Oracle.expected

    def corrupted(self, sql, files):
        n, h = real(self, sql, files).split(":")
        return f"{n}:{h[::-1]}"

    monkeypatch.setattr(checker.Oracle, "expected", corrupted)
    assert checker.verify(records, sql, files_at)["wrong"] == 1
    assert not records[0]["correct"]


def test_checker_fails_a_stale_freshness_probe(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    commit = {"index": 0, "kind": "commit", "template": "commit.t", "tables": ["t"],
              "ok": True, "commit": {"record_count": 4}}
    probe = {"index": 1, "kind": "read", "template": "fresh.count", "tables": ["t"],
             "ok": True, "digest": checker.digest(pa.table({"n": pa.array([3], pa.int64())}))}
    out = checker.verify([commit, probe], {1: "SELECT COUNT(*) AS n FROM t"},
                         lambda i: {"t": (path,)})
    assert out["stale"] == 1 and not probe["correct"]


@pytest.mark.spark
def test_exact_counts_repeat_across_traced_runs():
    root = os.path.dirname(HERE)
    results = []
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "commit_churn",
             "--seed", "11", "--seconds", "20", "--trace", "1"],
            cwd=root, capture_output=True, text=True, check=True, timeout=600)
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
    from tracer import EXACT

    for name in EXACT:
        assert results[0]["metrics"][name] == results[1]["metrics"][name], name
