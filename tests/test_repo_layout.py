"""Repository hygiene: every script under tools/ is documented."""

from __future__ import annotations

from pathlib import Path

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
