"""Every script in ``tools/`` must be named somewhere that runs or documents it.

A tool counts as referenced when its file name appears in ``README.md`` or
in a ``.py`` file outside ``tools/``, or in another tool that is itself
referenced. Scripts that only name each other keep no one alive. One-off
experiments belong in git history, not in the tree. No Spark session
starts.
"""
from __future__ import annotations

import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
TOOLS = REPO / "tools"


def _names(name: str, text: str) -> bool:
    return re.search(rf"\b{re.escape(name)}\b", text) is not None


def unreferenced_tools() -> set[str]:
    tools = {p.name: p.read_text() for p in TOOLS.glob("*.py")}
    outside = [(REPO / "README.md").read_text()] + [
        p.read_text()
        for p in REPO.rglob("*.py")
        if TOOLS not in p.parents
        and not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    ]
    live = {n for n in tools if any(_names(n, t) for t in outside)}
    while True:
        grown = {
            n for n in tools.keys() - live
            if any(_names(n, tools[m]) for m in live)
        }
        if not grown:
            return set(tools) - live
        live |= grown


def test_every_tool_is_referenced():
    assert unreferenced_tools() == set()
