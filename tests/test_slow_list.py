"""Guard for tests/slow_tests.txt: conftest.py skips the listed node
IDs by default, so an entry whose test was renamed or deleted would go
stale silently. Every entry must name a test function defined in an
existing file (no Spark needed)."""

from __future__ import annotations

import ast
import os

from tests.conftest import _ROOT, _slow_ids


def test_slow_list_entries_name_existing_tests():
    defined: dict[str, set[str]] = {}
    stale = []
    for entry in sorted(_slow_ids()):
        path, _, test = entry.partition("::")
        full = os.path.join(_ROOT, path)
        if full not in defined:
            names: set[str] = set()
            if os.path.isfile(full):
                with open(full) as f:
                    tree = ast.parse(f.read())
                names = {
                    n.name
                    for n in tree.body
                    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                }
            defined[full] = names
        if test.partition("[")[0] not in defined[full]:
            stale.append(entry)
    assert _slow_ids() and not stale, stale
