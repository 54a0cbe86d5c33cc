"""The slow-tier manifest (``tests/slow_tests.txt``): how its entries
key collected tests, and that every entry still names a real test."""

from __future__ import annotations

import os
import re
from types import SimpleNamespace

from tests import conftest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_slow_manifest_keys_slashed_param_ids(tmp_path, monkeypatch):
    """A parametrized id containing ``/`` marks only the entry it
    names: keying on the text after the last ``/`` made every test
    whose id ends the same way match it."""
    manifest = tmp_path / "slow_tests.txt"
    manifest.write_text("# comment\ntests/test_a.py::test_p[x/y]\n")
    monkeypatch.setattr(conftest, "SLOW_MANIFEST", str(manifest))
    nodeids = [
        "tests/test_a.py::test_p[x/y]",
        "tests/test_a.py::test_q[z/y]",
        "tests/test_b.py::test_p[x/y]",
        "repo/tests/test_a.py::test_p[x/y]",  # another invocation dir
    ]
    marks: list[list] = [[] for _ in nodeids]
    items = [
        SimpleNamespace(nodeid=n, add_marker=m.append)
        for n, m in zip(nodeids, marks)
    ]
    conftest.pytest_collection_modifyitems(None, items)
    assert [bool(m) for m in marks] == [True, False, False, True]


def test_slow_manifest_entries_name_existing_tests():
    """Every manifest entry names a test function defined in its file,
    so deleting or renaming a test cannot leave a dead entry behind."""
    with open(conftest.SLOW_MANIFEST) as f:
        entries = [
            ln.strip() for ln in f if ln.strip() and not ln.startswith("#")
        ]
    stale = []
    for entry in entries:
        path, _, test_id = entry.partition("::")
        full = os.path.join(REPO, path)
        func = re.escape(test_id.split("[", 1)[0])
        if not os.path.isfile(full) or not re.search(
            rf"^\s*(async\s+)?def {func}\(", open(full).read(), re.M
        ):
            stale.append(entry)
    assert entries and not stale, f"slow_tests.txt names dead tests: {stale}"
