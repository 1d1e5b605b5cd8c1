"""The slow-tier registry (``tests/slow_tier.py``) stays truthful: every
gated ID names a real test, and gating matches the same IDs whichever
directory pytest is started from."""

from __future__ import annotations

import os
import re

from tests.slow_tier import REPO, SLOW_TESTS, repo_nodeid


def test_slow_tier_entries_resolve():
    """Every gated node ID must still point at a real test (a renamed
    or deleted test would otherwise silently shrink the slow tier)."""
    for nodeid in SLOW_TESTS:
        path, rest = nodeid.split("::", 1)
        fn = rest.split("[", 1)[0]
        full = os.path.join(REPO, path)
        assert os.path.exists(full), f"slow_tier: missing file {path}"
        with open(full) as f:
            src = f.read()
        assert re.search(rf"^def {re.escape(fn)}\(", src, re.M), (
            f"slow_tier: {path} no longer defines {fn}"
        )


def test_gating_ids_do_not_depend_on_rootdir():
    path = os.path.join(REPO, "tests", "test_sampling.py")
    want = "tests/test_sampling.py::test_split_leakage_report"
    assert want in SLOW_TESTS
    # started from the repo root, and from tests/ (rootdir = tests/)
    for nodeid in (
        "tests/test_sampling.py::test_split_leakage_report",
        "test_sampling.py::test_split_leakage_report",
    ):
        assert repo_nodeid(path, nodeid) == want
    assert (
        repo_nodeid(path, "test_sampling.py::TestX::()::test_y[a-b]")
        == "tests/test_sampling.py::TestX::test_y[a-b]"
    )
