"""Shared fixtures: one SparkSession and one DuckDB connection per run.

``V6SPARK_TEST_SF`` selects the corpus (default sf0.001 for speed;
the driver's own gate runs at sf0.01 — run locally with
``V6SPARK_TEST_SF=/root/testdata/sf0.01`` before shipping).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from v6spark.session import get_spark
from v6spark.sources.tables import TABLE_NAMES

SF_DIR = os.environ.get("V6SPARK_TEST_SF", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Gate the slow tier (r12 verdict item 2): the full suite outgrew
    the driver's verification window (~44 min -> truncated run,
    ``tests_ok: false`` with zero failures).  Tests listed in
    ``tests/slow_tier.py`` (everything >= 7 s in the r13 duration
    census, minus one kept representative per file) skip unless
    ``V6SPARK_SLOW=1``.  IDs are matched repo-relative, so a run
    started from ``tests/`` gates the same tests.  The default suite
    stays the fast regression net (~15 min); the round-end discipline
    runs the full suite with the env var set."""
    if os.environ.get("V6SPARK_SLOW") == "1":
        return
    from tests.slow_tier import SLOW_TESTS, repo_nodeid

    skip = pytest.mark.skip(
        reason="slow tier: set V6SPARK_SLOW=1 to run (tests/slow_tier.py)"
    )
    for item in items:
        if repo_nodeid(item.path, item.nodeid) in SLOW_TESTS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("v6spark-tests", cpus=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()
