"""Shared pytest fixtures: one tuned SparkSession per test run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chicago_crash_data_pipeline_dashboard_spark.session import get_spark
from tests.slow_tier import SLOW_TESTS

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_collection_modifyitems(config, items):
    """Mark the long-tail tests `slow` from the one auditable list in
    tests/slow_tier.py (r16, VERDICT r15 item 3: the full suite outgrew
    the driver's verify window; pytest.ini deselects `slow` by default,
    `-m ""` runs everything)."""
    for item in items:
        if item.nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # fail loudly if the list drifts from reality (a rename would
    # silently un-mark a 100 s test and re-bloat the default tier);
    # scoped to collected FILES so single-file/subset runs stay usable,
    # and skipped when tests are picked by node id (file::test), which
    # collects only part of a file
    if any("::" in str(arg) for arg in config.args):
        return
    known = {item.nodeid for item in items}
    collected_files = {item.nodeid.split("::")[0] for item in items}
    stale = {
        t for t in SLOW_TESTS if t.split("::")[0] in collected_files and t not in known
    }
    if stale:
        raise pytest.UsageError(
            f"tests/slow_tier.py lists {len(stale)} unknown test ids "
            f"(renamed/removed?): {sorted(stale)[:3]}..."
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ccpd_tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
