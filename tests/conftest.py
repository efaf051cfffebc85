"""Shared fixtures: one SparkSession per test session, sf dirs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphdb_neo4j_spark.session import get_spark  # noqa: E402

# Overridable so the suite runs (or cleanly skips) on machines without
# the driver's /root/testdata layout.
SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_CORRECT = os.environ.get("SPARK_GRAFT_SF_CORRECT", "/root/testdata/sf0.01")


def pytest_configure(config):
    """List the 10 slowest tests next to the wall-time summary unless the
    caller chose a ``--durations`` of their own."""
    if config.option.durations is None:
        config.option.durations = 10


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="graphdb_neo4j_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    if not os.path.isdir(SF_SMOKE):
        pytest.skip(f"test data not found: {SF_SMOKE} (set SPARK_GRAFT_SF_SMOKE)")
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    if not os.path.isdir(SF_CORRECT):
        pytest.skip(f"test data not found: {SF_CORRECT} (set SPARK_GRAFT_SF_CORRECT)")
    return SF_CORRECT
