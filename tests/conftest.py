from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    # Pin and pre-touch a right-sized heap for the test session. The
    # default 48g lazily-grown heap bills first-touch page faults to
    # tasks for the whole suite; a pinned pre-touched 12g measured ~8%
    # faster on a mid-size test file and removes the growth-driven
    # variance. setdefault so a caller's environment wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")
    os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xms12g -XX:+AlwaysPreTouch"
    )
    from osm_pbf_parquet_spark.session import get_spark

    s = get_spark("tests")
    yield s


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy tests excluded from the default driver tier "
        "(redundant-coverage sequential-reference/composition checks "
        "whose operators keep oracle-parity gates in the default tier; "
        "run all with -m 'slow or not slow')",
    )
