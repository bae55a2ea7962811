from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMALL = "/root/testdata/sf0.001"
# Oracle differential tests run here; default to the small SF for speed,
# override with SPARK_TEST_SF_DIR=/root/testdata/sf0.01 (driver's t2 scale).
SF_ORACLE = os.environ.get("SPARK_TEST_SF_DIR", SF_SMALL)


@pytest.fixture(scope="session")
def spark():
    from data_engineering_individual_assignment_spark.session import get_spark

    s = get_spark("dei-spark-tests")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_intermediates():
    """Unpersist what a test's queries cached (dedup._PERSISTED): tests
    that call a catalog builder directly never reach the release in
    ``__spark_entry__.queries()``, so without this the blocks would stay
    cached for the rest of the session."""
    yield
    from data_engineering_individual_assignment_spark.operators.dedup import (
        release_intermediates,
    )

    release_intermediates()
