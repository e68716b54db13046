from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# dev-mode assertions: silent de-optimizations (e.g. a CC consumer that
# shed the observed row count) fail loudly under the suite instead of
# quietly re-adding probe jobs in production paths
os.environ.setdefault("SPARK_GRAFT_DEV_ASSERT", "1")

from beacon_indexer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def suite_session():
    """The suite's session; `tools/record_plan_counts.py` records the
    PLAN_COUNTS.json baseline on the same settings."""
    return get_spark(app_name="bis-tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def spark():
    yield suite_session()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
