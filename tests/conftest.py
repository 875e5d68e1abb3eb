import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamprocessing_with_kafka_spark.functions.lineage import (  # noqa: E402
    drain_ephemeral_checkpoints,
)
from streamprocessing_with_kafka_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("engine-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _query_boundary():
    """Each test is one query boundary: free the checkpoints it
    registered, as the driver contract does between queries."""
    yield
    drain_ephemeral_checkpoints()
