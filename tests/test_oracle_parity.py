"""Every registered query with an oracle must hash-match DuckDB -- the
local mirror of the driver's t2 gate, run at sf0.001 for speed
(SPARK_GRAFT_TEST_SF_DIR overrides)."""

import pytest

from streamprocessing_with_kafka_spark.plans.registry import registry
from tests.oracle_harness import assert_flat_schema, compare, duckdb_conn

QUERIES = {n: q for n, q in registry().items() if q.sql is not None}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(name, spark, sf_dir, con):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    assert_flat_schema(df, name)
    errs = compare(df, con, q.sql, name)
    assert not errs, "\n".join(errs)
