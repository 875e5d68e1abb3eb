"""Driver-window eligibility guards -- the two red-row classes the driver
has hit so far can never recur if these hold:

  r1/r4 `err: no_oracle`      -> every CORRECTNESS_WINDOW entry must carry
                                 oracle SQL (rows-only queries burn a slot
                                 as a red row by construction);
  r2/r4 `unhashable: 'list'`  -> every window query must return a FLAT
                                 schema (the driver's pandas canonicalizer
                                 cannot sort array/map/struct cells).

tests/test_oracle_parity.py applies the same flatness check to every
oracle-backed query.
"""

import pytest

from streamprocessing_with_kafka_spark.plans.registry import (
    CORRECTNESS_WINDOW,
    registry,
)
from tests.oracle_harness import assert_flat_schema

_REG = registry()


def test_window_is_50_unique_registered():
    assert len(CORRECTNESS_WINDOW) == 50
    assert len(set(CORRECTNESS_WINDOW)) == 50
    assert all(n in _REG for n in CORRECTNESS_WINDOW)


@pytest.mark.parametrize("name", CORRECTNESS_WINDOW)
def test_window_entry_has_oracle(name):
    assert _REG[name].sql is not None, (
        f"{name} is rows-only (sql=None) but occupies a driver window slot "
        f"-- the driver reports it as a red `no_oracle` row by construction"
    )


@pytest.mark.parametrize("name", CORRECTNESS_WINDOW)
def test_window_entry_schema_is_flat(name, spark, sf_dir):
    assert_flat_schema(_REG[name].fn(spark, sf_dir), name)
