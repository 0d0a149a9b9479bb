"""Cross-engine verification of the round-11 STAGING bank (built in
round 10, deliberately unregistered): each query/oracle pair runs
driver-style (pandas sort + canon compare) against DuckDB at the test
SF — so round-11 registration inherits already-proven pairs (the
bank_r6…bank_r10 precedent)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from faconne_spark.queries.bank_r11 import BANK_ORACLES, BANK_QUERIES  # noqa: E402
from oracle_pairs import assert_pair_matches, rows_by_partition_count  # noqa: E402


@pytest.mark.parametrize("name", sorted(BANK_QUERIES))
def test_bank_r11_pair_matches_oracle(spark, sf_dir, duck, name):
    got = BANK_QUERIES[name](spark, sf_dir).toPandas()
    want = duck.sql(BANK_ORACLES[name]).df()
    got.columns = [c.lower() for c in got.columns]
    want.columns = [c.lower() for c in want.columns]
    assert_pair_matches(name, got, want)


def test_bank_r11_partitioning_invariant(spark, sf_dir):
    """The banked pairs carry the registry's determinism claim:
    identical results under different shuffle-partition counts (the
    contingency pair products, R/S segment windows, periodogram trig
    sums, and rank-identity effect sizes are the partition-sensitive
    shapes)."""
    results = rows_by_partition_count(spark, sf_dir, BANK_QUERIES)
    for k, (r5, r32) in results.items():
        assert r5 == r32, f"{k}: partition-count-dependent output"
