"""Cross-engine verification of the round-6 gate-key bank: each
query/oracle pair runs driver-style (pandas sort + canon compare)
against DuckDB at the test SF — so round-6 registration inherits
already-proven pairs."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from faconne_spark.queries.bank_r6 import BANK_ORACLES, BANK_QUERIES  # noqa: E402
from oracle_pairs import assert_pair_matches  # noqa: E402


@pytest.mark.parametrize("name", sorted(BANK_QUERIES))
def test_bank_pair_matches_oracle(spark, sf_dir, duck, name):
    got = BANK_QUERIES[name](spark, sf_dir).toPandas()
    want = duck.sql(BANK_ORACLES[name]).df()
    assert_pair_matches(name, got, want)
