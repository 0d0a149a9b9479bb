"""Driver-style canonicalization pre-flight (opt-in: set
FACONNE_DRIVER_CANON=1). The driver's gate compares via pandas
sort+hash, which diverges from tuple-canon on list cells, int128, and
decimal columns (both round-1 failures were exactly this class); this
mirrors that comparison for every oracled query."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from oracle_pairs import canon  # noqa: E402

pytestmark = pytest.mark.skipif(
    not os.environ.get("FACONNE_DRIVER_CANON"),
    reason="driver-canon pre-flight is opt-in (duplicates the oracle gate)",
)

ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_driver_style_canon(name, spark, duck, sf_dir):
    from faconne_spark.operators.dedup import release_caches

    sdf = entry_mod.queries()[name](spark, sf_dir).toPandas()
    ddf = duck.sql(ORACLES[name]).fetchdf()
    release_caches()
    sdf.columns = [c.lower() for c in sdf.columns]
    ddf.columns = [c.lower() for c in ddf.columns]
    assert canon(sdf) == canon(ddf)
