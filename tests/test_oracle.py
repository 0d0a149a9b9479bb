"""Mirror of the driver's correctness gate: run every queries() entry
through Spark AND its oracle_sql() through DuckDB on the same parquet;
compare row count, column names, and an order-insensitive value hash."""

import math

import pytest

import __spark_entry__ as entry_mod


def canon(value):
    """Canonicalize a cell for cross-engine comparison."""
    import datetime
    import decimal

    if isinstance(value, decimal.Decimal):
        value = float(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # values are pre-rounded by the queries; this guards repr noise
        return round(value, 9)
    if isinstance(value, datetime.datetime):
        return value.replace(tzinfo=None).isoformat()
    if isinstance(value, datetime.date):
        return str(value)
    if isinstance(value, (list, tuple)):
        return tuple(canon(v) for v in value)
    if isinstance(value, dict):
        return tuple(sorted((k, canon(v)) for k, v in value.items()))
    if isinstance(value, bytearray):
        return bytes(value)
    return value


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr
    )


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(autouse=True)
def _release_dedup_caches():
    yield
    from faconne_spark.operators.dedup import release_caches

    release_caches()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    q = QUERIES[name]
    sdf = q(spark, sf_dir)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]

    # gate-vacuity guard (VERDICT r8 ask #2): an empty result makes the
    # oracle comparison below 0-rows-vs-0-rows — green while proving
    # nothing.  Keys legitimately empty at this SF must carry a waiver
    # naming their constructed-fixture proof (tests/vacuity_waivers.py;
    # test_vacuity_guard.py checks the named tests exist).
    from vacuity_waivers import VACUITY_WAIVERS

    assert srows or name in VACUITY_WAIVERS, (
        f"{name}: empty at {sf_dir} — the gate row would be vacuous; "
        "add a constructed-fixture test + waiver in tests/vacuity_waivers.py"
    )

    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op)
        assert len(srows) >= 0
        assert len(scols) > 0
        return

    rel = duck.sql(ORACLES[name])
    dcols = [c.lower() for c in rel.columns]
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch spark={scols} duck={dcols}"
    )
    assert len(srows) == len(drows), (
        f"{name}: row count spark={len(srows)} duck={len(drows)}"
    )
    sset = rowset(scols, srows)
    dset = rowset(dcols, drows)
    if sset != dset:
        diff_s = [r for r in sset if r not in dset][:3]
        diff_d = [r for r in dset if r not in sset][:3]
        raise AssertionError(
            f"{name}: value mismatch\n only-spark: {diff_s}\n only-duck:  {diff_d}"
        )


def test_registry_rejects_duplicate_keys(monkeypatch):
    """Two registry modules defining one key is an error, not a silent
    override by the later module."""
    from faconne_spark import queries

    monkeypatch.setattr(queries, "_MODULES", ("tpch", "tpch"))
    with pytest.raises(ValueError, match="tpch_q1_pricing"):
        queries.all_queries()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 2
