"""Query registry: every operator from SURVEY.md §2 as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle producing identical results on identical parquet."""

from __future__ import annotations

import collections
import importlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Unresolved-relation memo for T() (optimization r13, guide §6 file
# listing / §5 driver work): every `spark.read.parquet(path)` builds a
# fresh InMemoryFileIndex — a driver-side file listing plus a parquet
# footer read for schema inference, ~80–190 ms per call — and the
# registry's queries construct their plans with ~1.5 T() calls each, so
# a full bench paid that listing thousands of times for ten immutable
# tables.  The memo stores the LAZY DataFrame (a logical plan: file
# list + schema), keyed by (Spark application, dir, table); every
# action against it still scans the parquet files from disk — no rows,
# no results, no computed intermediates are cached, exactly like a
# catalog table resolving its schema from the metastore instead of
# re-reading footers per query.  Keyed on applicationId so a new
# session never sees a stale JVM's plan.  Bounded by least-recent use
# (many tmp dirs in one test run).
_T_MEMO: collections.OrderedDict = collections.OrderedDict()
_T_MEMO_MAX = 256
_T_MEMO_LOCK = threading.Lock()


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (events.ts normalized to µs TIMESTAMP —
    the parquet column is TIMESTAMP(NANOS), which arrives as bigint
    nanos on Spark ≤ 4.0 + nanosAsLong and as timestamp_ntz on 4.1+).

    Assumes ``<sf_dir>/<name>.parquet`` is immutable for the life of
    the Spark application: the first call's file listing and schema
    are reused, so a table rewritten in place under the same path is
    not re-listed, and reads see the old schema and may hit missing
    files. Write a changed table to a new directory instead."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    with _T_MEMO_LOCK:
        df = _T_MEMO.get(key)
        if df is not None:
            _T_MEMO.move_to_end(key)
            return df
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from faconne_spark.streaming import ensure_event_time

        df = ensure_event_time(df)
    with _T_MEMO_LOCK:
        _T_MEMO[key] = df
        if len(_T_MEMO) > _T_MEMO_MAX:
            _T_MEMO.popitem(last=False)
    return df


# Registry modules, merged in this order; a key may be defined by one
# module only.
_MODULES = (
    "faconne_demo", "tpch", "tpch_ext", "pipeline", "curation", "bank_r6",
    "bank_r7", "round7", "stats_r7", "bank_r8", "round8", "bank_r9",
    "staged_r9", "round9", "round9b", "bank_r10", "round10", "bank_r11",
    "round11", "bank_r12", "round12",
)


def _merged(attr: str) -> dict:
    merged = {}
    for name in _MODULES:
        mod = importlib.import_module(f"{__name__}.{name}")
        for key, value in getattr(mod, attr).items():
            if key in merged:
                raise ValueError(f"{attr} key {key!r} is defined twice ({name})")
            merged[key] = value
    return merged


def all_queries() -> dict:
    return _merged("QUERIES")


def all_oracles() -> dict:
    return _merged("ORACLES")
