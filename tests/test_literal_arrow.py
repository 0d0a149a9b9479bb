"""Python literals reach Spark on one path: a schema inferred in
``pyobj``, a ``pyarrow.Table`` and a ``LocalRelation`` coalesced to one
partition. These tests pin the types that path gives, its plan shape
(no exchange), and that it leaves the session conf alone."""

import datetime
import decimal

import pytest
from pyspark.sql import types as T

from faconne_spark import Agg, SetOf, V, collect_nested, to_df, transform
from faconne_spark.session import plan_report


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_nested_record_keeps_types_next_to_empty_branch(spark):
    # an empty sibling ([]) must not turn the record {"x": 1, "y": "s"}
    # into a map<string,string>, which would return x as "1"
    data = [{"a": {"x": 1, "y": "s"}, "b": []}]
    out = transform(data, [{"a": {"x": V.x}}], [V.x], spark=spark)
    assert collect_nested(out) == [1]


@pytest.mark.parametrize(
    "value",
    [
        datetime.date(2024, 1, 2),
        datetime.datetime(2024, 1, 2, 3, 4, 5),
        decimal.Decimal("1.250000000000000000"),
    ],
    ids=["date", "datetime", "decimal"],
)
def test_temporal_and_decimal_literals_on_root_path(spark, value):
    in_dict = transform({"k": value}, {V.k: V.v}, [V.v], spark=spark)
    assert collect_nested(in_dict) == [value]
    in_list = transform([value, value], [V.v], SetOf(V.v), spark=spark)
    assert collect_nested(in_list) == {value}


def test_tuple_in_dict_literal_is_a_struct(spark):
    df = to_df({"k": (1, "s")}, spark=spark)
    assert df.schema["__root"].dataType == T.MapType(
        T.StringType(),
        T.StructType(
            [T.StructField("_1", T.LongType()), T.StructField("_2", T.StringType())]
        ),
    )
    (row,) = df.collect()
    assert tuple(row["__root"]["k"]) == (1, "s")


# Record rows that the PySpark-inferred rows path accepted, with the
# schema that path gave them; the Arrow path must give the same.
RECORD_SCHEMAS = [
    ([{"a": datetime.date(2024, 1, 2)}], "struct<a:date>"),
    ([{"a": datetime.datetime(2024, 1, 2, 3, 4, 5)}], "struct<a:timestamp>"),
    ([{"a": decimal.Decimal("1.25")}], "struct<a:decimal(38,18)>"),
    ([{"a": b"xy"}], "struct<a:binary>"),
    ([{"a": bytearray(b"xy")}], "struct<a:binary>"),
    ([{"a": (1, "s")}], "struct<a:struct<_1:bigint,_2:string>>"),
    ([{"a": {"x": 1, "y": "s"}}], "struct<a:struct<x:bigint,y:string>>"),
    (
        [{"a": {"x": 1}}, {"a": {"y": "s"}}],
        "struct<a:struct<x:bigint,y:string>>",
    ),
    ([{"a": {}}, {"a": {"x": 1}}], "struct<a:struct<x:bigint>>"),
    ([{"a": [{"x": 1}]}], "struct<a:array<struct<x:bigint>>>"),
    ([{"a": {1: "x"}}], "struct<a:map<bigint,string>>"),
    ([{"a": {1, 2}}], "struct<a:array<bigint>>"),
    ([{"a": None, "b": 1}], "struct<a:bigint,b:bigint>"),
    ([{"a": 1}, {"b": "s"}], "struct<a:bigint,b:string>"),
    ([{"a": True}], "struct<a:boolean>"),
]


@pytest.mark.parametrize(
    "rows,schema", RECORD_SCHEMAS, ids=[s for _, s in RECORD_SCHEMAS]
)
def test_record_schema_matrix(spark, rows, schema):
    df = to_df(rows, spark=spark)
    assert df.schema.simpleString() == schema
    assert len(df.collect()) == len(rows)


def _literal_ops() -> dict:
    """The benchmark's literal ops, plus a struct range that deep-merges a
    deeper-grouped branch back through a full-outer join, and the two
    empty literals."""
    from perfbench.workloads import literal_cases

    cases = literal_cases(7)
    stores, store_dom = cases["store_sets"][:2]
    cases["store_profile"] = (
        stores,
        store_dom,
        {V.store: {"n": Agg("count(product)"),
                   "by_aisle": {V.aisle: SetOf(V.product)}}},
        {s: {"n": sum(map(len, aisles.values())),
             "by_aisle": {a: set(ps) for a, ps in aisles.items()}}
         for s, aisles in stores.items()},
    )
    cases["empty_map"] = ({}, {V.k: V.v}, {V.v: V.k}, {})
    cases["empty_list"] = ([], [V.x], SetOf(V.x), set())
    return cases


def test_literal_ops_plan_as_local_table_scan(spark):
    # a literal is one partition, so nothing above its LocalTableScan
    # leaf needs an exchange; no Python RDD scan, and the expected result
    for op, (data, domain, range_, expected) in _literal_ops().items():
        df = to_df(data, spark=spark, domain=domain)
        assert df.rdd.getNumPartitions() == 1, op
        out = transform(df, domain, range_)
        plan = _plan(out)
        assert "LocalTableScan" in plan, op
        assert "ExistingRDD" not in plan, op
        assert plan_report(out)["n_exchanges"] == 0, op
        assert collect_nested(out) == expected, op


def test_multi_partition_literal_ops_keep_their_exchanges(spark):
    # the same rows over three partitions still plan the shuffles
    # (grouping, distinct, full-outer deep merge) and give the same result
    ops = _literal_ops()
    del ops["empty_map"], ops["empty_list"]
    for op, (data, domain, range_, expected) in ops.items():
        df = to_df(data, spark=spark, domain=domain).repartition(3)
        out = transform(df, domain, range_)
        assert plan_report(out)["n_exchanges"] > 0, op
        assert collect_nested(out) == expected, op


def test_explicit_schema_takes_the_arrow_path(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
        ]
    )
    df = to_df([{"a": 1, "m": {"x": 2.5}}], spark=spark, schema=schema)
    assert df.schema == schema
    assert "LocalTableScan" in _plan(df)
    assert [r.asDict() for r in df.collect()] == [{"a": 1, "m": {"x": 2.5}}]


def test_to_df_changes_no_session_conf(spark):
    before = dict(spark.conf.getAll)
    to_df([{"a": {"x": 1}, "b": []}], spark=spark).collect()
    to_df({"k": [1, 2]}, spark=spark).collect()
    assert dict(spark.conf.getAll) == before
