"""Nested-Python-literal ⇄ DataFrame bridge.

Only for small data: parity tests against the reference's outputs and
driver-side convenience. The scalable path is DataFrames end-to-end;
``collect_nested`` is the explicit escape hatch that materialises a
transform result as the literal nested object the reference would
return.

Every literal takes one path: a Spark schema inferred here, then a
``pyarrow.Table`` that ``createDataFrame`` turns into a ``LocalRelation``.
It plans as ``LocalTableScan`` (below the 48 MB default of
``spark.sql.execution.arrow.localRelationThreshold``), so actions on it
start no Python workers; no session conf is read or changed.

The relation is coalesced to one partition. ``coalesce(1)`` does not
shuffle and reports ``SinglePartition``, which satisfies every
clustered distribution, so the binder's explodes, the range's
aggregates, ``distinct`` and the deep-merge joins above a literal plan
no shuffle exchange (a cross join of top-level struct ranges still
broadcasts): data that fits on the driver runs as one job of one task.
DataFrame inputs keep their distributed plans.
"""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from faconne_spark.dsl.compiler import shape_of
from faconne_spark.dsl.range_ import Shape
from faconne_spark.errors import FaconneError
from faconne_spark.session import get_session


def to_df(
    obj, spark: SparkSession | None = None, schema=None, domain=None
) -> DataFrame:
    """Convert a nested Python literal to a DataFrame.

    * list of dicts  → rows (the scalable shape; like JDBC resultsets in
      the reference's motivating examples, demo.clj:45-54); str-keyed
      dicts inside rows are fixed-field records → structs
    * any other list/set → single row, one ``__root`` array column
    * dict           → single row, one ``__root`` map column

    ``domain`` (the transform's domain pattern, when available) types
    branches that are EMPTY in the data: ``{"a": {}}`` under domain
    ``{store: {aisle: [product]}}`` must give the inner value type
    map<·, array<·>> even though no element exists to sample — the
    reference's runtime traversal trivially yields nothing there, but a
    DataFrame needs the shape in the schema up front.

    An explicit ``schema`` (a ``StructType`` of the rows) skips inference.

    The result is one partition (``coalesce(1)``, no shuffle), so a
    transform over it plans no exchange; ``repartition`` it to get the
    distributed plan of a large input.
    """
    spark = spark or SparkSession.getActiveSession() or get_session()
    if (
        isinstance(obj, list)
        and obj
        and all(isinstance(r, dict) for r in obj)
        # dicts with non-string keys are data maps, not records — they
        # take the __root array-of-maps path below (core.clj:113-115
        # vectors of dynamic-keyed maps)
        and all(isinstance(k, str) for r in obj for k in r)
    ):
        rows, records = obj, True
        pat = domain[0] if isinstance(domain, list) and len(domain) == 1 else None
    elif isinstance(obj, (list, set, frozenset, dict)):
        rows, records, pat = [{"__root": obj}], False, {"__root": domain}
    else:
        raise FaconneError(f"cannot convert {type(obj)} to DataFrame")
    if schema is None:
        schema = _unify(_struct_type(r, records) for r in rows)
        schema = _concrete(_overlay(schema, pat))
    import pyarrow as pa  # here, not at import: keeps package import light
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [_to_arrow(r, schema) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema=schema).coalesce(1)


_SCALAR_TYPES = [  # bool before int, datetime before date: subclasses
    (bool, T.BooleanType), (int, T.LongType), (float, T.DoubleType),
    (str, T.StringType), ((bytes, bytearray), T.BinaryType),
    (datetime.datetime, T.TimestampType), (datetime.date, T.DateType),
    (decimal.Decimal, lambda: T.DecimalType(38, 18)),  # as Spark infers
]


def _infer_type(x, records: bool = False):
    """``T.NullType()`` marks positions whose type no element witnesses
    (empty containers / all-null); ``_overlay`` may fill them from the
    domain pattern and ``_concrete`` resolves the rest. Under
    ``records`` non-empty str-keyed dicts are structs (MapType would
    coerce mixed value types to string); otherwise dicts are maps."""
    if x is None:
        return T.NullType()
    for py, spark_type in _SCALAR_TYPES:
        if isinstance(x, py):
            return spark_type()
    if isinstance(x, tuple):
        return _struct_type({f"_{i}": v for i, v in enumerate(x, 1)}, records)
    if isinstance(x, (list, set, frozenset)):
        return T.ArrayType(_unify(_infer_type(v, records) for v in x))
    if isinstance(x, dict):
        if records and x and all(isinstance(k, str) for k in x):
            return _struct_type(x, records)
        return T.MapType(
            _unify(_infer_type(k, records) for k in x),
            _unify(_infer_type(v, records) for v in x.values()),
        )
    raise FaconneError(f"cannot infer Spark type for {type(x)}")


def _struct_type(fields: dict, records: bool):
    return T.StructType(
        [T.StructField(k, _infer_type(v, records)) for k, v in fields.items()]
    )


def _unify(types):
    out = T.NullType()
    for t in types:
        if isinstance(t, T.NullType) or t == out:
            continue
        if isinstance(out, T.NullType):
            out = t
        elif T.MapType(T.NullType(), T.NullType()) in (out, t) and (
            T.StructType in (type(out), type(t))
        ):  # an empty dict among records
            out = out if isinstance(out, T.StructType) else t
        elif {out.__class__, t.__class__} == {T.LongType, T.DoubleType}:
            out = T.DoubleType()
        elif isinstance(out, T.ArrayType) and isinstance(t, T.ArrayType):
            out = T.ArrayType(_unify([out.elementType, t.elementType]))
        elif isinstance(out, T.MapType) and isinstance(t, T.MapType):
            out = T.MapType(
                _unify([out.keyType, t.keyType]),
                _unify([out.valueType, t.valueType]),
            )
        elif isinstance(out, T.StructType) and isinstance(t, T.StructType):
            merged = {}
            for f in out.fields + t.fields:  # first-seen order, as in Spark
                merged.setdefault(f.name, []).append(f.dataType)
            out = T.StructType(
                [T.StructField(k, _unify(v)) for k, v in merged.items()]
            )
        else:
            out = T.StringType()  # mixed scalars: stringly-typed fallback
    return out


def _overlay(t, pat):
    """Fill ``NullType`` positions of an inferred type with the container
    structure the domain pattern implies there. Leaf types stay unknown
    (the branch is empty — any concrete type yields the same empty
    result); only the SHAPE (map/array nesting) matters so the binder's
    explodes type-check."""
    from faconne_spark.dsl.ast import Lit, SetOf, Var

    unknown = isinstance(t, T.NullType)
    if isinstance(pat, SetOf):
        pat = list(pat.elems)
    if isinstance(pat, (list, tuple)) and pat:
        if unknown:
            t = T.ArrayType(T.NullType())
        if isinstance(t, T.ArrayType):
            elem = t.elementType
            for p in pat:  # n-at-a-time chunk patterns share the element type
                elem = _overlay(elem, p)
            return T.ArrayType(elem)
    elif isinstance(pat, dict):
        subs = {
            (k.value if isinstance(k, Lit) else k): v
            for k, v in pat.items()
            if isinstance(k, (Var, Lit, str, tuple))  # not Keys/As destructure
        }
        if not subs:
            return t  # Keys/As destructuring: node shape comes from data
        if unknown:
            t = T.MapType(T.NullType(), T.NullType())
        if isinstance(t, T.MapType):
            vt = t.valueType
            for vpat in subs.values():
                vt = _overlay(vt, vpat)
            return T.MapType(t.keyType, vt)
        if isinstance(t, T.StructType):
            return T.StructType(
                [
                    T.StructField(f.name, _overlay(f.dataType, subs.get(f.name)))
                    for f in t.fields
                ]
            )
    return t


def _concrete(t, key_pos: bool = False):
    """Resolve remaining unknowns: LongType for values (any type works —
    the branch holds no data), StringType in map-key position."""
    if isinstance(t, T.NullType):
        return T.StringType() if key_pos else T.LongType()
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_concrete(t.elementType))
    if isinstance(t, T.MapType):
        return T.MapType(
            _concrete(t.keyType, key_pos=True), _concrete(t.valueType)
        )
    if isinstance(t, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _concrete(f.dataType), f.nullable)
                for f in t.fields
            ]
        )
    return t


def _to_arrow(x, t):
    """``x`` as ``pa.Table.from_pylist`` takes it for Spark type ``t``;
    naive datetimes are local time, as Spark reads Python datetimes."""
    if x is None:
        return None
    if isinstance(t, T.StructType):
        if isinstance(x, tuple):
            x = dict(zip(t.names, x))
        return {f.name: _to_arrow(x.get(f.name), f.dataType) for f in t.fields}
    if isinstance(t, T.MapType):
        return [
            (_to_arrow(k, t.keyType), _to_arrow(v, t.valueType))
            for k, v in x.items()
        ]
    if isinstance(t, T.ArrayType):
        if isinstance(x, (set, frozenset)):
            x = sorted(x, key=repr)
        return [_to_arrow(v, t.elementType) for v in x]
    if isinstance(t, T.StringType) and not isinstance(x, str):
        return str(x)
    if isinstance(t, T.TimestampType) and x.tzinfo is None:
        return x.astimezone()
    return x


def collect_nested(df: DataFrame, shape: Shape | None = None):
    """Materialise a transform result as the literal nested Python object
    (reference semantics: what ``f/transform`` returns). Driver-side —
    use only on small results."""
    shape = shape or shape_of(df)
    rows = [r.asDict(recursive=True) for r in df.collect()]
    return _assemble_top(rows, shape)


def _assemble_top(rows, shape: Shape):
    if shape.kind == "group":
        out = {}
        for r in rows:
            out[r[shape.key]] = _assemble_row_child(r, shape)
        return out
    if shape.kind in ("rows", "rowset"):
        child = shape.child
        if child.kind == "struct":
            vals = [
                {f: _convert(r[col], s) for f, (col, s) in child.fields.items()}
                for r in rows
            ]
        else:
            vals = [_convert(r[shape.col], child) for r in rows]
        if shape.kind == "rowset":
            return _to_hashable_set(vals)
        return vals
    if shape.kind == "struct":
        (r,) = rows or [{}]
        return {f: _convert(r.get(col), s) for f, (col, s) in shape.fields.items()}
    if shape.kind == "scalar":
        if not rows:
            return None
        (r,) = rows
        return r[shape.col]
    raise FaconneError(f"cannot assemble shape {shape.kind}")


def _assemble_row_child(r, shape: Shape):
    child = shape.child
    if child.kind == "struct" and shape.col is None:
        return {
            f: _convert(r[col if col else f], s)
            for f, (col, s) in child.fields.items()
        }
    return _convert(r[shape.col or "__v"], child)


def _convert(val, shape: Shape):
    if val is None:
        return None
    if shape is None or shape.kind == "scalar":
        return val
    if shape.kind == "group":
        return {k: _convert(v, shape.child) for k, v in val.items()}
    if shape.kind == "list":
        return [_convert(v, shape.child) for v in val]
    if shape.kind == "set":
        return _to_hashable_set([_convert(v, shape.child) for v in val])
    if shape.kind == "struct":
        return {f: _convert(val.get(f), s) for f, (_, s) in shape.fields.items()}
    raise FaconneError(f"cannot convert shape {shape.kind}")


def _to_hashable_set(vals):
    def h(v):
        if isinstance(v, list):
            return tuple(h(x) for x in v)
        if isinstance(v, set):
            return frozenset(h(x) for x in v)
        if isinstance(v, dict):
            return frozenset((k, h(x)) for k, x in v.items())
        return v

    return {h(v) for v in vals}
