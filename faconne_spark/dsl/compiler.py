"""Transformer: domain binder + range builder → one Catalyst plan.

API parity with the reference (src/faconne/core.cljc):
  * ``transform(data, domain, range_, where=...)``  ↔ ``f/transform``
  * ``Transformer(domain, range_, where=...)``      ↔ ``f/transformer``
    (reusable: the pattern is parsed once; the DataFrame plan is built
    per input schema)
  * ``for_each(data, domain, action, where=...)``   ↔ ``f/for-each``
  * ``Transformer.explain(df)``                     ↔
    ``f/print-generated-transformer`` — but what you inspect is the
    *Catalyst* plan, which is the artifact that matters on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from faconne_spark.dsl.domain import Binder
from faconne_spark.dsl.range_ import build_range
from faconne_spark.errors import FaconneError


def _remember_shape(df: DataFrame, shape) -> DataFrame:
    df._fac_shape = shape  # what collect_nested reads back (shape_of)
    return df


def shape_of(df: DataFrame):
    shape = getattr(df, "_fac_shape", None)
    if shape is None:
        raise FaconneError(
            "DataFrame has no faconne shape; pass the direct result of "
            "transform()"
        )
    return shape


class Transformer:
    """Compiled, reusable transform (reference ``f/transformer``,
    core.cljc:15-18)."""

    def __init__(self, domain, range_, where=None):
        if where is not None and not isinstance(where, (list, tuple)):
            raise FaconneError(
                "`where` must be a list of SQL boolean expressions"
            )
        self.domain = domain
        self.range_ = range_
        self.where = list(where or [])

    def bind(self, df: DataFrame) -> DataFrame:
        """Run only the domain binder → flat relation of bound vars."""
        return Binder(df, self.where).bind(self.domain)

    def __call__(self, df: DataFrame) -> DataFrame:
        flat = self.bind(df)
        out, shape = build_range(flat, self.range_)
        return _remember_shape(out, shape)

    def explain(self, df: DataFrame, mode: str = "formatted") -> None:
        """Parity: ``print-generated-transformer`` (core.cljc:35-38) —
        inspect the physical plan Catalyst chose."""
        self(df).explain(mode)


class Iterator:
    """Compiled, reusable side-effect traversal (reference
    ``f/iterator``, core.cljc:20-23): compile the domain binder once,
    run an action per bound leaf on any number of inputs.

    ``__call__`` executes distributed (``foreachPartition``);
    ``rows()`` instead yields bound-variable dicts lazily on the driver
    (``toLocalIterator`` — one partition in memory at a time), the
    Python-idiomatic iterator face. ``explain()`` is the parity of
    ``print-generated-iterator`` (core.cljc:40-43)."""

    def __init__(self, domain, action=None, where=None):
        self._t = Transformer(domain, None, where)
        self.action = action

    def __call__(self, df: DataFrame, action=None) -> None:
        act = action or self.action
        if act is None:
            raise FaconneError("Iterator needs an action (ctor or call arg)")

        def _part(rows):
            for r in rows:
                act(r.asDict(recursive=True))

        self._t.bind(df).foreachPartition(_part)

    def rows(self, df: DataFrame):
        for r in self._t.bind(df).toLocalIterator():
            yield r.asDict(recursive=True)

    def explain(self, df: DataFrame, mode: str = "formatted") -> None:
        self._t.bind(df).explain(mode)


def transform(data, domain, range_, where=None, spark=None) -> DataFrame:
    """One-shot transform (reference ``f/transform``, core.cljc:25-28).

    ``data`` may be a DataFrame or a nested Python literal (converted via
    :func:`faconne_spark.dsl.pyobj.to_df` — driver-side, for small data /
    parity tests only).
    """
    df = _ensure_df(data, spark, domain)
    return Transformer(domain, range_, where)(df)


def for_each(data, domain, action, where=None, spark=None) -> None:
    """Side-effecting traversal (reference ``f/for-each``,
    core.cljc:30-33): ``action`` receives a dict of bound vars per leaf,
    executed distributed via ``foreachPartition``."""
    df = _ensure_df(data, spark, domain)
    flat = Transformer(domain, None, where).bind(df)

    def _part(rows):
        for r in rows:
            action(r.asDict(recursive=True))

    flat.foreachPartition(_part)


def _ensure_df(data, spark, domain=None) -> DataFrame:
    if isinstance(data, DataFrame):
        return data
    from faconne_spark.dsl.pyobj import to_df

    return to_df(data, spark=spark, domain=domain)
