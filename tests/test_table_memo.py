"""``queries.T`` memoizes each table's lazy DataFrame per Spark
application, on the assumption that table files are immutable."""

import collections

import pyarrow as pa
import pyarrow.parquet as pq

from faconne_spark import queries as Q


def _write(d, values):
    d.mkdir(exist_ok=True)
    pq.write_table(pa.table({"v": values}), str(d / "t.parquet"))


def test_memo_assumes_immutable_tables(spark, tmp_path):
    _write(tmp_path / "v1", [1, 2])
    first = Q.T(spark, str(tmp_path / "v1"), "t")
    assert first.count() == 2
    # rewritten in place: T() keeps the first listing, by contract
    _write(tmp_path / "v1", [1, 2, 3])
    assert Q.T(spark, str(tmp_path / "v1"), "t") is first
    # a changed table goes to a new directory, which T() reads afresh
    _write(tmp_path / "v2", [1, 2, 3])
    assert Q.T(spark, str(tmp_path / "v2"), "t").count() == 3


def test_memo_evicts_least_recently_used(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(Q, "_T_MEMO", collections.OrderedDict())
    monkeypatch.setattr(Q, "_T_MEMO_MAX", 2)
    dirs = []
    for i in range(3):
        _write(tmp_path / f"d{i}", [i])
        dirs.append(str(tmp_path / f"d{i}"))
    first = Q.T(spark, dirs[0], "t")
    Q.T(spark, dirs[1], "t")
    assert Q.T(spark, dirs[0], "t") is first  # d0 is now the most recent
    Q.T(spark, dirs[2], "t")  # evicts d1, the least recently used
    app = spark.sparkContext.applicationId
    assert list(Q._T_MEMO) == [(app, dirs[0], "t"), (app, dirs[2], "t")]
