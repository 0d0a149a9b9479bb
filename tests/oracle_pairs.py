"""Helpers shared by the per-module oracle-pair tests: the driver-style
compare (pandas sort + canon text) and the shuffle-partition
invariance run."""

import pandas as pd


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )
    cols = []
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            col = col.round(9)
        elif col.dtype.kind in "iu":
            col = col.astype("int64")
        cols.append(col.astype(str))
    return pd.concat(cols, axis=1).to_csv(index=False)


def assert_pair_matches(name: str, got: pd.DataFrame, want: pd.DataFrame):
    assert len(got) == len(want), name
    assert sorted(got.columns) == sorted(want.columns), name
    assert canon(got) == canon(want), name


def rows_by_partition_count(spark, sf_dir, queries: dict) -> dict:
    """Each query's sorted, stringified rows at 5 and at 32 shuffle
    partitions: ``{key: [rows_at_5, rows_at_32]}``."""
    from faconne_spark.operators.dedup import release_caches

    before = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for k in sorted(queries):
                rows = sorted(
                    tuple(map(str, r))
                    for r in queries[k](spark, sf_dir).collect()
                )
                results.setdefault(k, []).append(rows)
                release_caches()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    return results
