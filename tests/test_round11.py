"""Round-11 wave tests: driver-style 3-SF gate mirror for the nine
analytics keys, a partitioning-invariance sweep, and independent
plain-Python replays of the statistics (Ljung–Box, Gini, MAD,
recurrence gaps, reciprocity) — the replay discipline that has caught
one staging bug per round since r9."""

import math
import os

import pytest
from oracle_pairs import canon, rows_by_partition_count

WAVE_KEYS = [
    "events_daily_acf_ljungbox",
    "events_value_mad_by_type",
    "events_value_gini_by_type",
    "docs_word_recurrence_gap",
    "docs_vocab_gini",
    "docs_length_freq_spearman",
    "lineitem_qty_twoway_anova",
    "customer_segment_welch_pairs",
    "embed_panel_knn_reciprocity",
]

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]



@pytest.mark.parametrize("key", WAVE_KEYS)
@pytest.mark.parametrize("sfd", SF_DIRS)
def test_wave_key_matches_oracle(key, sfd, spark):
    import duckdb

    from faconne_spark.queries import all_oracles, all_queries

    spark_pdf = all_queries()[key](spark, sfd).toPandas()
    con = duckdb.connect()
    for t in (
        "events", "orders", "customer", "lineitem", "part",
        "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{os.path.join(sfd, t)}.parquet')"
        )
    duck_pdf = con.execute(all_oracles()[key]).df()
    assert len(spark_pdf) > 0, f"{key} vacuous at {sfd}"
    assert canon(spark_pdf) == canon(duck_pdf), f"{key} @ {sfd}"


def test_wave_partitioning_invariance(spark, sf_dir):
    from faconne_spark.queries import all_queries

    qs = all_queries()
    results = rows_by_partition_count(spark, sf_dir, {k: qs[k] for k in WAVE_KEYS})
    for k, (a, b) in results.items():
        assert a == b, f"{k} differs across partitioning"


# ---------------------------------------------------- replays


def _events(sfd):
    import duckdb

    return duckdb.sql(
        f"SELECT ts::DATE AS d, event_type, event_id,"
        f" floor(value * 1000000 + 0.5)::BIGINT AS v"
        f" FROM read_parquet('{sfd}/events.parquet')"
    ).fetchall()


def test_ljungbox_replay(spark):
    """Plain-Python Ljung–Box over sf0.001 reproduces the engine row
    exactly — the decimal-div-lint class killer (per-lag micro
    rounding replayed with the same half-away-from-zero rule)."""
    sfd = SF_DIRS[0]
    from collections import Counter

    from faconne_spark.queries import all_queries

    daily = Counter(d for d, *_ in _events(sfd))
    days = sorted(daily)
    xs = [daily[d] for d in days]
    n = len(xs)
    s = sum(xs)
    y = [n * x - s for x in xs]
    den = sum(t * t for t in y)
    rhos, terms = [], []
    for k in range(1, 8):
        num = sum(y[i] * y[i + k] for i in range(n - k))
        rho = int(
            math.floor(abs(num / den * 1e6) + 0.5)
            * (1 if num >= 0 else -1)
        )
        rhos.append(rho)
        terms.append(int(math.floor(abs(rho * rho / (n - k)) + 0.5)))
    q = round(n * (n + 2) * sum(terms) / 1e12, 6)
    row = (
        all_queries()["events_daily_acf_ljungbox"](spark, sfd)
        .collect()[0]
        .asDict()
    )
    assert row["n_days"] == n
    for k in range(1, 8):
        assert row[f"rho{k}_micro"] == rhos[k - 1], k
    assert row["lb_q"] == pytest.approx(q, abs=1e-9)


def test_value_gini_replay(spark):
    sfd = SF_DIRS[0]
    from collections import defaultdict

    from faconne_spark.queries import all_queries

    vals = defaultdict(list)
    for _d, et, _eid, v in _events(sfd):
        vals[et].append(v)
    rows = {
        r["event_type"]: r
        for r in all_queries()["events_value_gini_by_type"](
            spark, sfd
        ).collect()
    }
    for et, vs in vals.items():
        vs.sort()
        nn, sv = len(vs), sum(vs)
        srv = sum((i + 1) * v for i, v in enumerate(vs))
        g = round((2.0 * srv - (nn + 1.0) * sv) / (nn * float(sv)), 6)
        assert rows[et]["n_events"] == nn
        assert rows[et]["gini"] == pytest.approx(g, abs=1e-9)


def test_mad_replay(spark):
    sfd = SF_DIRS[0]
    from collections import defaultdict
    from statistics import median

    from faconne_spark.queries import all_queries

    vals = defaultdict(list)
    for _d, et, _eid, v in _events(sfd):
        vals[et].append(v)
    rows = {
        r["event_type"]: r
        for r in all_queries()["events_value_mad_by_type"](
            spark, sfd
        ).collect()
    }
    for et, vs in vals.items():
        med2 = int(math.floor(2 * median(vs) + 0.5))
        devs = [abs(2 * v - med2) for v in vs]
        mad4 = int(math.floor(2 * median(devs) + 0.5))
        assert rows[et]["med_x2"] == med2
        assert rows[et]["mad_x4"] == mad4


def test_recurrence_gap_replay(spark):
    """Brute-force per-source recurrence gaps over sf0.001."""
    import duckdb

    from faconne_spark.queries import all_queries

    sfd = SF_DIRS[0]
    docs = duckdb.sql(
        f"SELECT source, lower(text) FROM"
        f" read_parquet('{sfd}/documents.parquet')"
    ).fetchall()
    from collections import defaultdict

    gaps = defaultdict(list)
    for src, text in docs:
        last = {}
        for i, w in enumerate(text.split()):
            if w in last:
                gaps[src].append(i - last[w])
            last[w] = i
    rows = {
        r["source"]: r
        for r in all_queries()["docs_word_recurrence_gap"](
            spark, sfd
        ).collect()
    }
    from statistics import median

    for src, gs in gaps.items():
        r = rows[src]
        assert r["n_recurrences"] == len(gs)
        assert r["max_gap"] == max(gs)
        assert r["med_gap_x2"] == int(math.floor(2 * median(gs) + 0.5))
        assert r["mean_gap_micro_x1"] == int(
            math.floor(sum(gs) / len(gs) + 0.5)
        )


def test_knn_reciprocity_replay(spark):
    """Brute-force the panel edge set and reciprocity at sf0.001."""
    from faconne_spark.operators.relational import sample_panel
    from faconne_spark.queries import T, all_queries

    sfd = SF_DIRS[0]
    panel = sample_panel(
        T(spark, sfd, "embeddings"), "vec_id", 400, salt="knn"
    ).collect()
    vecs = {r["vec_id"]: list(r["embedding"]) for r in panel}

    def cm(a, b):
        dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        na = math.sqrt(sum(x * x for x in vecs[a]))
        nb = math.sqrt(sum(x * x for x in vecs[b]))
        r = dot / (na * nb) * 1e6
        return int(math.floor(abs(r) + 0.5) * (1 if r >= 0 else -1))

    edges = set()
    for a in vecs:
        ranked = sorted(
            ((cm(a, b), b) for b in vecs if b != a),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        edges.update((a, b) for _c, b in ranked)
    mutual = sum(1 for a, b in edges if (b, a) in edges)
    row = all_queries()["embed_panel_knn_reciprocity"](
        spark, sfd
    ).collect()[0]
    assert row["n_edges"] == len(edges)
    assert row["n_mutual"] == mutual
    assert row["reciprocity_micro"] == (
        2 * 1000000 * mutual + len(edges)
    ) // (2 * len(edges))
