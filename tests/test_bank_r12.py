"""Cross-engine verification of the round-12 STAGING bank (built in
round 11, deliberately unregistered): each query/oracle pair runs
driver-style (pandas sort + canon compare) against DuckDB at the test
SF — so round-12 registration inherits already-proven pairs (the
bank_r6…bank_r11 precedent).  The constant-table keys (Filliben
normal scores, Weibull plot positions) and the per-cell-ln keys
(Theil, KL) carry plain-Python replays so the decimal-literal/rounding
trap class is caught at staging time (it has bitten three rounds
running)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from faconne_spark.queries.bank_r12 import BANK_ORACLES, BANK_QUERIES  # noqa: E402
from oracle_pairs import assert_pair_matches, rows_by_partition_count  # noqa: E402


@pytest.mark.parametrize("name", sorted(BANK_QUERIES))
def test_bank_r12_pair_matches_oracle(spark, sf_dir, duck, name):
    got = BANK_QUERIES[name](spark, sf_dir).toPandas()
    want = duck.sql(BANK_ORACLES[name]).df()
    got.columns = [c.lower() for c in got.columns]
    want.columns = [c.lower() for c in want.columns]
    assert len(got) > 0, f"{name} vacuous"
    assert_pair_matches(name, got, want)


def test_bank_r12_partitioning_invariant(spark, sf_dir):
    """Identical results under different shuffle-partition counts —
    the rank windows (Gini/Lorenz/kruskal), the top-k cutoffs
    (χ² word set, sign-balance top-8), and the lag windows (gap
    median, CUSUM running sums) are the partition-sensitive shapes."""
    results = rows_by_partition_count(spark, sf_dir, BANK_QUERIES)
    for k, (r5, r32) in results.items():
        assert r5 == r32, f"{k}: partition-count-dependent output"


# --------------------------------------------------- constant replays


def test_filliben_normal_scores_replay():
    """The Φ⁻¹ decile literals replayed from scratch (Acklam/Moro-free:
    bisection on the error function) — the constant-table trap killer."""
    from faconne_spark.queries.bank_r12 import _NORM_SCORE_MICRO

    def phi(z):
        return 0.5 * (1 + math.erf(z / math.sqrt(2)))

    for i, want in enumerate(_NORM_SCORE_MICRO, start=1):
        lo, hi = -8.0, 8.0
        for _ in range(80):
            mid = (lo + hi) / 2
            if phi(mid) < i / 10:
                lo = mid
            else:
                hi = mid
        z = (lo + hi) / 2
        assert round(z * 1e6) == want, (i, z, want)


def test_weibull_plot_positions_replay():
    from faconne_spark.queries.bank_r12 import _WEIBULL_Y_MICRO

    for j, want in enumerate(_WEIBULL_Y_MICRO, start=1):
        y = math.log(-math.log(1 - j / 20))
        assert round(y * 1e6) == want, (j, y, want)


def test_theil_replay(spark, sf_dir):
    """Plain-Python Theil T per type with the same per-cell micro-ln
    rounding — the engines could agree on a WRONG constant (the r10
    Gumbel lesson); this pins the math itself."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT event_type, floor(value * 1000000 + 0.5)::BIGINT"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    from collections import Counter, defaultdict

    per = defaultdict(Counter)
    for et, v in rows:
        per[et][v] += 1
    got = {
        r["event_type"]: r
        for r in BANK_QUERIES["events_value_theil_by_type"](
            spark, sf_dir
        ).collect()
    }
    for et, cnt in per.items():
        n = sum(cnt.values())
        sv = sum(c * v for v, c in cnt.items())
        t = 0
        for v, c in cnt.items():
            if v <= 0:
                continue
            ln = math.log(n * v / sv)
            ln_micro = math.floor(abs(ln) * 1e6 + 0.5) * (
                1 if ln >= 0 else -1
            )
            t += c * v * ln_micro
        want = round(t / (1e6 * sv), 6)
        assert got[et]["theil_t"] == pytest.approx(want, abs=1e-9), et
        assert got[et]["n_events"] == n


def test_hour_kl_replay(spark, sf_dir):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT event_type, extract(hour FROM ts)::INT"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    from collections import Counter, defaultdict

    per = defaultdict(Counter)
    for et, h in rows:
        per[et][h] += 1
    got = {
        r["event_type"]: r
        for r in BANK_QUERIES["events_hour_kl_uniform"](
            spark, sf_dir
        ).collect()
    }
    for et, cnt in per.items():
        n = sum(cnt.values())
        t = 0
        for _h, c in cnt.items():
            ln = math.log(24.0 * c / n)
            t += c * (
                math.floor(abs(ln) * 1e6 + 0.5) * (1 if ln >= 0 else -1)
            )
        want = round(t / (1e6 * n), 6)
        assert got[et]["kl_uniform_nats"] == pytest.approx(
            want, abs=1e-9
        ), et


def test_cusum_replay(spark, sf_dir):
    """Brute-force the exactly-scaled CUSUM maximum and its argmax."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT ts::DATE, count(*) FROM"
        f" read_parquet('{sf_dir}/events.parquet') GROUP BY 1 ORDER BY 1"
    ).fetchall()
    xs = [c for _d, c in rows]
    days = [d for d, _c in rows]
    nd, s = len(xs), sum(xs)
    best_m, best_d = -1, None
    st = 0
    for t, (d, x) in enumerate(zip(days, xs), start=1):
        st += x
        m = abs(nd * st - t * s)
        if m > best_m:
            best_m, best_d = m, d
    row = BANK_QUERIES["events_daily_cusum_max"](spark, sf_dir).collect()[0]
    assert row["max_abs_m"] == best_m
    assert row["cusum_day"] == str(best_d)
    yy = sum((nd * x - s) ** 2 for x in xs)
    assert row["cusum_ratio"] == pytest.approx(
        round(best_m / (nd * math.sqrt(yy / nd)), 6), abs=1e-9
    )


def test_ks_matrix_replay(spark, sf_dir):
    """Brute-force the pairwise binned KS for one type pair."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT event_type, value FROM"
        f" read_parquet('{sf_dir}/events.parquet')"
        f" WHERE value IS NOT NULL"
    ).fetchall()
    from collections import Counter, defaultdict

    B, LO, W = 64, 0.0, 8.0
    hist = defaultdict(Counter)
    for et, v in rows:
        b = int((v - LO) // W)
        hist[et][min(max(b, 0), B - 1)] += 1
    types = sorted(hist)
    got = {
        (r["type_a"], r["type_b"]): r
        for r in BANK_QUERIES["events_type_value_ks_matrix"](
            spark, sf_dir
        ).collect()
    }
    assert len(got) == len(types) * (len(types) - 1) // 2
    a, b = types[0], types[1]
    na, nb = sum(hist[a].values()), sum(hist[b].values())
    ca = cb = gap = 0
    for i in range(B):
        ca += hist[a][i]
        cb += hist[b][i]
        gap = max(gap, abs(ca * nb - cb * na))
    r = got[(a, b)]
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["ks_d"] == pytest.approx(round(gap / (na * nb), 6), abs=1e-9)


def test_gap_autocorr_replay(spark, sf_dir):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT user_id, epoch_us(ts)::BIGINT FROM"
        f" read_parquet('{sf_dir}/events.parquet') ORDER BY user_id, 2"
    ).fetchall()
    from collections import defaultdict

    per = defaultdict(list)
    for u, t in rows:
        per[u].append(t)
    xs, ys = [], []
    for u, ts in per.items():
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        for g0, g1 in zip(gaps, gaps[1:]):
            ys.append(g0)  # prev_gap
            xs.append(g1)  # gap
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    num = n * sxy - sx * sy
    den = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    row = BANK_QUERIES["events_user_gap_autocorr"](
        spark, sf_dir
    ).collect()[0]
    assert row["n_gap_pairs"] == n
    assert row["gap_autocorr"] == pytest.approx(
        round(num / den, 6), abs=1e-9
    )


def test_anderson_darling_replay(spark, sf_dir):
    """Brute-force the discrete Pettitt A² with the same per-bin
    micro rounding."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT ((ts::DATE - DATE '1970-01-01') % 7 IN (2, 3))::INT,"
        f" least(greatest(floor((value - 0.0) / 2.0), 0), 255)::INT"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    from collections import Counter

    c1, c2 = Counter(), Counter()
    for we, b in rows:
        (c1 if we else c2)[b] += 1
    n1, n2 = sum(c1.values()), sum(c2.values())
    N = n1 + n2
    f1 = bb = 0
    total = 0
    for b in sorted(set(c1) | set(c2)):
        f1 += c1[b]
        wgt = c1[b] + c2[b]
        bb += wgt
        if 0 < bb < N:
            term = (
                wgt * (f1 * N - n1 * bb) ** 2
                / (bb * (N - bb)) / (n1 * n2) * 1e6
            )
            total += math.floor(abs(term) + 0.5)
    row = BANK_QUERIES["events_weekend_anderson_darling"](
        spark, sf_dir
    ).collect()[0]
    assert (row["n_weekend"], row["n_weekday"]) == (n1, n2)
    assert row["ad_sum_micro"] == total
    assert row["ad_stat"] == pytest.approx(round(total / 1e6, 6), abs=1e-9)
