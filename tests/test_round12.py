"""Round-12 continuation wave tests: driver-style 3-SF gate mirror
for the FLAC gate + six wave-F analytics keys, a
partitioning-invariance sweep, and independent plain-Python replays
of every statistic (the replay discipline that has caught one staging
bug per round since r9)."""

import math
import os

import pytest
from oracle_pairs import canon, rows_by_partition_count

WAVE_KEYS = [
    "mm_flac_stats",
    "events_daily_permutation_entropy",
    "events_daily_grubbs",
    "events_daily_max_drawdown",
    "events_hour_hellinger_weekend",
    "events_value_levene",
    "events_type_daily_xcorr",
    "embed_label_silhouette",
    "orders_customer_tenure_quartiles",
    "docs_source_wasserstein",
    "events_hour_tv_distance",
    "stream_ph_drift",
    "mm_gif_animation",
    "events_daily_blomqvist_beta",
    "orders_priority_shiplag_somers_d",
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

SFD = "/root/testdata/sf0.001"


def _daily_counts():
    import duckdb

    rows = duckdb.sql(
        f"SELECT ts::DATE AS d, count(*) FROM"
        f" read_parquet('{SFD}/events.parquet') GROUP BY 1 ORDER BY 1"
    ).fetchall()
    return [(d, int(c)) for d, c in rows]


def _lnmicro(x):
    # both engines: round(ln(x)*1e6, 0) — half away from zero; ln >= 0
    # for integer counts >= 1, so floor(x + 0.5) mirrors them
    return int(math.floor(math.log(x) * 1000000 + 0.5))


def test_permutation_entropy_replay(spark):
    from faconne_spark.queries import all_queries

    daily = [c for _, c in _daily_counts()]
    pats = {}
    for a, b, c in zip(daily, daily[1:], daily[2:]):
        if a <= b and a <= c and b <= c:
            p = "012"
        elif a <= b and a <= c and b > c:
            p = "021"
        elif a > b and a <= c and b <= c:
            p = "102"
        elif a <= b and a > c and b > c:
            p = "120"
        elif a > b and a > c and b <= c:
            p = "201"
        else:
            p = "210"
        pats[p] = pats.get(p, 0) + 1
    n = sum(pats.values())
    s = sum(c * _lnmicro(c) for c in pats.values())
    h_micro = _lnmicro(n) - (2 * s + n) // (2 * n)
    want = round(h_micro / 1e6, 6)
    row = (
        all_queries()["events_daily_permutation_entropy"](spark, SFD)
        .collect()[0]
    )
    assert row["n_triples"] == n
    for p in ["012", "021", "102", "120", "201", "210"]:
        assert row[f"c{p}"] == pats.get(p, 0), p
    assert abs(row["perm_entropy"] - want) < 1e-9


def test_grubbs_replay(spark):
    from faconne_spark.queries import all_queries

    daily = _daily_counts()
    n = len(daily)
    s = sum(c for _, c in daily)
    ys = [(d, n * c - s) for d, c in daily]
    maxa = max(abs(y) for _, y in ys)
    ss = sum(y * y for _, y in ys)
    peak_day, peak_y = min((d, y) for d, y in ys if abs(y) == maxa)
    q = (2 * (maxa * maxa * (n - 1) * 10**12) + ss) // (2 * ss)
    want_g = round(math.sqrt(q / 1e12), 6)
    row = all_queries()["events_daily_grubbs"](spark, SFD).collect()[0]
    assert row["n_days"] == n
    assert str(row["peak_day"]) == str(peak_day)
    assert row["peak_sign"] == (1 if peak_y > 0 else -1 if peak_y else 0)
    assert abs(row["g_stat"] - want_g) < 1e-9


def test_max_drawdown_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    rows = duckdb.sql(
        f"SELECT ts::DATE AS d,"
        f" sum(floor(value * 1000000 + 0.5)::BIGINT) FROM"
        f" read_parquet('{SFD}/events.parquet') GROUP BY 1 ORDER BY 1"
    ).fetchall()
    n = len(rows)
    s = sum(int(v) for _, v in rows)
    cum, peak, maxdd, trough = 0, None, -1, None
    for d, v in rows:
        cum += n * int(v) - s
        peak = cum if peak is None else max(peak, cum)
        dd = peak - cum
        if dd > maxdd:
            maxdd, trough = dd, d
    row = all_queries()["events_daily_max_drawdown"](spark, SFD).collect()[0]
    assert row["n_days"] == n
    assert str(row["trough_day"]) == str(trough)
    assert abs(row["max_drawdown"] - round(maxdd / (n * 1e6), 6)) < 1e-9


def test_hellinger_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    cells = duckdb.sql(
        f"SELECT extract(hour FROM ts)::INT AS h,"
        f" sum((epoch_us(ts) // 86400000000 %% 7 IN (2,3))::INT),"
        f" sum((epoch_us(ts) // 86400000000 %% 7 NOT IN (2,3))::INT)"
        f" FROM read_parquet('{SFD}/events.parquet') GROUP BY 1"
        .replace("%%", "%")
    ).fetchall()
    ta = sum(int(a) for _, a, _ in cells)
    tb = sum(int(b) for _, _, b in cells)
    t = sum(
        int(math.floor(
            math.sqrt(int(a) * int(b) / (ta * tb)) * 1000000 + 0.5
        ))
        for _, a, b in cells
    )
    row = (
        all_queries()["events_hour_hellinger_weekend"](spark, SFD)
        .collect()[0]
    )
    assert (row["n_weekend"], row["n_weekday"]) == (ta, tb)
    assert abs(row["bhattacharyya"] - round(t / 1e6, 6)) < 1e-9
    want_h = round(math.sqrt(max(0, 1000000 - t) / 1e6), 6)
    assert abs(row["hellinger"] - want_h) < 1e-9


def test_levene_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    rows = duckdb.sql(
        f"SELECT event_type, floor(value * 100 + 0.5)::BIGINT FROM"
        f" read_parquet('{SFD}/events.parquet')"
    ).fetchall()
    groups = {}
    for t, v in rows:
        groups.setdefault(t, []).append(int(v))
    k = len(groups)
    n = sum(len(g) for g in groups.values())
    s = q = t_sum = 0
    for g in groups.values():
        g.sort()
        m = len(g)
        med2 = g[(m - 1) // 2] + g[m // 2]  # 2x the cont median of ints
        zs = [abs(2 * v - med2) for v in g]
        sg, qg = sum(zs), sum(z * z for z in zs)
        s += sg
        q += qg
        t_sum += (2 * sg * sg + m) // (2 * m)
    ssb = t_sum - (2 * s * s + n) // (2 * n)
    ssw = q - t_sum
    want_f = round((float(ssb) / (k - 1)) / (float(ssw) / (n - k)), 6)
    row = all_queries()["events_value_levene"](spark, SFD).collect()[0]
    assert (row["n_types"], row["n_events"]) == (k, n)
    assert (row["ssb"], row["ssw"]) == (ssb, ssw)
    assert abs(row["bf_f"] - want_f) < 1e-9


def test_xcorr_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    rows = duckdb.sql(
        f"SELECT event_type, ts::DATE AS d, count(*) FROM"
        f" read_parquet('{SFD}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    totals = {}
    for t, _, c in rows:
        totals[t] = totals.get(t, 0) + int(c)
    order = sorted(totals, key=lambda t: (-totals[t], t))
    ta, tb = order[0], order[1]
    days = sorted({d for _, d, _ in rows})
    cn = {(t, d): int(c) for t, d, c in rows}
    xa = [cn.get((ta, d), 0) for d in days]
    xb = [cn.get((tb, d), 0) for d in days]
    out = {
        r["lag"]: r
        for r in all_queries()["events_type_daily_xcorr"](
            spark, SFD
        ).collect()
    }
    assert out[0]["type_a"] == ta and out[0]["type_b"] == tb
    for L in range(-3, 4):
        pairs = [
            (xa[i], xb[i + L])
            for i in range(len(days))
            if 0 <= i + L < len(days)
        ]
        np_ = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        dx, dy = np_ * sxx - sx * sx, np_ * syy - sy * sy
        assert out[L]["n_pairs"] == np_
        if dx > 0 and dy > 0:
            want = round(
                (np_ * sxy - sx * sy)
                / (math.sqrt(dx) * math.sqrt(dy)), 6
            )
            assert abs(out[L]["xcorr_r"] - want) < 1e-9, L
        else:
            assert out[L]["xcorr_r"] is None


def test_flac_gate_replay(spark):
    """Decode three synthesized FLAC payloads directly and check the
    stats the gate reduces to against the digest formula."""
    import hashlib

    import duckdb

    from faconne_spark.operators.multimodal import (
        flac_decode,
        synthesize_flac,
    )
    from faconne_spark.queries import T

    docs = T(spark, SFD, "documents").filter("doc_id < 3")
    media = {r["doc_id"]: bytes(r["payload"])
             for r in synthesize_flac(docs).collect()}
    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM"
            f" read_parquet('{SFD}/documents.parquet') WHERE doc_id < 3"
        ).fetchall()
    )
    for doc_id, payload in media.items():
        chans, rate, bps = flac_decode(payload)
        assert rate == 8000 and bps == 16
        d = hashlib.md5(texts[doc_id].encode()).digest()
        want = []
        for i in range(3 + d[0] % 4):
            length = 8 + d[2 + i] % 24
            kind = (i + d[1]) % 3
            if kind == 0:
                want += [0] * length
            elif kind == 1:
                want += [256 * (1 + d[8 + i] % 100)] * length
            else:
                a = -64 * (d[8 + i] % 100)
                s = 1 + d[15 - i] % 16
                want += [a + s * j for j in range(length)]
        assert chans[0] == want, doc_id


def _round_away(x):
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def test_silhouette_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    rows = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM"
        f" read_parquet('{SFD}/embeddings.parquet')"
    ).fetchall()
    vm = {vid: [_round_away(float(v) * 1e6) for v in emb]
          for vid, _, emb in rows}
    by_label = {}
    for vid, lab, emb in rows:
        by_label.setdefault(lab, []).append([float(v) for v in emb])
    cent = {
        lab: [
            _round_away(sum(vs[i] for vs in vecs) / len(vecs) * 1e6)
            for i in range(len(vecs[0]))
        ]
        for lab, vecs in by_label.items()
    }
    sums, counts = {}, {}
    for vid, lab, _ in rows:
        d2 = {
            cl: sum((a - b) ** 2 for a, b in zip(vm[vid], cm))
            for cl, cm in cent.items()
        }
        aa = d2[lab]
        bb = min(v for cl, v in d2.items() if cl != lab)
        if max(aa, bb) > 0:
            sm = _round_away(
                (math.sqrt(bb) - math.sqrt(aa))
                / math.sqrt(max(aa, bb)) * 1e6
            )
        else:
            sm = 0
        sums[lab] = sums.get(lab, 0) + sm
        counts[lab] = counts.get(lab, 0) + 1
    out = {
        r["label"]: r
        for r in all_queries()["embed_label_silhouette"](
            spark, SFD
        ).collect()
    }
    for lab in cent:
        assert out[lab]["n_vecs"] == counts[lab]
        want = round(sums[lab] / (counts[lab] * 1e6), 6)
        assert abs(out[lab]["silhouette"] - want) < 1e-9, lab


def test_tenure_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    rows = duckdb.sql(
        f"SELECT c_mktsegment,"
        f" date_diff('day', min(o_orderdate::DATE), max(o_orderdate::DATE))"
        f" FROM read_parquet('{SFD}/orders.parquet') o"
        f" JOIN read_parquet('{SFD}/customer.parquet') c"
        f" ON c_custkey = o_custkey GROUP BY c_mktsegment, o_custkey"
    ).fetchall()
    segs = {}
    for seg, t in rows:
        segs.setdefault(seg, []).append(int(t))

    def q4(xs, num):  # exact 4x quantile_cont at p = num/4
        xs = sorted(xs)
        m = len(xs)
        idx, rem = (num * (m - 1)) // 4, (num * (m - 1)) % 4
        x4 = 4 * xs[idx] + (rem * (xs[idx + 1] - xs[idx]) if rem else 0)
        return x4 / 4

    out = {
        r["c_mktsegment"]: r
        for r in all_queries()["orders_customer_tenure_quartiles"](
            spark, SFD
        ).collect()
    }
    for seg, ts in segs.items():
        r = out[seg]
        assert r["n_customers"] == len(ts)
        assert r["tenure_q1"] == q4(ts, 1), seg
        assert r["tenure_median"] == q4(ts, 2), seg
        assert r["tenure_q3"] == q4(ts, 3), seg


def test_wasserstein_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    rows = duckdb.sql(
        f"SELECT source, n_chars FROM"
        f" read_parquet('{SFD}/documents.parquet')"
    ).fetchall()
    support = sorted({v for _, v in rows})
    n = len(rows)
    out = {
        r["source"]: r
        for r in all_queries()["docs_source_wasserstein"](
            spark, SFD
        ).collect()
    }
    for src in {s for s, _ in rows}:
        mine = sorted(v for s, v in rows if s == src)
        ns = len(mine)
        total, cums, cum = 0, 0, 0
        for i, v in enumerate(support):
            cums += sum(1 for x in mine if x == v)
            cum += sum(1 for _, x in rows if x == v)
            dv = support[i + 1] - v if i + 1 < len(support) else 0
            total += abs(cums * n - cum * ns) * dv
        r = out[src]
        assert r["n_docs"] == ns
        assert abs(r["w1_chars"] - round(total / (ns * n), 6)) < 1e-9


def test_tv_distance_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    rows = duckdb.sql(
        f"SELECT event_type, extract(hour FROM ts)::INT FROM"
        f" read_parquet('{SFD}/events.parquet')"
    ).fetchall()
    nn = len(rows)
    hours = {}
    types = {}
    cells = {}
    for t, h in rows:
        hours[h] = hours.get(h, 0) + 1
        types[t] = types.get(t, 0) + 1
        cells[(t, h)] = cells.get((t, h), 0) + 1
    out = {
        r["event_type"]: r
        for r in all_queries()["events_hour_tv_distance"](
            spark, SFD
        ).collect()
    }
    for t, n in types.items():
        tot = sum(
            abs(cells.get((t, h), 0) * nn - th * n)
            for h, th in hours.items()
        )
        r = out[t]
        assert r["n_events"] == n
        assert abs(r["tv_distance"] - round(tot / (2.0 * n * nn), 6)) < 1e-9


def test_blomqvist_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    rows = duckdb.sql(
        f"SELECT ts::DATE d, count(*),"
        f" sum(floor(value * 1000000 + 0.5)::BIGINT)"
        f" FROM read_parquet('{SFD}/events.parquet') GROUP BY 1"
    ).fetchall()
    cs = sorted(int(c) for _, c, _ in rows)
    vs = sorted(int(v) for _, _, v in rows)
    m = len(cs)
    mc = cs[(m - 1) // 2] + cs[m // 2]
    mv = vs[(m - 1) // 2] + vs[m // 2]
    conc = disc = exc = 0
    for _, c, v in rows:
        sc = (2 * int(c) > mc) - (2 * int(c) < mc)
        sv = (2 * int(v) > mv) - (2 * int(v) < mv)
        if sc == 0 or sv == 0:
            exc += 1
        elif sc == sv:
            conc += 1
        else:
            disc += 1
    r = all_queries()["events_daily_blomqvist_beta"](spark, SFD).collect()[0]
    assert (r["n_days"], r["n_excluded"]) == (m, exc)
    assert (r["n_concordant"], r["n_discordant"]) == (conc, disc)
    if conc + disc:
        want = round((conc - disc) / (conc + disc), 6)
        assert abs(r["blomqvist_beta"] - want) < 1e-9


def test_somers_d_replay(spark):
    import duckdb

    from faconne_spark.queries import all_queries

    rows = duckdb.sql(
        f"SELECT substring(o_orderpriority, 1, 1)::INT,"
        f" date_diff('day', o_orderdate::DATE, l_shipdate::DATE)"
        f" FROM read_parquet('{SFD}/lineitem.parquet') li"
        f" JOIN read_parquet('{SFD}/orders.parquet') o"
        f" ON l_orderkey = o_orderkey"
    ).fetchall()
    pairs = [(int(x), int(y)) for x, y in rows]
    from collections import Counter

    grid = Counter(pairs)
    cells = list(grid.items())
    conc = disc = 0
    for (ax, ay), an in cells:
        for (bx, by), bn in cells:
            if bx < ax and by < ay:
                conc += an * bn
            elif bx < ax and by > ay:
                disc += an * bn
    ycol = Counter(y for _, y in pairs)
    ty2 = sum(s * s for s in ycol.values()) - sum(
        n * n for n in grid.values()
    )
    r = all_queries()["orders_priority_shiplag_somers_d"](
        spark, SFD
    ).collect()[0]
    assert (r["n_concordant"], r["n_discordant"]) == (conc, disc)
    assert r["n_tied_lag_only"] == ty2 // 2
    want = round(2 * (conc - disc) / (2 * (conc + disc) + ty2), 6)
    assert abs(r["somers_d"] - want) < 1e-9
