"""Property tests (SURVEY §5.2): random structures conforming to a
domain — including empty branches — transformed by the Spark engine and
checked against hand-written Python oracles, mirroring the reference's
``gen-structure-from-domain`` random-extension strategy
(test/core.clj:7-32).

Each DSL property runs twice: on the literal itself, which plans as one
partition with no exchange, and on the same rows repartitioned to three
partitions, which keeps the shuffle plans (hash-partitioned grouping,
full-outer deep-merge joins) checked against the oracle too."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from faconne_spark import Agg, Keys, SetOf, V, collect_nested, to_df, transform


def check(spark, expected, data, domain, range_, where=None):
    literal = to_df(data, spark=spark, domain=domain)
    for label, df in (("literal", literal), ("3 partitions", literal.repartition(3))):
        got = collect_nested(transform(df, domain, range_, where=where))
        assert got == expected, label


names = st.text(
    alphabet="abcdefgh", min_size=1, max_size=3
)

PROP = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# ---- {store {aisle [product]}} → {store #{product}} -------------------

nested_2level = st.dictionaries(
    names,
    st.dictionaries(
        st.integers(0, 9), st.lists(names, max_size=4), max_size=3
    ),
    min_size=1,
    max_size=4,
)


@PROP
@given(data=nested_2level)
def test_unnest_to_set_matches_oracle(spark, data):
    expected = {}
    for store, aisles in data.items():
        for products in aisles.values():
            for p in products:
                expected.setdefault(store, set()).add(p)
    check(
        spark, expected, data,
        {V.store: {V.aisle: [V.product]}},
        {V.store: SetOf(V.product)},
    )


# ---- rows → grouped sum ----------------------------------------------

rows = st.lists(
    st.fixed_dictionaries({"k": names, "v": st.integers(-100, 100)}),
    min_size=1,
    max_size=12,
)


@PROP
@given(data=rows)
def test_group_sum_matches_oracle(spark, data):
    expected = {}
    for r in data:
        expected[r["k"]] = expected.get(r["k"], 0) + r["v"]
    check(spark, expected, data, [Keys("k", "v")], {V.k: Agg("sum(v)")})


# ---- inversion {k [x]} → {x #{k}} ------------------------------------

inv_input = st.dictionaries(
    names, st.lists(st.integers(0, 5), max_size=5), min_size=1, max_size=4
)


@PROP
@given(data=inv_input)
def test_inversion_matches_oracle(spark, data):
    expected = {}
    for k, xs in data.items():
        for x in xs:
            expected.setdefault(x, set()).add(k)
    check(spark, expected, data, {V.k: [V.x]}, {V.x: SetOf(V.k)})


# ---- where-filter ----------------------------------------------------

@PROP
@given(data=rows)
def test_where_filter_matches_oracle(spark, data):
    expected = {}
    for r in data:
        if r["v"] >= 0:
            expected.setdefault(r["k"], set()).add(r["v"])
    check(
        spark, expected, data, [Keys("k", "v")], {V.k: SetOf(V.v)},
        where=["v >= 0"],
    )


# ---- n-at-a-time vector partitioning ---------------------------------

even_ints = st.lists(
    st.integers(-50, 50), min_size=2, max_size=12
).filter(lambda l: len(l) % 2 == 0)


@PROP
@given(data=even_ints)
def test_chunk_pairs_matches_oracle(spark, data):
    expected = [data[i] + data[i + 1] for i in range(0, len(data), 2)]
    check(spark, expected, data, [V.a, V.b], ["a + b AS s"])


# ---- multi-binding map (all entry pairs) -----------------------------

kv_map = st.dictionaries(
    names, st.integers(0, 6), min_size=1, max_size=5
)


@PROP
@given(data=kv_map, target=st.integers(0, 12))
def test_entry_pairs_matches_oracle(spark, data, target):
    expected = {
        tuple(sorted((k1, k2)))
        for k1, v1 in data.items()
        for k2, v2 in data.items()
        if k1 != k2 and v1 + v2 == target
    }
    check(
        spark, expected, data,
        {V.k: V.v, V.k2: V.v2},
        SetOf(SetOf([V.k, V.k2])),
        where=["k != k2", f"v + v2 = {target}"],
    )


# ---- Agg reducers ----------------------------------------------------

@PROP
@given(data=rows)
def test_agg_max_count_matches_oracle(spark, data):
    expected = {}
    for r in data:
        e = expected.setdefault(r["k"], {"mx": r["v"], "n": 0})
        e["mx"] = max(e["mx"], r["v"])
        e["n"] += 1
    check(
        spark, expected, data, [Keys("k", "v")],
        {V.k: {"mx": Agg("max(v)"), "n": Agg("count(v)")}},
    )


# ---- corpus-statistics operators vs Python oracles --------------------

doc_rows = st.lists(
    st.fixed_dictionaries(
        {
            "doc_id": st.integers(0, 10**6),
            "text": st.text(
                alphabet="ab cd", min_size=1, max_size=40
            ).filter(lambda s: s.strip()),
        }
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda r: r["doc_id"],
)


@PROP
@given(data=doc_rows)
def test_repetition_matches_oracle(spark, data):
    from faconne_spark.operators.text import repetition_signals

    df = spark.createDataFrame(data)
    got = {
        r["doc_id"]: (r["dup_token_frac"], r["top_bigram_frac"])
        for r in repetition_signals(df).collect()
    }
    import collections

    for r in data:
        toks = r["text"].strip().lower().split()
        bgs = (
            [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
            if len(toks) > 1
            else [toks[0]]
        )
        top = collections.Counter(bgs).most_common(1)[0][1]
        want = (
            round(1.0 - len(set(toks)) / len(toks), 6),
            round(top / len(bgs), 6),
        )
        assert got[r["doc_id"]] == want, (r["text"], got[r["doc_id"]], want)


@PROP
@given(data=doc_rows)
def test_unigram_logprob_matches_oracle(spark, data):
    import math

    from faconne_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(data)
    got = {
        r["doc_id"]: (r["mean_logprob"], r["n_toks"])
        for r in unigram_logprob(df).collect()
    }
    import collections

    freq = collections.Counter(
        t for r in data for t in r["text"].strip().lower().split()
    )
    total = sum(freq.values())
    for r in data:
        toks = r["text"].strip().lower().split()
        want_lp = round(
            sum(math.log(freq[t] / total) for t in toks) / len(toks), 6
        )
        assert got[r["doc_id"]][1] == len(toks)
        assert abs(got[r["doc_id"]][0] - want_lp) <= 1e-6


@PROP
@given(data=doc_rows)
def test_token_entropy_matches_oracle(spark, data):
    import collections
    import math

    from faconne_spark.operators.text import token_entropy

    got = {
        r["doc_id"]: (r["n_toks"], r["entropy_bits"])
        for r in token_entropy(spark.createDataFrame(data)).collect()
    }
    for r in data:
        toks = r["text"].strip().lower().split()
        c = collections.Counter(toks)
        n = len(toks)
        want = round(
            -sum((v / n) * math.log2(v / n) for v in c.values()), 6
        )
        assert got[r["doc_id"]][0] == n
        assert abs(got[r["doc_id"]][1] - want) <= 1e-6, (r["text"], got[r["doc_id"]], want)


@PROP
@given(data=doc_rows)
def test_containment_matches_bruteforce(spark, data):
    """With frequency pruning disabled (huge max_df), containment pairs
    must equal the brute-force all-pairs computation."""
    from faconne_spark.operators.dedup import containment_pairs, release_caches

    df = spark.createDataFrame(data)
    got = {
        (r["id_a"], r["id_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
        for r in containment_pairs(df, max_df=10**6, threshold=0.5).collect()
    }
    release_caches()

    def shingles(text):
        toks = text.strip().split()
        n = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(n)}

    sh = {r["doc_id"]: shingles(r["text"]) for r in data}
    want = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            ca = round(inter / len(sh[a]), 6)
            cb = round(inter / len(sh[b]), 6)
            if ca >= 0.5 or cb >= 0.5:
                want[(a, b)] = (ca, cb)
    assert got == want, (got, want)


@PROP
@given(data=doc_rows)
def test_winnowing_matches_bruteforce(spark, data):
    """With pruning disabled, winnowing pair counts must equal the
    brute-force fingerprint-set intersection."""
    from faconne_spark.functions import _mh_consts  # noqa: F401 (import check)
    from faconne_spark.operators.dedup import release_caches
    from faconne_spark.operators.text import winnowing_pairs

    df = spark.createDataFrame(data)
    got = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in winnowing_pairs(
            df, n_shingle=3, w=4, min_shared=1, max_df=10**6
        ).collect()
    }
    release_caches()

    import hashlib

    def phash60(s):
        return int.from_bytes(
            hashlib.md5(s.encode()).digest()[:8], "big"
        ) % (1 << 60)

    def fps(text):
        toks = text.strip().lower().split()
        n = max(len(toks) - 2, 1)
        hs = [phash60(" ".join(toks[i : i + 3])) for i in range(n)]
        wn = max(len(hs) - 3, 1)
        return {min(hs[j : j + 4]) for j in range(wn)}

    f = {r["doc_id"]: fps(r["text"]) for r in data}
    ids = sorted(f)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = len(f[a] & f[b])
            if shared >= 1:
                want[(a, b)] = shared
    assert got == want, (got, want)
