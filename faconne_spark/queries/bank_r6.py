"""Round-6 gate-key bank: query/oracle pairs built and cross-engine
tested THIS round but intentionally NOT registered — the round-5
driver window is full (see queries/__init__.py).  Round 6 wires these
into curation.py's QUERIES/ORACLES; tests/test_bank_r6.py already
runs each pair driver-style against DuckDB, so registration is a move,
not new work."""

from __future__ import annotations

from pyspark.sql import functions as F

from faconne_spark.queries import T

KMV_K = 64
KMV_DOMAIN_F = float(1 << 60)


def events_kmv_distinct(spark, sf):
    """KMV distinct-user sketch per event type (scalar columns only —
    the hash list stays operator-side; the gate compares n_kept, θ,
    and the estimate)."""
    from faconne_spark.operators.sketches import kmv_sketch

    ev = T(spark, sf, "events")
    return kmv_sketch(
        ev, "event_type", "cast(user_id as string)", KMV_K
    ).select("event_type", "n_kept", "theta", F.round("est_distinct", 6).alias("est_distinct"))


# shared KMV sketch CTE over the events user stream (both oracles
# consume it verbatim so they cannot drift)
KMV_EVENTS_CTE = """WITH hashed AS (
  SELECT DISTINCT event_type AS grp,
         ('0x' || substr(md5(cast(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events),
ranked AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM hashed)"""


ORACLE_KMV_DISTINCT = f"""
{KMV_EVENTS_CTE}
SELECT grp AS event_type, count(*)::BIGINT AS n_kept,
       max(h) AS theta,
       round(CASE WHEN count(*) < {KMV_K} THEN count(*)::DOUBLE
            ELSE ({KMV_K} - 1) * {KMV_DOMAIN_F} / max(h) END, 6)
         AS est_distinct
FROM ranked WHERE rn <= {KMV_K}
GROUP BY grp
"""


def events_kmv_overlap(spark, sf):
    """Pairwise audience intersection/union estimates from the KMV
    sketches — the sketched face of events_audience_overlap (compare
    the two keys to see estimator quality at gate scale)."""
    from faconne_spark.operators.sketches import kmv_overlap, kmv_sketch

    ev = T(spark, sf, "events")
    sk = kmv_sketch(ev, "event_type", "cast(user_id as string)", KMV_K)
    return kmv_overlap(sk, "event_type", KMV_K).select(
        "type_a", "type_b", "n_pool", "theta", "rho",
        F.round("est_union", 6).alias("est_union"),
        F.round("est_intersection", 6).alias("est_intersection"),
    )


ORACLE_KMV_OVERLAP = f"""
{KMV_EVENTS_CTE},
sk AS (SELECT grp, h FROM ranked WHERE rn <= {KMV_K}),
pairs AS (
  SELECT a.grp AS ga, b.grp AS gb
  FROM (SELECT DISTINCT grp FROM sk) a
  JOIN (SELECT DISTINCT grp FROM sk) b ON a.grp < b.grp),
pooled AS (
  SELECT p.ga, p.gb, s.h,
         max(CASE WHEN s.grp = p.ga THEN 1 ELSE 0 END) AS a_has,
         max(CASE WHEN s.grp = p.gb THEN 1 ELSE 0 END) AS b_has
  FROM pairs p JOIN sk s ON s.grp IN (p.ga, p.gb)
  GROUP BY p.ga, p.gb, s.h),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
  FROM pooled)
SELECT ga AS type_a, gb AS type_b,
       count(*)::BIGINT AS n_pool,
       max(h) AS theta,
       sum(CASE WHEN a_has = 1 AND b_has = 1 THEN 1 ELSE 0 END)::BIGINT
         AS rho,
       round(CASE WHEN count(*) < {KMV_K} THEN count(*)::DOUBLE
            ELSE ({KMV_K} - 1) * {KMV_DOMAIN_F} / max(h) END, 6)
         AS est_union,
       round((sum(CASE WHEN a_has = 1 AND b_has = 1 THEN 1 ELSE 0 END)
              / count(*)::DOUBLE)
             * CASE WHEN count(*) < {KMV_K} THEN count(*)::DOUBLE
               ELSE ({KMV_K} - 1) * {KMV_DOMAIN_F} / max(h) END, 6)
         AS est_intersection
FROM rk WHERE rn <= {KMV_K}
GROUP BY ga, gb
"""


def customer_order_golden(spark, sf):
    """Golden order profile per customer: survivorship over the order
    history (latest status/priority/price by order date, order-key
    tie-break) + conflict gauges — relational.golden_record on the
    natural o_custkey clustering."""
    from faconne_spark.operators.relational import golden_record

    from faconne_spark.session import spread

    # optimization r13 (guide §2.5 input parallelism): the 3
    # countDistinct aggregates EXPAND every row x4 and the partial
    # aggregate buffers per-field structs — all on the single-split
    # orders scan's one task without this; spread() is a no-op at
    # cluster scale
    orders = spread(T(spark, sf, "orders")).select(
        "o_custkey", "o_orderkey",
        F.expr("unix_date(cast(o_orderdate as date))").alias("od"),
        "o_orderstatus", "o_orderpriority",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    return golden_record(
        orders, "o_custkey", "o_orderkey",
        ["o_orderstatus", "o_orderpriority", "o_totalprice"], "od",
    )


ORACLE_ORDER_GOLDEN = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         (cast(o_orderdate AS DATE) - DATE '1970-01-01') AS od,
         o_orderstatus, o_orderpriority,
         round(o_totalprice, 2) AS o_totalprice
  FROM orders)
SELECT o_custkey,
       count(*)::BIGINT AS n_records,
       first(o_orderstatus ORDER BY (o_orderstatus IS NOT NULL) DESC,
             od DESC, o_orderkey ASC) AS o_orderstatus,
       count(DISTINCT o_orderstatus)::BIGINT AS n_o_orderstatus_values,
       first(o_orderpriority ORDER BY (o_orderpriority IS NOT NULL) DESC,
             od DESC, o_orderkey ASC) AS o_orderpriority,
       count(DISTINCT o_orderpriority)::BIGINT AS n_o_orderpriority_values,
       first(o_totalprice ORDER BY (o_totalprice IS NOT NULL) DESC,
             od DESC, o_orderkey ASC) AS o_totalprice,
       count(DISTINCT o_totalprice)::BIGINT AS n_o_totalprice_values,
       first(o_orderkey ORDER BY od DESC, o_orderkey ASC) AS survivor_id
FROM o GROUP BY o_custkey
"""

BANK_QUERIES = {
    "events_kmv_distinct": events_kmv_distinct,
    "events_kmv_overlap": events_kmv_overlap,
    "customer_order_golden": customer_order_golden,
}
BANK_ORACLES = {
    "events_kmv_distinct": ORACLE_KMV_DISTINCT,
    "events_kmv_overlap": ORACLE_KMV_OVERLAP,
    "customer_order_golden": ORACLE_ORDER_GOLDEN,
}


# ------------------------------------------- FS link scoring gate key

FS_MAX_LEV = 1
FS_M = {"c_mktsegment": 0.95, "bal_bucket": 0.7}


def customer_fs_scores(spark, sf):
    """Fellegi–Sunter match weights over the blocked fuzzy candidate
    pairs: u-probabilities estimated from the customer table itself
    (fs_u_probs), m priors fixed, per-field micro-log weights + total
    LLR per pair — the scoring stage between blocked_fuzzy_pairs and
    golden_record."""
    from faconne_spark.operators import relational as R

    cust = T(spark, sf, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 1000).cast("long")
    )
    pairs = R.blocked_fuzzy_pairs(
        cust, "c_custkey", "c_name", ["c_nationkey"], FS_MAX_LEV
    )
    attrs = cust.select("c_custkey", "c_mktsegment", "bal_bucket")
    p2 = (
        pairs.join(
            attrs.select(
                F.col("c_custkey").alias("id_a"),
                F.col("c_mktsegment").alias("seg_a"),
                F.col("bal_bucket").alias("bb_a"),
            ),
            "id_a",
        )
        .join(
            attrs.select(
                F.col("c_custkey").alias("id_b"),
                F.col("c_mktsegment").alias("seg_b"),
                F.col("bal_bucket").alias("bb_b"),
            ),
            "id_b",
        )
        .select("id_a", "id_b", "lev", "seg_a", "seg_b", "bb_a", "bb_b")
    )
    u = R.fs_u_probs(cust, ["c_mktsegment", "bal_bucket"])
    return R.fs_link_scores(
        p2,
        {"c_mktsegment": "seg_a = seg_b", "bal_bucket": "bb_a = bb_b"},
        u,
        FS_M,
    ).select(
        "id_a", "id_b", "lev",
        "w_c_mktsegment", "w_bal_bucket", "llr_micro",
    )


ORACLE_FS_SCORES = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey, c_name, c_mktsegment,
         floor(c_acctbal / 1000)::BIGINT AS bal_bucket,
         substr(c_name, 1, greatest(length(c_name) - 2, 0)) AS name_block
  FROM customer),
u_seg AS (
  SELECT greatest(sum(c * (c - 1)) / (sum(c) * (sum(c) - 1)),
                  1.0 / (sum(c) * (sum(c) - 1))) AS u
  FROM (SELECT count(*) AS c FROM c WHERE c_mktsegment IS NOT NULL
        GROUP BY c_mktsegment)),
u_bb AS (
  SELECT greatest(sum(c * (c - 1)) / (sum(c) * (sum(c) - 1)),
                  1.0 / (sum(c) * (sum(c) - 1))) AS u
  FROM (SELECT count(*) AS c FROM c WHERE bal_bucket IS NOT NULL
        GROUP BY bal_bucket)),
pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         levenshtein(a.c_name, b.c_name)::INTEGER AS lev,
         a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
         a.bal_bucket AS bb_a, b.bal_bucket AS bb_b
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey AND a.name_block = b.name_block
   AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= {FS_MAX_LEV}),
scored AS (
  SELECT p.*,
         CASE WHEN p.seg_a = p.seg_b THEN
           cast(round(ln({FS_M["c_mktsegment"]} / us.u) * 1000000, 0)
                AS BIGINT)
         ELSE
           cast(round(ln({1.0 - FS_M["c_mktsegment"]} / (1 - us.u))
                * 1000000, 0) AS BIGINT)
         END AS w_c_mktsegment,
         CASE WHEN p.bb_a = p.bb_b THEN
           cast(round(ln({FS_M["bal_bucket"]} / ub.u) * 1000000, 0)
                AS BIGINT)
         ELSE
           cast(round(ln({1.0 - FS_M["bal_bucket"]} / (1 - ub.u))
                * 1000000, 0) AS BIGINT)
         END AS w_bal_bucket
  FROM pairs p CROSS JOIN u_seg us CROSS JOIN u_bb ub)
SELECT id_a, id_b, lev, w_c_mktsegment, w_bal_bucket,
       w_c_mktsegment + w_bal_bucket AS llr_micro
FROM scored
"""

BANK_QUERIES["customer_fs_scores"] = customer_fs_scores
BANK_ORACLES["customer_fs_scores"] = ORACLE_FS_SCORES


# ------------------------------------------- directed rule confidence

def orders_basket_confidence(spark, sf):
    """Directed association rules over order baskets: confidence
    P(B|A) = n(A,B)/n(A) for BOTH directions of every pair the
    orders_basket_lift gate key reports — the rule-ranking complement
    of its symmetric lift (confidence is what a recommender thresholds
    on).  Same linear pair-join shape; emits two directed rows per
    undirected pair."""
    from faconne_spark.queries.curation import MIN_COOC

    items = (
        T(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    cnt = items.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    pairs = (
        items.alias("a")
        .join(items.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("antecedent"),
            F.col("b.l_partkey").alias("consequent"),
        )
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= MIN_COOC)
    )
    return pairs.join(
        cnt.select(
            F.col("l_partkey").alias("antecedent"),
            F.col("cnt").alias("n_antecedent"),
        ),
        "antecedent",
    ).select(
        "antecedent", "consequent", "pair_n", "n_antecedent",
        F.round(F.col("pair_n") / F.col("n_antecedent"), 6).alias(
            "confidence"
        ),
    )


def _oracle_basket_confidence() -> str:
    from faconne_spark.queries.curation import MIN_COOC

    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
cnt AS (SELECT l_partkey, count(*)::BIGINT AS cnt FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
         count(*)::BIGINT AS pair_n
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_COOC})
SELECT p.antecedent, p.consequent, p.pair_n, c.cnt AS n_antecedent,
       round(p.pair_n / c.cnt::DOUBLE, 6) AS confidence
FROM pairs p JOIN cnt c ON c.l_partkey = p.antecedent
"""


BANK_QUERIES["orders_basket_confidence"] = orders_basket_confidence
BANK_ORACLES["orders_basket_confidence"] = _oracle_basket_confidence()


# ------------------------------------------- per-brand skyline

def part_skyline_by_brand(spark, sf):
    """Independent price/size Pareto frontier per brand — the grouped
    skyline (every window partitions by brand: NOTHING in the plan is
    global, the fully-parallel variant of part_skyline)."""
    from faconne_spark.operators.relational import skyline2d
    from faconne_spark.queries.curation import SKY_BUCKET_CENTS

    p = T(spark, sf, "part").select(
        "p_brand", "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias(
            "price_c"
        ),
        "p_size",
    )
    return skyline2d(
        p, "p_partkey", "price_c", "p_size", SKY_BUCKET_CENTS, ["p_brand"]
    ).select(
        "p_brand", "p_partkey",
        F.round(F.col("price_c") / 100.0, 2).alias("price"),
        "p_size",
    )


ORACLE_SKYLINE_BRAND = """
WITH p AS (
  SELECT p_brand, p_partkey,
         (round(p_retailprice * 100, 0))::BIGINT AS price_c, p_size
  FROM part),
w AS (
  SELECT *,
         max(p_size) OVER (PARTITION BY p_brand ORDER BY price_c
                           RANGE BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS mc,
         max(p_size) OVER (PARTITION BY p_brand, price_c) AS ms
  FROM p)
SELECT p_brand, p_partkey, round(price_c / 100.0, 2) AS price, p_size
FROM w
WHERE (mc IS NULL OR mc < p_size) AND ms <= p_size
"""

BANK_QUERIES["part_skyline_by_brand"] = part_skyline_by_brand
BANK_ORACLES["part_skyline_by_brand"] = ORACLE_SKYLINE_BRAND


# ------------------------------------------- vocabulary-size estimation

VOCAB_KMV_K = 128


def docs_vocab_kmv(spark, sf):
    """Per-source vocabulary-size estimate via a KMV sketch over the
    token stream, with the exact distinct-token count alongside as
    calibration — the vocabulary-growth gauge a corpus dashboard
    tracks without ever materializing the distinct token set (the
    exact column is the gate-scale calibration, documented droppable
    at 100 TB exactly like the HLL keys')."""
    from faconne_spark.functions import tokens_ws
    from faconne_spark.operators.sketches import kmv_sketch

    toks = T(spark, sf, "documents").select(
        "source",
        F.explode(F.expr(tokens_ws("text", "spark"))).alias("tok"),
    ).filter(F.col("tok") != "")
    sk = kmv_sketch(toks, "source", "tok", VOCAB_KMV_K).select(
        "source", "n_kept", "theta",
        F.round("est_distinct", 6).alias("est_vocab"),
    )
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("n_vocab_exact")
    )
    return sk.join(exact, "source")


def _oracle_vocab_kmv() -> str:
    from faconne_spark.functions import tokens_ws
    from faconne_spark.queries.bank_r6 import KMV_DOMAIN_F

    return f"""
WITH toks AS (
  SELECT source, unnest({tokens_ws('text', 'duckdb')}) AS tok
  FROM documents),
tf AS (SELECT source, tok FROM toks WHERE tok <> ''),
hashed AS (
  SELECT DISTINCT source AS grp,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM tf),
ranked AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM hashed),
sk AS (
  SELECT grp AS source, count(*)::BIGINT AS n_kept, max(h) AS theta,
         round(CASE WHEN count(*) < {VOCAB_KMV_K} THEN count(*)::DOUBLE
              ELSE ({VOCAB_KMV_K} - 1) * {KMV_DOMAIN_F} / max(h) END, 6)
           AS est_vocab
  FROM ranked WHERE rn <= {VOCAB_KMV_K} GROUP BY grp),
exact AS (
  SELECT source, count(DISTINCT tok)::BIGINT AS n_vocab_exact
  FROM tf GROUP BY source)
SELECT s.source, s.n_kept, s.theta, s.est_vocab, e.n_vocab_exact
FROM sk s JOIN exact e USING (source)
"""


BANK_QUERIES["docs_vocab_kmv"] = docs_vocab_kmv
BANK_ORACLES["docs_vocab_kmv"] = _oracle_vocab_kmv()


# ------------------------------------------------- evaluation stats
# (operators/evalstats.py — AUC, Poisson bootstrap, KS drift, kappa)

def events_auc_purchase(spark, sf):
    """Per-day Mann–Whitney AUC of event value as a purchase
    predictor — the distributed classifier-eval staple (tie-averaged,
    exact-integer numerator; see evalstats.auc_mann_whitney)."""
    from faconne_spark.operators.evalstats import auc_mann_whitney

    ev = T(spark, sf, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    return auc_mann_whitney(
        ev, F.col("event_type") == "purchase", "value", ["day"]
    )


ORACLE_AUC_PURCHASE = """
WITH base AS (
  SELECT ts::DATE AS day, value AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL),
hist AS (
  SELECT day, s, sum(y)::BIGINT AS pos, sum(1 - y)::BIGINT AS neg
  FROM base GROUP BY 1, 2),
cum AS (
  SELECT day, pos, neg,
         coalesce(sum(neg) OVER (PARTITION BY day ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
  FROM hist)
SELECT day, sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg,
       CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
         round(sum(pos * (2 * cneg + neg))::BIGINT
               / (2.0 * sum(pos) * sum(neg)), 6)
       END AS auc
FROM cum GROUP BY day
"""

BANK_QUERIES["events_auc_purchase"] = events_auc_purchase
BANK_ORACLES["events_auc_purchase"] = ORACLE_AUC_PURCHASE


BOOT_B = 32
BOOT_MICRO = 1_000_000


def events_value_bootstrap(spark, sf):
    """Per-type mean event value with a Poisson(1)-bootstrap
    percentile CI — error bars in ONE pass, no global resample (see
    evalstats.poisson_bootstrap_mean)."""
    from faconne_spark.operators.evalstats import poisson_bootstrap_mean

    return poisson_bootstrap_mean(
        T(spark, sf, "events"),
        ["event_type"], "value", "event_id",
        n_boot=BOOT_B, micro=BOOT_MICRO,
    )


def _oracle_value_bootstrap() -> str:
    from faconne_spark.operators.evalstats import poisson_weight_sql

    u = (
        "('0x' || substr(md5(event_id::VARCHAR || ':' || b::VARCHAR),"
        f" 1, 15))::BIGINT / {float(1 << 60)!r}"
    )
    return f"""
WITH rep AS (
  SELECT event_type,
         event_id,
         cast(round(value * {BOOT_MICRO}) AS BIGINT) AS vm,
         unnest(range(0, {BOOT_B})) AS b
  FROM events WHERE value IS NOT NULL),
weighted AS (
  SELECT event_type, b, vm,
         {poisson_weight_sql(f'({u})')} AS w
  FROM rep),
reps AS (
  SELECT event_type, b,
         sum(w)::BIGINT AS nw, sum(w * vm)::BIGINT AS sw
  FROM weighted GROUP BY 1, 2),
means AS (
  SELECT event_type, b, sw / (nw * {float(BOOT_MICRO)!r}) AS mb
  FROM reps WHERE nw > 0),
ranked AS (
  SELECT event_type, b, mb,
         row_number() OVER (PARTITION BY event_type ORDER BY mb, b) AS rk,
         count(*) OVER (PARTITION BY event_type) AS nb
  FROM means),
ci AS (
  SELECT event_type, max(nb)::BIGINT AS n_boot,
         round(min(CASE WHEN rk = 2 THEN mb END), 6) AS ci_lo,
         round(min(CASE WHEN rk = nb - 1 THEN mb END), 6) AS ci_hi
  FROM ranked GROUP BY 1),
base AS (
  SELECT event_type, count(*)::BIGINT AS n,
         round(sum(cast(round(value * {BOOT_MICRO}) AS BIGINT))::BIGINT
               / (count(*) * {float(BOOT_MICRO)!r}), 6) AS mean_value
  FROM events WHERE value IS NOT NULL GROUP BY 1)
SELECT base.event_type, n, mean_value, n_boot, ci_lo, ci_hi
FROM base JOIN ci USING (event_type)
"""


BANK_QUERIES["events_value_bootstrap"] = events_value_bootstrap
BANK_ORACLES["events_value_bootstrap"] = _oracle_value_bootstrap()


# KS grid: power-of-two width so the float bin math is exact scaling in
# both engines; values beyond lo + width·n_bins clamp into the top bin.
KS_LO, KS_WIDTH, KS_BINS = 0.0, 8.0, 64


def events_ks_value_drift(spark, sf):
    """One-vs-rest binned two-sample KS per event type over the value
    distribution — slice-drift detection without a per-pair global
    sort (see evalstats.ks_drift)."""
    from faconne_spark.operators.evalstats import ks_drift

    return ks_drift(
        T(spark, sf, "events"), "event_type", "value",
        KS_LO, KS_WIDTH, KS_BINS,
    )


# The one binned-histogram CTE shared by the KS and quantile-
# normalization oracles (mirrors evalstats.ks_binned).
KS_BINNED_CTE = f"""binned AS (
  SELECT event_type AS grp,
         cast(least(greatest(floor((value - {KS_LO!r}) / {KS_WIDTH!r}),
           0), {KS_BINS - 1}) AS INT) AS bin,
         count(*)::BIGINT AS n_gb
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)"""


ORACLE_KS_DRIFT = f"""
WITH {KS_BINNED_CTE},
grid AS (
  SELECT g.grp, b.bin
  FROM (SELECT DISTINCT grp FROM binned) g
  CROSS JOIN (SELECT DISTINCT bin FROM binned) b),
tot AS (SELECT bin, sum(n_gb)::BIGINT AS n_b FROM binned GROUP BY 1),
cells AS (
  SELECT grid.grp, grid.bin,
         coalesce(n_gb, 0) AS n_in_b,
         n_b - coalesce(n_gb, 0) AS n_out_b
  FROM grid
  LEFT JOIN binned ON binned.grp = grid.grp AND binned.bin = grid.bin
  JOIN tot ON tot.bin = grid.bin),
cum AS (
  SELECT grp,
         sum(n_in_b) OVER (PARTITION BY grp ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_in,
         sum(n_out_b) OVER (PARTITION BY grp ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_out,
         sum(n_in_b) OVER (PARTITION BY grp) AS n_in,
         sum(n_out_b) OVER (PARTITION BY grp) AS n_out
  FROM cells)
SELECT grp AS event_type,
       max(n_in)::BIGINT AS n_in, max(n_out)::BIGINT AS n_out,
       CASE WHEN max(n_in) > 0 AND max(n_out) > 0 THEN
         round(max(abs(c_in * n_out - c_out * n_in))
               / (max(n_in) * max(n_out) * 1.0), 6)
       END AS ks_d
FROM cum GROUP BY grp
"""

BANK_QUERIES["events_ks_value_drift"] = events_ks_value_drift
BANK_ORACLES["events_ks_value_drift"] = ORACLE_KS_DRIFT


# Two deterministic document raters for the kappa gate key: length
# (n_chars >= 300 ~ the corpus median) vs low-stopword-rate
# (('the' + 'a') token share <= 2/25, compared by integer
# cross-multiplication so no float threshold exists).
KAPPA_NCHARS = 300
KAPPA_STOP_NUM, KAPPA_STOP_DEN = 2, 25


def docs_rater_kappa(spark, sf):
    """Per-source Cohen's kappa between the length rater and the
    stopword-rate rater — the agreement gauge for any pair of quality
    classifiers (see evalstats.cohens_kappa)."""
    from faconne_spark.functions import tokens_ws
    from faconne_spark.operators.evalstats import cohens_kappa

    toks = (
        T(spark, sf, "documents")
        .select(
            "doc_id", "source", "n_chars",
            F.explode(F.expr(tokens_ws("text", "spark"))).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    feats = toks.groupBy("doc_id", "source").agg(
        F.max("n_chars").alias("nc"),
        F.count("*").alias("ntok"),
        F.sum(
            F.when(F.col("tok").isin("the", "a"), 1).otherwise(0)
        ).alias("nstop"),
    )
    return cohens_kappa(
        feats,
        F.col("nc") >= KAPPA_NCHARS,
        F.col("nstop") * KAPPA_STOP_DEN
        <= F.col("ntok") * KAPPA_STOP_NUM,
        ["source"],
    )


def _oracle_rater_kappa() -> str:
    from faconne_spark.functions import tokens_ws

    return f"""
WITH toks AS (
  SELECT doc_id, source, n_chars,
         unnest({tokens_ws('text', 'duckdb')}) AS tok
  FROM documents),
feats AS (
  SELECT doc_id, source, max(n_chars) AS nc, count(*)::BIGINT AS ntok,
         sum(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END)::BIGINT
           AS nstop
  FROM toks WHERE tok <> '' GROUP BY 1, 2),
rated AS (
  SELECT source,
         CASE WHEN nc >= {KAPPA_NCHARS} THEN 1 ELSE 0 END AS a,
         CASE WHEN nstop * {KAPPA_STOP_DEN} <= ntok * {KAPPA_STOP_NUM}
           THEN 1 ELSE 0 END AS b
  FROM feats),
agg AS (
  SELECT source, count(*)::BIGINT AS n,
         sum(a)::BIGINT AS a1, sum(b)::BIGINT AS b1,
         sum(a * b)::BIGINT AS n11,
         sum((1 - a) * (1 - b))::BIGINT AS n00
  FROM rated GROUP BY 1)
SELECT source, n, (n11 + n00)::BIGINT AS n_agree, a1, b1,
       CASE WHEN n * n - (a1 * b1 + (n - a1) * (n - b1)) > 0 THEN
         round((n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1)))
               / ((n * n - (a1 * b1 + (n - a1) * (n - b1))) * 1.0), 6)
         + 0.0
       END AS kappa
FROM agg
"""


BANK_QUERIES["docs_rater_kappa"] = docs_rater_kappa
BANK_ORACLES["docs_rater_kappa"] = _oracle_rater_kappa()


# ------------------------------------------------- graph + sweep-line

# Spark peels to the fixed point (ConvergenceError-guarded); the
# oracle unrolls KCORE_UNROLL rounds — enough iff the graph's peel
# depth fits, which the canon compare verifies loudly at every SF.
KCORE_K, KCORE_UNROLL, KCORE_MIN_W = 2, 8, 2


def _copurchase_pairs(spark, sf):
    """The part co-purchase pair graph (parts co-ordered in >=
    KCORE_MIN_W distinct orders) — the ONE Spark build shared by the
    k-core and link-prediction keys, mirroring COPURCHASE_CTE on the
    oracle side so the two keys can never drift apart."""
    li = (
        T(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("id_a"),
            F.col("b.l_partkey").alias("id_b"),
        )
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= KCORE_MIN_W)
        .select("id_a", "id_b")
    )


# Shared oracle CTEs for the co-purchase graph.  MATERIALIZED is
# load-bearing: chained CTEs referenced twice per round inline without
# it, doubling the plan per round (2^UNROLL copies of the pair build,
# which spills the machine at sf0.1).
COPURCHASE_CTE = f"""li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prs AS MATERIALIZED (
  SELECT a.l_partkey AS id_a, b.l_partkey AS id_b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {KCORE_MIN_W}),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION ALL SELECT id_b, id_a FROM prs)"""


def part_copurchase_kcore(spark, sf):
    """k-core of the part co-purchase graph: the densely co-bought
    assortment after peeling incidental pairings (see
    dedup.kcore_nodes — fixed-point peeling; survivors reported with
    in-core degree)."""
    from faconne_spark.operators.dedup import kcore_nodes

    return kcore_nodes(
        _copurchase_pairs(spark, sf), k=KCORE_K
    ).withColumnRenamed("doc_id", "l_partkey")


def _oracle_kcore() -> str:
    ctes = [
        COPURCHASE_CTE,
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM edges)",
    ]
    prev = "a0"
    for i in range(1, KCORE_UNROLL + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT doc_id, degree FROM (
    SELECT e.src AS doc_id, count(*)::BIGINT AS degree
    FROM edges e
    JOIN {prev} s ON e.src = s.doc_id
    JOIN {prev} t ON e.dst = t.doc_id
    GROUP BY 1)
  WHERE degree >= {KCORE_K})"""
        )
        prev = f"a{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT doc_id AS l_partkey, degree FROM a{KCORE_UNROLL}"
    )


BANK_QUERIES["part_copurchase_kcore"] = part_copurchase_kcore
BANK_ORACLES["part_copurchase_kcore"] = _oracle_kcore()


CONCUR_MINUTES = 5


def events_day_concurrency(spark, sf):
    """Peak concurrent activity per day, treating each event as a
    5-minute half-open interval — the sweep-line capacity gauge (see
    relational.interval_concurrency)."""
    from faconne_spark.operators.relational import interval_concurrency

    ev = T(spark, sf, "events").select(
        F.to_date("ts").alias("day"),
        F.col("ts").alias("s"),
        F.expr(f"ts + INTERVAL {CONCUR_MINUTES} MINUTES").alias("e"),
    )
    return interval_concurrency(ev, "s", "e", ["day"])


ORACLE_DAY_CONCURRENCY = f"""
WITH pts AS (
  SELECT ts::DATE AS day, ts AS t, 1 AS d FROM events
  UNION ALL
  SELECT ts::DATE AS day, ts + INTERVAL {CONCUR_MINUTES} MINUTE AS t,
         -1 AS d
  FROM events),
run AS (
  SELECT day, d,
         sum(d) OVER (PARTITION BY day ORDER BY t, d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
  FROM pts)
SELECT day,
       sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)::BIGINT AS n_intervals,
       max(r)::BIGINT AS max_concurrent
FROM run GROUP BY day
"""

BANK_QUERIES["events_day_concurrency"] = events_day_concurrency
BANK_ORACLES["events_day_concurrency"] = ORACLE_DAY_CONCURRENCY


# ------------------------------------------------- rank fusion

RRF_POOL, RRF_TOPK, RRF_KCONST, RRF_PREFIX = 20, 10, 60, 16


def ann_rrf_fusion(spark, sf):
    """Reciprocal-rank fusion of the exact full-dimension cosine
    ranking with a 16-dim Matryoshka-prefix probe ranking — the
    coarse+fine retrieval combiner that needs no score calibration
    (see similarity.rrf_fuse; integer micro-score sum)."""
    from faconne_spark.operators.similarity import cosine_topk, rrf_fuse
    from faconne_spark.queries.pipeline import ANN_NQ

    emb = T(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_NQ)
    full = cosine_topk(emb, queries, RRF_POOL)
    pre = cosine_topk(
        emb.select(
            "vec_id", F.expr(f"slice(embedding, 1, {RRF_PREFIX})").alias("embedding")
        ),
        queries.select(
            "vec_id", F.expr(f"slice(embedding, 1, {RRF_PREFIX})").alias("embedding")
        ),
        RRF_POOL,
        # optimization r13: unroll the probe's dot at the slice width
        # (the default dim=64 fails the size guard on 16-wide arrays →
        # interpreted fold); identical values either way
        dim=RRF_PREFIX,
    )
    return rrf_fuse([full, pre], RRF_KCONST, RRF_TOPK)


def _oracle_rrf() -> str:
    from faconne_spark.functions import cosine_sim
    from faconne_spark.operators.similarity import RRF_MICRO
    from faconne_spark.queries.pipeline import ANN_NQ

    def rank_cte(a, b):
        cs = cosine_sim(a, b, "duckdb")
        return f"""(
  SELECT q_id, vec_id, rk FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round({cs}, 6) DESC, c.vec_id) AS rk
    FROM embeddings c
    JOIN embeddings q ON q.vec_id < {ANN_NQ} AND c.vec_id != q.vec_id)
  WHERE rk <= {RRF_POOL})"""

    full = rank_cte("c.embedding", "q.embedding")
    pre = rank_cte(
        f"c.embedding[1:{RRF_PREFIX}]", f"q.embedding[1:{RRF_PREFIX}]"
    )
    return f"""
WITH full_rk AS {full},
pre_rk AS {pre},
uni AS (SELECT * FROM full_rk UNION ALL SELECT * FROM pre_rk),
sc AS (
  SELECT q_id, vec_id,
         sum(cast(round({RRF_MICRO} / ({RRF_KCONST} + rk)) AS BIGINT))::BIGINT
           AS sm,
         count(*)::BIGINT AS n_lists
  FROM uni GROUP BY 1, 2)
SELECT q_id, vec_id, n_lists,
       round(sm / {float(RRF_MICRO)!r}, 6) AS rrf_score, rrf_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
    ORDER BY sm DESC, vec_id) AS rrf_rank
  FROM sc)
WHERE rrf_rank <= {RRF_TOPK}
"""


BANK_QUERIES["ann_rrf_fusion"] = ann_rrf_fusion
BANK_ORACLES["ann_rrf_fusion"] = _oracle_rrf()


# ------------------------------------------------- Benford screen

def events_benford(spark, sf):
    """First-digit Benford deviation of event values per type — the
    fabricated/degenerate-numbers screen (see
    evalstats.benford_deviation; exact-integer deviations, worst digit
    by unique ordering value)."""
    from faconne_spark.operators.evalstats import benford_deviation

    return benford_deviation(T(spark, sf, "events"), "event_type", "value")


def _oracle_benford() -> str:
    from faconne_spark.operators.evalstats import benford_case_sql

    case = benford_case_sql("digit")
    return f"""
WITH base AS (
  SELECT event_type AS grp, cast(round(value * 100) AS BIGINT) AS c
  FROM events),
digits AS (
  SELECT grp,
         cast(substr(cast(c AS VARCHAR), 1, 1) AS INT) AS digit
  FROM base WHERE c >= 1),
obs AS (SELECT grp, digit, count(*)::BIGINT AS n_d FROM digits GROUP BY 1, 2),
grid AS (
  SELECT g.grp, d.digit
  FROM (SELECT DISTINCT grp FROM obs) g
  CROSS JOIN (SELECT unnest(range(1, 10))::INT AS digit) d),
cells AS (
  SELECT grid.grp, grid.digit, coalesce(n_d, 0) AS n_d
  FROM grid LEFT JOIN obs
    ON obs.grp = grid.grp AND obs.digit = grid.digit),
wn AS (
  SELECT grp, digit, n_d, sum(n_d) OVER (PARTITION BY grp) AS n
  FROM cells),
dv AS (
  SELECT grp, digit, n_d, n,
         abs(n_d * 1000000 - {case} * n) AS dev
  FROM wn)
SELECT grp AS event_type, max(n)::BIGINT AS n,
       sum(CASE WHEN n_d > 0 THEN 1 ELSE 0 END)::BIGINT AS n_digits_seen,
       arg_max(digit, dev * 16 - digit) AS worst_digit,
       round(sum(dev) / (9000000.0 * max(n)), 6) AS benford_mad
FROM dv GROUP BY grp
"""


BANK_QUERIES["events_benford"] = events_benford
BANK_ORACLES["events_benford"] = _oracle_benford()


# ------------------------------------------------- link prediction

RA_TOPK = 3


def part_copurchase_ra(spark, sf):
    """Resource-allocation link prediction over the part co-purchase
    graph: which not-yet-co-bought part pairs share the most (and
    rarest) co-purchase neighbors — the recommendation face of the
    same graph part_copurchase_kcore peels (see
    dedup.ra_link_prediction; integer micro-weights, no per-row log)."""
    from faconne_spark.operators.dedup import ra_link_prediction

    return ra_link_prediction(_copurchase_pairs(spark, sf), RA_TOPK)


def _oracle_ra() -> str:
    from faconne_spark.operators.dedup import RA_MICRO

    return f"""
WITH {COPURCHASE_CTE},
deg AS MATERIALIZED (
  SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
wedge AS (
  SELECT e1.src AS w, e1.dst AS a, e2.dst AS b
  FROM edges e1 JOIN edges e2
    ON e1.src = e2.src AND e1.dst < e2.dst),
cand AS (
  SELECT a AS id_a, b AS id_b, count(*)::BIGINT AS n_common,
         sum(cast(round({RA_MICRO}.0 / d.deg) AS BIGINT))::BIGINT AS sm
  FROM wedge JOIN deg d ON d.src = wedge.w
  GROUP BY 1, 2),
nonadj AS (
  SELECT c.id_a, c.id_b, c.n_common, c.sm
  FROM cand c ANTI JOIN prs p
    ON p.id_a = c.id_a AND p.id_b = c.id_b),
bothdir AS (
  SELECT id_a, id_b, n_common, sm FROM nonadj
  UNION ALL
  SELECT id_b, id_a, n_common, sm FROM nonadj)
SELECT id_a, id_b, n_common,
       round(sm / {float(RA_MICRO)!r}, 6) AS ra_score, rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY id_a
    ORDER BY sm DESC, id_b) AS rk
  FROM bothdir)
WHERE rk <= {RA_TOPK}
"""


BANK_QUERIES["part_copurchase_ra"] = part_copurchase_ra
BANK_ORACLES["part_copurchase_ra"] = _oracle_ra()


JAC_TOPK = 3


def part_copurchase_jaccard(spark, sf):
    """Neighborhood-Jaccard link prediction over the SAME co-purchase
    graph as the RA key (new in round 6): what FRACTION of the two
    parts' combined neighborhoods agrees — the degree-normalized
    complement of RA's rare-neighbor weighting (compare the two
    rankings to see hub effects; see dedup.jaccard_link_prediction,
    pure-BIGINT micro scores)."""
    from faconne_spark.operators.dedup import jaccard_link_prediction

    return jaccard_link_prediction(_copurchase_pairs(spark, sf), JAC_TOPK)


def _oracle_jaccard() -> str:
    from faconne_spark.functions import jaccard_micro_sql

    jm = jaccard_micro_sql(
        "n.n_common", "(da.deg + db.deg - n.n_common)", "duckdb"
    )
    return f"""
WITH {COPURCHASE_CTE},
deg AS MATERIALIZED (
  SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
wedge AS (
  SELECT e1.src AS w, e1.dst AS a, e2.dst AS b
  FROM edges e1 JOIN edges e2
    ON e1.src = e2.src AND e1.dst < e2.dst),
cand AS (
  SELECT a AS id_a, b AS id_b, count(*)::BIGINT AS n_common
  FROM wedge GROUP BY 1, 2),
nonadj AS (
  SELECT c.id_a, c.id_b, c.n_common
  FROM cand c ANTI JOIN prs p
    ON p.id_a = c.id_a AND p.id_b = c.id_b),
scored AS (
  SELECT n.id_a, n.id_b, n.n_common,
         {jm} AS jm
  FROM nonadj n
  JOIN deg da ON da.src = n.id_a
  JOIN deg db ON db.src = n.id_b),
bothdir AS (
  SELECT id_a, id_b, n_common, jm FROM scored
  UNION ALL
  SELECT id_b, id_a, n_common, jm FROM scored)
SELECT id_a, id_b, n_common, jm::BIGINT AS jac_micro, rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY id_a
    ORDER BY jm DESC, id_b) AS rk
  FROM bothdir)
WHERE rk <= {JAC_TOPK}
"""


BANK_QUERIES["part_copurchase_jaccard"] = part_copurchase_jaccard
BANK_ORACLES["part_copurchase_jaccard"] = _oracle_jaccard()


# ------------------------------------------- quantile normalization

def events_quantile_normalize(spark, sf):
    """Quantile-normalize each event type's value distribution onto
    the pooled distribution (the cross-source score-calibration step;
    see evalstats.quantile_normalize — integer cross-multiplied ECDF
    comparison on the KS grid)."""
    from faconne_spark.operators.evalstats import quantile_normalize

    return quantile_normalize(
        T(spark, sf, "events"), "event_type", "value",
        KS_LO, KS_WIDTH, KS_BINS,
    )


ORACLE_QUANTILE_NORMALIZE = f"""
WITH {KS_BINNED_CTE},
cells AS (
  SELECT grp, bin, n_gb,
         sum(n_gb) OVER (PARTITION BY grp ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g,
         sum(n_gb) OVER (PARTITION BY grp) AS n_g
  FROM binned),
pooled AS (SELECT bin, sum(n_gb)::BIGINT AS n_pb FROM binned GROUP BY 1),
pool AS (
  SELECT bin AS pbin,
         sum(n_pb) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
         sum(n_pb) OVER () AS n_p
  FROM pooled),
mapped AS (
  SELECT grp, bin, n_gb, min(pbin) AS mapped_bin
  FROM cells JOIN pool
    ON cast(cum_p AS DECIMAL(38, 0)) * n_g
       >= cast(cum_g AS DECIMAL(38, 0)) * n_p
  GROUP BY 1, 2, 3)
SELECT grp AS event_type, bin, n_gb AS n, mapped_bin,
       round({KS_LO!r} + (mapped_bin + 0.5) * {KS_WIDTH!r}, 6)
         AS mapped_value
FROM mapped
"""

BANK_QUERIES["events_quantile_normalize"] = events_quantile_normalize
BANK_ORACLES["events_quantile_normalize"] = ORACLE_QUANTILE_NORMALIZE


# ------------------------------------------- weighted quantiles

WQ_BOUNDS = (0.0, 500.0)
WQ_BINS = 64
WQ_QS = (0.5, 0.95)


def events_value_weighted_quantiles(spark, sf):
    """Value-weighted value quantiles per event type — "the median
    dollar's transaction size": half the total value sits below the
    p50 estimate (see relational.weighted_histogram_quantiles; also
    the read-off for DSIR/priority-sample importance weights)."""
    from faconne_spark.operators.relational import (
        weighted_histogram_quantiles,
    )

    return weighted_histogram_quantiles(
        T(spark, sf, "events"), "value", "value", "event_type",
        WQ_BOUNDS, WQ_BINS, WQ_QS,
    )


def _oracle_weighted_quantiles() -> str:
    from fractions import Fraction

    lo, hi = (
        int(round(WQ_BOUNDS[0] * 1_000_000)),
        int(round(WQ_BOUNDS[1] * 1_000_000)),
    )
    us = "cast(floor(value * 1000000 + 0.5) AS BIGINT)"
    arms = []
    for q in WQ_QS:
        f = Fraction(str(q))
        arms.append(
            f"""SELECT event_type, {q} AS q,
       round(cast({lo} + (2 * _qbin + 1)
         * cast({hi} - {lo} + 1 AS BIGINT)
         // {2 * WQ_BINS} AS DOUBLE) / 1000000.0, 6) AS estimate
FROM (
  SELECT event_type, min(_bin) AS _qbin
  FROM cum WHERE _cum * {f.denominator} >= _total * {f.numerator}
  GROUP BY event_type)"""
        )
    return f"""
WITH pre AS (
  SELECT event_type,
         cast(round(value * 1000000) AS BIGINT) AS _wm,
         cast((least(greatest({us}, {lo}), {hi}) - {lo}) * {WQ_BINS}
           // ({hi} - {lo} + 1) AS INT) AS _bin
  FROM events
  WHERE value IS NOT NULL
    AND cast(round(value * 1000000) AS BIGINT) > 0),
binned AS (
  SELECT event_type, _bin, sum(_wm)::BIGINT AS _mass
  FROM pre GROUP BY 1, 2),
cum AS (
  SELECT event_type, _bin,
         sum(_mass) OVER (PARTITION BY event_type ORDER BY _bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum,
         sum(_mass) OVER (PARTITION BY event_type) AS _total
  FROM binned)
{" UNION ALL ".join(arms)}
"""


BANK_QUERIES["events_value_weighted_quantiles"] = (
    events_value_weighted_quantiles
)
BANK_ORACLES["events_value_weighted_quantiles"] = (
    _oracle_weighted_quantiles()
)


# ------------------------------------------------- mutual information

def events_type_value_mi(spark, sf):
    """Per-day mutual information between event type and the value
    bin — the model-free feature-relevance gauge (does the value
    distribution know the event type, and does that relationship
    drift by day?).  See evalstats.mutual_information (micro-rounded
    ln, exact-integer sum)."""
    from faconne_spark.operators.evalstats import (
        ks_bin_sql,
        mutual_information,
    )

    ev = (
        T(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.expr(ks_bin_sql("value", KS_LO, KS_WIDTH, KS_BINS)).alias(
                "vbin"
            ),
        )
    )
    return mutual_information(ev, "event_type", "vbin", ["day"])


ORACLE_TYPE_VALUE_MI = f"""
WITH base AS (
  SELECT ts::DATE AS day, event_type AS x,
         cast(least(greatest(floor((value - {KS_LO!r}) / {KS_WIDTH!r}),
           0), {KS_BINS - 1}) AS INT) AS y
  FROM events WHERE value IS NOT NULL),
joint AS (
  SELECT day, x, y, count(*)::BIGINT AS n_xy FROM base GROUP BY 1, 2, 3),
nx AS (SELECT day, x, sum(n_xy)::BIGINT AS n_x FROM joint GROUP BY 1, 2),
ny AS (SELECT day, y, sum(n_xy)::BIGINT AS n_y FROM joint GROUP BY 1, 2),
nt AS (SELECT day, sum(n_xy)::BIGINT AS n FROM joint GROUP BY 1),
cells AS (
  SELECT j.day, j.x, j.y, j.n_xy, t.n, mx.n_x, my.n_y,
         cast(round(ln((cast(j.n_xy AS DOUBLE) / mx.n_x)
           * (cast(t.n AS DOUBLE) / my.n_y)) * 1000000, 0) AS BIGINT) AS l
  FROM joint j
  JOIN nx mx ON mx.day = j.day AND mx.x = j.x
  JOIN ny my ON my.day = j.day AND my.y = j.y
  JOIN nt t ON t.day = j.day)
SELECT day, max(n)::BIGINT AS n,
       count(DISTINCT x)::BIGINT AS n_x_values,
       count(DISTINCT y)::BIGINT AS n_y_values,
       sum(n_xy * l)::BIGINT AS mi_micro
FROM cells GROUP BY day
"""

BANK_QUERIES["events_type_value_mi"] = events_type_value_mi
BANK_ORACLES["events_type_value_mi"] = ORACLE_TYPE_VALUE_MI


# ------------------------------------------------- entropy gauge

def events_type_entropy(spark, sf):
    """Per-day Shannon entropy of the event-type mix — the traffic-
    diversity gauge (h_micro = entropy in micro-nats times n; see
    evalstats.categorical_entropy, the marginal companion of the MI
    key)."""
    from faconne_spark.operators.evalstats import categorical_entropy

    ev = T(spark, sf, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    return categorical_entropy(ev, "event_type", ["day"])


ORACLE_TYPE_ENTROPY = """
WITH counts AS (
  SELECT ts::DATE AS day, event_type AS s, count(*)::BIGINT AS n_s
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
nt AS (SELECT day, sum(n_s)::BIGINT AS n FROM counts GROUP BY 1),
cells AS (
  SELECT c.day, c.n_s, t.n,
         cast(round(ln(cast(c.n_s AS DOUBLE) / t.n) * 1000000, 0)
           AS BIGINT) AS l
  FROM counts c JOIN nt t ON t.day = c.day)
SELECT day, max(n)::BIGINT AS n, count(*)::BIGINT AS n_symbols,
       (-sum(n_s * l))::BIGINT AS h_micro
FROM cells GROUP BY day
"""

BANK_QUERIES["events_type_entropy"] = events_type_entropy
BANK_ORACLES["events_type_entropy"] = ORACLE_TYPE_ENTROPY


# Round 6 registered this bank: queries/__init__._merged consumes the
# module like any other registry source.  The BANK_* names stay for the
# r5-era tests (test_bank_r6.py runs each pair driver-style at 3 SFs,
# test_plans.py pins the plan contracts) — same dicts, two names.
QUERIES = BANK_QUERIES
ORACLES = BANK_ORACLES
