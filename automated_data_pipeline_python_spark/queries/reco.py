"""Recommendation analytics: item-item collaborative filtering over
the order history.

``reco_item_item_cosine`` is the classic neighborhood-model build
step: binarized user×item interactions → per-user frequency cap →
shared-user pair co-occurrence → cosine similarity → global top-k
pairs. It complements the market-basket family (``basket_brand_lift``
works at brand granularity on association *lift*; this works at part
granularity on *cosine* similarity, the form item-kNN recommenders
consume).

Scale shape: the interaction matrix is built in ONE orders⋈lineitem
pass; the per-user cap (top-20 items by interaction count,
deterministic item-id tiebreak) bounds the shared-user self-join at
users·cap²/2 pairs regardless of basket skew — the standard guard that
keeps item-item CF from going quadratic on power users. Counts are
exact integers; cosine = co/(√n_a·√n_b) is IEEE-identical cross-engine
(sqrt is correctly rounded by IEEE 754, inputs are exact integers),
snapped anyway per house discipline; the top-50 is totally ordered by
(cosine, item_a, item_b) so the LIMIT boundary is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.numeric import (
    sql_exact_sum,
    sql_stable_round,
)
from automated_data_pipeline_python_spark.functions.text import (
    duck_hash28,
    spark_hash28,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import register_views

_CAPPED_SQL = """
SELECT u, it FROM (
    SELECT ui.u, ui.it,
           row_number() OVER (PARTITION BY ui.u
                              ORDER BY ui.n DESC, ui.it) AS rk
    FROM (
        SELECT o_custkey AS u, l_partkey AS it,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_partkey
    ) ui
) ranked
WHERE rk <= 20
"""


def _cosine_tail(capped: str) -> str:
    return f"""
WITH item_n AS (
    SELECT it, CAST(count(*) AS BIGINT) AS n_u FROM {capped} GROUP BY it
),
pairs AS (
    SELECT a.it AS item_a, b.it AS item_b, CAST(count(*) AS BIGINT) AS co
    FROM {capped} a
    JOIN {capped} b ON a.u = b.u AND a.it < b.it
    GROUP BY a.it, b.it
    HAVING count(*) >= 2
)
SELECT p.item_a, p.item_b, p.co,
       floor((CAST(p.co AS DOUBLE)
              / (sqrt(CAST(na.n_u AS DOUBLE)) * sqrt(CAST(nb.n_u AS DOUBLE))))
             * 1e6 + 0.5) / 1e6 AS cosine_sim
FROM pairs p
JOIN item_n na ON p.item_a = na.it
JOIN item_n nb ON p.item_b = nb.it
ORDER BY cosine_sim DESC, p.item_a, p.item_b
LIMIT 50
"""


_ITEM_ITEM_DUCK = (
    "WITH capped AS (" + _CAPPED_SQL + ")\n"
    + _cosine_tail("capped").replace("WITH item_n", ", item_n", 1)
)


@register("reco_item_item_cosine", oracle=_ITEM_ITEM_DUCK)
def reco_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 item-item cosine-similar part pairs from order history.

    The capped interaction set feeds three pipeline stages (item
    counts, both sides of the pair self-join); Spark inlines CTEs, so
    it is materialized once via localCheckpoint (DuckDB materializes
    shared CTEs itself — single-statement oracle).
    """
    register_views(spark, sf_dir, "orders", "lineitem")
    materialize(spark.sql(_CAPPED_SQL), "reco_capped")
    return spark.sql(_cosine_tail("reco_capped"))


# ---------------------------------------------------------------------------
# Rank-1 ALS: one alternating-least-squares round over the
# customer x brand rating matrix
# ---------------------------------------------------------------------------
# The matrix-factorization training kernel (Koren et al. 2009) at rank
# 1, where each half-step has a closed form and the whole round is
# relational algebra:
#
#   r(u,b) = total quantity customer u bought of brand b (exact BIGINT)
#   init   v0(b) = 1            ->  u1(u) = sum_b r(u,b) / |b(u)|
#   update v1(b) = sum_u r(u,b)*u1(u) / sum_u u1(u)^2   (observed u only)
#
# plus the per-brand RMSE of r ~ u1*v1 — the convergence signal a
# driver-looped higher-rank ALS would test (rank k swaps the scalar
# divisions for k x k normal-equation solves per entity; the join/agg
# plan is unchanged, which is the point of shipping the rank-1 form).
#
# Float discipline: u1 is one snapped division of exact integers; the
# v1 numerator/denominator and the squared-error sums are cross-row
# float sums -> sql_exact_sum (1e-6-snapped terms, DECIMAL
# accumulation), so accumulation order cannot flip a digit.
#
# Scale: ratings are ONE orders JOIN lineitem JOIN part pass, then every
# stage aggregates or joins on (u) or (b) keys — no pairs anywhere;
# brand cardinality is bounded, user cardinality shuffles hash-
# partitioned. The ratings relation feeds three consumers (u-step,
# v-step, error pass) and u1 feeds two; Spark inlines CTEs, so both
# are materialized via localCheckpoint.

_ALS_RATINGS_SQL = """
SELECT o_custkey AS u, p_brand AS b,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
JOIN part ON p_partkey = l_partkey
GROUP BY o_custkey, p_brand
"""

_ALS_UFAC_TPL = """
SELECT u,
       floor((CAST(sum(r) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6 AS uf
FROM {ratings} GROUP BY u
"""


def _als_tail(ratings: str, ufac: str) -> str:
    num = sql_exact_sum("CAST(rt.r AS DOUBLE) * uf.uf", 6)
    den = sql_exact_sum("uf.uf * uf.uf", 6)
    sse = sql_exact_sum(
        "(CAST(rt.r AS DOUBLE) - uf.uf * vs.vf)"
        " * (CAST(rt.r AS DOUBLE) - uf.uf * vs.vf)", 6
    )
    return f"""
vfac AS (
    SELECT rt.b,
           CAST(count(*) AS BIGINT) AS n_users,
           {num} AS num,
           {den} AS den
    FROM {ratings} rt JOIN {ufac} uf ON uf.u = rt.u
    GROUP BY rt.b
),
vs AS (
    SELECT b, n_users,
           {sql_stable_round("num / den", 6)} AS vf
    FROM vfac
),
err AS (
    SELECT rt.b,
           {sse} AS sse,
           CAST(count(*) AS BIGINT) AS n
    FROM {ratings} rt
    JOIN {ufac} uf ON uf.u = rt.u
    JOIN vs ON vs.b = rt.b
    GROUP BY rt.b
)
SELECT vs.b AS brand,
       vs.n_users,
       vs.vf AS item_factor,
       {sql_stable_round("sqrt(err.sse / err.n)", 6)} AS rmse
FROM vs JOIN err ON err.b = vs.b
ORDER BY vs.b
"""


_ALS_DUCK_SQL = (
    "WITH ratings AS (" + _ALS_RATINGS_SQL + "),\n"
    + "ufac AS (" + _ALS_UFAC_TPL.format(ratings="ratings") + "),\n"
    + _als_tail("ratings", "ufac").replace("\nvfac AS", "\n vfac AS", 1)
)


@register("reco_als_rank1_round", oracle=_ALS_DUCK_SQL)
def reco_als_rank1_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One closed-form rank-1 ALS round over customer x brand
    quantities: per-brand item factor after the u-step/v-step pair,
    with per-brand RMSE as the convergence signal.

    Ratings feed three stages and the user factors two; Spark inlines
    CTEs, so both are materialized via localCheckpoint.
    """
    register_views(spark, sf_dir, "orders", "lineitem", "part")
    materialize(spark.sql(_ALS_RATINGS_SQL), "als_ratings")
    materialize(spark.sql(_ALS_UFAC_TPL.format(ratings="als_ratings")), "als_ufac")
    return spark.sql("WITH " + _als_tail("als_ratings", "als_ufac").lstrip())


# ---------------------------------------------------------------------------
# Temporal hit-rate evaluation of the co-purchase recommender
# ---------------------------------------------------------------------------
# The offline eval a recommender ships with: train top-3 "customers
# also bought" brand recommendations on the FIRST half of the order
# history, score them against co-purchases that actually happened in
# the SECOND half. Per source brand: how many held-out co-purchase
# partners existed, how many were in the top-3 list (hit), and the
# hit rate. Time-split (not random-split) — the honest protocol for
# transactional data, no leakage of future baskets into training.
#
# All counts are exact integers (co-purchase weights, hits); ranks are
# PARTITIONED row_number with (weight DESC, brand) total order; one
# snapped division per output row.
#
# Scale: both halves reduce to distinct (order, brand) then brand-pair
# aggregates — bounded by the brand vocabulary squared, with the
# corpus-sized work being the two scan+join passes. No global windows.

_RECO_EVAL_SQL = """
WITH mid AS (
    SELECT CAST(min(o_orderdate) AS DATE)
           + CAST(floor({div}) AS INT) AS cut
    FROM orders
),
ob AS (
    SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand,
           CASE WHEN CAST(o.o_orderdate AS DATE) < m.cut
                THEN 0 ELSE 1 END AS half
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    CROSS JOIN mid m
),
train_edges AS (
    SELECT a.brand AS src, b.brand AS dst, CAST(count(*) AS BIGINT) AS w
    FROM ob a JOIN ob b ON a.o = b.o AND a.brand <> b.brand
    WHERE a.half = 0 AND b.half = 0
    GROUP BY a.brand, b.brand
),
recs AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rk
        FROM train_edges
    ) r WHERE rk <= 3
),
test_pairs AS (
    SELECT DISTINCT a.brand AS src, b.brand AS dst
    FROM ob a JOIN ob b ON a.o = b.o AND a.brand <> b.brand
    WHERE a.half = 1 AND b.half = 1
)
SELECT t.src AS brand,
       CAST(count(*) AS BIGINT) AS n_test_partners,
       CAST(sum(CASE WHEN r.dst IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits,
       floor((CAST(sum(CASE WHEN r.dst IS NOT NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6 AS hit_rate
FROM test_pairs t
LEFT JOIN recs r ON r.src = t.src AND r.dst = t.dst
GROUP BY t.src
ORDER BY brand
"""

_RECO_EVAL_DIV = (
    "CAST(CAST(max(o_orderdate) AS DATE)"
    " - CAST(min(o_orderdate) AS DATE) AS BIGINT) {op} 2"
)


@register(
    "reco_copurchase_hitrate_eval",
    oracle=_RECO_EVAL_SQL.format(div=_RECO_EVAL_DIV.format(op="//")),
)
def reco_copurchase_hitrate_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-split offline eval of the top-3 co-purchase recommender:
    per-brand held-out partner count, hits, and hit rate (train on the
    first half of the order history, test on the second)."""
    register_views(spark, sf_dir, "orders", "lineitem", "part")
    return spark.sql(
        _RECO_EVAL_SQL.format(div=_RECO_EVAL_DIV.format(op="DIV"))
    )


# ---------------------------------------------------------------------------
# Recommendation-list coverage & diversity metrics
# ---------------------------------------------------------------------------
# The beyond-accuracy eval suite (Castells et al.): the hit-rate eval
# above asks "are the recommendations right"; this asks "are they
# varied" — the metrics that catch a recommender collapsing onto
# popular items. Over the top-3 co-purchase lists:
#   * catalog coverage — share of the brand catalog that appears in
#     ANY list;
#   * intra-list diversity — per list, 1 − (same-family pair share)
#     using the Brand#XY family digit, averaged over lists;
#   * recommendation entropy — Shannon entropy of how often each
#     brand is recommended (max = ln(n_recommended) under perfect
#     balance).
#
# Counts are exact integers; per-list diversity and per-brand entropy
# terms snap (1e-6 / 1e-9) before order-independent exact sums; three
# final snapped divisions.
#
# Scale: one corpus pass builds the brand-pair edge list (basket-
# bounded self-join); recs = partitioned top-3 over it (brand-sized,
# materialized once — three consumers); all metrics run on recs.

_RECO_EDGES_SQL = """
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT a.brand AS src, b.brand AS dst, CAST(count(*) AS BIGINT) AS w
FROM ob a JOIN ob b ON a.o = b.o AND a.brand <> b.brand
GROUP BY a.brand, b.brand
"""


def _reco_div_tail(edges: str) -> str:
    ild = sql_exact_sum("ild", 6)
    ent = sql_exact_sum("ent_term", 9)
    return f"""
recs AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rk
        FROM {edges}
    ) r WHERE rk <= 3
),
catalog AS (SELECT CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands
            FROM part),
cover AS (SELECT CAST(count(DISTINCT dst) AS BIGINT) AS n_recommended
          FROM recs),
pairs AS (
    SELECT a.src,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN substr(a.dst, 7, 1) = substr(b.dst, 7, 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_same
    FROM recs a JOIN recs b ON a.src = b.src AND a.dst < b.dst
    GROUP BY a.src
),
perlist AS (
    SELECT src,
           floor((1e0 - CAST(n_same AS DOUBLE) / n_pairs) * 1e6 + 0.5)
               / 1e6 AS ild
    FROM pairs
),
ildagg AS (
    SELECT floor({ild} / count(*) * 1e6 + 0.5) / 1e6
               AS mean_intralist_diversity
    FROM perlist
),
dstc AS (
    SELECT dst, CAST(count(*) AS BIGINT) AS c FROM recs GROUP BY dst
),
dstt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM dstc),
entterms AS (
    SELECT floor((-1e0 * (CAST(c AS DOUBLE) / t.t)
                  * ln(CAST(c AS DOUBLE) / t.t)) * 1e9 + 0.5) / 1e9
               AS ent_term
    FROM dstc CROSS JOIN dstt t
),
entagg AS (SELECT floor(({ent}) * 1e6 + 0.5) / 1e6 AS rec_entropy
           FROM entterms)
SELECT cat.n_brands, cov.n_recommended,
       floor(CAST(cov.n_recommended AS DOUBLE) / cat.n_brands
             * 1e6 + 0.5) / 1e6 AS catalog_coverage,
       i.mean_intralist_diversity,
       e.rec_entropy
FROM catalog cat CROSS JOIN cover cov
CROSS JOIN ildagg i CROSS JOIN entagg e
"""


@register(
    "reco_coverage_diversity",
    oracle="WITH reco_edges AS (" + _RECO_EDGES_SQL + "),\n"
    + _reco_div_tail("reco_edges").lstrip(),
)
def reco_coverage_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy metrics of the top-3 co-purchase recommender:
    catalog coverage, mean intra-list (brand-family) diversity, and
    recommendation-frequency entropy."""
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_RECO_EDGES_SQL), "reco_edges")
    return spark.sql("WITH " + _reco_div_tail("reco_edges").lstrip())


# ---------------------------------------------------------------------------
# Bradley–Terry strength: two MM iterations over brand "wins"
# ---------------------------------------------------------------------------
# The preference-modeling primitive (RLHF reward data, search-result
# pairwise evals) on this schema: within each order where two brands
# co-occur, the brand with the strictly larger total extended price
# "wins" the comparison (ties excluded). Two unrolled
# Minorize–Maximize updates from s=1 — s_i ← W_i / Σ_j n_ij/(s_i+s_j)
# — with strengths snapped to the 1e-6 grid between iterations so both
# engines iterate on identical doubles; output normalizes to mean 1.
# Wins/games are exact integers; the corpus-sized work is one
# (order, brand) aggregation + the basket-bounded pair join.

_BT_SQL = """
WITH ob AS (
    SELECT l.l_orderkey AS o, p.p_brand AS brand,
           CAST(sum(CAST(floor(l.l_extendedprice * 1e2 + 0.5) AS BIGINT))
                AS BIGINT) AS spend_c
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY l.l_orderkey, p.p_brand
),
games AS (
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CASE WHEN a.spend_c > b.spend_c THEN 1
                WHEN a.spend_c < b.spend_c THEN -1
                ELSE 0 END AS outcome
    FROM ob a JOIN ob b ON a.o = b.o AND a.brand < b.brand
),
pairs AS (
    SELECT brand_a, brand_b,
           CAST(count(*) AS BIGINT) AS n_games,
           CAST(sum(CASE WHEN outcome = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS wins_a,
           CAST(sum(CASE WHEN outcome = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS wins_b
    FROM games WHERE outcome <> 0 GROUP BY brand_a, brand_b
),
sym AS (
    SELECT brand_a AS i, brand_b AS j,
           wins_a + wins_b AS n, wins_a AS w FROM pairs
    UNION ALL
    SELECT brand_b AS i, brand_a AS j,
           wins_a + wins_b AS n, wins_b AS w FROM pairs
),
tot AS (
    SELECT i AS brand,
           CAST(sum(w) AS BIGINT) AS wins,
           CAST(sum(n) AS BIGINT) AS games
    FROM sym GROUP BY i
),
s1 AS (
    -- iteration 1 from s=1: denominator Σ_j n_ij / 2
    SELECT brand, wins, games,
           floor((CAST(wins AS DOUBLE) / (CAST(games AS DOUBLE) / 2e0))
                 * 1e6 + 0.5) / 1e6 AS s
    FROM tot
),
den2 AS (
    SELECT y.i AS brand,
           sum(CAST(floor(CAST(y.n AS DOUBLE) / (si.s + sj.s)
                          * 1e6 + 0.5) AS BIGINT)) AS den_u
    FROM sym y
    JOIN s1 si ON si.brand = y.i
    JOIN s1 sj ON sj.brand = y.j
    GROUP BY y.i
),
s2 AS (
    SELECT t.brand, t.wins, t.games,
           floor((CAST(t.wins AS DOUBLE)
                  / (CAST(d.den_u AS DOUBLE) / 1e6)) * 1e6 + 0.5) / 1e6
               AS s
    FROM tot t JOIN den2 d ON d.brand = t.brand
),
norm AS (
    SELECT CAST(sum(CAST(floor(s * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e6 / count(*) AS mean_s
    FROM s2
)
SELECT s2.brand, s2.wins, s2.games,
       s1.s AS strength_iter1,
       floor((s2.s / n.mean_s) * 1e6 + 0.5) / 1e6 AS strength
FROM s2 JOIN s1 ON s1.brand = s2.brand CROSS JOIN norm n
ORDER BY s2.brand
"""


@register("reco_bradley_terry_round", oracle=_BT_SQL)
def reco_bradley_terry_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry brand strengths from in-order spend comparisons:
    per-brand wins/games and two unrolled MM iterations, final
    strengths normalized to mean 1.

    Scale: one (order, brand) aggregation, a basket-bounded pair join,
    then all iteration algebra on the brands² relation (bounded).
    """
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_BT_SQL)


# ---------------------------------------------------------------------------
# Sequential purchase rules: brand A this order -> brand B next order
# ---------------------------------------------------------------------------
# The cross-order complement of orders_association_rules (within one
# basket): per customer, consecutive-order brand transitions mined for
# support / confidence / lift. The consequent-side base rate uses the
# share of transition pairs whose NEXT basket contains B, so lift > 1
# reads "B follows A more than B follows anything". Top 20 by lift
# with a full tiebreak chain (TakeOrdered, never a global window).

_SEQ_RULES_SQL = """
WITH ob AS (
    SELECT DISTINCT o.o_custkey AS cust, o.o_orderkey AS okey,
           CAST(o.o_orderdate AS DATE) AS d, p.p_brand AS brand
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
),
ord_seq AS (
    SELECT DISTINCT cust, okey, d FROM ob
),
nxt AS (
    SELECT cust, okey,
           lead(okey) OVER (PARTITION BY cust ORDER BY d, okey)
               AS next_okey
    FROM ord_seq
),
pairs AS (SELECT okey, next_okey FROM nxt WHERE next_okey IS NOT NULL),
trans AS (
    SELECT a.brand AS ante, b.brand AS cons
    FROM pairs pr
    JOIN ob a ON a.okey = pr.okey
    JOIN ob b ON b.okey = pr.next_okey
),
n_pairs AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
rule AS (
    SELECT ante, cons, CAST(count(*) AS BIGINT) AS n_ab
    FROM trans GROUP BY ante, cons
),
ante_tot AS (
    SELECT ante, CAST(count(*) AS BIGINT) AS n_a FROM trans GROUP BY ante
),
cons_pairs AS (
    SELECT CAST(count(DISTINCT pr.okey) AS BIGINT) AS n_with_next
    FROM pairs pr
),
cons_rate AS (
    SELECT b.brand AS cons,
           CAST(count(DISTINCT pr.okey) AS BIGINT) AS n_b_next
    FROM pairs pr JOIN ob b ON b.okey = pr.next_okey
    GROUP BY b.brand
),
scored AS (
    SELECT r.ante, r.cons, r.n_ab,
           floor((CAST(r.n_ab AS DOUBLE) / np.np) * 1e6 + 0.5) / 1e6
               AS support,
           floor((CAST(r.n_ab AS DOUBLE) / a.n_a) * 1e6 + 0.5) / 1e6
               AS confidence,
           floor(((CAST(r.n_ab AS DOUBLE) / a.n_a)
                  / (CAST(c.n_b_next AS DOUBLE) / cp.n_with_next))
                 * 1e6 + 0.5) / 1e6 AS lift
    FROM rule r
    JOIN ante_tot a ON a.ante = r.ante
    JOIN cons_rate c ON c.cons = r.cons
    CROSS JOIN n_pairs np CROSS JOIN cons_pairs cp
    WHERE r.n_ab >= 5
)
SELECT ante, cons, n_ab, support, confidence, lift
FROM scored
ORDER BY lift DESC, n_ab DESC, ante, cons
LIMIT 20
"""


@register("orders_sequential_rules", oracle=_SEQ_RULES_SQL)
def orders_sequential_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 cross-order brand transition rules (A this order -> B
    next order) by lift, with support and confidence; min count 5,
    totally ordered.

    Scale: one per-customer order window plus basket-bounded joins of
    consecutive baskets; rule scoring runs on the brands² relation.
    """
    register_views(spark, sf_dir, "orders", "lineitem", "part")
    return spark.sql(_SEQ_RULES_SQL)


# ---------------------------------------------------------------------------
# MAP@10 / MRR@10 ranking evaluation of the co-purchase recommender
# ---------------------------------------------------------------------------
# The rank-sensitive companion to the hit-rate eval above: hit rate
# only asks IF a held-out partner appeared in the list; MAP and MRR ask
# WHERE. Same honest time split (train = first half of the order
# history, test = second half), top-10 ranked lists. Per source brand:
# reciprocal rank of the first hit and average precision
# AP@10 = Σ_hits prec(rank) / min(n_test, 10).
#
# Float discipline: every precision term prec(r) = hits_at_or_before(r)/r
# is an exact rational; terms snap to 1e-9 and sum EXACTLY
# (order-independent) before the one snapped division per row. Ranks
# are PARTITIONED row_number with (weight DESC, brand) total order.
# Scale: identical plan family to the hit-rate eval — brand-vocabulary-
# bounded relations after the two scan+join passes; the per-src hit
# window holds <= 10 rows per partition.

_MAP_OB_SQL = """
WITH mid AS (
    SELECT CAST(min(o_orderdate) AS DATE)
           + CAST(floor({div}) AS INT) AS cut
    FROM orders
)
SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand,
       CASE WHEN CAST(o.o_orderdate AS DATE) < m.cut
            THEN 0 ELSE 1 END AS half
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
CROSS JOIN mid m
"""

_MAP_TAIL = """
train_edges AS (
    SELECT a.brand AS src, b.brand AS dst, CAST(count(*) AS BIGINT) AS w
    FROM {ob} a JOIN {ob} b ON a.o = b.o AND a.brand <> b.brand
    WHERE a.half = 0 AND b.half = 0
    GROUP BY a.brand, b.brand
),
recs AS (
    SELECT src, dst, CAST(rk AS BIGINT) AS rk FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst) AS rk
        FROM train_edges
    ) r WHERE rk <= 10
),
test_pairs AS (
    SELECT DISTINCT a.brand AS src, b.brand AS dst
    FROM {ob} a JOIN {ob} b ON a.o = b.o AND a.brand <> b.brand
    WHERE a.half = 1 AND b.half = 1
),
tstat AS (
    SELECT src, CAST(count(*) AS BIGINT) AS n_test
    FROM test_pairs GROUP BY src
),
hits AS (
    SELECT t.src, r.rk
    FROM test_pairs t JOIN recs r ON r.src = t.src AND r.dst = t.dst
),
hprec AS (
    SELECT src, rk,
           CAST(count(*) OVER (PARTITION BY src ORDER BY rk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / rk AS prec
    FROM hits
),
ap AS (
    SELECT src,
           {sum_prec} AS sum_prec,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(rk) AS BIGINT) AS first_rk
    FROM hprec GROUP BY src
)
SELECT t.src AS brand,
       t.n_test,
       coalesce(a.n_hits, CAST(0 AS BIGINT)) AS n_hits10,
       CASE WHEN a.first_rk IS NULL THEN 0e0
            ELSE floor((1e0 / a.first_rk) * 1e6 + 0.5) / 1e6 END AS rr_at10,
       CASE WHEN a.sum_prec IS NULL THEN 0e0
            ELSE floor((a.sum_prec / least(t.n_test, 10)) * 1e6 + 0.5) / 1e6
            END AS ap_at10
FROM tstat t
LEFT JOIN ap a ON a.src = t.src
ORDER BY brand
"""


_MAP_DUCK = (
    "WITH ob AS ("
    + _MAP_OB_SQL.format(div=_RECO_EVAL_DIV.format(op="//")).lstrip()
    + "),\n"
    + _MAP_TAIL.format(ob="ob", sum_prec=sql_exact_sum("prec", 9)).lstrip()
)


@register("reco_map_mrr_eval", oracle=_MAP_DUCK)
def reco_map_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sensitive offline eval of the top-10 co-purchase
    recommender: per-brand reciprocal rank of the first held-out hit
    and AP@10 under the same time split as the hit-rate eval.

    The half-labeled (order, brand) relation feeds both self-joined
    halves (4 references); Spark inlines CTEs, so it is materialized
    once via localCheckpoint (DuckDB materializes shared CTEs itself —
    single-statement oracle)."""
    register_views(spark, sf_dir, "orders", "lineitem", "part")
    materialize(
        spark.sql(_MAP_OB_SQL.format(div=_RECO_EVAL_DIV.format(op="DIV"))), "mm_ob"
    )
    return spark.sql(
        "WITH "
        + _MAP_TAIL.format(
            ob="mm_ob", sum_prec=sql_exact_sum("prec", 9)
        ).lstrip()
    )


# ---------------------------------------------------------------------------
# Weighted Slope One rating predictor (round 10)
# ---------------------------------------------------------------------------
# Item-item cosine ranks NEIGHBORS; the simplest competitive rating
# PREDICTOR is weighted Slope One (Lemire & Maclachlan 2005):
# dev(j,i) = mean over co-raters of (r_j - r_i), and the prediction
# for a held-out (u, j) averages dev(j,i) + r_ui over u's observed
# items, weighted by co-rater support. Evaluated here the way a
# recommender offline-evals: a deterministic 10% hash holdout of the
# customer x brand quantity matrix, MAE + coverage on the held-out
# cells.
#
# Exactness: ratings and deviation numerators are exact BIGINTs;
# dev(j,i) is ONE snapped division; per-prediction numerator terms
# c·(dev + r) snap to 1e-6 and accumulate as exact scaled integers
# (order-independent), as do the absolute errors. Scale: the dev grid
# is brand x brand (bounded); the prediction join fans each held-out
# cell out over the user's ≤|brands| training items — linear in
# held-out cells, never user-pairs. The split relation (ratings =
# orders⋈lineitem⋈part, grouped) feeds train 4x and test 2x; Spark
# inlines CTEs, so the Spark side materializes it once via
# localCheckpoint (DuckDB materializes shared CTEs itself —
# single-statement oracle).


def _slope_one_split_sql(hash28) -> str:
    key = hash28("concat('so', CAST(u AS STRING), '_', b)")
    return f"""
SELECT u, b, r,
       CASE WHEN {key} % 10 = 0 THEN 1 ELSE 0 END AS is_test
FROM (
    SELECT o_custkey AS u, p_brand AS b,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN part ON p_partkey = l_partkey
    GROUP BY o_custkey, p_brand
) ratings
"""


def _slope_one_tail_sql(split: str) -> str:
    err = sql_exact_sum("abs(p.pred - CAST(p.r AS DOUBLE))", 6)
    return f"""
WITH train AS (SELECT u, b, r FROM {split} WHERE is_test = 0),
test AS (SELECT u, b, r FROM {split} WHERE is_test = 1),
dev AS (
    -- dnum bound (r11 latent-risk sweep): |r_j - r_i| is per-user-brand
    -- quantity (≤ ~1e6 even at 100 TB cell densities) summed over
    -- co-raters (≤ |customers| ~ 1e10) → |dnum| ≤ ~1e16, inside BIGINT
    -- with two orders of magnitude to spare; DuckDB would RAISE on
    -- overflow rather than wrap, so the oracle guards the bound too.
    SELECT a.b AS bj, c.b AS bi,
           CAST(count(*) AS BIGINT) AS n_co,
           CAST(sum(a.r - c.r) AS BIGINT) AS dnum
    FROM train a JOIN train c ON c.u = a.u AND c.b <> a.b
    GROUP BY a.b, c.b
),
preds AS (
    SELECT t.u, t.b, t.r,
           floor(CAST(sum(CAST(floor(
                     d.n_co * (floor(CAST(d.dnum AS DOUBLE) / d.n_co
                                     * 1e6 + 0.5) / 1e6
                               + tr.r) * 1e6 + 0.5) AS BIGINT))
                 AS DOUBLE)
                 / sum(d.n_co) + 0.5) / 1e6 AS pred
    FROM test t
    JOIN train tr ON tr.u = t.u
    JOIN dev d ON d.bj = t.b AND d.bi = tr.b
    GROUP BY t.u, t.b, t.r
),
agg AS (
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM train) AS n_train,
        (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test,
        CAST(count(*) AS BIGINT) AS n_predicted,
        {err} AS sum_abs_err
    FROM preds p
)
SELECT n_train, n_test, n_predicted,
       floor(CAST(n_predicted AS DOUBLE) / n_test * 1e6 + 0.5) / 1e6
           AS coverage,
       floor(sum_abs_err / n_predicted * 1e6 + 0.5) / 1e6 AS mae
FROM agg
"""


_SLOPE_ONE_DUCK = (
    "WITH so_split AS ("
    + _slope_one_split_sql(duck_hash28).strip()
    + "),\n"
    + _slope_one_tail_sql("so_split").lstrip().removeprefix("WITH ")
)


@register(
    "reco_slope_one_eval",
    oracle=_SLOPE_ONE_DUCK,
)
def reco_slope_one_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Slope One offline eval on a deterministic 10% holdout
    of the customer x brand quantity matrix: MAE and coverage — the
    rating-prediction baseline beside the item-item ranker. The rating
    split materializes once (localCheckpoint) for its six references."""
    register_views(spark, sf_dir, "orders", "lineitem", "part")
    materialize(spark.sql(_slope_one_split_sql(spark_hash28)), "so_split")
    return spark.sql(_slope_one_tail_sql("so_split"))
