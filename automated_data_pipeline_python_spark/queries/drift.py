"""Distribution-drift and dependency-discovery operators.

A pipeline that feeds model training has to notice when its inputs
move: a source whose vocabulary diverges from the corpus, a metric
whose distribution shifts week-over-week, a pair of columns whose
dependency silently changes. Three oracle-checked monitors:

- ``corpus_source_kl_divergence``: per-source KL(P_source || P_corpus)
  over token distributions — the vocabulary-drift screen for mixture
  construction.
- ``dq_mutual_information``: mutual information, entropies, and
  normalized MI for categorical column pairs — functional-dependency
  discovery.
- ``events_psi_value_drift``: population stability index of the
  events.value distribution, early vs late half, over full-period
  decile buckets — the standard production drift alarm.

Shape discipline: every multiply-referenced reduced relation (token
marginals, joint counts, decile cutpoints) is materialized ONCE via
``localCheckpoint`` + temp view on the Spark side — Spark inlines
CTEs, so the WITH form would re-run the corpus scan per reference.
The DuckDB oracles keep the plain WITH form (same values; oracle cost
is irrelevant). ln() runs on identical rationals in both engines and
every derived double snaps to the 1e-6 grid before any compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.text import (
    DUCK_TOKENS,
    SPARK_TOKENS,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import register_views

_S_TOK = SPARK_TOKENS.format(col="text")
_D_TOK = DUCK_TOKENS.format(col="text")


# ---------------------------------------------------------------------------
# Per-source KL divergence of token distributions
# ---------------------------------------------------------------------------
# The only corpus-sized pass is one explode → (source, term) hash-agg;
# that relation (sources × vocab — vocabularies grow sublinearly) is
# materialized and everything downstream runs on it. Terms absent from
# a source contribute 0 to the sum (P=0 ⇒ 0·ln 0 := 0), so the inner
# join IS the correct support.

_KL_TAIL = """
SELECT kl.source,
       CAST(st.n AS BIGINT) AS n_tokens,
       CAST(kl.vocab AS BIGINT) AS vocab,
       floor((kl.kl_nats) * 1e6 + 0.5) / 1e6 AS kl_nats
FROM (
    SELECT p.source,
           count(*) AS vocab,
           sum((p.c / st.n) * ln((p.c / st.n) / (g.gc / gt.gn))) AS kl_nats
    FROM {rel} p
    JOIN (SELECT source, CAST(sum(c) AS DOUBLE) AS n
          FROM {rel} GROUP BY source) st ON p.source = st.source
    JOIN (SELECT term, CAST(sum(c) AS DOUBLE) AS gc
          FROM {rel} GROUP BY term) g ON p.term = g.term
    CROSS JOIN (SELECT CAST(sum(c) AS DOUBLE) AS gn FROM {rel}) gt
    GROUP BY p.source
) kl
JOIN (SELECT source, CAST(sum(c) AS DOUBLE) AS n
      FROM {rel} GROUP BY source) st ON kl.source = st.source
ORDER BY kl.source
"""

_KL_DUCK_SQL = (
    "WITH per_source AS ("
    f"SELECT source, tok AS term, count(*) AS c FROM "
    f"(SELECT source, unnest({_D_TOK}) AS tok FROM documents) "
    "GROUP BY source, tok)\n" + _KL_TAIL.format(rel="per_source")
)


@register("corpus_source_kl_divergence", oracle=_KL_DUCK_SQL)
def corpus_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(P_source || P_corpus) over token distributions, per source."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            "SELECT source, tok AS term, count(*) AS c FROM "
            f"(SELECT source, explode({_S_TOK}) AS tok FROM documents) "
            "GROUP BY source, tok"
        ),
        "kl_per_source",
    )
    return spark.sql(_KL_TAIL.format(rel="kl_per_source"))


# ---------------------------------------------------------------------------
# Mutual information between categorical column pairs
# ---------------------------------------------------------------------------
# MI(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), H = -Σ p·ln p, and the
# MI/min(H) normalization that makes pairs comparable. Per pair the
# corpus-sized work is ONE scan → joint-count hash-agg (|X|·|Y| cells);
# marginals and entropies derive from the materialized joint. The
# snapped entropies feed the NMI ratio, so both engines divide
# identical grid values.

_MI_PAIRS = [
    ("orders", "o_orderpriority", "o_orderstatus"),
    ("lineitem", "l_returnflag", "l_linestatus"),
    # month × priority is the near-independent contrast pair (MI ≈ 0)
    ("orders", "month(o_orderdate)", "o_orderpriority"),
]

_MI_BRANCH = """
SELECT '{label}' AS pair,
       cx.card_x, cy.card_y,
       floor((mi.mi) * 1e6 + 0.5) / 1e6 AS mi_nats,
       floor((hx.h) * 1e6 + 0.5) / 1e6 AS h_x,
       floor((hy.h) * 1e6 + 0.5) / 1e6 AS h_y,
       floor(((floor((mi.mi) * 1e6 + 0.5) / 1e6)
              / least(floor((hx.h) * 1e6 + 0.5) / 1e6,
                      floor((hy.h) * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6
           AS nmi
FROM (
    SELECT sum((j.c / n.n) * ln((j.c / n.n) / ((mx.cx / n.n) * (my.cy / n.n))))
        AS mi
    FROM {rel} j
    JOIN (SELECT jx, sum(c) AS cx FROM {rel} GROUP BY jx) mx ON j.jx = mx.jx
    JOIN (SELECT jy, sum(c) AS cy FROM {rel} GROUP BY jy) my ON j.jy = my.jy
    CROSS JOIN (SELECT sum(c) AS n FROM {rel}) n
) mi
CROSS JOIN (
    SELECT -sum((m.cx / n.n) * ln(m.cx / n.n)) AS h
    FROM (SELECT jx, sum(c) AS cx FROM {rel} GROUP BY jx) m
    CROSS JOIN (SELECT sum(c) AS n FROM {rel}) n
) hx
CROSS JOIN (
    SELECT -sum((m.cy / n.n) * ln(m.cy / n.n)) AS h
    FROM (SELECT jy, sum(c) AS cy FROM {rel} GROUP BY jy) m
    CROSS JOIN (SELECT sum(c) AS n FROM {rel}) n
) hy
CROSS JOIN (SELECT CAST(count(DISTINCT jx) AS INT) AS card_x FROM {rel}) cx
CROSS JOIN (SELECT CAST(count(DISTINCT jy) AS INT) AS card_y FROM {rel}) cy
"""


def _mi_joint_sql(table: str, x: str, y: str) -> str:
    return (
        f"SELECT {x} AS jx, {y} AS jy, CAST(count(*) AS DOUBLE) AS c"
        f" FROM {table} GROUP BY {x}, {y}"
    )


# r13 (guide §2.4, VERDICT r12 task 7): the Spark side folds each
# branch's eight tiny re-aggregations of the materialized joint (mx,
# my, n x3, entropies, cards — a dozen exchanges per branch, 36 in the
# plan) into ONE collect_list over the <= |X|*|Y| joint plus intra-row
# higher-order folds. Marginals and n are sums of integer-valued
# doubles (exact in any order); mi/h fold over the (jx, jy)-sorted
# array, so the Spark value is deterministic and lands on the same
# 1e-6 grid cell as before (proven by byte-identical result hashes at
# 3 SFs). The DuckDB oracle keeps the relational form.
_MI_BRANCH_SPARK = """
SELECT '{label}' AS pair,
       CAST(size(xs) AS INT) AS card_x,
       CAST(size(ys) AS INT) AS card_y,
       floor((mi) * 1e6 + 0.5) / 1e6 AS mi_nats,
       floor((hx) * 1e6 + 0.5) / 1e6 AS h_x,
       floor((hy) * 1e6 + 0.5) / 1e6 AS h_y,
       floor(((floor((mi) * 1e6 + 0.5) / 1e6)
              / least(floor((hx) * 1e6 + 0.5) / 1e6,
                      floor((hy) * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6
           AS nmi
FROM (
    SELECT xs, ys,
           aggregate(js, CAST(0 AS DOUBLE), (a, e) -> a
               + (e.c / n) * ln((e.c / n)
                   / ((aggregate(filter(js, f -> f.jx <=> e.jx),
                                 CAST(0 AS DOUBLE), (a2, f) -> a2 + f.c) / n)
                      * (aggregate(filter(js, f -> f.jy <=> e.jy),
                                   CAST(0 AS DOUBLE), (a2, f) -> a2 + f.c) / n)))) AS mi,
           -aggregate(xs, CAST(0 AS DOUBLE), (a, x) -> a
               + (aggregate(filter(js, f -> f.jx <=> x),
                            CAST(0 AS DOUBLE), (a2, f) -> a2 + f.c) / n)
                 * ln(aggregate(filter(js, f -> f.jx <=> x),
                                CAST(0 AS DOUBLE), (a2, f) -> a2 + f.c) / n)) AS hx,
           -aggregate(ys, CAST(0 AS DOUBLE), (a, y) -> a
               + (aggregate(filter(js, f -> f.jy <=> y),
                            CAST(0 AS DOUBLE), (a2, f) -> a2 + f.c) / n)
                 * ln(aggregate(filter(js, f -> f.jy <=> y),
                                CAST(0 AS DOUBLE), (a2, f) -> a2 + f.c) / n)) AS hy
    FROM (
        SELECT js, aggregate(js, CAST(0 AS DOUBLE), (a, e) -> a + e.c) AS n,
               array_distinct(transform(js, e -> e.jx)) AS xs,
               array_distinct(transform(js, e -> e.jy)) AS ys
        FROM (SELECT array_sort(collect_list(named_struct(
                  'jx', jx, 'jy', jy, 'c', c))) AS js
              FROM {rel}) g0
    ) g1
) g2
"""


def _mi_spark_sql(rels: list[str]) -> str:
    branches = [
        _MI_BRANCH_SPARK.format(label=f"{t}.{x}|{t}.{y}", rel=rel)
        for (t, x, y), rel in zip(_MI_PAIRS, rels)
    ]
    union = "\nUNION ALL\n".join(f"SELECT * FROM ({b})" for b in branches)
    return f"SELECT * FROM (\n{union}\n) ORDER BY pair"


def _mi_sql(rels: list[str]) -> str:
    branches = [
        _MI_BRANCH.format(label=f"{t}.{x}|{t}.{y}", rel=rel)
        for (t, x, y), rel in zip(_MI_PAIRS, rels)
    ]
    union = "\nUNION ALL\n".join(f"SELECT * FROM ({b})" for b in branches)
    return f"SELECT * FROM (\n{union}\n) ORDER BY pair"


_MI_DUCK_SQL = (
    "WITH "
    + ", ".join(
        f"joint_{i} AS ({_mi_joint_sql(t, x, y)})"
        for i, (t, x, y) in enumerate(_MI_PAIRS)
    )
    + "\n"
    + _mi_sql([f"joint_{i}" for i in range(len(_MI_PAIRS))])
)


@register("dq_mutual_information", oracle=_MI_DUCK_SQL)
def dq_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI, entropies, and normalized MI for categorical column pairs."""
    register_views(spark, sf_dir, "orders", "lineitem")
    rels = []
    for i, (t, x, y) in enumerate(_MI_PAIRS):
        view = f"mi_joint_{i}"
        materialize(spark.sql(_mi_joint_sql(t, x, y)), view)
        rels.append(view)
    return spark.sql(_mi_spark_sql(rels))


# ---------------------------------------------------------------------------
# Population stability index (early vs late value distribution)
# ---------------------------------------------------------------------------
# Decile cutpoints come from the FULL period (percentile ==
# quantile_cont, the proven cross-engine interpolation pairing),
# snapped to the 1e-6 grid before any compare; each half's rows land
# in a bucket by counting cutpoints below the snapped value via a
# 9-row broadcast join — no global sort, no ntile. PSI = Σ (p−q)·
# ln(p/q) with +0.5 Laplace smoothing so an empty bucket can't
# produce ln(0). Corpus-sized work: two scans (cutpoint aggregate,
# bucket assignment) and one 20-cell aggregate.

_PSI_VALUED = """
SELECT floor((value) * 1e6 + 0.5) / 1e6 AS v,
       CASE WHEN 2 * ({us_since_t0}) < ({us_span})
            THEN 'early' ELSE 'late' END AS half
FROM events
CROSS JOIN (SELECT min(ts) AS t0, max(ts) AS t1 FROM events) b
WHERE value IS NOT NULL
"""

# One-row cutoff relation (the RFM pattern): 9 decile scalars in a
# single aggregation, broadcast via CROSS JOIN; bucket = how many
# cutoffs the (snapped) value exceeds — an indicator sum, map-only.
_PSI_CUT_COLS = ",\n       ".join(
    f"floor(({{q}}(v, {i} / 10e0)) * 1e6 + 0.5) / 1e6 AS c{i}"
    for i in range(1, 10)
)
_PSI_BUCKET = " + ".join(
    f"(CASE WHEN valued.v > cuts.c{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
)

_PSI_CELLS = f"""
SELECT half, CAST({_PSI_BUCKET} AS INT) AS bucket, count(*) AS n
FROM ({{valued}}) valued
CROSS JOIN (SELECT {_PSI_CUT_COLS} FROM ({{valued}}) valued) cuts
GROUP BY 1, 2
"""

_PSI_TAIL = """
SELECT s.bucket,
       floor(((coalesce(e.n, 0) + 5e-1) / (te.tot + 5e0)) * 1e6 + 0.5) / 1e6
           AS p_early,
       floor(((coalesce(l.n, 0) + 5e-1) / (tl.tot + 5e0)) * 1e6 + 0.5) / 1e6
           AS p_late,
       floor(((
           (coalesce(l.n, 0) + 5e-1) / (tl.tot + 5e0)
           - (coalesce(e.n, 0) + 5e-1) / (te.tot + 5e0)
         ) * ln(((coalesce(l.n, 0) + 5e-1) / (tl.tot + 5e0))
                / ((coalesce(e.n, 0) + 5e-1) / (te.tot + 5e0)))
         ) * 1e6 + 0.5) / 1e6 AS psi_term
FROM ({spine}) s
LEFT JOIN {cells} e ON e.bucket = s.bucket AND e.half = 'early'
LEFT JOIN {cells} l ON l.bucket = s.bucket AND l.half = 'late'
CROSS JOIN (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM {cells}
            WHERE half = 'early') te
CROSS JOIN (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM {cells}
            WHERE half = 'late') tl
ORDER BY s.bucket
"""


def _psi_duck_sql() -> str:
    valued = (
        _PSI_VALUED
        .replace("{us_since_t0}", "date_diff('microsecond', b.t0, ts)")
        .replace("{us_span}", "date_diff('microsecond', b.t0, b.t1)")
    )
    cells = _PSI_CELLS.replace("{valued}", valued).replace("{q}", "quantile_cont")
    spine = "SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bucket"
    return f"WITH psi_cells AS ({cells})\n" + _PSI_TAIL.format(
        spine=spine, cells="psi_cells"
    )


@register("events_psi_value_drift", oracle=_psi_duck_sql())
def events_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of events.value, early vs late half, full-period deciles.

    The 20-cell (half × bucket) relation is materialized once on the
    Spark side — the tail references it four times and Spark's CTE
    inlining would otherwise re-run both corpus scans per reference.
    Bucket assignment compares grid-snapped values against grid-
    snapped cutoffs, so a value equal to a cutoff lands identically
    on both engines.
    """
    register_views(spark, sf_dir, "events")
    valued = (
        _PSI_VALUED
        .replace("{us_since_t0}", "timestampdiff(MICROSECOND, b.t0, ts)")
        .replace("{us_span}", "timestampdiff(MICROSECOND, b.t0, b.t1)")
    )
    materialize(
        spark.sql(
            _PSI_CELLS.replace("{valued}", valued).replace("{q}", "percentile")
        ),
        "psi_cells",
    )
    spine = "SELECT explode(sequence(0, 9)) AS bucket"
    return spark.sql(_PSI_TAIL.format(spine=spine, cells="psi_cells"))


# ---------------------------------------------------------------------------
# Pairwise Jensen–Shannon divergence between source vocabularies
# ---------------------------------------------------------------------------
# The KL monitor above scores each source against the corpus; mixture
# DESIGN needs the full pairwise picture — which sources are
# near-duplicates of each other and which add diversity. JS (symmetric,
# bounded by ln 2) decomposes so only the SHARED vocabulary needs the
# pair join: for terms present in one source only, the JS contribution
# is exactly p·ln2, so
#   JS = ½[Σ_common p_a·ln(2p_a/(p_a+p_b)) + p_b·ln(2p_b/(p_a+p_b))
#          + ln2·(2 − Σ_common p_a − Σ_common p_b)].
# Per-term contributions snap onto the 1e-9 grid and sum exactly (the
# order-independent exact-sum path); the one corpus pass is the same
# materialized per-source count relation the KL monitor uses.

from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_exact_sum,
)

_JS_TAIL = f"""
SELECT a.source AS source_a, b.source AS source_b,
       floor((5e-1 * (
           {sql_exact_sum(
               "(a.c / ta.n) * ln(2e0 * (a.c / ta.n)"
               " / (a.c / ta.n + b.c / tb.n))"
               " + (b.c / tb.n) * ln(2e0 * (b.c / tb.n)"
               " / (a.c / ta.n + b.c / tb.n))", 9)}
           + ln(2e0) * (2e0 - {sql_exact_sum("a.c / ta.n", 9)}
                            - {sql_exact_sum("b.c / tb.n", 9)})
       )) * 1e6 + 0.5) / 1e6 AS js_nats
FROM {{rel}} a
JOIN {{rel}} b ON a.term = b.term AND a.source < b.source
JOIN (SELECT source, CAST(sum(c) AS DOUBLE) AS n
      FROM {{rel}} GROUP BY source) ta ON a.source = ta.source
JOIN (SELECT source, CAST(sum(c) AS DOUBLE) AS n
      FROM {{rel}} GROUP BY source) tb ON b.source = tb.source
GROUP BY a.source, b.source
ORDER BY a.source, b.source
"""

_JS_DUCK_SQL = (
    "WITH per_source AS ("
    f"SELECT source, tok AS term, CAST(count(*) AS DOUBLE) AS c FROM "
    f"(SELECT source, unnest({_D_TOK}) AS tok FROM documents) "
    "GROUP BY source, tok)\n" + _JS_TAIL.replace("{rel}", "per_source")
)


@register("corpus_source_js_matrix", oracle=_JS_DUCK_SQL)
def corpus_source_js_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise JS divergence between source token distributions."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            "SELECT source, tok AS term, CAST(count(*) AS DOUBLE) AS c FROM "
            f"(SELECT source, explode({_S_TOK}) AS tok FROM documents) "
            "GROUP BY source, tok"
        ),
        "js_per_source",
    )
    return spark.sql(_JS_TAIL.replace("{rel}", "js_per_source"))


# ---------------------------------------------------------------------------
# Simpson diversity / effective vocabulary per source
# ---------------------------------------------------------------------------
# The concentration view of a vocabulary: Simpson's index Σp² (the
# chance two random tokens coincide) and its inverse — the "effective
# vocabulary size" — per source, beside the raw distinct count. All
# from the SAME materialized per-source count relation as KL/JS; p²
# terms are exact integer ratios snapped onto the 1e-9 grid and summed
# exactly, so nothing engine-ordered ever accumulates.

_SIMPSON_TAIL = f"""
SELECT p.source,
       CAST(count(*) AS BIGINT) AS vocab,
       floor(({sql_exact_sum("(p.c / t.n) * (p.c / t.n)", 9)})
             * 1e6 + 0.5) / 1e6 AS simpson_index,
       floor((1e0 / ({sql_exact_sum("(p.c / t.n) * (p.c / t.n)", 9)}))
             * 1e2 + 0.5) / 1e2 AS effective_vocab
FROM {{rel}} p
JOIN (SELECT source, CAST(sum(c) AS DOUBLE) AS n
      FROM {{rel}} GROUP BY source) t ON p.source = t.source
GROUP BY p.source
ORDER BY p.source
"""

_SIMPSON_DUCK_SQL = (
    "WITH per_source AS ("
    f"SELECT source, tok AS term, CAST(count(*) AS DOUBLE) AS c FROM "
    f"(SELECT source, unnest({_D_TOK}) AS tok FROM documents) "
    "GROUP BY source, tok)\n" + _SIMPSON_TAIL.replace("{rel}", "per_source")
)


@register("corpus_simpson_diversity", oracle=_SIMPSON_DUCK_SQL)
def corpus_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson index and effective vocabulary size per source."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            "SELECT source, tok AS term, CAST(count(*) AS DOUBLE) AS c FROM "
            f"(SELECT source, explode({_S_TOK}) AS tok FROM documents) "
            "GROUP BY source, tok"
        ),
        "simpson_per_source",
    )
    return spark.sql(_SIMPSON_TAIL.replace("{rel}", "simpson_per_source"))


# ---------------------------------------------------------------------------
# Chi-square independence tests (the classical companion to MI)
# ---------------------------------------------------------------------------
# Same materialized joint-count relations as dq_mutual_information,
# classical statistic: χ² = Σ (observed − expected)²/expected with
# expected = row_tot·col_tot/n, plus degrees of freedom and Cramér's V
# for cross-pair comparability. Observed counts and marginals are
# exact integers; each cell's contribution is a deterministic double
# snapped to the 1e-6 grid before the exact cell sum.

_CHI2_BRANCH = """
SELECT '{label}' AS pair,
       CAST((SELECT count(DISTINCT jx) FROM {rel}) AS INT) AS card_x,
       CAST((SELECT count(DISTINCT jy) FROM {rel}) AS INT) AS card_y,
       chi.chi2,
       CAST(((SELECT count(DISTINCT jx) FROM {rel}) - 1)
            * ((SELECT count(DISTINCT jy) FROM {rel}) - 1) AS INT) AS dof,
       floor(sqrt(chi.chi2 / (chi.n
             * least((SELECT count(DISTINCT jx) FROM {rel}) - 1,
                     (SELECT count(DISTINCT jy) FROM {rel}) - 1)))
             * 1e6 + 0.5) / 1e6 AS cramers_v
FROM (
    SELECT {cellsum} AS chi2, max(n.n) AS n
    FROM {rel} j
    JOIN (SELECT jx, sum(c) AS cx FROM {rel} GROUP BY jx) mx ON j.jx = mx.jx
    JOIN (SELECT jy, sum(c) AS cy FROM {rel} GROUP BY jy) my ON j.jy = my.jy
    CROSS JOIN (SELECT sum(c) AS n FROM {rel}) n
) chi
"""


def _chi2_sql(rels: list[str]) -> str:
    from automated_data_pipeline_python_spark.functions.numeric import (
        sql_exact_sum as es,
    )

    cellsum = es(
        "(j.c - mx.cx * my.cy / n.n) * (j.c - mx.cx * my.cy / n.n)"
        " / (mx.cx * my.cy / n.n)",
        6,
    )
    branches = [
        _CHI2_BRANCH.format(
            label=f"{t}.{x}|{t}.{y}", rel=rel, cellsum=cellsum
        )
        for (t, x, y), rel in zip(_MI_PAIRS, rels)
    ]
    union = "\nUNION ALL\n".join(f"SELECT * FROM ({b})" for b in branches)
    return f"SELECT * FROM (\n{union}\n) ORDER BY pair"


_CHI2_DUCK_SQL = (
    "WITH "
    + ", ".join(
        f"joint_{i} AS ({_mi_joint_sql(t, x, y)})"
        for i, (t, x, y) in enumerate(_MI_PAIRS)
    )
    + "\n"
    + _chi2_sql([f"joint_{i}" for i in range(len(_MI_PAIRS))])
)


@register("dq_chi2_independence", oracle=_CHI2_DUCK_SQL)
def dq_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic, dof, and Cramér's V per pair."""
    register_views(spark, sf_dir, "orders", "lineitem")
    rels = []
    for i, (t, x, y) in enumerate(_MI_PAIRS):
        view = f"chi2_joint_{i}"
        materialize(spark.sql(_mi_joint_sql(t, x, y)), view)
        rels.append(view)
    return spark.sql(_chi2_sql(rels))


# ---------------------------------------------------------------------------
# Cross-source quantile normalization (rank-based feature alignment)
# ---------------------------------------------------------------------------
# The fix once drift is detected: map each source's feature
# distribution onto the POOLED distribution so per-source scale
# artifacts vanish (rank-normalization — the multi-batch correction
# microarray pipelines made standard, applied to doc length).
#
# Engineered for scale with ZERO doubles: a doc at within-source rank
# rk of n maps to permille p = ceil(1000·rk/n) (integer ceil-division),
# and permille p maps to the pooled value at global rank
# ceil(p·N/1000). The pooled CDF is computed over DISTINCT VALUES
# (value-vocabulary-sized, never a corpus-wide row_number — no
# single-partition global window), and the permille→value lookup is a
# 1000-row broadcast range-probe into that CDF. Every rank uses a
# doc_id tiebreak; everything is BIGINT end to end.


def _qnorm_sql(idiv: str) -> str:
    d = lambda a, b: idiv.format(a=a, b=b)  # noqa: E731
    return f"""
WITH vals AS (
    SELECT doc_id, source, n_chars FROM documents
),
src_ranked AS (
    SELECT doc_id, source, n_chars,
           CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rk,
           CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
    FROM vals
),
gcdf AS (
    SELECT n_chars AS g_val,
           CAST(sum(c) OVER (ORDER BY n_chars) AS BIGINT)     AS cum,
           CAST(sum(c) OVER (ORDER BY n_chars) - c AS BIGINT) AS prev_cum
    FROM (SELECT n_chars, CAST(count(*) AS BIGINT) AS c
          FROM vals GROUP BY n_chars)
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_glob FROM vals),
permille AS (
    SELECT p, {d('p * t.n_glob + 999', '1000')} AS g_rk
    FROM {{series}} CROSS JOIN tot t
),
pmap AS (
    SELECT p.p, g.g_val
    FROM permille p JOIN gcdf g
      ON g.cum >= p.g_rk AND g.prev_cum < p.g_rk
)
SELECT s.doc_id, s.source, s.n_chars,
       m.g_val AS qn_chars
FROM src_ranked s
JOIN pmap m
  ON m.p = {d('1000 * s.rk + s.n_src - 1', 's.n_src')}
"""


_QNORM_SPARK_SQL = _qnorm_sql("CAST(({a}) DIV ({b}) AS BIGINT)").format(
    series="(SELECT explode(sequence(1, 1000)) AS p)"
)
_QNORM_DUCK_SQL = _qnorm_sql("CAST(({a}) // ({b}) AS BIGINT)").format(
    series="(SELECT CAST(unnest(generate_series(1, 1000)) AS BIGINT) AS p)"
)


@register("feature_quantile_normalize", oracle=_QNORM_DUCK_SQL)
def feature_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-normalize doc length per source onto the pooled
    distribution via integer permille mapping.

    Scale: source-partitioned rank windows (never a corpus-wide global
    row_number), a distinct-value CDF, and a 1000-row broadcastable
    permille lookup — all-BIGINT arithmetic, no float boundary at all.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_QNORM_SPARK_SQL)


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov test
# ---------------------------------------------------------------------------
# The distribution-shape member of the drift family: KL/PSI/JS above
# compare binned densities; KS compares FULL empirical CDFs — the
# supremum gap D = max_v |F1(v) − F2(v)| — with no binning choice at
# all. Here: click vs purchase `value` distributions.
#
# Everything is integer until the final division: values are
# 2-decimal doubles → exact cents, the evaluation grid is the bounded
# DISTINCT-cents relation (the distinct-value-CDF discipline — no
# corpus-wide row window), per-side cumulative counts come from ONE
# unpartitioned window over that bounded grid, and the gap compares
# cross-multiplied integers |c1·n2 − c2·n1| so no float enters the
# argmax. The statistic, its location (smallest cents at the max gap
# — integer tiebreak), and the asymptotic p-value
# 2·exp(−2D²·n1n2/(n1+n2)) are single float expressions, snapped.

# Everything downstream of the per-cents (cx, cy) count grid, as a
# {grid}-parameterized template: the CDF/sup-gap algebra runs over any
# relation with the grid's columns.
_KS_TAIL = """cdf AS (
    SELECT cents,
           CAST(sum(cx) OVER (ORDER BY cents) AS BIGINT) AS fx,
           CAST(sum(cy) OVER (ORDER BY cents) AS BIGINT) AS fy
    FROM {grid}
),
tot AS (
    SELECT CAST(sum(cx) AS BIGINT) AS n1, CAST(sum(cy) AS BIGINT) AS n2
    FROM {grid}
),
gaps AS (
    -- fx, fy <= n1, n2: the raw BIGINT cross-multiply would overflow
    -- once n1*n2 > ~9.2e18 (plausible at the 100 TB design point), so
    -- the products run in DECIMAL(38,0) — identical exact-integer
    -- semantics on both engines, headroom to 1e38
    SELECT c.cents,
           abs(CAST(c.fx AS DECIMAL(38,0)) * t.n2
               - CAST(c.fy AS DECIMAL(38,0)) * t.n1) AS gap_i,
           t.n1, t.n2,
           CAST(row_number() OVER (
               ORDER BY abs(CAST(c.fx AS DECIMAL(38,0)) * t.n2
                            - CAST(c.fy AS DECIMAL(38,0)) * t.n1) DESC,
                        c.cents)
               AS BIGINT) AS rk
    FROM cdf c CROSS JOIN tot t
)
SELECT n1 AS n_click, n2 AS n_purchase,
       floor((CAST(gap_i AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2))
             * 1e6 + 0.5) / 1e6 AS ks_stat,
       floor((CAST(cents AS DOUBLE) / 1e2) * 1e6 + 0.5) / 1e6
           AS ks_location,
       floor((2e0 * exp(-2e0
                        * (CAST(gap_i AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2))
                        * (CAST(gap_i AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2))
                        * (CAST(n1 AS DOUBLE) * n2 / (n1 + n2))))
             * 1e6 + 0.5) / 1e6 AS p_value
FROM gaps WHERE rk = 1
"""

_KS_SQL = """
WITH vals AS (
    SELECT CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_x
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
grid AS (
    SELECT cents,
           CAST(sum(is_x) AS BIGINT) AS cx,
           CAST(sum(1 - is_x) AS BIGINT) AS cy
    FROM vals GROUP BY cents
),
""" + _KS_TAIL.format(grid="grid")

@register("events_ks_two_sample", oracle=_KS_SQL)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic, location, and asymptotic p-value for
    the click vs purchase value distributions."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_KS_SQL)


# ---------------------------------------------------------------------------
# Mann–Whitney U (Wilcoxon rank-sum) test
# ---------------------------------------------------------------------------
# The rank-based sibling of the KS test above: KS asks "are the CDFs
# anywhere apart", Mann–Whitney asks "does one sample stochastically
# dominate" — the robust two-sample location screen that ignores
# outliers a t-test would chase. Same click-vs-purchase value framing.
#
# Everything stays integer until the final z: ranks come from the
# bounded DISTINCT-cents grid (the distinct-value-CDF discipline — the
# same unpartitioned-window-over-the-grid shape the KS query pins),
# average midranks for a tied group double to exact integers
# (2·rank = 2·cum_before + t + 1), so the doubled rank sum 2·R1, the
# doubled statistic 2·U1 = 2·R1 − n1(n1+1), and the tie correction
# Σ(t³−t) are all exact DECIMAL sums. z (normal approximation with the
# standard tie-corrected variance) is one float expression over those
# integers, snapped; the two-sided p runs abs(z) through the shared
# A&S normal-CDF polynomial (sql_normal_two_sided_p) and snaps.

from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_normal_two_sided_p,
)

_MW_Z = """(
    (CAST(r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)
          AS DOUBLE) / 2e0
     - CAST(n1 AS DOUBLE) * n2 / 2e0)
    / sqrt(CAST(n1 AS DOUBLE) * n2 / 12e0
           * ((n1 + n2 + 1e0)
              - CAST(tie3 AS DOUBLE)
                / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))
)"""

_MW_SQL = f"""
WITH vals AS (
    SELECT CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_x
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
grid AS (
    SELECT cents,
           CAST(sum(is_x) AS BIGINT) AS cx,
           CAST(sum(1 - is_x) AS BIGINT) AS cy
    FROM vals GROUP BY cents
),
ranked AS (
    SELECT cents, cx, cy, cx + cy AS t,
           CAST(coalesce(sum(cx + cy) OVER (
               ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
    FROM grid
),
agg AS (
    SELECT CAST(sum(cx) AS BIGINT) AS n1,
           CAST(sum(cy) AS BIGINT) AS n2,
           CAST(sum(CAST(cx AS DECIMAL(38,0)) * (2 * cum_before + t + 1))
                AS DECIMAL(38,0)) AS r1x2,
           CAST(sum(CAST(t AS DECIMAL(38,0)) * t * t - t)
                AS DECIMAL(38,0)) AS tie3
    FROM ranked
),
zed AS (
    SELECT n1, n2,
           floor((CAST(r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)
                       AS DOUBLE) / 2e0) * 1e6 + 0.5) / 1e6 AS u_stat,
           floor({_MW_Z} * 1e6 + 0.5) / 1e6 AS z_score
    FROM agg
)
SELECT n1 AS n_click, n2 AS n_purchase, u_stat, z_score,
       floor({sql_normal_two_sided_p("abs(z_score)")} * 1e6 + 0.5) / 1e6
           AS p_value
FROM zed
"""


@register("events_mann_whitney_u", oracle=_MW_SQL)
def events_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test of the click vs purchase value
    distributions: exact tie-corrected midranks off the distinct-cents
    grid, normal-approximation z, and two-sided p."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_MW_SQL)


# ---------------------------------------------------------------------------
# Cramér–von Mises two-sample statistic (click vs purchase values)
# ---------------------------------------------------------------------------
# The KS statistic above reads only the single largest eCDF gap; CvM
# integrates the SQUARED gap over the whole combined sample — sensitive
# to distributional differences KS under-weights (spread across the
# range rather than concentrated at one point). Anderson's two-sample
# form: T = n·m/(n+m)² · Σ_combined (F(x)−G(x))².
#
# Same bounded machinery as KS: eCDFs come off the snapped-cents value
# HISTOGRAM (cumulative window over a grid-bounded relation — the
# sanctioned class), each gap is the exact integer fx·m − fy·n, terms
# normalize into [0,1] before snapping to the 1e-12 grid and summing
# exactly, and the single rescale multiplies at the end.

_CVM_SQL = f"""
WITH vals AS (
    SELECT CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_x
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
grid AS (
    SELECT cents,
           CAST(sum(is_x) AS BIGINT) AS cx,
           CAST(sum(1 - is_x) AS BIGINT) AS cy
    FROM vals GROUP BY cents
),
cdf AS (
    SELECT cents, cx, cy,
           CAST(sum(cx) OVER (ORDER BY cents) AS BIGINT) AS fx,
           CAST(sum(cy) OVER (ORDER BY cents) AS BIGINT) AS fy
    FROM grid
),
tot AS (
    SELECT CAST(sum(cx) AS BIGINT) AS n1, CAST(sum(cy) AS BIGINT) AS n2
    FROM grid
),
terms AS (
    SELECT (CAST(c.cx + c.cy AS DOUBLE) / (t.n1 + t.n2))
           * ((CAST(c.fx AS DOUBLE) * t.n2 - CAST(c.fy AS DOUBLE) * t.n1)
              / (CAST(t.n1 AS DOUBLE) * t.n2))
           * ((CAST(c.fx AS DOUBLE) * t.n2 - CAST(c.fy AS DOUBLE) * t.n1)
              / (CAST(t.n1 AS DOUBLE) * t.n2)) AS term,
           t.n1, t.n2
    FROM cdf c CROSS JOIN tot t
)
SELECT n1 AS n_click, n2 AS n_purchase,
       floor(((CAST(n1 AS DOUBLE) * n2 / (n1 + n2))
              * ({sql_exact_sum("term", 12)})) * 1e6 + 0.5) / 1e6
           AS cvm_t
FROM terms
GROUP BY n1, n2
"""


@register("events_cramer_von_mises", oracle=_CVM_SQL)
def events_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises T for the click vs purchase value
    distributions — the integrated-squared-gap companion to the KS
    test, off the same snapped-cents histogram CDFs."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_CVM_SQL)


# ---------------------------------------------------------------------------
# Kuiper two-sample statistic (click vs purchase values)
# ---------------------------------------------------------------------------
# The third member of the eCDF family: KS reads the single largest
# |gap|, CvM integrates the squared gap, Kuiper V = D⁺ + D⁻ adds the
# largest positive and largest negative gaps — equally sensitive at
# the distribution tails and at the median (the property that makes it
# the standard for cyclic/shift alternatives). Identical bounded
# machinery: integer gaps off the snapped-cents histogram CDFs, two
# extreme scans, one snapped division.

_KUIPER_SQL = """
WITH vals AS (
    SELECT CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_x
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
grid AS (
    SELECT cents,
           CAST(sum(is_x) AS BIGINT) AS cx,
           CAST(sum(1 - is_x) AS BIGINT) AS cy
    FROM vals GROUP BY cents
),
cdf AS (
    SELECT cents,
           CAST(sum(cx) OVER (ORDER BY cents) AS BIGINT) AS fx,
           CAST(sum(cy) OVER (ORDER BY cents) AS BIGINT) AS fy
    FROM grid
),
tot AS (
    SELECT CAST(sum(cx) AS BIGINT) AS n1, CAST(sum(cy) AS BIGINT) AS n2
    FROM grid
),
ext AS (
    -- cross-multiplies in DECIMAL(38,0): BIGINT overflows once
    -- n1*n2 > ~9.2e18 (same fix as the KS/W1 tails)
    SELECT max(CAST(c.fx AS DECIMAL(38,0)) * t.n2
               - CAST(c.fy AS DECIMAL(38,0)) * t.n1) AS dplus,
           max(CAST(c.fy AS DECIMAL(38,0)) * t.n1
               - CAST(c.fx AS DECIMAL(38,0)) * t.n2) AS dminus,
           CAST(min(t.n1) AS BIGINT) AS n1, CAST(min(t.n2) AS BIGINT) AS n2
    FROM cdf c CROSS JOIN tot t
)
SELECT n1 AS n_click, n2 AS n_purchase,
       floor((CAST(greatest(dplus, 0) AS DOUBLE)
              / (CAST(n1 AS DOUBLE) * n2)) * 1e6 + 0.5) / 1e6 AS d_plus,
       floor((CAST(greatest(dminus, 0) AS DOUBLE)
              / (CAST(n1 AS DOUBLE) * n2)) * 1e6 + 0.5) / 1e6 AS d_minus,
       floor(((CAST(greatest(dplus, 0) AS DOUBLE)
               + greatest(dminus, 0))
              / (CAST(n1 AS DOUBLE) * n2)) * 1e6 + 0.5) / 1e6
           AS kuiper_v
FROM ext
"""


@register("events_kuiper_two_sample", oracle=_KUIPER_SQL)
def events_kuiper_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper V = D⁺ + D⁻ for the click vs purchase value
    distributions — the tail-sensitive completion of the KS/CvM eCDF
    family, off the same snapped-cents histogram CDFs."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_KUIPER_SQL)


# ---------------------------------------------------------------------------
# Wasserstein-1 (earth mover's) distance between value distributions
# ---------------------------------------------------------------------------
# The transport member of the eCDF family: KS/Kuiper read extreme CDF
# gaps, CvM integrates the squared gap over the combined SAMPLE, W1
# integrates |F1 - F2| over the VALUE axis — the only one of the four
# with the distribution's own units (dollars here), which is what makes
# it the standard drift magnitude for score/price monitoring ("the
# distributions are 0.42 $ apart" is actionable; a KS of 0.07 is not).
#
# For step eCDFs on the distinct-cents grid, W1 = Σ_i |F1(v_i) - F2(v_i)|
# · (v_{i+1} - v_i) over consecutive grid points. Everything is exact
# integers until ONE final division: per-segment mass is the
# cross-multiplied |fx·n2 - fy·n1| times the integer cents gap, summed
# in DECIMAL(38,0) (DuckDB sums into HUGEINT on its own), and the
# statistic divides by n1·n2·100 once, snapped. Scale: the corpus pass
# is the snapped-cents histogram; the cumulative CDF and the lead()
# segment width are windows over the bounded distinct-cents grid — the
# sanctioned class (same shape the KS/CvM/Kuiper queries pin).

# Everything downstream of the per-cents (cx, cy) count grid, as a
# {grid}-parameterized template over the SAME grid the KS query builds
# (one count relation, two drift reports).
_W1_TAIL = """cdf AS (
    SELECT cents,
           CAST(sum(cx) OVER (ORDER BY cents) AS BIGINT) AS fx,
           CAST(sum(cy) OVER (ORDER BY cents) AS BIGINT) AS fy,
           lead(cents) OVER (ORDER BY cents) AS next_cents
    FROM {grid}
),
tot AS (
    SELECT CAST(sum(cx) AS BIGINT) AS n1, CAST(sum(cy) AS BIGINT) AS n2
    FROM {grid}
),
mass AS (
    -- the last grid point has no segment (both CDFs are 1 beyond it).
    -- The cross-multiply itself runs in DECIMAL(38,0) (not BIGINT-then-
    -- cast): fx*n2 would overflow BIGINT once n1*n2 > ~9.2e18,
    -- plausible at the 100 TB design point.
    SELECT CAST(sum(abs(CAST(c.fx AS DECIMAL(38,0)) * t.n2
                        - CAST(c.fy AS DECIMAL(38,0)) * t.n1)
                    * (c.next_cents - c.cents)) AS DECIMAL(38,0)) AS m,
           CAST(min(t.n1) AS BIGINT) AS n1,
           CAST(min(t.n2) AS BIGINT) AS n2
    FROM cdf c CROSS JOIN tot t
    WHERE c.next_cents IS NOT NULL
)
SELECT n1 AS n_click, n2 AS n_purchase,
       floor((CAST(m AS DOUBLE)
              / (CAST(n1 AS DOUBLE) * n2 * 100)) * 1e6 + 0.5) / 1e6
           AS w1_distance
FROM mass
"""

_WASSERSTEIN_SQL = """
WITH vals AS (
    SELECT CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_x
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
grid AS (
    SELECT cents,
           CAST(sum(is_x) AS BIGINT) AS cx,
           CAST(sum(1 - is_x) AS BIGINT) AS cy
    FROM vals GROUP BY cents
),
""" + _W1_TAIL.format(grid="grid")

@register("events_wasserstein_distance", oracle=_WASSERSTEIN_SQL)
def events_wasserstein_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance in dollars between the
    click and purchase value distributions — exact integer transport
    mass off the snapped-cents histogram CDFs, one final division."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_WASSERSTEIN_SQL)


# ---------------------------------------------------------------------------
# Pairwise Hellinger + total-variation distance between sources (r10)
# ---------------------------------------------------------------------------
# JS (above) is the information-theoretic pairwise view; mixture design
# reviews also quote the two METRIC distances — Hellinger (bounded,
# sqrt-affinity based, the one with clean tensorization bounds) and
# total variation (the max-event probability gap). Both decompose over
# the SHARED vocabulary only: terms present in one source contribute 0
# to the Bhattacharyya affinity and p/2 to TV, so
#   H  = sqrt(1 − Σ_common sqrt(p_a·p_b))
#   TV = ½[Σ_common |p_a − p_b| + (1 − Σ_common p_a)
#          + (1 − Σ_common p_b)].
# Per-term contributions snap onto the 1e-9 grid and sum exactly (the
# JS query's discipline, same pair-join shape, same vocab-bounded
# cost); the final sqrt/halving snaps at output.

_HELL_TAIL = f"""
SELECT a.source AS source_a, b.source AS source_b,
       floor(sqrt(greatest(
           1e0 - {sql_exact_sum("sqrt((a.c / ta.n) * (b.c / tb.n))", 9)},
           0e0)) * 1e6 + 0.5) / 1e6 AS hellinger,
       floor((5e-1 * (
           {sql_exact_sum("abs(a.c / ta.n - b.c / tb.n)", 9)}
           + (1e0 - {sql_exact_sum("a.c / ta.n", 9)})
           + (1e0 - {sql_exact_sum("b.c / tb.n", 9)})
       )) * 1e6 + 0.5) / 1e6 AS total_variation
FROM {{rel}} a
JOIN {{rel}} b ON a.term = b.term AND a.source < b.source
JOIN (SELECT source, CAST(sum(c) AS DOUBLE) AS n
      FROM {{rel}} GROUP BY source) ta ON a.source = ta.source
JOIN (SELECT source, CAST(sum(c) AS DOUBLE) AS n
      FROM {{rel}} GROUP BY source) tb ON b.source = tb.source
GROUP BY a.source, b.source
ORDER BY a.source, b.source
"""

_HELL_DUCK_SQL = (
    "WITH per_source AS ("
    f"SELECT source, tok AS term, CAST(count(*) AS DOUBLE) AS c FROM "
    f"(SELECT source, unnest({_D_TOK}) AS tok FROM documents) "
    "GROUP BY source, tok)\n" + _HELL_TAIL.replace("{rel}", "per_source")
)


@register("corpus_source_hellinger_tv", oracle=_HELL_DUCK_SQL)
def corpus_source_hellinger_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Hellinger and total-variation distances between source
    token distributions — the metric companions to the JS matrix, off
    the same shared-vocabulary decomposition."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            "SELECT source, tok AS term, CAST(count(*) AS DOUBLE) AS c FROM "
            f"(SELECT source, explode({_S_TOK}) AS tok FROM documents) "
            "GROUP BY source, tok"
        ),
        "hell_per_source",
    )
    return spark.sql(_HELL_TAIL.replace("{rel}", "hell_per_source"))
