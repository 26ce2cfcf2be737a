"""Model-scored curation operators (SURVEY §2.8 quality-pipeline adds).

Two filters every large-scale training-data pipeline runs between
heuristic cleaning and dedup, both expressed fully JVM-side:

- ``quality_logistic_filter``: a fixed-weight logistic regression over
  per-document features (token count, type/token ratio, stopword
  ratio, mean word length) — the execution shape of model-scored
  filtering (fastText/classifier gates): featurize in one map pass,
  score with a dot product, threshold. Swap the literal weights for a
  trained model's; the plan does not change.
- ``doc_unigram_surprisal``: CCNet-style language-model filtering with
  a unigram proxy — per-token surprisal -ln p(token) under the corpus
  unigram distribution, averaged per document, quartile-bucketed. The
  real pipeline scores with a KenLM/transformer; the unigram form keeps
  the identical two-aggregation + broadcast-vocab-join plan
  oracle-checkable.

Cross-engine float discipline: feature ratios are single divisions of
identical integers (bit-identical across engines); z accumulates
left-to-right in the same expression shape on both sides; only
exp/ln can differ by an ulp, so scores snap to the 1e-6 grid BEFORE
any threshold compare or ranking (the semdedup/kmeans discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.text import (
    DUCK_TOKENS,
    SPARK_TOKENS,
    duck_stopword_hits,
    spark_stopword_hits,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import register_views

_S_TOK = SPARK_TOKENS.format(col="text")
_D_TOK = DUCK_TOKENS.format(col="text")

# Fixed "model" weights: intercept, type/token ratio, stopword ratio,
# (mean word length - 4), token count. A trained classifier drops in
# here without changing the plan.
_Z = (
    "-1.5 + 2.5 * uniq_ratio - 4.0 * stop_ratio"
    " + 0.5 * (mean_len - 4.0) - 0.005 * n_tok"
)

# Stage expressions shared by the catalog SQL and the DataFrame form
# (quality_gate) — one source of truth, so the gate the examples run is
# arithmetically identical to the oracle-checked query.
_S_FEAT_EXPRS = [
    "size(toks) AS n_tok",
    "size(array_distinct(toks)) AS n_uniq",
    "size(filter(toks, x -> x = 'a' OR x = 'the')) AS n_stop",
    "aggregate(transform(toks, x -> length(x)), 0,"
    " (acc, v) -> acc + v) AS sum_len",
]
_RATIO_EXPRS = [
    "CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio",
    "CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio",
    "CAST(sum_len AS DOUBLE) / n_tok AS mean_len",
]
_SCORE_EXPR = f"floor((1.0 / (1.0 + exp(-({_Z})))) * 1e6 + 0.5) / 1e6 AS score"
_OUT_EXPRS = [
    "doc_id",
    "CAST(n_tok AS INT) AS n_tok",
    "floor((uniq_ratio) * 1e6 + 0.5) / 1e6 AS uniq_ratio",
    "floor((stop_ratio) * 1e6 + 0.5) / 1e6 AS stop_ratio",
    "floor((mean_len) * 1e6 + 0.5) / 1e6 AS mean_len",
    "score",
    "(score >= 0.5) AS kept",
]

_QUALITY_TAIL = f"""
scored AS (
    SELECT doc_id, n_tok, uniq_ratio, stop_ratio, mean_len,
           {_SCORE_EXPR}
    FROM ratios
)
SELECT {', '.join(_OUT_EXPRS)}
FROM scored
"""

_QUALITY_SPARK_SQL = f"""
WITH feats AS (
    SELECT doc_id, {', '.join(_S_FEAT_EXPRS)}
    FROM (SELECT doc_id, {_S_TOK} AS toks FROM documents)
),
ratios AS (
    SELECT doc_id, n_tok, {', '.join(_RATIO_EXPRS)}
    FROM feats
),
{_QUALITY_TAIL}
"""


def quality_gate(docs: DataFrame) -> DataFrame:
    """The logistic gate as a DataFrame transformation over any
    relation with (doc_id, text) — batch OR streaming.

    Built from the same stage expressions as the oracle-checked catalog
    query, so results are arithmetically identical. Map-only (no
    aggregation, no state), which is what makes it legal in a streaming
    append-mode pipeline with no watermark: curation-on-ingest gates
    documents before they ever land in the bronze layer.
    """
    return (
        docs.selectExpr("doc_id", f"{_S_TOK} AS toks")
        .selectExpr("doc_id", *_S_FEAT_EXPRS)
        .selectExpr("doc_id", "n_tok", *_RATIO_EXPRS)
        .selectExpr(
            "doc_id", "n_tok", "uniq_ratio", "stop_ratio", "mean_len",
            _SCORE_EXPR,
        )
        .selectExpr(*_OUT_EXPRS)
    )

_QUALITY_DUCK_SQL = f"""
WITH feats AS (
    SELECT doc_id,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, x -> x = 'a' OR x = 'the')) AS n_stop,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len
    FROM (SELECT doc_id, {_D_TOK} AS toks FROM documents)
),
ratios AS (
    SELECT doc_id, n_tok,
           CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(sum_len AS DOUBLE) / n_tok AS mean_len
    FROM feats
),
{_QUALITY_TAIL}
"""


@register("quality_logistic_filter", oracle=_QUALITY_DUCK_SQL)
def quality_logistic_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality gate over per-doc text features.

    Scale: one map-only pass — featurize with array lambdas (no
    explode, no shuffle), score, threshold. At 100 TB this is the
    cheapest possible shape: a projection the parquet scan streams
    through; the expensive dedup/ANN stages downstream see only the
    kept fraction.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_QUALITY_SPARK_SQL)


def _surprisal_tail(idiv: str) -> str:
    d = lambda a, b: idiv.format(a=a, b=b)  # noqa: E731
    return f"""
vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT count(*) AS n FROM tok),
per_doc AS (
    SELECT tok.doc_id, count(*) AS n_tok,
           sum(ln(CAST(t.n AS DOUBLE) / cnt)) AS sum_s
    FROM tok JOIN vocab ON tok.token = vocab.token CROSS JOIN tot t
    GROUP BY tok.doc_id
),
snapped AS (
    SELECT doc_id, n_tok,
           floor((sum_s / n_tok) * 1e6 + 0.5) / 1e6 AS mean_surprisal
    FROM per_doc
),
shist AS (
    SELECT mean_surprisal AS v, CAST(count(*) AS BIGINT) AS c
    FROM snapped GROUP BY mean_surprisal
),
schist AS (
    SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
    FROM shist
),
stot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM snapped)
SELECT s.doc_id, CAST(s.n_tok AS BIGINT) AS n_tok, s.mean_surprisal,
       CAST({d('4 * h.cum + t.n - 1', 't.n')} AS INT) AS ppl_bucket
FROM snapped s
JOIN schist h ON h.v = s.mean_surprisal
CROSS JOIN stot t
"""


_SURPRISAL_DUCK_SQL = f"""
WITH tok AS (
    SELECT doc_id, token
    FROM (SELECT doc_id, {_D_TOK} AS w FROM documents), UNNEST(w) AS t(token)
),
{_surprisal_tail("CAST(({a}) // ({b}) AS BIGINT)")}
"""


@register("doc_unigram_surprisal", oracle=_SURPRISAL_DUCK_SQL)
def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal per document, quartile-bucketed (CCNet
    shape: LM-score the corpus, keep/mix by perplexity bucket).

    Scale: the token relation is materialized once (vocab aggregation
    and the scoring join both read it — Spark would inline the
    tokenize+explode twice); the vocab table is Zipf-bounded →
    broadcast-sized, joined back onto the token stream in one pass.
    Quartiles are read off the distinct-score CDF by integer
    ceil-division — NOT a corpus-wide ntile window (which would move
    every doc to one partition); equal scores share a bucket by
    construction. mean_surprisal sums ~100 ln() terms — accumulated
    cross-engine ulp error is ~1e-13, far inside the 1e-6 snap.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(
        f"""
        SELECT doc_id, token
        FROM (SELECT doc_id, {_S_TOK} AS w FROM documents)
        LATERAL VIEW explode(w) t AS token
        """
    ), "ug_tok")
    return spark.sql(
        "WITH tok AS (SELECT * FROM ug_tok),\n"
        + _surprisal_tail("CAST(({a}) DIV ({b}) AS BIGINT)")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling weights
# ---------------------------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al., 2023): score
# each candidate document by its unigram log-likelihood ratio under a
# target distribution vs the corpus distribution, then keep the top
# scorers. Target here = the 'src0' slice (stands in for the curated
# seed set); candidates = everything else. Add-1 smoothing over the
# shared vocabulary keeps unseen-in-target tokens finite. The token
# relation is materialized once (vocab counts and the scoring join
# both read it); vocab is Zipf-bounded → broadcast-sized. Weights
# snap to the 1e-6 grid BEFORE the top-k ordering (doc_id tiebreak),
# so both engines rank identical values.

_DSIR_TAIL = """
vocab AS (
    SELECT token,
           count(*) AS c,
           sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc
    FROM tok GROUP BY token
),
tots AS (
    SELECT CAST(sum(c) AS DOUBLE) AS n,
           CAST(sum(tc) AS DOUBLE) AS tn,
           CAST(count(*) AS DOUBLE) AS v
    FROM vocab
),
scored AS (
    SELECT tok.doc_id, tok.source,
           count(*) AS n_tok,
           sum(ln(((vocab.tc + 1) / (t.tn + t.v))
                  / ((vocab.c + 1) / (t.n + t.v)))) AS sum_llr
    FROM tok JOIN vocab ON tok.token = vocab.token CROSS JOIN tots t
    WHERE tok.source != 'src0'
    GROUP BY tok.doc_id, tok.source
),
snapped AS (
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           floor((sum_llr / n_tok) * 1e6 + 0.5) / 1e6 AS mean_llr
    FROM scored
),
picked AS (
    SELECT * FROM snapped ORDER BY mean_llr DESC, doc_id LIMIT 50
)
SELECT doc_id, source, n_tok, mean_llr,
       CAST(row_number() OVER (ORDER BY mean_llr DESC, doc_id) AS INT) AS rnk
FROM picked
"""

_DSIR_DUCK_SQL = f"""
WITH tok AS (
    SELECT doc_id, source, token
    FROM (SELECT doc_id, source, {_D_TOK} AS w FROM documents),
         UNNEST(w) AS t(token)
),
{_DSIR_TAIL}
"""


@register("sample_importance_dsir", oracle=_DSIR_DUCK_SQL)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: top-50 candidates by unigram
    log-likelihood ratio toward the 'src0' target distribution."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(
        f"""
        SELECT doc_id, source, token
        FROM (SELECT doc_id, source, {_S_TOK} AS w FROM documents)
        LATERAL VIEW explode(w) t AS token
        """
    ), "dsir_tok")
    return spark.sql(f"WITH tok AS (SELECT * FROM dsir_tok),\n{_DSIR_TAIL}")


# ---------------------------------------------------------------------------
# Gopher-style rule battery (per-rule pass/fail census)
# ---------------------------------------------------------------------------
# The Rae et al. (2021) filter suite reports, per rule, how much of
# the corpus it would drop — the report you read BEFORE enabling a
# gate. One corpus scan reduces to a single row of conditional
# counts; the per-rule unpivot runs on that one materialized row
# (Spark would otherwise re-run the scan per UNION branch). Every
# threshold compares a 1e-6-snapped double.

_GOPHER_FEATS = """
SELECT
    sum(CASE WHEN n_tok >= 20 AND n_tok <= 100000 THEN 1 ELSE 0 END)
        AS pass_len,
    sum(CASE WHEN mwl >= 3e0 AND mwl <= 10e0 THEN 1 ELSE 0 END)
        AS pass_mwl,
    sum(CASE WHEN stop_r >= 5e-2 THEN 1 ELSE 0 END) AS pass_stop,
    sum(CASE WHEN dist_r > 2e-1 THEN 1 ELSE 0 END) AS pass_rep,
    count(*) AS n_docs
FROM (
    SELECT
        {n_tok} AS n_tok,
        floor(({sum_len} / CAST({n_tok} AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS mwl,
        floor(({stop_hits} / CAST({n_tok} AS DOUBLE)) * 1e6 + 0.5) / 1e6
            AS stop_r,
        floor(({n_distinct} / CAST({n_tok} AS DOUBLE)) * 1e6 + 0.5) / 1e6
            AS dist_r
    FROM documents
)
"""

_GOPHER_TAIL = """
SELECT rule, n_pass, n_docs - n_pass AS n_fail,
       floor((CAST(n_pass AS DOUBLE) / n_docs) * 1e6 + 0.5) / 1e6
           AS pass_rate
FROM (
    SELECT 'token_count_20_100k' AS rule, CAST(pass_len AS BIGINT) AS n_pass,
           CAST(n_docs AS BIGINT) AS n_docs FROM {rel}
    UNION ALL
    SELECT 'mean_word_len_3_10', CAST(pass_mwl AS BIGINT),
           CAST(n_docs AS BIGINT) FROM {rel}
    UNION ALL
    SELECT 'stopword_ratio_ge_5pct', CAST(pass_stop AS BIGINT),
           CAST(n_docs AS BIGINT) FROM {rel}
    UNION ALL
    SELECT 'distinct_ratio_gt_20pct', CAST(pass_rep AS BIGINT),
           CAST(n_docs AS BIGINT) FROM {rel}
)
ORDER BY rule
"""


def _gopher_feats_sql(spark_side: bool) -> str:
    tok = _S_TOK if spark_side else _D_TOK
    if spark_side:
        n_tok = f"size({tok})"
        sum_len = (
            f"CAST(aggregate(transform({tok}, x -> length(x)), 0,"
            f" (acc, v) -> acc + v) AS DOUBLE)"
        )
        # derive from the canonical LANG_STOPWORDS profile — a re-typed
        # literal list would silently diverge from the langid operators
        # if the profile is ever tuned
        stop_hits = f"CAST({spark_stopword_hits(tok, 'en')} AS DOUBLE)"
        n_distinct = f"CAST(size(array_distinct({tok})) AS DOUBLE)"
    else:
        n_tok = f"CAST(len({tok}) AS INT)"
        sum_len = f"CAST(list_sum(list_transform({tok}, x -> length(x))) AS DOUBLE)"
        stop_hits = f"CAST({duck_stopword_hits(tok, 'en')} AS DOUBLE)"
        n_distinct = f"CAST(len(list_distinct({tok})) AS DOUBLE)"
    return (
        _GOPHER_FEATS
        .replace("{n_tok}", n_tok)
        .replace("{sum_len}", sum_len)
        .replace("{stop_hits}", stop_hits)
        .replace("{n_distinct}", n_distinct)
    )


_GOPHER_DUCK_SQL = (
    f"WITH census AS ({_gopher_feats_sql(False)})\n"
    + _GOPHER_TAIL.replace("{rel}", "census")
)


@register("quality_gopher_rules", oracle=_GOPHER_DUCK_SQL)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule pass/fail census for a Gopher-style filter suite."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_gopher_feats_sql(True)), "gopher_census")
    return spark.sql(_GOPHER_TAIL.replace("{rel}", "gopher_census"))


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV curve (the tokenizer-budget question)
# ---------------------------------------------------------------------------
# "How big a vocabulary do we need?" answered empirically: rank the
# training slice's terms by frequency, then measure what share of a
# HELD-OUT slice's tokens the top-k covers, for k ∈ {16, 32, 64, 128}.
# Train = every source except src0; held-out = src0 (the DSIR target
# convention). The rank window runs over the vocabulary relation
# (Zipf-bounded), never tokens; coverage ratios divide exact integers.

_OOV_KS = (16, 32, 64, 128)

_OOV_TAIL = f"""
train_vocab AS (
    SELECT term, count(*) AS c FROM tok WHERE source != 'src0'
    GROUP BY term
),
ranked AS (
    SELECT term,
           row_number() OVER (ORDER BY c DESC, term) AS rnk
    FROM train_vocab
),
held AS (
    SELECT term, count(*) AS c FROM tok WHERE source = 'src0'
    GROUP BY term
),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM held)
SELECT k,
       CAST(covered AS BIGINT) AS covered_tokens,
       CAST(t.n AS BIGINT) AS heldout_tokens,
       floor((covered / t.n) * 1e6 + 0.5) / 1e6 AS coverage,
       floor((1e0 - covered / t.n) * 1e6 + 0.5) / 1e6 AS oov_rate
FROM (
    SELECT ks.k,
           CAST(sum(CASE WHEN r.rnk IS NOT NULL AND r.rnk <= ks.k
                    THEN h.c ELSE 0 END) AS DOUBLE) AS covered
    FROM held h
    LEFT JOIN ranked r ON h.term = r.term
    CROSS JOIN ({{ks}}) ks
    GROUP BY ks.k
) c CROSS JOIN tot t
ORDER BY k
"""

_OOV_DUCK_SQL = (
    "WITH tok AS ("
    f"SELECT source, tok AS term FROM "
    f"(SELECT source, unnest({_D_TOK}) AS tok FROM documents)),\n"
    + _OOV_TAIL.replace(
        "{ks}",
        "SELECT CAST(unnest(["
        + ", ".join(str(k) for k in _OOV_KS)
        + "]) AS INT) AS k",
    )
)


@register("vocab_coverage_oov_curve", oracle=_OOV_DUCK_SQL)
def vocab_coverage_oov_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out token coverage and OOV rate vs top-k training vocab."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            f"SELECT source, tok AS term FROM "
            f"(SELECT source, explode({_S_TOK}) AS tok FROM documents)"
        ),
        "oov_tok",
    )
    return spark.sql(
        "WITH tok AS (SELECT * FROM oov_tok),\n"
        + _OOV_TAIL.replace(
            "{ks}",
            "SELECT explode(array("
            + ", ".join(str(k) for k in _OOV_KS)
            + ")) AS k",
        )
    )


# ---------------------------------------------------------------------------
# Classifier calibration: score deciles vs rule-based verdicts
# ---------------------------------------------------------------------------
# The eval that closes the curation loop: bucket the logistic gate's
# scores into deciles and report, per decile, how often the INDEPENDENT
# Gopher-style rule suite agrees. A monotone pass-rate curve is the
# calibration signal; a flat one says the model adds nothing over the
# rules.
#
# Deciles come from the SCORE HISTOGRAM, not a corpus-wide ntile: an
# unpartitioned ntile/rank window moves every row to one partition —
# the plan that dies at 100×. Scores live on the 1e6 grid, so the
# distinct-score relation is bounded (≤2M cells); the decile of a score
# is ceil(10·cdf/N) computed by INTEGER ceil-division over that bounded
# relation (ties share a decile by construction — cross-engine
# deterministic with no ordering at all). Mean scores aggregate as
# BIGINT micro-units, so no double is summed in engine-dependent order.


def _flagged_chain() -> str:
    """feats -> scored -> flagged: the logistic score + Gopher verdict
    per document — shared by the calibration bins (decile tail below),
    Cohen's kappa, and the ECE rollup in queries/mlstats.py."""
    return f"""
ratios AS (
    SELECT doc_id, n_tok,
           CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(sum_len AS DOUBLE) / n_tok AS mean_len
    FROM feats
),
scored AS (
    SELECT doc_id, n_tok,
           {_SCORE_EXPR},
           floor((CAST(n_uniq AS DOUBLE) / n_tok) * 1e6 + 0.5) / 1e6
               AS dist_r,
           floor((CAST(n_stop AS DOUBLE) / n_tok) * 1e6 + 0.5) / 1e6
               AS stop_r,
           floor((CAST(sum_len AS DOUBLE) / n_tok) * 1e6 + 0.5) / 1e6
               AS mwl
    FROM feats JOIN ratios USING (doc_id, n_tok)
),
flagged AS (
    SELECT score,
           CASE WHEN n_tok >= 20 AND n_tok <= 100000
                 AND mwl >= 3e0 AND mwl <= 10e0
                 AND stop_r >= 5e-2 AND dist_r > 2e-1
                THEN 1 ELSE 0 END AS gopher_pass
    FROM scored
)"""


def _calib_tail(idiv: str) -> str:
    d = lambda a, b: idiv.format(a=a, b=b)  # noqa: E731
    return f"""{_flagged_chain()},
hist AS (
    SELECT score,
           CAST(count(*) AS BIGINT)          AS c_all,
           CAST(sum(gopher_pass) AS BIGINT)  AS c_pass,
           CAST(sum(CAST(floor(score * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS s6
    FROM flagged GROUP BY score
),
chist AS (
    SELECT c_all, c_pass, s6,
           CAST(sum(c_all) OVER (ORDER BY score) AS BIGINT) AS cum
    FROM hist
),
tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n FROM hist)
SELECT CAST({d('10 * c.cum + t.n - 1', 't.n')} AS INT) AS decile,
       CAST(sum(c_all) AS BIGINT) AS n_docs,
       floor((CAST(sum(s6) AS DOUBLE) / sum(c_all)) + 0.5) / 1e6
           AS mean_score,
       CAST(sum(c_pass) AS BIGINT) AS n_gopher_pass,
       floor((CAST(sum(c_pass) AS DOUBLE) / sum(c_all)) * 1e6 + 0.5) / 1e6
           AS gopher_pass_rate
FROM chist c CROSS JOIN tot t
GROUP BY 1
"""


# Engine-specific feats headers, shared with queries/mlstats.py
# (Cohen's kappa, ECE) so every consumer scores documents identically.
_FEATS_SPARK_HEADER = f"""
WITH feats AS (
    SELECT doc_id, {', '.join(_S_FEAT_EXPRS)}
    FROM (SELECT doc_id, {_S_TOK} AS toks FROM documents)
)"""

_CALIB_SPARK_SQL = f"""{_FEATS_SPARK_HEADER},
{_calib_tail("CAST(({a}) DIV ({b}) AS BIGINT)")}
"""

_FEATS_DUCK_HEADER = f"""
WITH feats AS (
    SELECT doc_id,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, x -> x = 'a' OR x = 'the')) AS n_stop,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len
    FROM (SELECT doc_id, {_D_TOK} AS toks FROM documents)
)"""

_CALIB_DUCK_SQL = f"""{_FEATS_DUCK_HEADER},
{_calib_tail("CAST(({a}) // ({b}) AS BIGINT)")}
"""


@register("quality_calibration_bins", oracle=_CALIB_DUCK_SQL)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-score deciles vs independent Gopher-rule verdicts: the
    reliability curve for the model-scored filter.

    Scale: one map-only featurize pass feeds both scorers; deciles are
    read off the bounded distinct-score histogram by integer
    ceil-division (no corpus-wide ntile window), and the output is
    ≤10 rows.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_CALIB_SPARK_SQL)


# ---------------------------------------------------------------------------
# AUC via rank-sum: the distributed classifier eval
# ---------------------------------------------------------------------------
# AUC computed the only way that scales: the Mann-Whitney rank-sum
# identity AUC = (R+ − n+(n+1)/2) / (n+·n−), never the O(n²) pairwise
# definition — and the rank-sum itself from the SCORE HISTOGRAM, never
# a per-row global rank (an unpartitioned rank() window is a
# single-partition sort of the corpus). Tie handling is the standard
# average-rank convention in INTEGERS: a group with prev_cum rows
# below it and c members has 2·avg_rank = 2·prev_cum + c + 1.
# Everything is integer until one final snapped division, so the
# oracle hash-matches bit-for-bit. Labels come from the independent
# Gopher rule suite — the same model-vs-rules pairing
# quality_calibration_bins bins.

_AUC_TAIL = f"""
ratios AS (
    SELECT doc_id,
           CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(sum_len AS DOUBLE) / n_tok AS mean_len
    FROM feats
),
scored AS (
    SELECT r.doc_id, {_SCORE_EXPR},
           CASE WHEN f.n_tok >= 20 AND f.n_tok <= 100000
                 AND floor((CAST(f.sum_len AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 BETWEEN 3e0 AND 10e0
                 AND floor((CAST(f.n_stop AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 >= 5e-2
                 AND floor((CAST(f.n_uniq AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 > 2e-1
                THEN 1 ELSE 0 END AS pos
    FROM ratios r JOIN feats f ON f.doc_id = r.doc_id
),
hist AS (
    SELECT score,
           CAST(count(*) AS BIGINT) AS c_all,
           CAST(sum(pos) AS BIGINT) AS c_pos
    FROM scored GROUP BY score
),
chist AS (
    -- prev_cum = rows strictly below this score; for the tied group
    -- 2·avg_rank = 2·prev_cum + c_all + 1, so the rank-sum needs no
    -- per-row rank at all — only the bounded score histogram.
    SELECT c_all, c_pos,
           CAST(sum(c_all) OVER (ORDER BY score) - c_all AS BIGINT)
               AS prev_cum
    FROM hist
),
sums AS (
    SELECT CAST(sum(c_pos) AS BIGINT)                        AS n_pos,
           CAST(sum(c_all - c_pos) AS BIGINT)                AS n_neg,
           CAST(sum(c_pos * (2 * prev_cum + c_all + 1)) AS BIGINT)
               AS r2_pos
    FROM chist
)
SELECT n_pos, n_neg,
       floor((CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
              / (2 * n_pos * n_neg)) * 1e6 + 0.5) / 1e6 AS auc,
       floor((CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
              / (n_pos * n_neg) - 1.0) * 1e6 + 0.5) / 1e6 AS gini
FROM sums
"""

_AUC_SPARK_SQL = f"""
WITH feats AS (
    SELECT doc_id, {', '.join(_S_FEAT_EXPRS)}
    FROM (SELECT doc_id, {_S_TOK} AS toks FROM documents)
),
{_AUC_TAIL}
"""

_AUC_DUCK_SQL = f"""
WITH feats AS (
    SELECT doc_id,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, x -> x = 'a' OR x = 'the')) AS n_stop,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len
    FROM (SELECT doc_id, {_D_TOK} AS toks FROM documents)
),
{_AUC_TAIL}
"""


@register("quality_auc_rank", oracle=_AUC_DUCK_SQL)
def quality_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC (+ Gini) of the logistic score against Gopher-rule labels
    via the Mann-Whitney rank-sum identity with integer doubled ranks.

    On this corpus AUC ≈ 0.22 — the placeholder weights rank OPPOSITE
    the rule suite (the −0.005·n_tok term punishes exactly the long
    docs the rules keep). That is the eval doing its job: the honest
    tuning signal, same stance as the PQ recall eval.

    Scale: one featurize pass, one bounded score-histogram
    aggregation — no pairwise comparisons and no per-row global rank
    anywhere; ties resolved by the average-rank convention in exact
    integers over histogram cells.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_AUC_SPARK_SQL)


# ---------------------------------------------------------------------------
# Brier score decomposition (Murphy: reliability − resolution + uncertainty)
# ---------------------------------------------------------------------------
# The companion to the reliability curve above: ONE number for overall
# probabilistic skill (Brier), split into the calibration term
# (reliability: do predicted probabilities match observed rates), the
# discrimination term (resolution: do bins separate the base rate),
# and the irreducible outcome variance (uncertainty). Murphy's
# identity is exact only when forecasts are constant within bins;
# with 10 equal-width bins the within-bin variance shows up as a
# RESIDUAL column — reported honestly rather than hidden.
#
# Float discipline: scores live on the 1e6 grid (p6 integer
# micro-units), outcomes are 0/1, so the Brier numerator is an exact
# integer sum of (p6 − 1e6·o)² in DECIMAL(38,0) (overflow-safe far
# beyond any corpus; DuckDB would widen anyway). Per-bin reliability/
# resolution terms are single double expressions over integer bin
# sums, snapped to the 1e-9 grid and summed as BIGINT — the ≤10-row
# bin rollup cannot introduce accumulation-order drift. Bin id is
# INTEGER division of p6 (Spark DIV / DuckDB //), never a float
# boundary compare.


def _brier_tail(idiv: str) -> str:
    d = lambda a, b: idiv.format(a=a, b=b)  # noqa: E731
    return f"""
ratios AS (
    SELECT doc_id, n_tok,
           CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(sum_len AS DOUBLE) / n_tok AS mean_len
    FROM feats
),
scored AS (
    SELECT doc_id, n_tok,
           {_SCORE_EXPR},
           floor((CAST(n_uniq AS DOUBLE) / n_tok) * 1e6 + 0.5) / 1e6
               AS dist_r,
           floor((CAST(n_stop AS DOUBLE) / n_tok) * 1e6 + 0.5) / 1e6
               AS stop_r,
           floor((CAST(sum_len AS DOUBLE) / n_tok) * 1e6 + 0.5) / 1e6
               AS mwl
    FROM feats JOIN ratios USING (doc_id, n_tok)
),
obs AS (
    SELECT CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS p6,
           CASE WHEN n_tok >= 20 AND n_tok <= 100000
                 AND mwl >= 3e0 AND mwl <= 10e0
                 AND stop_r >= 5e-2 AND dist_r > 2e-1
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS o
    FROM scored
),
bins AS (
    SELECT least(CAST({d("p6", "100000")} AS BIGINT), CAST(9 AS BIGINT))
               AS bin,
           CAST(count(*) AS BIGINT) AS n_k,
           CAST(sum(p6) AS BIGINT) AS sp6,
           CAST(sum(o) AS BIGINT) AS so,
           CAST(sum(CAST((p6 - 1000000 * o) * (p6 - 1000000 * o)
                         AS DECIMAL(38,0))) AS DOUBLE) AS sq_k
    FROM obs GROUP BY 1
),
tot AS (
    SELECT CAST(sum(n_k) AS BIGINT) AS n,
           CAST(sum(so) AS BIGINT) AS so_all,
           CAST(sum(sq_k) AS DOUBLE) AS sq
    FROM bins
),
terms AS (
    SELECT
        CAST(sum(CAST(floor(
            (CAST(b.sp6 - 1000000 * b.so AS DOUBLE)
             * CAST(b.sp6 - 1000000 * b.so AS DOUBLE)
             / (CAST(b.n_k AS DOUBLE) * 1e12)) * 1e9 + 0.5)
            AS BIGINT)) AS BIGINT) AS rel9,
        CAST(sum(CAST(floor(
            (CAST(b.so * t.n - t.so_all * b.n_k AS DOUBLE)
             * CAST(b.so * t.n - t.so_all * b.n_k AS DOUBLE)
             / (CAST(b.n_k AS DOUBLE) * CAST(t.n AS DOUBLE)
                * CAST(t.n AS DOUBLE))) * 1e9 + 0.5)
            AS BIGINT)) AS BIGINT) AS res9
    FROM bins b CROSS JOIN tot t
)
SELECT t.n AS n_docs,
       floor((CAST(t.so_all AS DOUBLE) / t.n) * 1e6 + 0.5) / 1e6
           AS base_rate,
       floor((t.sq / 1e12 / t.n) * 1e6 + 0.5) / 1e6 AS brier,
       floor((CAST(x.rel9 AS DOUBLE) / 1e9 / t.n) * 1e6 + 0.5) / 1e6
           AS reliability,
       floor((CAST(x.res9 AS DOUBLE) / 1e9 / t.n) * 1e6 + 0.5) / 1e6
           AS resolution,
       floor(((CAST(t.so_all AS DOUBLE) / t.n)
              * (1e0 - CAST(t.so_all AS DOUBLE) / t.n)) * 1e6 + 0.5) / 1e6
           AS uncertainty,
       floor((t.sq / 1e12 / t.n
              - (CAST(x.rel9 AS DOUBLE) / 1e9 / t.n
                 - CAST(x.res9 AS DOUBLE) / 1e9 / t.n
                 + (CAST(t.so_all AS DOUBLE) / t.n)
                   * (1e0 - CAST(t.so_all AS DOUBLE) / t.n)))
             * 1e6 + 0.5) / 1e6 AS within_bin_residual
FROM tot t CROSS JOIN terms x
"""


_BRIER_SPARK_SQL = f"""
WITH feats AS (
    SELECT doc_id, {', '.join(_S_FEAT_EXPRS)}
    FROM (SELECT doc_id, {_S_TOK} AS toks FROM documents)
),
{_brier_tail("CAST(({a}) DIV ({b}) AS BIGINT)")}
"""

_BRIER_DUCK_SQL = f"""
WITH feats AS (
    SELECT doc_id,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, x -> x = 'a' OR x = 'the')) AS n_stop,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len
    FROM (SELECT doc_id, {_D_TOK} AS toks FROM documents)
),
{_brier_tail("CAST(({a}) // ({b}) AS BIGINT)")}
"""


@register("quality_brier_decomposition", oracle=_BRIER_DUCK_SQL)
def quality_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the logistic gate vs the Gopher-rule labels,
    decomposed into reliability − resolution + uncertainty (+ honest
    within-bin residual). One map-only featurize pass; everything
    after the 10-bin rollup is scalar."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_BRIER_SPARK_SQL)


# ---------------------------------------------------------------------------
# Average precision (PR-AUC) + best-F1 operating point
# ---------------------------------------------------------------------------
# The imbalanced-data companion to quality_auc_rank: the ROC AUC above
# is insensitive to the positive-class share, while average precision
# AP = Σ_k (R_k − R_{k−1})·P_k (summed per distinct score, descending
# — exactly scikit-learn's tie handling) degrades honestly when
# positives are rare. Same model-vs-rules pairing: logistic score vs
# Gopher-rule labels. The F1 sweep uses the identity
# F1(k) = 2·cumPos_k / (cumTot_k + n_pos), so the best threshold is an
# ORDER BY + LIMIT over the score histogram (TakeOrdered, no global
# rank).
#
# All cumulative quantities are exact integers off the bounded
# score-histogram (snapped 1e-6 score grid); precision snaps to the
# 1e-9 grid before the per-bucket AP contribution, which exact-sums.

_PR_TAIL = f"""
ratios AS (
    SELECT doc_id,
           CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(sum_len AS DOUBLE) / n_tok AS mean_len
    FROM feats
),
scored AS (
    SELECT r.doc_id, {_SCORE_EXPR},
           CASE WHEN f.n_tok >= 20 AND f.n_tok <= 100000
                 AND floor((CAST(f.sum_len AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 BETWEEN 3e0 AND 10e0
                 AND floor((CAST(f.n_stop AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 >= 5e-2
                 AND floor((CAST(f.n_uniq AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 > 2e-1
                THEN 1 ELSE 0 END AS pos
    FROM ratios r JOIN feats f ON f.doc_id = r.doc_id
),
hist AS (
    SELECT score,
           CAST(count(*) AS BIGINT) AS c_all,
           CAST(sum(pos) AS BIGINT) AS c_pos
    FROM scored GROUP BY score
),
cum AS (
    SELECT score, c_all, c_pos,
           CAST(sum(c_all) OVER (ORDER BY score DESC) AS BIGINT)
               AS cum_tot,
           CAST(sum(c_pos) OVER (ORDER BY score DESC) AS BIGINT)
               AS cum_pos
    FROM hist
),
tots AS (
    SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
           CAST(sum(c_all - c_pos) AS BIGINT) AS n_neg
    FROM hist
),
contrib AS (
    SELECT c.c_pos,
           floor(CAST(c.cum_pos AS DOUBLE) / c.cum_tot * 1e9 + 0.5) / 1e9
               AS prec
    FROM cum c
),
ap AS (
    SELECT floor(({{apsum}}) / t.n_pos * 1e6 + 0.5) / 1e6 AS pr_auc
    FROM contrib CROSS JOIN tots t
    GROUP BY t.n_pos
),
best AS (
    SELECT score AS best_f1_threshold,
           floor(2e0 * c.cum_pos / (c.cum_tot + t.n_pos) * 1e6 + 0.5) / 1e6
               AS best_f1
    FROM cum c CROSS JOIN tots t
    ORDER BY floor(2e0 * c.cum_pos / (c.cum_tot + t.n_pos) * 1e6 + 0.5)
                 / 1e6 DESC,
             score
    LIMIT 1
)
SELECT t.n_pos, t.n_neg, a.pr_auc, b.best_f1, b.best_f1_threshold
FROM tots t CROSS JOIN ap a CROSS JOIN best b
"""


def _pr_sql(feats: str) -> str:
    from automated_data_pipeline_python_spark.functions.numeric import (
        sql_exact_sum,
    )

    tail = _PR_TAIL.format(
        apsum=sql_exact_sum("CAST(c_pos AS DOUBLE) * prec", 6)
    )
    return f"WITH feats AS ({feats}),\n{tail}"


_PR_SPARK_SQL = _pr_sql(
    f"""
    SELECT doc_id, {', '.join(_S_FEAT_EXPRS)}
    FROM (SELECT doc_id, {_S_TOK} AS toks FROM documents)
"""
)

_PR_DUCK_SQL = _pr_sql(
    f"""
    SELECT doc_id,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, x -> x = 'a' OR x = 'the')) AS n_stop,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len
    FROM (SELECT doc_id, {_D_TOK} AS toks FROM documents)
"""
)


@register("quality_pr_auc", oracle=_PR_DUCK_SQL)
def quality_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC) and best-F1 operating point of the
    logistic score against Gopher-rule labels — per-distinct-score PR
    steps off the bounded score histogram, no per-row global rank."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_PR_SPARK_SQL)


# ---------------------------------------------------------------------------
# DeLong AUC variance + confidence interval
# ---------------------------------------------------------------------------
# quality_auc_rank reports the AUC point estimate; shipping a quality
# model needs the UNCERTAINTY — is AUC 0.72 ± 0.01 or ± 0.15? DeLong
# et al. (1988): AUC is the mean of the positive placement values
# V10_i = P̂(score_i > random negative), its variance is
# S10/m + S01/n with S10/S01 the sample variances of the positive/
# negative placements — no bootstrap, one pass.
#
# Placements share values within a tied score, so both placement
# moment sums come off the bounded score HISTOGRAM, never per-row:
# the doubled placement u_i = 2·(negatives below) + (negatives tied)
# is an exact integer (mean u / 2n == the rank AUC identically), and
# the squared sums accumulate in DECIMAL(38,0) (u² reaches 4e18 once a
# class passes ~1e9 rows). The only floats are the final variance
# ratio, sqrt, and CI endpoints — snapped. Labels: the same
# Gopher-rule suite quality_auc_rank scores against.

_DELONG_TAIL = f"""
ratios AS (
    SELECT doc_id,
           CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(sum_len AS DOUBLE) / n_tok AS mean_len
    FROM feats
),
scored AS (
    SELECT r.doc_id, {_SCORE_EXPR},
           CASE WHEN f.n_tok >= 20 AND f.n_tok <= 100000
                 AND floor((CAST(f.sum_len AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 BETWEEN 3e0 AND 10e0
                 AND floor((CAST(f.n_stop AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 >= 5e-2
                 AND floor((CAST(f.n_uniq AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 > 2e-1
                THEN 1 ELSE 0 END AS pos
    FROM ratios r JOIN feats f ON f.doc_id = r.doc_id
),
hist AS (
    SELECT score,
           CAST(count(*) AS BIGINT) AS c_all,
           CAST(sum(pos) AS BIGINT) AS c_pos
    FROM scored GROUP BY score
),
cum AS (
    SELECT score, c_pos, c_all - c_pos AS c_neg,
           CAST(sum(c_all - c_pos) OVER (ORDER BY score)
                - (c_all - c_pos) AS BIGINT) AS neg_below,
           CAST(sum(c_pos) OVER (ORDER BY score) AS BIGINT) AS pos_upto
    FROM hist
),
tot AS (
    SELECT CAST(sum(c_pos) AS BIGINT) AS m,
           CAST(sum(c_neg) AS BIGINT) AS n
    FROM cum
),
-- doubled placements: u (positives) over negatives, w (negatives)
-- over positives; exact integers per histogram cell
moments AS (
    SELECT
        CAST(sum(c.c_pos * CAST(2 * c.neg_below + c.c_neg
                                AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS su,
        CAST(sum(c.c_pos * CAST(2 * c.neg_below + c.c_neg AS DECIMAL(38,0))
                         * (2 * c.neg_below + c.c_neg))
             AS DECIMAL(38,0)) AS su2,
        CAST(sum(c.c_neg * CAST(2 * (t.m - c.pos_upto) + c.c_pos
                                AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sw,
        CAST(sum(c.c_neg * CAST(2 * (t.m - c.pos_upto) + c.c_pos
                                AS DECIMAL(38,0))
                         * (2 * (t.m - c.pos_upto) + c.c_pos))
             AS DECIMAL(38,0)) AS sw2
    FROM cum c CROSS JOIN tot t
),
vars AS (
    SELECT t.m, t.n,
           CAST(mo.su AS DOUBLE) / (2e0 * t.n * t.m) AS auc,
           (CAST(mo.su2 AS DOUBLE)
            - CAST(mo.su AS DOUBLE) * CAST(mo.su AS DOUBLE) / t.m)
               / (t.m - 1) / (4e0 * CAST(t.n AS DOUBLE) * t.n) AS s10,
           (CAST(mo.sw2 AS DOUBLE)
            - CAST(mo.sw AS DOUBLE) * CAST(mo.sw AS DOUBLE) / t.n)
               / (t.n - 1) / (4e0 * CAST(t.m AS DOUBLE) * t.m) AS s01
    FROM moments mo CROSS JOIN tot t
)
SELECT m AS n_pos, n AS n_neg,
       floor(auc * 1e6 + 0.5) / 1e6 AS auc,
       floor(sqrt(s10 / m + s01 / n) * 1e6 + 0.5) / 1e6 AS auc_se,
       floor((auc - 196e-2 * sqrt(s10 / m + s01 / n)) * 1e6 + 0.5) / 1e6
           AS ci95_lo,
       floor((auc + 196e-2 * sqrt(s10 / m + s01 / n)) * 1e6 + 0.5) / 1e6
           AS ci95_hi,
       floor(((auc - 5e-1) / sqrt(s10 / m + s01 / n)) * 1e6 + 0.5) / 1e6
           AS z_vs_chance
FROM vars
"""

_DELONG_SPARK_SQL = f"""
WITH feats AS (
    SELECT doc_id, {', '.join(_S_FEAT_EXPRS)}
    FROM (SELECT doc_id, {_S_TOK} AS toks FROM documents)
),
{_DELONG_TAIL}
"""

_DELONG_DUCK_SQL = f"""
WITH feats AS (
    SELECT doc_id,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, x -> x = 'a' OR x = 'the')) AS n_stop,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len
    FROM (SELECT doc_id, {_D_TOK} AS toks FROM documents)
),
{_DELONG_TAIL}
"""


@register("quality_auc_delong_ci", oracle=_DELONG_DUCK_SQL)
def quality_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong standard error, 95% CI, and z-vs-chance for the logistic
    score's AUC against Gopher-rule labels — placement-value moments
    off the bounded score histogram in exact integers (the mean
    placement IS the rank AUC, so the point estimate matches
    quality_auc_rank bit-for-bit)."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_DELONG_SPARK_SQL)


# ---------------------------------------------------------------------------
# Spiegelhalter's Z calibration test
# ---------------------------------------------------------------------------
# The calibration family reports curves (quality_calibration_bins),
# a decomposition (quality_brier_decomposition), and a bin-free
# summary (ECE) — but no TEST: is the observed miscalibration larger
# than chance given the forecasts themselves? Spiegelhalter (1986):
# under perfect calibration E[(y-p)(1-2p)] = 0 with known variance,
# so Z = sum (y-p)(1-2p) / sqrt(sum (1-2p)^2 p(1-p)) is standard
# normal. Bin-free, unlike the ECE; a proper hypothesis test, unlike
# Brier.
#
# Shape: both sums depend only on (score, label) — read off the same
# bounded score histogram the AUC/DeLong queries use (never per-row
# terms shuffled around); each histogram cell's contribution is
# snapped to the 1e-6 grid and summed as exact scaled integers, so
# the totals are order-independent. The p-value reuses the shared
# Abramowitz-Stegun normal polynomial.

def _spieg_tail() -> str:
    from automated_data_pipeline_python_spark.functions.numeric import (
        sql_normal_two_sided_p,
    )

    num_term = ("(CAST(c_pos AS DOUBLE) * (1e0 - score)"
                " + CAST(c_all - c_pos AS DOUBLE) * (0e0 - score))"
                " * (1e0 - 2e0 * score)")
    den_term = ("CAST(c_all AS DOUBLE) * (1e0 - 2e0 * score)"
                " * (1e0 - 2e0 * score) * score * (1e0 - score)")
    return f"""
ratios AS (
    SELECT doc_id,
           CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(sum_len AS DOUBLE) / n_tok AS mean_len
    FROM feats
),
scored AS (
    SELECT r.doc_id, {_SCORE_EXPR},
           CASE WHEN f.n_tok >= 20 AND f.n_tok <= 100000
                 AND floor((CAST(f.sum_len AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 BETWEEN 3e0 AND 10e0
                 AND floor((CAST(f.n_stop AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 >= 5e-2
                 AND floor((CAST(f.n_uniq AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 > 2e-1
                THEN 1 ELSE 0 END AS pos
    FROM ratios r JOIN feats f ON f.doc_id = r.doc_id
),
hist AS (
    SELECT score,
           CAST(count(*) AS BIGINT) AS c_all,
           CAST(sum(pos) AS BIGINT) AS c_pos
    FROM scored GROUP BY score
),
sums AS (
    SELECT CAST(sum(c_all) AS BIGINT) AS n,
           CAST(sum(c_pos) AS BIGINT) AS n_pos,
           CAST(sum(CAST(floor(({num_term}) * 1e6 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e6 AS num,
           CAST(sum(CAST(floor(({den_term}) * 1e6 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e6 AS den
    FROM hist
),
zed AS (
    SELECT n, n_pos, num, den,
           floor(num / sqrt(den) * 1e6 + 0.5) / 1e6 AS z
    FROM sums
)
SELECT n AS n_docs, n_pos,
       floor(num * 1e6 + 0.5) / 1e6 AS spieg_numerator,
       z AS z_stat,
       {sql_normal_two_sided_p("abs(z)")} AS p_value,
       CAST(CASE WHEN {sql_normal_two_sided_p("abs(z)")} < 5e-2
                 THEN 1 ELSE 0 END AS BIGINT) AS miscalibrated_05
FROM zed
"""


_SPIEG_SPARK_SQL = f"""{_FEATS_SPARK_HEADER},
{_spieg_tail()}
"""

_SPIEG_DUCK_SQL = f"""{_FEATS_DUCK_HEADER},
{_spieg_tail()}
"""


@register("quality_spiegelhalter_z", oracle=_SPIEG_DUCK_SQL)
def quality_spiegelhalter_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter's Z calibration test of the logistic gate against
    the Gopher-rule labels: bin-free miscalibration hypothesis test
    with exact histogram-cell sums and the shared normal polynomial
    p-value."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_SPIEG_SPARK_SQL)


# ---------------------------------------------------------------------------
# Fairness audit of the quality gate, by source
# ---------------------------------------------------------------------------
# Curation filters change the MIX of the corpus: if the logistic gate
# keeps 60% of one source and 20% of another, the training
# distribution shifts whether or not anyone decided that. The
# standard audit: per-source keep rate, the disparate-impact ratio
# against the most-kept source (the 80% rule), and equalized-odds
# gaps (TPR/FPR per source against the independent Gopher-rule
# labels). One featurize pass joined back to the source column;
# everything after is the 20-row source relation. All rates are
# exact integer ratios snapped before the 80%-rule compare.

def _fairness_tail() -> str:
    return f"""
ratios AS (
    SELECT doc_id,
           CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio,
           CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
           CAST(sum_len AS DOUBLE) / n_tok AS mean_len
    FROM feats
),
scored AS (
    SELECT r.doc_id, {_SCORE_EXPR},
           CASE WHEN f.n_tok >= 20 AND f.n_tok <= 100000
                 AND floor((CAST(f.sum_len AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 BETWEEN 3e0 AND 10e0
                 AND floor((CAST(f.n_stop AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 >= 5e-2
                 AND floor((CAST(f.n_uniq AS DOUBLE) / f.n_tok) * 1e6 + 0.5)
                     / 1e6 > 2e-1
                THEN 1 ELSE 0 END AS pos
    FROM ratios r JOIN feats f ON f.doc_id = r.doc_id
),
by_source AS (
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN s.score >= 5e-1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(s.pos) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN s.score >= 5e-1 AND s.pos = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
           CAST(sum(CASE WHEN s.score >= 5e-1 AND s.pos = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY d.source
),
rates AS (
    SELECT source, n_docs, n_kept, n_pos,
           floor(CAST(n_kept AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
               AS keep_rate,
           CASE WHEN n_pos > 0
                THEN floor(CAST(n_tp AS DOUBLE) / n_pos * 1e6 + 0.5) / 1e6
           END AS tpr,
           CASE WHEN n_docs - n_pos > 0
                THEN floor(CAST(n_fp AS DOUBLE) / (n_docs - n_pos)
                           * 1e6 + 0.5) / 1e6
           END AS fpr
    FROM by_source
),
mx AS (SELECT max(keep_rate) AS top_rate FROM rates)
SELECT r.source, r.n_docs, r.n_kept, r.keep_rate, r.tpr, r.fpr,
       floor(r.keep_rate / mx.top_rate * 1e6 + 0.5) / 1e6
           AS disparate_impact,
       CAST(CASE WHEN floor(r.keep_rate / mx.top_rate * 1e6 + 0.5) / 1e6
                      >= 8e-1
                 THEN 1 ELSE 0 END AS BIGINT) AS passes_80pct_rule
FROM rates r CROSS JOIN mx
ORDER BY source
"""


_FAIR_SPARK_SQL = f"""{_FEATS_SPARK_HEADER},
{_fairness_tail()}
"""

_FAIR_DUCK_SQL = f"""{_FEATS_DUCK_HEADER},
{_fairness_tail()}
"""


@register("quality_fairness_by_source", oracle=_FAIR_DUCK_SQL)
def quality_fairness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fairness audit of the logistic quality gate: keep
    rates, disparate-impact ratio vs the most-kept source (80% rule),
    and equalized-odds TPR/FPR against the Gopher-rule labels."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_FAIR_SPARK_SQL)


# ---------------------------------------------------------------------------
# Kendall tau-b agreement between the two quality raters
# ---------------------------------------------------------------------------
# Cohen's kappa (queries/mlstats.py) measures agreement after
# thresholding BOTH raters to binary; tau-b asks the finer ordinal
# question — does the logistic gate RANK documents the way the Gopher
# verdict orders them? Computed between the score decile (the
# calibration query's distinct-score-CDF ceil-division buckets,
# reused verbatim) and the rule verdict, with the full tie
# correction: tau_b = (C - D)/sqrt((n0 - n1)(n0 - n2)). Goodman-
# Kruskal gamma (ties ignored) reported beside it.
#
# Exactness: C/D are exact integer pair counts off the bounded
# (decile x verdict) grid (DECIMAL(38,0) products — cell counts are
# corpus-sized); the tie terms use exact integer n(n-1)/2 via
# integer division; tau/gamma are single float expressions snapped
# at output. One featurize pass; everything after runs on <= 20
# cells.


def _tau_tail(idiv: str) -> str:
    d = lambda a, b: idiv.format(a=a, b=b)  # noqa: E731
    return f"""{_flagged_chain()},
hist AS (
    SELECT score,
           CAST(count(*) AS BIGINT)          AS c_all,
           CAST(sum(gopher_pass) AS BIGINT)  AS c_pass
    FROM flagged GROUP BY score
),
chist AS (
    SELECT c_all, c_pass,
           CAST(sum(c_all) OVER (ORDER BY score) AS BIGINT) AS cum
    FROM hist
),
tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS n FROM hist),
cells AS (
    SELECT CAST({d('10 * c.cum + t.n - 1', 't.n')} AS INT) AS x, y.y,
           CAST(sum(CASE WHEN y.y = 1 THEN c.c_pass
                         ELSE c.c_all - c.c_pass END) AS BIGINT) AS n
    FROM chist c CROSS JOIN tot t
    JOIN (SELECT 0 AS y UNION ALL SELECT 1) y ON true
    GROUP BY 1, y.y
    HAVING sum(CASE WHEN y.y = 1 THEN c.c_pass
                    ELSE c.c_all - c.c_pass END) > 0
),
cd AS (
    SELECT
        CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                      THEN CAST(a.n AS DECIMAL(38,0)) * b.n END)
             AS DECIMAL(38,0)) AS c_pairs,
        CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                      THEN CAST(a.n AS DECIMAL(38,0)) * b.n END)
             AS DECIMAL(38,0)) AS d_pairs
    FROM cells a JOIN cells b ON true
),
ties AS (
    SELECT
        (SELECT CAST(sum(CAST(tx AS DECIMAL(38,0)) * (tx - 1)) / 2
                     AS DECIMAL(38,0))
         FROM (SELECT CAST(sum(n) AS BIGINT) AS tx FROM cells
               GROUP BY x) gx) AS n1,
        (SELECT CAST(sum(CAST(ty AS DECIMAL(38,0)) * (ty - 1)) / 2
                     AS DECIMAL(38,0))
         FROM (SELECT CAST(sum(n) AS BIGINT) AS ty FROM cells
               GROUP BY y) gy) AS n2,
        (SELECT CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) / 2
                     AS DECIMAL(38,0)) FROM tot) AS n0,
        (SELECT n FROM tot) AS n_docs
)
SELECT t.n_docs,
       CAST(cd.c_pairs AS BIGINT) AS concordant,
       CAST(cd.d_pairs AS BIGINT) AS discordant,
       floor((CAST(cd.c_pairs AS DOUBLE) - CAST(cd.d_pairs AS DOUBLE))
             / sqrt((CAST(t.n0 AS DOUBLE) - CAST(t.n1 AS DOUBLE))
                    * (CAST(t.n0 AS DOUBLE) - CAST(t.n2 AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS kendall_tau_b,
       floor((CAST(cd.c_pairs AS DOUBLE) - CAST(cd.d_pairs AS DOUBLE))
             / (CAST(cd.c_pairs AS DOUBLE) + CAST(cd.d_pairs AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS goodman_kruskal_gamma
FROM cd CROSS JOIN ties t
"""


_TAU_SPARK_SQL = f"""{_FEATS_SPARK_HEADER},
{_tau_tail("CAST(({a}) DIV ({b}) AS BIGINT)")}
"""

_TAU_DUCK_SQL = f"""{_FEATS_DUCK_HEADER},
{_tau_tail("CAST(({a}) // ({b}) AS BIGINT)")}
"""


@register("quality_raters_kendall_tau", oracle=_TAU_DUCK_SQL)
def quality_raters_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (full tie correction) and Goodman-Kruskal gamma
    between the logistic gate's score deciles and the Gopher verdict —
    the ordinal agreement question Cohen's kappa can't ask."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_TAU_SPARK_SQL)


# ---------------------------------------------------------------------------
# Confusion-matrix battery: MCC, F1, balanced accuracy (round 10)
# ---------------------------------------------------------------------------
# Cohen's kappa corrects agreement for chance and tau-b asks the
# ordinal question; the numbers a model card actually prints are the
# confusion-matrix battery at the shipping threshold: precision,
# recall, F1, balanced accuracy, Youden's informedness, and Matthews'
# correlation — the single summary that stays honest under class
# imbalance (Chicco & Jurman 2020). Same logistic gate (kept = score
# >= 0.5) judged against the same Gopher verdict as the rest of the
# quality family.
#
# Exactness: the four cells are exact BIGINTs off one featurize pass;
# MCC's cross products promote to DECIMAL(38,0) before multiplying
# (cell products pass BIGINT once a corpus exceeds ~3e9 docs); every
# ratio is one float expression snapped at output.

_MCC_TAIL = f"""{{flagged}},
cells AS (
    SELECT
        CAST(sum(CASE WHEN score >= 5e-1 AND gopher_pass = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN score >= 5e-1 AND gopher_pass = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN score < 5e-1 AND gopher_pass = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(sum(CASE WHEN score < 5e-1 AND gopher_pass = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM flagged
)
SELECT tp, fp, fn, tn,
       floor(CAST(tp AS DOUBLE) / (tp + fp) * 1e6 + 0.5) / 1e6
           AS precision_pos,
       floor(CAST(tp AS DOUBLE) / (tp + fn) * 1e6 + 0.5) / 1e6
           AS recall_pos,
       floor(2e0 * tp / (2e0 * tp + fp + fn) * 1e6 + 0.5) / 1e6 AS f1,
       floor((CAST(tp AS DOUBLE) / (tp + fn)
              + CAST(tn AS DOUBLE) / (tn + fp)) / 2e0 * 1e6 + 0.5) / 1e6
           AS balanced_accuracy,
       floor((CAST(tp AS DOUBLE) / (tp + fn)
              + CAST(tn AS DOUBLE) / (tn + fp) - 1e0) * 1e6 + 0.5) / 1e6
           AS informedness,
       floor((CAST(CAST(tp AS DECIMAL(38,0)) * tn
                   - CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE))
             / sqrt(CAST(CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
                         * (tn + fp) AS DOUBLE) * (tn + fn))
             * 1e6 + 0.5) / 1e6 AS mcc
FROM cells
"""

_MCC_SPARK_SQL = (
    _FEATS_SPARK_HEADER + "," + _MCC_TAIL.format(flagged=_flagged_chain())
)
_MCC_DUCK_SQL = (
    _FEATS_DUCK_HEADER + "," + _MCC_TAIL.format(flagged=_flagged_chain())
)


@register("quality_mcc_confusion", oracle=_MCC_DUCK_SQL)
def quality_mcc_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix battery of the logistic gate vs the Gopher
    verdict at the 0.5 shipping threshold: precision/recall/F1,
    balanced accuracy, informedness, and Matthews correlation — exact
    integer cells, DECIMAL cross products."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_MCC_SPARK_SQL)


# ---------------------------------------------------------------------------
# Log-loss (cross-entropy) of the quality gate (round 10)
# ---------------------------------------------------------------------------
# Brier decomposition scores the gate quadratically and ECE bins it;
# log-loss is the PROPER score actually optimized by logistic training
# — and the one that punishes confident mistakes hardest. Mean
# negative log-likelihood of the Gopher label under the snapped score,
# with the score clamped to [1e-6, 1-1e-6] before ln (the documented
# ln(0) guard: a snapped score CAN be exactly 0 or 1). Brier is
# emitted beside it so the two proper scores can be compared on one
# row.
#
# Float discipline: per-doc terms pass through ln once, are snapped to
# the 1e-6 grid, and accumulate as exact scaled integers (engine libm
# ulps die in the per-row snap; the sum is order-independent).

_LOGLOSS_TAIL = f"""{{flagged}},
clamped AS (
    SELECT gopher_pass,
           LEAST(GREATEST(score, 1e-6), 1e0 - 1e-6) AS p
    FROM flagged
),
terms AS (
    SELECT
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(gopher_pass) AS BIGINT) AS n_pos,
        CAST(sum(CAST(floor((CASE WHEN gopher_pass = 1 THEN -ln(p)
                                  ELSE -ln(1e0 - p) END) * 1e6 + 0.5)
                      AS BIGINT)) AS BIGINT) AS ll6,
        CAST(sum(CAST(floor((p - gopher_pass) * (p - gopher_pass)
                            * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS br6
    FROM clamped
)
SELECT n AS n_docs, n_pos,
       floor(CAST(ll6 AS DOUBLE) / 1e6 / n * 1e6 + 0.5) / 1e6
           AS log_loss,
       floor(CAST(br6 AS DOUBLE) / 1e6 / n * 1e6 + 0.5) / 1e6
           AS brier_score,
       -- the constant-prevalence baseline every skill score divides by;
       -- prevalence clamps to the same [1e-6, 1-1e-6] band as the
       -- per-doc terms so a degenerate all-0/all-1 label slice cannot
       -- reach ln(0) (r11 latent-risk sweep)
       floor((-(LEAST(GREATEST(CAST(n_pos AS DOUBLE) / n, 1e-6),
                      1e0 - 1e-6))
                  * ln(LEAST(GREATEST(CAST(n_pos AS DOUBLE) / n, 1e-6),
                             1e0 - 1e-6))
              - (1e0 - LEAST(GREATEST(CAST(n_pos AS DOUBLE) / n, 1e-6),
                             1e0 - 1e-6))
                  * ln(1e0 - LEAST(GREATEST(CAST(n_pos AS DOUBLE) / n,
                                            1e-6), 1e0 - 1e-6)))
             * 1e6 + 0.5) / 1e6 AS baseline_entropy
FROM terms
"""

_LOGLOSS_SPARK_SQL = (
    _FEATS_SPARK_HEADER + "," + _LOGLOSS_TAIL.format(flagged=_flagged_chain())
)
_LOGLOSS_DUCK_SQL = (
    _FEATS_DUCK_HEADER + "," + _LOGLOSS_TAIL.format(flagged=_flagged_chain())
)


@register("quality_log_loss", oracle=_LOGLOSS_DUCK_SQL)
def quality_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean log-loss of the logistic gate against the Gopher verdict
    (clamped-ln guard, per-row snap, exact-integer sum) with the Brier
    score and prevalence-entropy baseline beside it."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_LOGLOSS_SPARK_SQL)


# ---------------------------------------------------------------------------
# KS score separation (round 10)
# ---------------------------------------------------------------------------
# The credit-scoring "KS statistic": the maximum gap between the score
# CDFs of the positive and negative classes — how well does ONE
# threshold separate them at its best? Complements AUC (threshold-free
# rank quality) and the confusion battery (one fixed threshold).
# Read off the same snapped-score histogram as the AUC/calibration
# family; the gap is exact integer cross-multiplication
# |cum_pos·n_neg − cum_neg·n_pos| (the drift-family KS discipline), so
# the argmax is ulp-proof, with the deterministic tie-break on the
# LOWEST qualifying score.

_KSSEP_TAIL = f"""{{flagged}},
hist AS (
    SELECT score,
           CAST(sum(gopher_pass) AS BIGINT) AS c_pos,
           CAST(sum(1 - gopher_pass) AS BIGINT) AS c_neg
    FROM flagged GROUP BY score
),
cum AS (
    SELECT score,
           CAST(sum(c_pos) OVER (ORDER BY score) AS BIGINT) AS cum_pos,
           CAST(sum(c_neg) OVER (ORDER BY score) AS BIGINT) AS cum_neg
    FROM hist
),
tot AS (
    SELECT CAST(sum(c_pos) AS BIGINT) AS m,
           CAST(sum(c_neg) AS BIGINT) AS n
    FROM hist
),
gaps AS (
    SELECT c.score,
           abs(CAST(c.cum_pos AS DECIMAL(38,0)) * t.n
               - CAST(c.cum_neg AS DECIMAL(38,0)) * t.m) AS gap_i,
           t.m, t.n
    FROM cum c CROSS JOIN tot t
),
best AS (
    SELECT score AS ks_score, gap_i, m, n
    FROM gaps ORDER BY gap_i DESC, score ASC LIMIT 1
)
SELECT m AS n_pos, n AS n_neg,
       floor(CAST(gap_i AS DOUBLE) / (CAST(m AS DOUBLE) * n)
             * 1e6 + 0.5) / 1e6 AS ks_stat,
       ks_score AS ks_threshold_score
FROM best
"""

_KSSEP_SPARK_SQL = (
    _FEATS_SPARK_HEADER + "," + _KSSEP_TAIL.format(flagged=_flagged_chain())
)
_KSSEP_DUCK_SQL = (
    _FEATS_DUCK_HEADER + "," + _KSSEP_TAIL.format(flagged=_flagged_chain())
)


@register("quality_ks_separation", oracle=_KSSEP_DUCK_SQL)
def quality_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS separation of the logistic gate: maximum CDF gap between the
    Gopher-positive and -negative score distributions, with the score
    where it occurs — exact integer cross-multiplied gaps off the
    shared snapped-score histogram."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_KSSEP_SPARK_SQL)


# ---------------------------------------------------------------------------
# Cumulative gains / lift table (round 10)
# ---------------------------------------------------------------------------
# The campaign-targeting view of the same gate: rank documents by
# score DESCENDING, and per decile of the population report the share
# of all positives captured so far (gains) and the lift over random.
# Deciles come from the distinct-score CDF by integer ceil-division
# (the calibration-bins idiom, inverted for descending rank), so ties
# share a decile and both engines bucket identically.

_GAINS_TAIL = f"""{{flagged}},
hist AS (
    SELECT score,
           CAST(count(*) AS BIGINT) AS c_all,
           CAST(sum(gopher_pass) AS BIGINT) AS c_pos
    FROM flagged GROUP BY score
),
chist AS (
    SELECT c_all, c_pos,
           CAST(sum(c_all) OVER (ORDER BY score DESC) AS BIGINT) AS cum
    FROM hist
),
tot AS (
    SELECT CAST(sum(c_all) AS BIGINT) AS n,
           CAST(sum(c_pos) AS BIGINT) AS m
    FROM hist
),
bucketed AS (
    SELECT CAST({{idiv}} AS INT) AS decile,
           CAST(sum(c.c_all) AS BIGINT) AS n_docs,
           CAST(sum(c.c_pos) AS BIGINT) AS n_pos
    FROM chist c CROSS JOIN tot t
    GROUP BY 1
),
cumul AS (
    SELECT decile, n_docs, n_pos,
           CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cum_docs,
           CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
    FROM bucketed
)
SELECT c.decile, c.n_docs, c.n_pos,
       floor(CAST(c.cum_pos AS DOUBLE) / t.m * 1e6 + 0.5) / 1e6
           AS cum_gain,
       floor((CAST(c.cum_pos AS DOUBLE) / t.m)
             / (CAST(c.cum_docs AS DOUBLE) / t.n) * 1e6 + 0.5) / 1e6
           AS cum_lift
FROM cumul c CROSS JOIN tot t
ORDER BY c.decile
"""


def _gains_sql(header: str, idiv: str) -> str:
    return (
        header + "," + _GAINS_TAIL
        .replace("{idiv}", idiv.format(a="10 * c.cum + t.n - 1", b="t.n"))
        .replace("{flagged}", _flagged_chain())
    )


@register(
    "quality_cumulative_gains",
    oracle=_gains_sql(_FEATS_DUCK_HEADER, "CAST(({a}) // ({b}) AS BIGINT)"),
)
def quality_cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift per score-descending population decile
    — the targeting table beside the qini/uplift family, off the
    distinct-score CDF ceil-division buckets."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(
        _gains_sql(_FEATS_SPARK_HEADER, "CAST(({a}) DIV ({b}) AS BIGINT)")
    )
