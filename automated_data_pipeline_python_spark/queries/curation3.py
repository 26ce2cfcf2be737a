"""Corpus-hygiene batch 3: cross-document boilerplate, a trained
Naive-Bayes gate, lexical-diversity profiling, KMV source resemblance,
and privacy screens (l-diversity, DP noisy counts).

The ops a web-scale training-data pipeline runs between heuristic
cleaning and dedup that rounds 1-5 didn't yet cover:

- ``corpus_boilerplate_ngrams``: CCNet/MassiveText-style boilerplate
  detection ACROSS documents — shingles whose document frequency
  exceeds a relative threshold are template text (nav bars, footers,
  license blurbs); per-source boilerplate fraction drives source-level
  filtering. Distinct from ``text_repetition_scores`` (within-doc) and
  ``dedup_*`` (pairwise): this is a corpus-frequency filter.
- ``quality_naive_bayes_gate``: an actually-TRAINED classifier gate
  (vs ``quality_logistic_filter``'s fixed weights): multinomial Naive
  Bayes with Laplace smoothing fit on a hash-split train fold,
  evaluated on the holdout — the fastText-classifier execution shape
  (token LLR table broadcast-joined to token stream, one group-by).
- ``text_lexical_diversity``: Yule's K / Herdan's C / hapax+TTR per
  source off the word-frequency spectrum — the vocabulary-richness
  screen for template-y or spun sources.
- ``corpus_source_resemblance_kmv``: bottom-k (KMV) sketch resemblance
  between source shingle SETS, with the exact Jaccard alongside as the
  eval — the cheap cross-source overlap matrix that schedules which
  source pairs deserve full cross-dedup.
- ``dq_l_diversity``: l-diversity of a sensitive attribute within
  quasi-identifier groups (the k-anonymity complement, cf.
  ``dq_k_anonymity``).
- ``dq_dp_noisy_counts``: epsilon-DP Laplace counts over sources with
  hash-seeded noise (no engine RNG) and the mechanism's realized error.
- ``mixture_doremi_round``: one DoReMi (Xie et al. 2023)
  multiplicative-weights mixture update over sources with a
  unigram-surprisal excess-loss proxy.
- ``corpus_source_ablation_loo``: closed-form leave-one-source-out
  deltas of corpus mean quality from per-source moments — the cheap
  source-influence table.

All pure Spark SQL with value-identical DuckDB oracles; dialects
differ only in tokenize/explode idioms. Float discipline per repo
invariants: exact-integer spectra wherever possible, per-term snap to
the 1e-6 grid before any cross-row sum / compare (``sql_exact_sum``
and friends), never ``round()``.

Reference parity: the reference repo (698-LoC asyncio NFT ETL) has no
curation surface; these follow the public corpus-curation literature
(CCNet, Gopher/MassiveText, Beyer et al. KMV sketches, Machanavajjhala
l-diversity, Dwork Laplace mechanism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.numeric import (
    sql_exact_avg,
    sql_stable_round,
)
from automated_data_pipeline_python_spark.functions.text import (
    DUCK_TOKENS,
    SPARK_TOKENS,
    duck_hash60,
    duck_word_shingles,
    spark_hash60,
    spark_word_shingles,
)
from automated_data_pipeline_python_spark.queries.catalog import register
from automated_data_pipeline_python_spark.tables import register_views

_S_TOK = SPARK_TOKENS.format(col="text")
_D_TOK = DUCK_TOKENS.format(col="text")

# ---------------------------------------------------------------------------
# Cross-document boilerplate n-grams
# ---------------------------------------------------------------------------
# Trigram shingles; a shingle is boilerplate when its document
# frequency reaches max(2, 1% of docs) — RELATIVE, so the threshold is
# meaningful at every corpus size (an absolute df cutoff saturates at
# 100 TB and under-fires at sf0.001). Plan: explode -> distinct
# (doc_id, shingle) -> df group-by -> join back -> per-doc fraction ->
# per-source aggregate. Shuffle-bounded by the shingle key (the
# dedup-pipeline shape); the boilerplate set grows with the corpus so
# it carries NO broadcast hint — AQE picks the strategy.

_BP_TAIL = f"""
ndocs AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM sh_docs),
df AS (
    SELECT shingle, CAST(count(*) AS BIGINT) AS df
    FROM sh GROUP BY shingle
),
bp AS (
    SELECT shingle FROM df CROSS JOIN ndocs
    WHERE df >= 2 AND df * 100 >= n_total
),
perdoc AS (
    SELECT s.doc_id, s.source,
           CAST(count(*) AS BIGINT) AS n_sh,
           CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bp
    FROM sh s LEFT JOIN bp b ON s.shingle = b.shingle
    GROUP BY s.doc_id, s.source
),
frac AS (
    SELECT source, n_sh, n_bp,
           {sql_stable_round("CAST(n_bp AS DOUBLE) / n_sh", 6)} AS bp_frac
    FROM perdoc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bp) AS BIGINT) AS bp_shingle_hits,
       {sql_exact_avg("bp_frac", 6)} AS mean_bp_frac,
       CAST(sum(CASE WHEN bp_frac >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
           AS flagged_docs
FROM frac
GROUP BY source
ORDER BY source
"""

_BP_SPARK_SQL = f"""
WITH toks AS (
    SELECT doc_id, source, {_S_TOK} AS toks FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, source, shingle
    FROM toks LATERAL VIEW explode({spark_word_shingles("toks", 3)}) t AS shingle
),
sh_docs AS (SELECT DISTINCT doc_id FROM sh),
{_BP_TAIL}
"""

_BP_DUCK_SQL = f"""
WITH toks AS (
    SELECT doc_id, source, {_D_TOK} AS toks FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, source, shingle FROM (
        SELECT doc_id, source,
               unnest({duck_word_shingles("toks", 3)}) AS shingle
        FROM toks
    )
),
sh_docs AS (SELECT DISTINCT doc_id FROM sh),
{_BP_TAIL}
"""


@register("corpus_boilerplate_ngrams", oracle=_BP_DUCK_SQL)
def corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate profile: share of each document's trigram
    shingles whose corpus document-frequency reaches max(2, 1% of
    docs), plus how many documents cross the 30% template line.

    Scale: identical shuffle profile to the minhash front (explode +
    distinct on (doc, shingle), one df aggregation with map-side
    combine, one shingle-keyed join); never materializes doc pairs.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_BP_SPARK_SQL)


# ---------------------------------------------------------------------------
# Trained Naive-Bayes quality gate
# ---------------------------------------------------------------------------
# Label: does the document say 'slow' strictly more often than 'fast'?
# — derivable from the text itself, so the fixture provides real
# signal for the classifier to find (the trained-LLR execution shape is
# the point; swap the label for human quality ratings in production).
# Split: sha-hash fold of doc_id (fold 0 = holdout), no engine RNG.
# Every per-token log-likelihood-ratio snaps to the 1e-6 grid BEFORE
# the per-doc sum (exact scaled-integer accumulation, order-free), so
# the decision boundary compare is ulp-safe cross-engine.

_NB_TAIL = """
class_tot AS (
    SELECT CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS n0
    FROM tok WHERE NOT is_test
),
doc_tot AS (
    SELECT CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS d1,
           CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS d0
    FROM split WHERE NOT is_test
),
vocab AS (
    SELECT token,
           CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS c0
    FROM tok WHERE NOT is_test GROUP BY token
),
vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
llr AS (
    SELECT token,
           CAST(floor((ln((c1 + 1e0) / (ct.n1 + vs.v))
                       - ln((c0 + 1e0) / (ct.n0 + vs.v)))
                      * 1e6 + 0.5) AS BIGINT) AS llr_u
    FROM vocab CROSS JOIN class_tot ct CROSS JOIN vsize vs
),
unseen AS (
    SELECT CAST(floor((ln(1e0 / (ct.n1 + vs.v))
                       - ln(1e0 / (ct.n0 + vs.v)))
                      * 1e6 + 0.5) AS BIGINT) AS llr_u
    FROM class_tot ct CROSS JOIN vsize vs
),
prior AS (
    SELECT CAST(floor((ln(CAST(d1 AS DOUBLE)) - ln(CAST(d0 AS DOUBLE)))
                      * 1e6 + 0.5) AS BIGINT) AS prior_u
    FROM doc_tot
),
scored AS (
    SELECT t.doc_id, t.label,
           CAST(sum(coalesce(l.llr_u, u.llr_u)) AS BIGINT)
               + max(p.prior_u) AS score_u
    FROM tok t
    LEFT JOIN llr l ON t.token = l.token
    CROSS JOIN unseen u CROSS JOIN prior p
    WHERE t.is_test
    GROUP BY t.doc_id, t.label
)
SELECT CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN label AND score_u >= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(sum(CASE WHEN NOT label AND score_u >= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(sum(CASE WHEN label AND score_u < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CAST(sum(CASE WHEN NOT label AND score_u < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS tn,
       floor(CAST(sum(CASE WHEN label = (score_u >= 0) THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS accuracy,
       floor(CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1e6 + 0.5) / 1e6 AS base_rate
FROM scored
"""


def _nb_spark_sql() -> str:
    fold = spark_hash60("CAST(doc_id AS STRING)")
    return f"""
WITH toks AS (SELECT doc_id, {_S_TOK} AS toks FROM documents),
folded AS (
    SELECT doc_id, toks, pmod({fold}, 5) AS fold,
           size(filter(toks, x -> x = 'slow')) AS n_slow,
           size(filter(toks, x -> x = 'fast')) AS n_fast
    FROM toks
),
split AS (
    SELECT doc_id, toks, (fold = 0) AS is_test, (n_slow > n_fast) AS label
    FROM folded
),
tok AS (
    SELECT doc_id, is_test, label, token
    FROM split LATERAL VIEW explode(toks) t AS token
),
{_NB_TAIL}
"""


def _nb_duck_sql() -> str:
    fold = duck_hash60("CAST(doc_id AS VARCHAR)")
    return f"""
WITH toks AS (SELECT doc_id, {_D_TOK} AS toks FROM documents),
folded AS (
    SELECT doc_id, toks, ({fold}) % 5 AS fold,
           len(list_filter(toks, x -> x = 'slow')) AS n_slow,
           len(list_filter(toks, x -> x = 'fast')) AS n_fast
    FROM toks
),
split AS (
    SELECT doc_id, toks, (fold = 0) AS is_test, (n_slow > n_fast) AS label
    FROM folded
),
tok AS (
    SELECT doc_id, is_test, label, unnest(toks) AS token FROM split
),
{_NB_TAIL}
"""


@register("quality_naive_bayes_gate", oracle=_nb_duck_sql())
def quality_naive_bayes_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained on a hash-split fold and scored
    on the holdout: confusion counts, accuracy, base rate.

    Scale: the label/fold flags ride the explode, so the token stream
    is never joined back to a per-doc relation; training is two
    group-bys over the flagged stream (map-side combinable), scoring is
    one token-keyed join of the LLR table to the holdout stream plus
    one per-doc sum of exact scaled integers. The LLR table is
    vocabulary-sized (grows sublinearly) but carries no broadcast hint
    — AQE broadcasts it while small.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_nb_spark_sql())


# ---------------------------------------------------------------------------
# Lexical diversity per source
# ---------------------------------------------------------------------------
# Yule's K = 1e4 * (S2 - S1) / S1^2 over the word-frequency spectrum
# (S1 = tokens, S2 = sum of squared type frequencies), Herdan's C =
# ln V / ln S1, hapax ratio, TTR. The spectrum is exact integers; each
# output is a single division snapped to 1e-6.

_LD_TAIL = """
freq AS (
    SELECT source, token, CAST(count(*) AS BIGINT) AS c
    FROM tok GROUP BY source, token
),
spectrum AS (
    SELECT source,
           CAST(sum(c) AS BIGINT) AS s1,
           CAST(sum(c * c) AS BIGINT) AS s2,
           CAST(count(*) AS BIGINT) AS v,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1
    FROM freq GROUP BY source
)
SELECT source, s1 AS n_tokens, v AS n_types, v1 AS n_hapax,
       floor((1e4 * (CAST(s2 AS DOUBLE) - s1)
              / (CAST(s1 AS DOUBLE) * s1)) * 1e6 + 0.5) / 1e6 AS yule_k,
       floor((ln(CAST(v AS DOUBLE)) / ln(CAST(s1 AS DOUBLE)))
             * 1e6 + 0.5) / 1e6 AS herdan_c,
       floor((CAST(v1 AS DOUBLE) / v) * 1e6 + 0.5) / 1e6 AS hapax_ratio,
       floor((CAST(v AS DOUBLE) / s1) * 1e6 + 0.5) / 1e6 AS ttr
FROM spectrum
ORDER BY source
"""

_LD_SPARK_SQL = f"""
WITH tok AS (
    SELECT source, token
    FROM (SELECT source, {_S_TOK} AS toks FROM documents)
    LATERAL VIEW explode(toks) t AS token
),
{_LD_TAIL}
"""

_LD_DUCK_SQL = f"""
WITH tok AS (
    SELECT source, unnest({_D_TOK}) AS token FROM documents
),
{_LD_TAIL}
"""


@register("text_lexical_diversity", oracle=_LD_DUCK_SQL)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K, Herdan's C, hapax ratio and TTR per source off the
    exact word-frequency spectrum — the vocabulary-richness screen for
    templated/spun sources.

    Scale: one (source, token) group-by with map-side combine, then a
    source-level rollup; spectrum rows are vocabulary-sized.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_LD_SPARK_SQL)


# ---------------------------------------------------------------------------
# KMV bottom-k resemblance between source shingle sets
# ---------------------------------------------------------------------------
# Per source keep the k=128 smallest distinct shingle hashes (Spark
# executes the rank<=k per-source window as WindowGroupLimit: map-side
# top-k per task BEFORE the shuffle, so the pick is scale-safe). Pair
# resemblance = |k-smallest of A∪B present in both| / k (Beyer et al.).
# The exact Jaccard rides along as the eval: per-hash source pairs via
# a self-join bounded by sources-per-shingle (≤ n_sources, a constant),
# never docs×docs or shingles×shingles.

_KMV_K = 128

_KMV_TAIL = f"""
hs AS (SELECT DISTINCT source, h FROM hashed),
sig AS (
    SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hs
    ) WHERE rn <= {_KMV_K}
),
src_sizes AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM hs GROUP BY source
),
inter_exact AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_inter
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
),
srcs AS (SELECT DISTINCT source FROM hs),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b
    FROM srcs a JOIN srcs b ON a.source < b.source
),
pair_union AS (
    SELECT p.src_a, p.src_b, s.h,
           CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END AS in_a
    FROM pairs p
    JOIN sig s ON s.source = p.src_a OR s.source = p.src_b
),
pair_merged AS (
    SELECT src_a, src_b, h,
           CAST(max(in_a) AS INT) AS a_has,
           CAST(max(1 - in_a) AS INT) AS b_has
    FROM pair_union GROUP BY src_a, src_b, h
),
pair_topk AS (
    SELECT src_a, src_b, a_has, b_has FROM (
        SELECT src_a, src_b, a_has, b_has,
               row_number() OVER (PARTITION BY src_a, src_b ORDER BY h)
                   AS rn
        FROM pair_merged
    ) WHERE rn <= {_KMV_K}
),
est AS (
    SELECT src_a, src_b,
           CAST(count(*) AS BIGINT) AS k_used,
           CAST(sum(a_has * b_has) AS BIGINT) AS k_both
    FROM pair_topk GROUP BY src_a, src_b
)
SELECT e.src_a, e.src_b,
       floor((CAST(e.k_both AS DOUBLE) / e.k_used) * 1e6 + 0.5) / 1e6
           AS j_est,
       floor((CAST(coalesce(i.n_inter, 0) AS DOUBLE)
              / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)))
             * 1e6 + 0.5) / 1e6 AS j_exact,
       floor(abs(CAST(e.k_both AS DOUBLE) / e.k_used
                 - CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)))
             * 1e6 + 0.5) / 1e6 AS abs_err
FROM est e
LEFT JOIN inter_exact i ON i.src_a = e.src_a AND i.src_b = e.src_b
JOIN src_sizes sa ON sa.source = e.src_a
JOIN src_sizes sb ON sb.source = e.src_b
ORDER BY e.src_a, e.src_b
"""


def _kmv_spark_sql() -> str:
    return f"""
WITH toks AS (SELECT source, {_S_TOK} AS toks FROM documents),
hashed AS (
    SELECT source, {spark_hash60("shingle")} AS h
    FROM toks LATERAL VIEW explode({spark_word_shingles("toks", 3)}) t AS shingle
),
{_KMV_TAIL}
"""


def _kmv_duck_sql() -> str:
    return f"""
WITH toks AS (SELECT source, {_D_TOK} AS toks FROM documents),
hashed AS (
    SELECT source, {duck_hash60("shingle")} AS h FROM (
        SELECT source, unnest({duck_word_shingles("toks", 3)}) AS shingle
        FROM toks
    )
),
{_KMV_TAIL}
"""


@register("corpus_source_resemblance_kmv", oracle=_kmv_duck_sql())
def corpus_source_resemblance_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV, k=128) resemblance estimate between every source
    pair's trigram-shingle sets, with the exact Jaccard and the
    estimator's absolute error alongside.

    Scale: the per-source bottom-k executes as WindowGroupLimit
    (map-side top-k before the shuffle); pair work is over 128-row
    signatures (sources² pairs, sources is a bounded domain); the exact
    path's self-join fans out by sources-per-shingle, a constant.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_kmv_spark_sql())


# ---------------------------------------------------------------------------
# l-diversity of mktsegment within quasi-identifier groups
# ---------------------------------------------------------------------------
# QI = (nation, 2000-wide acctbal band); sensitive = mktsegment. A
# group with l=1 pins every member's segment — the attribute-disclosure
# risk k-anonymity alone misses (Machanavajjhala et al.). Output is the
# distribution of l (bounded by the 5-segment domain).

_LDIV_SQL = """
WITH groups AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 2000e0) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
    FROM customer
    GROUP BY c_nationkey, CAST(floor(c_acctbal / 2000e0) AS BIGINT)
)
SELECT l AS l_distinct,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(k) AS BIGINT) AS n_customers,
       CAST(min(k) AS BIGINT) AS min_group_size,
       CAST(max(k) AS BIGINT) AS max_group_size
FROM groups
GROUP BY l
ORDER BY l
"""


@register("dq_l_diversity", oracle=_LDIV_SQL)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of sensitive-attribute diversity l (distinct
    mktsegments) within (nation, acctbal-band) quasi-identifier groups
    — the attribute-disclosure complement of ``dq_k_anonymity``.

    Scale: one group-by on the QI key with a distinct-count, then a
    bounded rollup over l ≤ 5.
    """
    register_views(spark, sf_dir, "customer")
    return spark.sql(_LDIV_SQL)


# ---------------------------------------------------------------------------
# Differentially-private noisy counts (hash-seeded Laplace)
# ---------------------------------------------------------------------------
# Per-source doc counts + Laplace(1/eps) noise, eps=1: u = hash-uniform
# in (0,1) from the group key (deterministic, no engine RNG — the repo
# sampling discipline), noise = -sign(u-1/2)·ln(1-2|u-1/2|)/eps via the
# inverse CDF. ln is the one libm call; the result snaps to 1e-6.

_DP_EPS = "1e0"


def _dp_sql(h60: str) -> str:
    u = f"((({h60}) % 1000000) + 0.5e0) / 1e6"
    return f"""
WITH counts AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
),
seeded AS (
    SELECT source, n_docs, {u} AS u FROM counts
),
noised AS (
    SELECT source, n_docs,
           floor(((CASE WHEN u < 0.5e0 THEN 1e0 ELSE -1e0 END)
                  * ln(1e0 - 2e0 * abs(u - 0.5e0)) / {_DP_EPS})
                 * 1e6 + 0.5) / 1e6 AS noise
    FROM seeded
)
SELECT source, n_docs,
       floor((n_docs + noise) * 1e6 + 0.5) / 1e6 AS noisy_count,
       floor(abs(noise) * 1e6 + 0.5) / 1e6 AS abs_noise,
       CAST({_DP_EPS} AS DOUBLE) AS epsilon
FROM noised
ORDER BY source
"""


@register(
    "dq_dp_noisy_counts",
    oracle=_dp_sql(duck_hash60("'dp-' || source")),
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-DP (eps=1) Laplace-noised per-source document counts via
    the inverse-CDF mechanism over a hash-seeded uniform, with each
    release's realized absolute noise.

    Scale: one group-by plus a constant-time noise expression per
    group; group count is the bounded source domain.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_dp_sql(spark_hash60("concat('dp-', source)")))


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting round (multiplicative weights)
# ---------------------------------------------------------------------------
# One round of the Xie et al. (2023) domain-mixture update with a
# unigram-surprisal proxy for per-domain excess loss: starting from
# token-share weights, each source's weight multiplies by
# exp(eta * max(0, excess loss)) (eta = 0.5), then renormalizes — data
# the proxy model finds hard gains mixture share. Per-token surprisal
# -ln(cnt/N) comes off the corpus unigram distribution; per-source
# mean loss uses snapped exact sums; exp is the one libm call and the
# updated weights snap before the renormalizing division.

_DOREMI_ETA = "5e-1"

# Report tail downstream of the per-source (n_tok, loss_u) stats, as a
# {per_source}-parameterized template: the multiplicative-weights
# algebra runs over any relation with the stats' columns.
_DOREMI_REPORT_TAIL = f"""means AS (
    SELECT source, n_tok,
           floor(CAST(loss_u AS DOUBLE) / n_tok + 0.5) / 1e6 AS mean_loss
    FROM {{per_source}}
),
gstat AS (
    SELECT CAST(sum(CAST(floor(mean_loss * n_tok * 1e6 + 0.5) AS BIGINT))
                AS DOUBLE) / 1e6
           / sum(n_tok) AS global_loss,
           CAST(sum(n_tok) AS BIGINT) AS n_all
    FROM means
),
updated AS (
    SELECT m.source, m.n_tok, m.mean_loss,
           floor((CAST(m.n_tok AS DOUBLE) / g.n_all) * 1e9 + 0.5) / 1e9
               AS w0,
           floor(greatest(0e0, m.mean_loss
                          - floor(g.global_loss * 1e6 + 0.5) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS excess,
           floor(((CAST(m.n_tok AS DOUBLE) / g.n_all)
                  * exp({_DOREMI_ETA}
                        * (floor(greatest(0e0, m.mean_loss
                             - floor(g.global_loss * 1e6 + 0.5) / 1e6)
                             * 1e6 + 0.5) / 1e6)))
                 * 1e9 + 0.5) / 1e9 AS w_raw
    FROM means m CROSS JOIN gstat g
),
norm AS (
    SELECT CAST(sum(CAST(floor(w_raw * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e9 AS z
    FROM updated
)
SELECT u.source, u.n_tok, u.mean_loss, u.excess,
       u.w0 AS weight_before,
       floor((u.w_raw / n.z) * 1e6 + 0.5) / 1e6 AS weight_after
FROM updated u CROSS JOIN norm n
ORDER BY u.source
"""

_DOREMI_TAIL = f"""
vocab AS (
    SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
per_source AS (
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CAST(floor(ln(CAST(x.n AS DOUBLE) / v.cnt)
                               * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS loss_u
    FROM tok t JOIN vocab v ON v.token = t.token CROSS JOIN tot x
    GROUP BY t.source
),
{_DOREMI_REPORT_TAIL.format(per_source="per_source")}
"""

_DOREMI_SPARK_SQL = f"""
WITH tok AS (
    SELECT source, token
    FROM (SELECT source, {_S_TOK} AS toks FROM documents)
    LATERAL VIEW explode(toks) t AS token
),
{_DOREMI_TAIL}
"""

_DOREMI_DUCK_SQL = f"""
WITH tok AS (
    SELECT source, unnest({_D_TOK}) AS token FROM documents
),
{_DOREMI_TAIL}
"""


@register("mixture_doremi_round", oracle=_DOREMI_DUCK_SQL)
def mixture_doremi_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi multiplicative-weights round over sources: per-source
    token share, unigram-proxy mean loss, positive excess over the
    global mean, and the renormalized post-update mixture weight.

    Scale: one token group-by (vocab) + one vocab-keyed join back to
    the stream (AQE-broadcast while small) + bounded source-level
    algebra — the same plan family as doc_unigram_surprisal.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_DOREMI_SPARK_SQL)


# ---------------------------------------------------------------------------
# Leave-one-source-out ablation of corpus-level quality metrics
# ---------------------------------------------------------------------------
# The cheap influence measure before any training run: for each
# source, the closed-form delta of the corpus mean (quality-proxy
# ratios) when that source is removed — Δ_d = (S − s_d)/(N − n_d) −
# S/N from per-source exact moments, no second corpus pass.

_ABLATION_TAIL = """
per_doc AS (
    SELECT source,
           size_toks AS n_tok,
           CAST(floor(CAST(n_uniq AS DOUBLE) / size_toks * 1e6 + 0.5)
                AS BIGINT) AS uniq_u
    FROM feats
),
per_source AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(uniq_u) AS BIGINT) AS s_uniq
    FROM per_doc GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
           CAST(sum(s_uniq) AS BIGINT) AS s_all
    FROM per_source
)
SELECT p.source, p.n_docs,
       floor(CAST(p.s_uniq AS DOUBLE) / p.n_docs + 0.5) / 1e6
           AS source_mean_uniq,
       floor(CAST(t.s_all AS DOUBLE) / t.n_all + 0.5) / 1e6
           AS corpus_mean_uniq,
       floor((CAST(t.s_all - p.s_uniq AS DOUBLE) / (t.n_all - p.n_docs)
              - CAST(t.s_all AS DOUBLE) / t.n_all) * 1e6 + 0.5) / 1e6
           AS loo_delta
FROM per_source p CROSS JOIN tot t
ORDER BY p.source
"""

_ABLATION_SPARK_SQL = f"""
WITH feats AS (
    SELECT source, size(toks) AS size_toks,
           size(array_distinct(toks)) AS n_uniq
    FROM (SELECT source, {_S_TOK} AS toks FROM documents)
),
{_ABLATION_TAIL}
"""

_ABLATION_DUCK_SQL = f"""
WITH feats AS (
    SELECT source, len(toks) AS size_toks,
           len(list_distinct(toks)) AS n_uniq
    FROM (SELECT source, {_D_TOK} AS toks FROM documents)
),
{_ABLATION_TAIL}
"""


@register("corpus_source_ablation_loo", oracle=_ABLATION_DUCK_SQL)
def corpus_source_ablation_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out deltas of the corpus mean type/token ratio
    — the closed-form source-influence table (positive delta = corpus
    quality rises without this source).

    Scale: one map-only featurize pass + one source group-by; every
    delta is moment subtraction, never a per-source re-scan.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_ABLATION_SPARK_SQL)


# ---------------------------------------------------------------------------
# UniMax budget allocation (epoch-capped water-filling over sources)
# ---------------------------------------------------------------------------
# The mixture family's budget closer (Chung et al. 2023, "UniMax"):
# token-share weights (mixture_domain_weights) overtrain tiny sources
# and temperature weights still oversample them; UniMax instead gives
# every source an EQUAL share of the training budget unless that would
# exceed its epoch cap (E = 3 epochs here), redistributing the slack —
# the standard anti-overfit allocation for multilingual/multi-domain
# pretraining. Budget B = 2.9x total corpus tokens — strictly below the
# 3-epoch cap total and inside the cap spread of this corpus's sources,
# so BOTH branches execute (small sources cap at 3.0 epochs, large ones
# fair-share ~2.5-2.9).
#
# The greedy "fill smallest caps first" loop has a closed form over the
# cap-sorted source relation: source j is capped iff
# cap_j * (g - j + 1) <= B - prefix_{j-1} (exact integers), the capped
# prefix is the cumulative min of that flag (monotone by construction,
# enforced explicitly), and the uncapped share is ONE division at the
# end. Scale: one corpus tokenize pass to per-source counts; every
# window runs over the bounded (~20-row) source relation.

_UNIMAX_EPOCHS = 3
_UNIMAX_TAIL = f"""
per AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n
    FROM um_tok GROUP BY source
),
caps AS (
    SELECT source, n, CAST({_UNIMAX_EPOCHS} * n AS BIGINT) AS cap
    FROM per
),
ord AS (
    SELECT source, n, cap,
           CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS j,
           CAST(coalesce(sum(cap) OVER (ORDER BY cap, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS pre
    FROM caps
),
binfo AS (
    SELECT CAST(count(*) AS BIGINT) AS g,
           CAST(floor(29e0 * sum(n) / 10) AS BIGINT) AS b
    FROM per
),
flags AS (
    SELECT o.source, o.n, o.cap, o.j, o.pre, i.g, i.b,
           CASE WHEN o.cap * (i.g - o.j + 1) <= i.b - o.pre
                THEN 1 ELSE 0 END AS f
    FROM ord o CROSS JOIN binfo i
),
cum AS (
    SELECT source, n, cap, j, g, b,
           CAST(min(f) OVER (ORDER BY j
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS INT) AS capped
    FROM flags
),
fill AS (
    SELECT CAST(sum(capped) AS BIGINT) AS jj,
           CAST(coalesce(sum(CASE WHEN capped = 1 THEN cap END), 0)
                AS BIGINT) AS pj,
           CAST(min(g) AS BIGINT) AS g,
           CAST(min(b) AS BIGINT) AS b
    FROM cum
)
SELECT c.source, c.n AS n_tokens, c.cap AS cap_tokens,
       CAST(c.capped AS INT) AS capped,
       CASE WHEN c.capped = 1 THEN c.cap
            ELSE CAST(floor(CAST(f.b - f.pj AS DOUBLE) / (f.g - f.jj))
                      AS BIGINT) END AS alloc_tokens,
       floor((CAST(CASE WHEN c.capped = 1 THEN c.cap
                        ELSE CAST(floor(CAST(f.b - f.pj AS DOUBLE)
                                        / (f.g - f.jj)) AS BIGINT)
                   END AS DOUBLE) / c.n) * 1e6 + 0.5) / 1e6 AS epochs_used
FROM cum c CROSS JOIN fill f
ORDER BY c.source
"""

_UNIMAX_SPARK_SQL = f"""
WITH um_tok AS (
    SELECT source, token
    FROM (SELECT source, {_S_TOK} AS toks FROM documents)
    LATERAL VIEW explode(toks) t AS token
),
{_UNIMAX_TAIL.lstrip()}
"""

_UNIMAX_DUCK_SQL = f"""
WITH um_tok AS (
    SELECT source, unnest({_D_TOK}) AS token FROM documents
),
{_UNIMAX_TAIL.lstrip()}
"""


@register("mixture_unimax_budget", oracle=_UNIMAX_DUCK_SQL)
def mixture_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped water-filling: per-source token counts, the
    3-epoch cap, the capped flag, the allocated tokens under a 2.9x-total
    budget, and realized epochs — equal shares with slack
    redistribution in one closed-form pass."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_UNIMAX_SPARK_SQL)
