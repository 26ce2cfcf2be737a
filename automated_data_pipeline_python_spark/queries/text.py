"""Text-analysis queries over ``documents`` (SURVEY.md §2.8, LLM-data ops).

Language-ID, quality scoring, token counting, and document
fingerprinting — each expressed as a declarative plan (Spark SQL over a
temp view: identical Catalyst treatment to the DataFrame API, zero
Python UDFs) with a value-identical DuckDB oracle.

Scale: every query here is embarrassingly parallel per document (no
shuffle except final aggregation) — the shape that holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.text import (
    DUCK_TOKENS,
    LANG_STOPWORDS,
    SPARK_TOKENS,
    duck_hash60,
    duck_stopword_hits,
    duck_word_shingles,
    spark_hash60,
    spark_stopword_hits,
    spark_word_shingles,
)
from automated_data_pipeline_python_spark.functions.numeric import (
    sql_exact_sum,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import register_views

_S_TOK = SPARK_TOKENS.format(col="text")
_D_TOK = DUCK_TOKENS.format(col="text")


# ---------------------------------------------------------------------------
# Token counting (whitespace + wordish-regex, SURVEY §2.8 "token counting")
# ---------------------------------------------------------------------------

_TOKENS_SPARK_SQL = f"""
SELECT
    doc_id,
    size({_S_TOK})                                         AS n_tokens,
    size(regexp_extract_all(text, '[a-z]+', 0))            AS n_words,
    length(text)                                           AS n_chars_measured,
    floor((CAST(aggregate(transform({_S_TOK}, t -> length(t)), 0,
               (acc, x) -> acc + x) AS DOUBLE)
          / size({_S_TOK})) * 1e6 + 0.5) / 1e6                             AS avg_token_len,
    CAST(size({_S_TOK}) * 4 / 3 AS INT)                    AS est_bpe_tokens
FROM documents
"""

_TOKENS_DUCK_SQL = f"""
SELECT
    doc_id,
    CAST(len({_D_TOK}) AS INT)                             AS n_tokens,
    CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT)   AS n_words,
    CAST(length(text) AS INT)                              AS n_chars_measured,
    floor((CAST(list_sum(list_transform({_D_TOK}, t -> length(t))) AS DOUBLE)
          / len({_D_TOK})) * 1e6 + 0.5) / 1e6                              AS avg_token_len,
    CAST(len({_D_TOK}) * 4 // 3 AS INT)                    AS est_bpe_tokens
FROM documents
"""


@register("text_token_counts", oracle=_TOKENS_DUCK_SQL)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + regex token counts and a 4/3-heuristic BPE estimate."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_TOKENS_SPARK_SQL)


# ---------------------------------------------------------------------------
# Quality scoring (length / distinct-ratio / stopword-ratio composite)
# ---------------------------------------------------------------------------

_QUALITY_SPARK_SQL = f"""
WITH feats AS (
    SELECT
        doc_id,
        lang,
        size({_S_TOK}) AS n_tokens,
        CAST(size(array_distinct({_S_TOK})) AS DOUBLE) / size({_S_TOK}) AS distinct_ratio,
        CAST({spark_stopword_hits(_S_TOK, "en")} AS DOUBLE) / size({_S_TOK}) AS stop_ratio,
        CAST(length(text) AS DOUBLE) / size({_S_TOK}) AS chars_per_token
    FROM documents
)
SELECT
    doc_id,
    lang,
    n_tokens,
    floor((distinct_ratio) * 1e6 + 0.5) / 1e6 AS distinct_ratio,
    floor((stop_ratio) * 1e6 + 0.5) / 1e6     AS stop_ratio,
    floor((chars_per_token) * 1e6 + 0.5) / 1e6 AS chars_per_token,
    floor((0.4 * least(n_tokens / 100.0, 1.0)
          + 0.4 * distinct_ratio
          + 0.2 * least(stop_ratio * 5.0, 1.0)) * 1e6 + 0.5) / 1e6 AS quality_score,
    CASE WHEN n_tokens < 20 THEN 'too_short'
         WHEN distinct_ratio < 0.2 THEN 'repetitive'
         ELSE 'ok' END AS quality_flag
FROM feats
"""

_QUALITY_DUCK_SQL = f"""
WITH feats AS (
    SELECT
        doc_id,
        lang,
        CAST(len({_D_TOK}) AS INT) AS n_tokens,
        CAST(len(list_distinct({_D_TOK})) AS DOUBLE) / len({_D_TOK}) AS distinct_ratio,
        CAST({duck_stopword_hits(_D_TOK, "en")} AS DOUBLE) / len({_D_TOK}) AS stop_ratio,
        CAST(length(text) AS DOUBLE) / len({_D_TOK}) AS chars_per_token
    FROM documents
)
SELECT
    doc_id,
    lang,
    n_tokens,
    floor((distinct_ratio) * 1e6 + 0.5) / 1e6 AS distinct_ratio,
    floor((stop_ratio) * 1e6 + 0.5) / 1e6     AS stop_ratio,
    floor((chars_per_token) * 1e6 + 0.5) / 1e6 AS chars_per_token,
    floor((0.4 * least(n_tokens / 100.0, 1.0)
          + 0.4 * distinct_ratio
          + 0.2 * least(stop_ratio * 5.0, 1.0)) * 1e6 + 0.5) / 1e6 AS quality_score,
    CASE WHEN n_tokens < 20 THEN 'too_short'
         WHEN distinct_ratio < 0.2 THEN 'repetitive'
         ELSE 'ok' END AS quality_flag
FROM feats
"""


@register("text_quality_scores", oracle=_QUALITY_DUCK_SQL)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score + flag."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_QUALITY_SPARK_SQL)


# ---------------------------------------------------------------------------
# Language ID (stopword-profile heuristic, deterministic argmax)
# ---------------------------------------------------------------------------

_LANGS = list(LANG_STOPWORDS)  # fixed priority order for ties


def _langid_sql(tok: str, hits_fn) -> str:
    hit_cols = ",\n        ".join(
        f"{hits_fn(tok, lang)} AS {lang}_hits" for lang in _LANGS
    )
    # Deterministic argmax: first language (in _LANGS order) whose score
    # is >= all later ones.
    pred = "CASE "
    for i, lang in enumerate(_LANGS):
        rest = [f"{other}_hits" for other in _LANGS[i + 1 :]]
        if rest:
            cond = " AND ".join(f"{lang}_hits >= {r}" for r in rest)
            pred += f"WHEN {cond} THEN '{lang}' "
        else:
            pred += f"ELSE '{lang}' END"
    return f"""
WITH scored AS (
    SELECT
        doc_id,
        lang AS actual_lang,
        {hit_cols}
    FROM documents
)
SELECT
    doc_id,
    actual_lang,
    en_hits, de_hits, es_hits, fr_hits, zh_hits,
    {pred} AS predicted_lang,
    CASE WHEN {pred} = actual_lang THEN 1 ELSE 0 END AS is_correct
FROM scored
"""


@register(
    "text_language_id",
    oracle=_langid_sql(_D_TOK, duck_stopword_hits),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-profile language ID with deterministic argmax."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_langid_sql(_S_TOK, spark_stopword_hits))


# ---------------------------------------------------------------------------
# Document fingerprinting (min-hash of char 8-grams + word-3-gram extremes)
# ---------------------------------------------------------------------------

_FP_SPARK_SQL = f"""
WITH base AS (
    SELECT doc_id, {_S_TOK} AS toks, text FROM documents
)
SELECT
    doc_id,
    array_min(transform({spark_word_shingles('toks', 3)},
              s -> {spark_hash60('s')}))                        AS shingle_min,
    array_max(transform({spark_word_shingles('toks', 3)},
              s -> {spark_hash60('s')}))                        AS shingle_max,
    array_min(transform(
        CASE WHEN length(text) >= 8
             THEN transform(sequence(1, length(text) - 7), i -> substr(text, i, 8))
             ELSE array(text) END,
        g -> {spark_hash60('g')}))                              AS char_fp
FROM base
"""

_FP_DUCK_SQL = f"""
WITH base AS (
    SELECT doc_id, {_D_TOK} AS toks, text FROM documents
)
SELECT
    doc_id,
    list_min(list_transform({duck_word_shingles('toks', 3)},
             s -> {duck_hash60('s')}))                          AS shingle_min,
    list_max(list_transform({duck_word_shingles('toks', 3)},
             s -> {duck_hash60('s')}))                          AS shingle_max,
    list_min(list_transform(
        CASE WHEN length(text) >= 8
             THEN list_transform(generate_series(1, length(text) - 7),
                                 i -> substr(text, i, 8))
             ELSE [text] END,
        g -> {duck_hash60('g')}))                               AS char_fp
FROM base
"""


@register("text_fingerprints", oracle=_FP_DUCK_SQL)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling char-8-gram min-hash + word-shingle extremes per document.

    The same SHA-derived 60-bit hash on both engines makes fingerprints
    bit-identical — the canonical-key pattern of the reference's cache
    keys (reference pipeline/utils/cache.py:58-74) reused for content
    addressing.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_FP_SPARK_SQL)


# ---------------------------------------------------------------------------
# Corpus stats rollup
# ---------------------------------------------------------------------------

_STATS_SPARK_SQL = f"""
SELECT
    lang,
    source,
    count(*)                                  AS n_docs,
    floor((avg(n_chars)) * 1e4 + 0.5) / 1e4                    AS avg_chars,
    CAST(sum(size({_S_TOK})) AS BIGINT)       AS total_tokens,
    min(n_chars)                              AS min_chars,
    max(n_chars)                              AS max_chars
FROM documents
GROUP BY lang, source
"""

_STATS_DUCK_SQL = f"""
SELECT
    lang,
    source,
    CAST(count(*) AS BIGINT)                  AS n_docs,
    floor((avg(n_chars)) * 1e4 + 0.5) / 1e4                    AS avg_chars,
    CAST(sum(len({_D_TOK})) AS BIGINT)        AS total_tokens,
    min(n_chars)                              AS min_chars,
    max(n_chars)                              AS max_chars
FROM documents
GROUP BY lang, source
"""


@register("text_corpus_stats", oracle=_STATS_DUCK_SQL)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup by (lang, source)."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_STATS_SPARK_SQL)


# ---------------------------------------------------------------------------
# Feature-hashing vectorizer (the "hashing trick")
# ---------------------------------------------------------------------------
# Deterministic text -> vector bridge when no neural embeddings exist:
# each token lands in bucket hash(token) % 64 with a hash-derived sign;
# the doc's vector is the signed count sum per bucket (sparse long
# form). All-integer arithmetic, so the oracle parity is exact by
# construction. Collisions are the accepted trade of the trick —
# bounded dimensionality at any vocabulary size, no fitted state, and
# any two engines that agree on the hash agree on the vectors.

_HASH_DIM = 64


def _hash_embed_sql(tok_expr: str, unnest: str, hash60) -> str:
    h = hash60("token")
    return f"""
WITH toks AS (
    SELECT doc_id, {tok_expr} AS w FROM documents
),
tok AS (
    SELECT doc_id, token, count(*) AS cnt
    FROM toks{unnest}
    GROUP BY doc_id, token
),
h AS (SELECT doc_id, {h} AS hh, cnt FROM tok)
SELECT doc_id,
       CAST(hh % {_HASH_DIM} AS INT) AS bucket,
       CAST(sum(CASE WHEN (hh >> {6}) % 2 = 1 THEN cnt ELSE -cnt END) AS BIGINT)
           AS val
FROM h
GROUP BY doc_id, CAST(hh % {_HASH_DIM} AS INT)
"""


@register(
    "text_hash_embedding",
    oracle=_hash_embed_sql(
        _D_TOK, ", UNNEST(w) AS t(token)", duck_hash60
    ),
)
def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-dim feature-hashed document vectors (sparse long form).

    Scale: one tokenize pass + one (doc, bucket) aggregation — map-side
    partials collapse the token stream to ≤64 rows per doc before the
    shuffle. The output feeds the cosine/ANN family wherever neural
    embeddings are absent.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(
        _hash_embed_sql(
            _S_TOK, " LATERAL VIEW explode(w) t AS token", spark_hash60
        ),
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix + per-language recall
# ---------------------------------------------------------------------------
# The eval that tells you whether the classifier above is safe to gate
# on: label × prediction cell counts plus per-actual-language recall.
# Wraps the language-ID relation (same single corpus scan — the
# per-doc battery collapses to |langs|² cells map-side before the tiny
# final aggregation).


def _lang_confusion_sql(tok: str, hits_fn) -> str:
    return f"""
WITH preds AS ({_langid_sql(tok, hits_fn)})
SELECT actual_lang, predicted_lang,
       CAST(count(*) AS BIGINT) AS n,
       floor((CAST(count(*) AS DOUBLE)
              / sum(count(*)) OVER (PARTITION BY actual_lang))
             * 1e6 + 0.5) / 1e6 AS recall_share
FROM preds
GROUP BY actual_lang, predicted_lang
ORDER BY actual_lang, predicted_lang
"""


@register(
    "lang_id_confusion",
    oracle=_lang_confusion_sql(_D_TOK, duck_stopword_hits),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix with per-actual-language recall."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_lang_confusion_sql(_S_TOK, spark_stopword_hits))


# ---------------------------------------------------------------------------
# Term burstiness / dispersion (corpus-linguistics vocabulary profile)
# ---------------------------------------------------------------------------
# Two dispersion diagnostics per term: Church burstiness cf/df (mean
# occurrences in the docs it appears in — content words cluster, 
# function words don't) and the variance-to-mean ratio over ALL docs
# including zeros (VMR > 1 = over-dispersed). Everything derives from
# the (term, doc) count relation in one explode-agg pass plus two
# scalars; sums are exact integers, the ratios snap at output.


def _burst_sql(explode_toks: str) -> str:
    return f"""
WITH tf AS (
    SELECT doc_id, tok AS term, count(*) AS c
    FROM ({explode_toks})
    GROUP BY doc_id, tok
),
n_docs AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
stats AS (
    SELECT term,
           count(*) AS df,
           sum(c) AS cf,
           sum(c * c) AS sum_sq
    FROM tf GROUP BY term
)
SELECT term,
       CAST(df AS BIGINT) AS df,
       CAST(cf AS BIGINT) AS cf,
       floor((CAST(cf AS DOUBLE) / df) * 1e6 + 0.5) / 1e6 AS burstiness,
       floor(((sum_sq / d.n - (cf / d.n) * (cf / d.n))
              / (cf / d.n)) * 1e6 + 0.5) / 1e6 AS vmr
FROM stats CROSS JOIN n_docs d
WHERE df >= 20
ORDER BY term
"""


@register(
    "text_term_burstiness",
    oracle=_burst_sql(
        f"SELECT doc_id, unnest({_D_TOK}) AS tok FROM documents"
    ),
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term Church burstiness (cf/df) and variance-to-mean ratio."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(
        _burst_sql(f"SELECT doc_id, explode({_S_TOK}) AS tok FROM documents"),
    )


# ---------------------------------------------------------------------------
# Heaps' law vocabulary growth (V ≈ k·Nᵝ)
# ---------------------------------------------------------------------------
# How fast does vocabulary grow as the corpus streams in? Each term
# contributes at its FIRST document (min doc_id — one agg over the
# token relation); the cumulative distinct-vocabulary curve is then a
# running sum over the per-doc first-occurrence counts — no running
# DISTINCT state. The running sum itself is a TWO-LEVEL prefix sum
# (round-7 fix: the naive ORDER BY doc_id window single-partitioned a
# corpus-sized per-document relation): docs map onto 4096 constant
# doc-id-range buckets ((doc_id*4096) div (max+1) — scalar max, the
# q15 broadcast-back pattern), per-bucket cumulative windows run
# PARTITIONED (4096-way parallel), and only the constant-4096 bucket
# aggregate pays a global window for the inter-bucket offsets. All
# integer arithmetic — identical results to the single-window form at
# any bucketing. The Heaps exponent β fits log-log least squares
# FROM EXACT INTEGER MOMENTS: each (ln N, ln V) point — identical
# doubles on both engines, being ln of exact integers — snaps to the
# 1e-6 grid and scales to BIGINT, and β/ln k derive from the closed-
# form slope over those integer sums. Engine-internal regr_slope
# would accumulate doubles in engine-specific order (the cross-engine
# hazard the CUPED operator documents); this never sums raw doubles.
# Spark side: the token relation (corpus-sized, referenced by both
# doc_tokens and first_seen) and the curve (referenced by fit and the
# output) are materialized once against CTE inlining.

_HEAPS_CURVE = """
doc_tokens AS (
    SELECT doc_id, count(*) AS n_tok FROM {tok} GROUP BY doc_id
),
first_seen AS (
    SELECT term, min(doc_id) AS first_doc FROM {tok} GROUP BY term
),
new_terms AS (
    SELECT first_doc AS doc_id, count(*) AS v_new
    FROM first_seen GROUP BY first_doc
),
mx AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS m FROM doc_tokens),
base AS (
    SELECT d.doc_id, d.n_tok, coalesce(nt.v_new, 0) AS v_new,
           (d.doc_id * 4096) {div} x.m AS b
    FROM doc_tokens d
    LEFT JOIN new_terms nt ON nt.doc_id = d.doc_id
    CROSS JOIN mx x
),
bsum AS (
    SELECT b, sum(n_tok) AS sn, sum(v_new) AS sv FROM base GROUP BY b
),
boff AS (
    SELECT b,
           (sum(sn) OVER wo) - sn AS n_off,
           (sum(sv) OVER wo) - sv AS v_off
    FROM bsum
    WINDOW wo AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW)
)
SELECT base.doc_id,
       o.n_off + sum(base.n_tok) OVER wp AS n_cum,
       o.v_off + sum(base.v_new) OVER wp AS v_cum
FROM base JOIN boff o ON o.b = base.b
WINDOW wp AS (PARTITION BY base.b ORDER BY base.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

_HEAPS_TAIL = """
logs AS (
    SELECT doc_id, n_cum, v_cum,
           CAST(floor(ln(CAST(n_cum AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS u,
           CAST(floor(ln(CAST(v_cum AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS v
    FROM {curve}
),
mom AS (
    SELECT CAST(count(*) AS DOUBLE) AS m,
           CAST(sum(u) AS DOUBLE) AS su, CAST(sum(v) AS DOUBLE) AS sv,
           CAST(sum(u * v) AS DOUBLE) AS suv,
           CAST(sum(u * u) AS DOUBLE) AS su2
    FROM logs
),
fit AS (
    SELECT (m * suv - su * sv) / (m * su2 - su * su) AS beta,
           (sv - su * ((m * suv - su * sv) / (m * su2 - su * su)))
               / m / 1e6 AS ln_k
    FROM mom
)
SELECT c.doc_id,
       CAST(c.n_cum AS BIGINT) AS tokens_seen,
       CAST(c.v_cum AS BIGINT) AS vocab_size,
       floor((f.beta) * 1e6 + 0.5) / 1e6 AS heaps_beta,
       floor((exp(f.ln_k)) * 1e6 + 0.5) / 1e6 AS heaps_k
FROM {curve} c CROSS JOIN fit f
WHERE c.doc_id % 50 = 0
ORDER BY c.doc_id
"""


_HEAPS_DUCK_SQL = (
    "WITH tok AS ("
    f"SELECT doc_id, tok AS term FROM "
    f"(SELECT doc_id, unnest({_D_TOK}) AS tok FROM documents)"
    "),\ncurve AS (WITH "
    + _HEAPS_CURVE.replace("{tok}", "tok").replace("{div}", "//")
    + "),\n"
    + _HEAPS_TAIL.replace("{curve}", "curve").lstrip()
)


@register("text_heaps_vocab_growth", oracle=_HEAPS_DUCK_SQL)
def text_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve sample points + fitted Heaps k, β."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            f"SELECT doc_id, tok AS term FROM "
            f"(SELECT doc_id, explode({_S_TOK}) AS tok FROM documents)"
        ),
        "heaps_tok",
    )
    materialize(
        spark.sql(
            "WITH "
            + _HEAPS_CURVE.replace("{tok}", "heaps_tok")
                          .replace("{div}", "DIV")
                          .lstrip()
        ),
        "heaps_curve",
    )
    return spark.sql(
        "WITH " + _HEAPS_TAIL.replace("{curve}", "heaps_curve").lstrip()
    )


# ---------------------------------------------------------------------------
# RAKE keyword-phrase extraction (stopword-delimited phrase chunking)
# ---------------------------------------------------------------------------
# Rapid Automatic Keyword Extraction: tokens between stopword boundaries
# form candidate phrases; each word scores degree/frequency (degree =
# summed length of the phrases it appears in), and a phrase scores the
# sum of its words' scores. Distinct from the token-level scorers above
# (TF-IDF, PMI, burstiness): the operator is PHRASE CHUNKING — the same
# boundary-segmentation shape as sessionization, applied to a token
# stream (running count of boundary tokens = segment id).
#
# Float discipline: degree/freq is snapped to a 1e6 integer grid PER
# WORD and the phrase score summed as BIGINT, so no double is ever
# accumulated in engine-dependent order.
#
# Scale: one explode (map-only fan-out), one doc-keyed window for the
# segment ids, one word-stats aggregation (vocabulary-sized), one
# broadcast-friendly join back. No per-pair products anywhere.


def _rake_sql(d: dict[str, str]) -> str:
    stop = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""
WITH toks AS (
    SELECT doc_id, {d['tok_arr']} AS a FROM documents
    WHERE length(trim(text)) > 0
),
pos AS (
    SELECT doc_id, CAST(i AS BIGINT) AS i, {d['elem']} AS tok
    FROM toks
    {d['expl']}
),
segmented AS (
    SELECT doc_id, i, tok,
           CASE WHEN tok IN ({stop}) THEN 1 ELSE 0 END AS is_stop,
           CAST(sum(CASE WHEN tok IN ({stop}) THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS seg
    FROM pos
),
members AS (
    SELECT doc_id, seg, i, tok,
           CAST(count(*) OVER (PARTITION BY doc_id, seg) AS BIGINT) AS plen
    FROM segmented WHERE is_stop = 0
),
word_stats AS (
    -- RAKE word stats over ALL candidate phrases (singletons included)
    SELECT tok,
           CAST(count(*) AS BIGINT)  AS freq,
           CAST(sum(plen) AS BIGINT) AS degree
    FROM members GROUP BY tok
),
scored AS (
    SELECT m.doc_id, m.seg, m.i, m.tok, m.plen,
           -- degree/freq snapped to the 1e6 grid per word -> BIGINT
           CAST(floor((CAST(w.degree AS DOUBLE) / w.freq) * 1e6 + 0.5)
                AS BIGINT) AS wscore6
    FROM members m JOIN word_stats w ON w.tok = m.tok
)
SELECT doc_id,
       seg                                          AS phrase_pos,
       {d['ordered_agg']}                           AS phrase,
       plen                                         AS phrase_len,
       CAST(sum(wscore6) AS DOUBLE) / 1e6           AS rake_score
FROM scored
WHERE plen >= 2
GROUP BY doc_id, seg, plen
"""


_RAKE_SPARK = {
    "tok_arr": f"split(trim(lower(text)), '\\\\s+')",
    "elem": "element_at(a, CAST(i AS INT))",
    "expl": "LATERAL VIEW explode(sequence(1, size(a))) t AS i",
    "ordered_agg": "listagg(tok, ' ') WITHIN GROUP (ORDER BY i)",
}
_RAKE_DUCK = {
    "tok_arr": "regexp_split_to_array(trim(lower(text)), '\\s+')",
    "elem": "a[CAST(i AS INT)]",
    "expl": ", UNNEST(generate_series(1, len(a))) AS t(i)",
    "ordered_agg": "string_agg(tok, ' ' ORDER BY i)",
}


@register("text_rake_phrases", oracle=_rake_sql(_RAKE_DUCK))
def text_rake_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword phrases: stopword-boundary chunking (running-count
    segment ids, the sessionization shape on a token stream), word
    degree/frequency scores on the 1e6 grid, phrase score = exact
    BIGINT sum of member scores.

    One explode + one doc-keyed window + a vocabulary-sized stats join;
    no double is accumulated in engine-dependent order.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_rake_sql(_RAKE_SPARK))


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS local document similarity)
# ---------------------------------------------------------------------------
# Schleimer, Wilkerson & Aiken 2003: hash every k-char gram, slide a
# w-hash window, keep each window's MINIMUM hash — the fingerprint set
# is position-local (guaranteed to catch any match of length >= w+k-1)
# where minhash sampling is not. The plagiarism-detector / code-clone
# primitive, complementing text_fingerprints' stride sampling and the
# minhash family's set sketches.
#
# Scale: the k-gram explode is map-only (<= n_chars rows per doc); the
# window minimum PARTITIONS BY doc (per-doc linear work, fully
# distributed); fingerprint doc-frequencies cap the pair join at
# df <= 8 per fingerprint — the repo's hot-shingle guard, so the pair
# stage is bounded per key and never O(n^2); boilerplate fingerprints
# (df > cap) are dropped exactly as production MOSS drops
# over-shared grams.

from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_stable_round as _snap,
)

_WINNOW_K = 8   # k-gram length (chars)
_WINNOW_W = 4   # window size (hashes)
_WINNOW_DF_CAP = 8


def _winnow_fp_sql(hash60, explode_tpl: str) -> str:
    """The (doc_id, fingerprint) relation — explode, window-min, distinct."""
    return f"""
SELECT DISTINCT doc_id, minh
FROM (
    SELECT doc_id, i, maxpos,
           min(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
               AS minh
    FROM (
        SELECT doc_id, i, maxpos, {hash60(f"substr(s, CAST(i AS INT), {_WINNOW_K})")} AS h
        FROM (
            SELECT doc_id, s, length(s) - {_WINNOW_K} + 1 AS maxpos,
                   {{seq}} AS idx
            FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)
            WHERE length(s) >= {_WINNOW_K + _WINNOW_W - 1}
        ){explode_tpl}
    ) hashed
) wins
WHERE i <= maxpos - {_WINNOW_W - 1}
"""


def _winnow_tail(fp: str) -> str:
    return f"""
kept AS (
    SELECT minh FROM {fp} GROUP BY minh
    HAVING count(*) BETWEEN 2 AND {_WINNOW_DF_CAP}
),
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp FROM {fp} GROUP BY doc_id
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM {fp} a
    JOIN kept k ON k.minh = a.minh
    JOIN {fp} b ON b.minh = a.minh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b, p.shared_fps,
       {_snap("CAST(p.shared_fps AS DOUBLE) / least(sa.nfp, sb.nfp)", 6)}
           AS overlap_coeff
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
ORDER BY p.shared_fps DESC, p.doc_a, p.doc_b
LIMIT 30
"""


_WINNOW_DUCK_SQL = (
    "WITH fp AS ("
    + _winnow_fp_sql(duck_hash60, ", UNNEST(idx) AS t(i)").format(
        seq=(
            f"CASE WHEN length(s) >= {_WINNOW_K} THEN "
            f"generate_series(1, length(s) - {_WINNOW_K} + 1) ELSE [] END"
        )
    )
    + "),\n"
    + _winnow_tail("fp").replace("\nkept AS", "\n kept AS", 1)
)


@register("text_winnowing_fingerprints", oracle=_WINNOW_DUCK_SQL)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 document pairs by shared winnowing fingerprints (k=8
    char-grams, w=4 window minima, df-capped pair join) with the
    overlap coefficient — the MOSS local-similarity primitive.

    The fingerprint relation feeds four consumers (df cap, both pair
    sides, per-doc sizes); Spark inlines CTEs, so it is materialized
    once via localCheckpoint.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            _winnow_fp_sql(spark_hash60, " LATERAL VIEW explode(idx) t AS i").format(
                seq=(
                    f"CASE WHEN length(s) >= {_WINNOW_K} THEN "
                    f"sequence(1, length(s) - {_WINNOW_K} + 1) ELSE array() END"
                )
            )
        ),
        "win_fp",
    )
    return spark.sql("WITH " + _winnow_tail("win_fp").lstrip())


# ---------------------------------------------------------------------------
# Good-Turing coverage + Chao1 vocabulary richness
# ---------------------------------------------------------------------------
# The unseen-mass diagnostics read off the frequency-of-frequencies
# table: Good-Turing's missing-mass estimate P0 = N1/N (the fraction
# of the NEXT corpus expected to be unseen types — the smoothing mass
# every n-gram LM redistributes) and the bias-corrected Chao1 richness
# estimate V + N1(N1-1)/(2(N2+1)) (how many types exist including
# never-sampled ones). Pure integer arithmetic until two final snapped
# divisions.
#
# Scale: one corpus-sized term count, one vocabulary-sized
# frequency-of-frequencies aggregation, one scalar rollup.


def _goodturing_sql(word_extract: str, unnest_words: str) -> str:
    return f"""
WITH terms AS (
    SELECT w AS term, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT {word_extract} AS ws FROM documents){unnest_words}
    GROUP BY w
),
fof AS (SELECT c, CAST(count(*) AS BIGINT) AS nc FROM terms GROUP BY c),
agg AS (
    SELECT CAST(sum(c * nc) AS BIGINT) AS n_tokens,
           CAST(sum(nc) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN c = 1 THEN nc ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN c = 2 THEN nc ELSE 0 END) AS BIGINT) AS n2
    FROM fof
)
SELECT vocab, n_tokens, n1 AS singletons, n2 AS doubletons,
       {_snap("CAST(n1 AS DOUBLE) / n_tokens", 6)} AS p_unseen,
       {_snap("1e0 - CAST(n1 AS DOUBLE) / n_tokens", 6)} AS coverage,
       {_snap(
           "vocab + CAST(n1 AS DOUBLE) * (n1 - 1) / (2 * (n2 + 1))", 4)}
           AS chao1_richness
FROM agg
"""


_GT_SPARK_SQL = _goodturing_sql(
    "regexp_extract_all(text, '[a-z]+', 0)",
    " LATERAL VIEW explode(ws) t AS w",
)

_GT_DUCK_SQL = _goodturing_sql(
    "regexp_extract_all(text, '[a-z]+')",
    ", UNNEST(ws) AS t(w)",
)


@register("corpus_good_turing_chao1", oracle=_GT_DUCK_SQL)
def corpus_good_turing_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing missing mass + bias-corrected Chao1 richness from
    the frequency-of-frequencies table — the corpus coverage
    diagnostics an LM-data pipeline reads before committing a crawl."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_GT_SPARK_SQL)


# ---------------------------------------------------------------------------
# Trigram novelty: how much of each document is first-seen text?
# ---------------------------------------------------------------------------
# The curation-ordering diagnostic: attribute every distinct token
# trigram to the LOWEST doc_id containing it; a document's novelty is
# the fraction of its distinct trigrams it introduces. Streaming-crawl
# pipelines read this curve to see marginal new content decaying as
# the crawl saturates — the aggregate twin of the pairwise dedup
# family (dedup_ngram_*), attributing overlap to an origin instead of
# enumerating pairs.
#
# Scale: trigrams collapse to (doc, hash) DISTINCT rows map-side; the
# first-occurrence table is one min() aggregation keyed by the 60-bit
# gram hash; the join back is hash-partitioned on the same key. No
# pair enumeration anywhere — cost is O(total distinct grams), not
# O(pairs). The gram relation feeds both sides; Spark inlines CTEs,
# so it is materialized.


def _novelty_grams_sql(shingles: str, hash60, unnest_tpl: str) -> str:
    return f"""
SELECT DISTINCT doc_id, {hash60("s")} AS g
FROM (SELECT doc_id, {shingles} AS sh FROM documents){unnest_tpl}
"""


def _novelty_tail(grams: str) -> str:
    return f"""
WITH first_seen AS (
    SELECT g, min(doc_id) AS first_doc FROM {grams} GROUP BY g
)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       {_snap(
           "CAST(sum(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END)"
           " AS DOUBLE) / count(*)", 6)} AS novelty
FROM {grams} w JOIN first_seen f ON f.g = w.g
GROUP BY w.doc_id
ORDER BY w.doc_id
"""


_NOVELTY_DUCK_SQL = (
    "WITH grams AS ("
    + _novelty_grams_sql(
        duck_word_shingles(_D_TOK, 3), duck_hash60, ", UNNEST(sh) AS t(s)"
    )
    + ")\n"
    + _novelty_tail("grams").replace("WITH first_seen", ", first_seen", 1)
)


@register("corpus_trigram_novelty", oracle=_NOVELTY_DUCK_SQL)
def corpus_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document first-seen trigram fraction (novelty by doc_id
    order) — the crawl-saturation curve, computed by origin
    attribution instead of pair enumeration."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            _novelty_grams_sql(
                spark_word_shingles(_S_TOK, 3), spark_hash60,
                " LATERAL VIEW explode(sh) t AS s",
            )
        ),
        "nov_grams",
    )
    return spark.sql(_novelty_tail("nov_grams"))


# ---------------------------------------------------------------------------
# Gini coefficient / Lorenz shares of the token frequency distribution
# ---------------------------------------------------------------------------
# The corpus-concentration diagnostic next to text_zipf_slope: Zipf
# fits the SHAPE of the rank-frequency law, Gini summarizes its
# INEQUALITY in one number (0 = uniform vocabulary use, ->1 = a few
# tokens dominate), and the top-1% / top-10% Lorenz shares are the
# numbers a data-curation review actually quotes. Rising Gini between
# corpus snapshots = diversity collapse (e.g. boilerplate flooding).
#
# Never ranks per token: with tokens sorted by count ascending, a tied
# block (count c, t_c tokens, R_c tokens before it) contributes
# c * (t_c * R_c + t_c(t_c+1)/2) to the rank-weighted sum, so the whole
# computation reads off the DISTINCT-COUNT histogram — the same
# bounded-grid discipline as the cents-grid eCDF family (distinct
# count values grow ~sqrt(corpus) under Zipf, and the cumulative
# windows run over that grid only). All sums are exact DECIMAL(38,0);
# the Gini and shares are single divisions, snapped. Top-k% cuts use
# floor((v+99)/100e0) ceil-division (exact-integer double arithmetic,
# identical cross-engine).

_GINI_SQL = """
WITH tok AS (
    SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM gini_tok
    GROUP BY token
),
hist AS (
    SELECT cnt AS c, CAST(count(*) AS BIGINT) AS t
    FROM tok GROUP BY cnt
),
blocks AS (
    SELECT c, t,
           CAST(coalesce(sum(t) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS r_before,
           CAST(coalesce(sum(c * t) OVER (ORDER BY c DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS mass_above,
           CAST(coalesce(sum(t) OVER (ORDER BY c DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS toks_above
    FROM hist
),
tots AS (
    SELECT CAST(sum(t) AS BIGINT) AS n,
           CAST(sum(CAST(c AS DECIMAL(38,0)) * t) AS DECIMAL(38,0)) AS tt,
           CAST(sum(CAST(c AS DECIMAL(38,0))
                    * (CAST(t AS DECIMAL(38,0)) * r_before
                       + CAST(t AS DECIMAL(38,0)) * (t + 1) / 2))
                AS DECIMAL(38,0)) AS s1
    FROM blocks
),
cuts AS (
    SELECT n, tt, s1,
           CAST(floor((n + 99) / 100e0) AS BIGINT) AS k1,
           CAST(floor((n + 9) / 10e0) AS BIGINT) AS k10
    FROM tots
),
shares AS (
    -- top-k tokens = full blocks above the cut + a partial tied block
    -- (interchangeable tokens, count c each); exactly one block
    -- straddles each cut, picked by conditional aggregation over the
    -- bounded grid x the single cuts row
    SELECT q.n, q.tt, q.s1, q.k1, q.k10,
           CAST(min(CASE WHEN b.toks_above < q.k1
                          AND b.toks_above + b.t >= q.k1
                         THEN b.mass_above + (q.k1 - b.toks_above) * b.c
                    END) AS DECIMAL(38,0)) AS mass1,
           CAST(min(CASE WHEN b.toks_above < q.k10
                          AND b.toks_above + b.t >= q.k10
                         THEN b.mass_above + (q.k10 - b.toks_above) * b.c
                    END) AS DECIMAL(38,0)) AS mass10
    FROM cuts q CROSS JOIN blocks b
    GROUP BY q.n, q.tt, q.s1, q.k1, q.k10
)
SELECT n AS n_vocab, CAST(tt AS BIGINT) AS n_tokens,
       floor((2e0 * CAST(s1 AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(tt AS DOUBLE))
              - (CAST(n AS DOUBLE) + 1) / n) * 1e6 + 0.5) / 1e6 AS gini,
       floor((CAST(mass1 AS DOUBLE) / CAST(tt AS DOUBLE)) * 1e6 + 0.5)
           / 1e6 AS top1pct_share,
       floor((CAST(mass10 AS DOUBLE) / CAST(tt AS DOUBLE)) * 1e6 + 0.5)
           / 1e6 AS top10pct_share
FROM shares
"""

_GINI_SPARK_SQL = f"""
WITH gini_tok AS (
    SELECT token
    FROM (SELECT {_S_TOK} AS toks FROM documents)
    LATERAL VIEW explode(toks) t AS token
),
{_GINI_SQL[len("WITH "):]}
"""

_GINI_DUCK_SQL = f"""
WITH gini_tok AS (
    SELECT unnest({_D_TOK}) AS token FROM documents
),
{_GINI_SQL[len("WITH "):]}
"""


@register("text_gini_token_concentration", oracle=_GINI_DUCK_SQL)
def text_gini_token_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient and top-1%/top-10% Lorenz shares of the token
    frequency distribution — exact tied-block arithmetic off the
    distinct-count histogram, never a per-token rank."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_GINI_SPARK_SQL)


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources
# ---------------------------------------------------------------------------
# The authorship-attribution classic (Burrows 2002), repurposed as the
# corpus-curation "same pen?" screen: two nominally-different sources
# with a tiny Delta are one writer/generator/template wearing two
# labels (scraper mirrors, SEO farms, synthetic-data leaks). Method:
# z-score each source's relative frequency of the corpus's top-30
# tokens against the cross-source mean/sd, Delta(a,b) = mean_t
# |z_a(t) - z_b(t)| — function-word profiles, not topic words, which
# is why it survives subject-matter changes.
#
# Float discipline: relative frequencies snap to 1e-9 micro-units
# (BIGINT) off exact counts; cross-source moments are exact integer
# sums of those micro-units; each z and each Delta is a single float
# expression over them, snapped at 1e-6 (zero-sd tokens are excluded
# deterministically before any pair math, so every pair averages the
# same token set). Scale: one tokenize pass to (source, token) counts;
# the top-30 pick is TakeOrdered over the vocab; everything after runs
# on the bounded sources x 30 grid. Output: the 15 most similar pairs,
# totally ordered.

_BD_TOPK = 30

_BD_TAIL = f"""
stot AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n FROM bd_tok
    GROUP BY source
),
vocab AS (
    SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM bd_tok
    GROUP BY token
),
topk AS (SELECT token FROM vocab ORDER BY cnt DESC, token LIMIT {_BD_TOPK}),
stc AS (
    SELECT t.source, t.token, CAST(count(*) AS BIGINT) AS c
    FROM bd_tok t JOIN topk k ON k.token = t.token
    GROUP BY t.source, t.token
),
dense AS (
    SELECT s.source, k.token,
           CAST(floor((CAST(coalesce(c.c, 0) AS DOUBLE) / s.n)
                      * 1e9 + 0.5) AS BIGINT) AS fu
    FROM stot s CROSS JOIN topk k
    LEFT JOIN stc c ON c.source = s.source AND c.token = k.token
),
mstat AS (
    -- fu is a 1e9-scaled relative frequency (up to 1e9), so fu² reaches
    -- 1e18 and a BIGINT sum overflows past ~9 concentrated sources; the
    -- second moment accumulates in DECIMAL(38,0) (the
    -- lineitem_abc_xyz_matrix pattern)
    SELECT token, CAST(count(*) AS BIGINT) AS g,
           CAST(sum(fu) AS BIGINT) AS s1,
           CAST(sum(CAST(fu AS DECIMAL(38,0)) * fu) AS DECIMAL(38,0)) AS s2
    FROM dense GROUP BY token
),
sigma AS (
    SELECT token,
           CAST(s1 AS DOUBLE) / g AS mu,
           sqrt(greatest(0e0,
                CAST(s2 AS DOUBLE) / g
                - (CAST(s1 AS DOUBLE) / g) * (CAST(s1 AS DOUBLE) / g)))
               AS sd
    FROM mstat
),
z AS (
    SELECT d.source, d.token,
           floor(((d.fu - s.mu) / s.sd) * 1e6 + 0.5) / 1e6 AS z
    FROM dense d JOIN sigma s ON s.token = d.token
    WHERE s.sd > 0e0
),
nk AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS k FROM z),
bd_pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           {{sumabs}} AS sumabs
    FROM z a JOIN z b ON a.token = b.token AND a.source < b.source
    GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b,
       floor((p.sumabs / nk.k) * 1e6 + 0.5) / 1e6 AS burrows_delta
FROM bd_pairs p CROSS JOIN nk
ORDER BY burrows_delta, p.source_a, p.source_b
LIMIT 15
"""

_BD_SPARK_SQL = (
    f"WITH bd_tok AS (\n"
    f"    SELECT source, token\n"
    f"    FROM (SELECT source, {_S_TOK} AS toks FROM documents)\n"
    f"    LATERAL VIEW explode(toks) t AS token\n"
    f"),\n" + _BD_TAIL.lstrip()
).format(sumabs=sql_exact_sum("abs(a.z - b.z)", 6))

_BD_DUCK_SQL = (
    f"WITH bd_tok AS (\n"
    f"    SELECT source, unnest({_D_TOK}) AS token FROM documents\n"
    f"),\n" + _BD_TAIL.lstrip()
).format(sumabs=sql_exact_sum("abs(a.z - b.z)", 6))


@register("text_burrows_delta", oracle=_BD_DUCK_SQL)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta over the top-30 token z-score profiles: the 15
    most stylistically similar source pairs — the duplicate-generator
    screen that survives topic drift."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_BD_SPARK_SQL)


# ---------------------------------------------------------------------------
# Flesch reading-ease profile per source
# ---------------------------------------------------------------------------
# The classic readability screen the Gopher rules do not cover: two
# sources can both pass length/stopword gates while one is grade-school
# prose and the other is legalese — reading ease is the curation knob
# for audience-targeted corpora (and a drift gauge when a source's
# register shifts). Flesch = 206.835 - 1.015*(words/sentences)
# - 84.6*(syllables/words), with sentences = non-empty [.!?] segments
# and syllables approximated by vowel groups (the standard
# dictionary-free proxy; consistent cross-engine because both regexes
# are identical).
#
# Per-document ratios snap at 1e-6; the per-source means are
# order-independent exact sums of snapped scores. Map-only until the
# bounded per-source aggregate.


def _flesch_sql(n_words: str, n_sent: str, n_syll: str) -> str:
    score = (
        f"(206835e-3"
        f" - 1015e-3 * (CAST({n_words} AS DOUBLE)"
        f"              / greatest({n_sent}, 1))"
        f" - 846e-1 * (CAST({n_syll} AS DOUBLE)"
        f"             / greatest({n_words}, 1)))"
    )
    return f"""
WITH per_doc AS (
    SELECT source,
           CAST({n_words} AS BIGINT) AS w,
           CAST({n_sent} AS BIGINT) AS s,
           CAST({n_syll} AS BIGINT) AS y,
           floor({score} * 1e6 + 0.5) / 1e6 AS flesch
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       floor((CAST(sum(w) AS DOUBLE) / greatest(sum(s), 1)) * 1e4 + 0.5)
           / 1e4 AS words_per_sentence,
       floor((CAST(sum(y) AS DOUBLE) / greatest(sum(w), 1)) * 1e4 + 0.5)
           / 1e4 AS syllables_per_word,
       floor(({sql_exact_sum("flesch", 6)} / count(*)) * 1e4 + 0.5) / 1e4
           AS mean_flesch,
       CAST(sum(CASE WHEN flesch >= 6e1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_plain_english
FROM per_doc
GROUP BY source
ORDER BY source
"""


_FLESCH_SPARK_SQL = _flesch_sql(
    n_words=f"size({_S_TOK})",
    n_sent=(
        "size(filter(split(text, '[.!?]+'),"
        " x -> length(trim(x)) > 0))"
    ),
    n_syll="size(regexp_extract_all(lower(text), '[aeiouy]+', 0))",
)
_FLESCH_DUCK_SQL = _flesch_sql(
    n_words=f"CAST(len({_D_TOK}) AS INT)",
    n_sent=(
        "CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),"
        " x -> length(trim(x)) > 0)) AS INT)"
    ),
    n_syll="CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT)",
)


@register("text_readability_flesch", oracle=_FLESCH_DUCK_SQL)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease profile (vowel-group syllable
    proxy): words/sentence, syllables/word, exact-sum mean score, and
    the plain-English (>=60) census."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_FLESCH_SPARK_SQL)


# ---------------------------------------------------------------------------
# Yule's K + Herdan's C (vocabulary-concentration constants)
# ---------------------------------------------------------------------------
# The corpus-level stylometric constants the per-doc lexical-diversity
# screen and the Good-Turing table don't report: Yule's characteristic
# K = 1e4 * (sum_m m^2*V_m - N) / N^2 (repeat-rate concentration,
# length-invariant by design — THE classic authorship/register
# constant) and Herdan's C = ln V / ln N (log-log type-token slope,
# the stable alternative to raw TTR). Both read off the same
# frequency-of-frequencies table as corpus_good_turing_chao1 — pure
# integer arithmetic until the final snapped expressions.


def _yule_sql(word_extract: str, unnest_words: str) -> str:
    return f"""
WITH terms AS (
    SELECT w AS term, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT {word_extract} AS ws FROM documents){unnest_words}
    GROUP BY w
),
fof AS (SELECT c, CAST(count(*) AS BIGINT) AS nc FROM terms GROUP BY c),
agg AS (
    SELECT CAST(sum(c * nc) AS BIGINT) AS n_tokens,
           CAST(sum(nc) AS BIGINT) AS vocab,
           CAST(sum(CAST(c AS DECIMAL(38,0)) * c * nc) AS DECIMAL(38,0))
               AS m2
    FROM fof
)
SELECT n_tokens, vocab,
       {_snap("1e4 * (CAST(m2 AS DOUBLE) - n_tokens)"
              " / (CAST(n_tokens AS DOUBLE) * n_tokens)", 6)} AS yule_k,
       {_snap("ln(CAST(vocab AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE))",
              6)} AS herdan_c,
       {_snap("CAST(m2 AS DOUBLE)"
              " / (CAST(n_tokens AS DOUBLE) * n_tokens)", 6)}
           AS repeat_rate
FROM agg
"""


@register(
    "text_yule_k_herdan",
    oracle=_yule_sql(
        "regexp_extract_all(text, '[a-z]+')",
        ", UNNEST(ws) AS t(w)",
    ),
)
def text_yule_k_herdan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K, Herdan's C, and the raw repeat rate
    from the frequency-of-frequencies table — corpus-level vocabulary
    concentration constants."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_yule_sql(
        "regexp_extract_all(text, '[a-z]+', 0)",
        " LATERAL VIEW explode(ws) t AS w",
    ))
