"""End-to-end corpus curation funnel (SURVEY §2.8 composition).

The query a training-data pipeline actually runs nightly: quality gate →
language gate → exact-dedup canonical keep, reported as a per-source
funnel (how many documents each stage dropped, what survived, how many
tokens the kept set contributes).

Composes the text-analysis and dedup primitives into ONE scan of the
corpus: per-document features and gates are scalar expressions, the
dedup canonical pick is a window over the content hash (one shuffle,
key = hash, cardinality = corpus), and the funnel is a final tiny
aggregation by source. No stage materializes an intermediate corpus —
at 100 TB the whole funnel costs one read + one hash-partitioned
exchange, versus the naive filter→write→read chain costing 4 reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.text import (
    DUCK_TOKENS,
    SPARK_TOKENS,
    duck_stopword_hits,
    spark_stopword_hits,
)
from automated_data_pipeline_python_spark.queries.catalog import register
from automated_data_pipeline_python_spark.tables import register_views

_S_TOK = SPARK_TOKENS.format(col="text")
_D_TOK = DUCK_TOKENS.format(col="text")

# Same normalized-content hash as dedup_exact_documents (queries/dedup.py).
_NORM_SPARK = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
_NORM_DUCK = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

_MIN_TOKENS = 20
_MIN_DISTINCT_RATIO = 0.2


_FUNNEL_SPARK_SQL = f"""
WITH feats AS (
    SELECT
        doc_id,
        source,
        sha2({_NORM_SPARK}, 256) AS content_hash,
        size({_S_TOK}) AS n_tokens,
        CAST(size(array_distinct({_S_TOK})) AS DOUBLE) / size({_S_TOK}) AS distinct_ratio,
        ({spark_stopword_hits(_S_TOK, 'en')} >= {spark_stopword_hits(_S_TOK, 'de')}
         AND {spark_stopword_hits(_S_TOK, 'en')} >= {spark_stopword_hits(_S_TOK, 'es')}
         AND {spark_stopword_hits(_S_TOK, 'en')} >= {spark_stopword_hits(_S_TOK, 'fr')}
         AND {spark_stopword_hits(_S_TOK, 'en')} >= {spark_stopword_hits(_S_TOK, 'zh')}) AS pass_lang
    FROM documents
),
gated AS (
    SELECT *,
           (n_tokens >= {_MIN_TOKENS} AND distinct_ratio >= {_MIN_DISTINCT_RATIO}) AS pass_q
    FROM feats
),
dedup AS (
    SELECT *,
           min(CASE WHEN pass_q AND pass_lang THEN doc_id END)
               OVER (PARTITION BY content_hash) AS canonical_id
    FROM gated
)
SELECT
    source,
    count(*) AS docs_total,
    sum(CASE WHEN NOT pass_q THEN 1 ELSE 0 END) AS dropped_quality,
    sum(CASE WHEN pass_q AND NOT pass_lang THEN 1 ELSE 0 END) AS dropped_language,
    sum(CASE WHEN pass_q AND pass_lang AND doc_id <> canonical_id THEN 1 ELSE 0 END) AS dropped_duplicate,
    sum(CASE WHEN pass_q AND pass_lang AND doc_id = canonical_id THEN 1 ELSE 0 END) AS docs_kept,
    sum(CASE WHEN pass_q AND pass_lang AND doc_id = canonical_id THEN n_tokens ELSE 0 END) AS tokens_kept,
    floor(avg(CASE WHEN pass_q AND pass_lang AND doc_id = canonical_id
                   THEN distinct_ratio END) * 1e6 + 0.5) / 1e6 AS avg_kept_distinct_ratio
FROM dedup
GROUP BY source
ORDER BY source
"""

_FUNNEL_DUCK_SQL = f"""
WITH feats AS (
    SELECT
        doc_id,
        source,
        sha256({_NORM_DUCK}) AS content_hash,
        CAST(len({_D_TOK}) AS INT) AS n_tokens,
        CAST(len(list_distinct({_D_TOK})) AS DOUBLE) / len({_D_TOK}) AS distinct_ratio,
        ({duck_stopword_hits(_D_TOK, 'en')} >= {duck_stopword_hits(_D_TOK, 'de')}
         AND {duck_stopword_hits(_D_TOK, 'en')} >= {duck_stopword_hits(_D_TOK, 'es')}
         AND {duck_stopword_hits(_D_TOK, 'en')} >= {duck_stopword_hits(_D_TOK, 'fr')}
         AND {duck_stopword_hits(_D_TOK, 'en')} >= {duck_stopword_hits(_D_TOK, 'zh')}) AS pass_lang
    FROM documents
),
gated AS (
    SELECT *,
           (n_tokens >= {_MIN_TOKENS} AND distinct_ratio >= {_MIN_DISTINCT_RATIO}) AS pass_q
    FROM feats
),
dedup AS (
    SELECT *,
           min(CASE WHEN pass_q AND pass_lang THEN doc_id END)
               OVER (PARTITION BY content_hash) AS canonical_id
    FROM gated
)
SELECT
    source,
    CAST(count(*) AS BIGINT) AS docs_total,
    CAST(sum(CASE WHEN NOT pass_q THEN 1 ELSE 0 END) AS BIGINT) AS dropped_quality,
    CAST(sum(CASE WHEN pass_q AND NOT pass_lang THEN 1 ELSE 0 END) AS BIGINT) AS dropped_language,
    CAST(sum(CASE WHEN pass_q AND pass_lang AND doc_id <> canonical_id THEN 1 ELSE 0 END) AS BIGINT) AS dropped_duplicate,
    CAST(sum(CASE WHEN pass_q AND pass_lang AND doc_id = canonical_id THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
    CAST(sum(CASE WHEN pass_q AND pass_lang AND doc_id = canonical_id THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
    floor(avg(CASE WHEN pass_q AND pass_lang AND doc_id = canonical_id
                   THEN distinct_ratio END) * 1e6 + 0.5) / 1e6 AS avg_kept_distinct_ratio
FROM dedup
GROUP BY source
ORDER BY source
"""


@register("corpus_curation_funnel", oracle=_FUNNEL_DUCK_SQL)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality → language → exact-dedup funnel, per source, in one scan.

    Stage drops are attributed in order (a doc failing quality is never
    also counted as a language drop); the dedup canonical is the min
    doc_id among docs that survived both gates, picked by a window over
    the content hash so no self-join or second scan is needed.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_FUNNEL_SPARK_SQL)
