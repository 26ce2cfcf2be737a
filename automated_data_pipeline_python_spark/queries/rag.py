"""RAG / serving-side corpus preparation operators.

What a retrieval pipeline runs between curation (queries/curation.py)
and indexing (queries/similarity.py):

- overlapping document chunking (fixed window + stride over chars; the
  token-budget variant is pack_sequences_chunked in training.py)
- chunk-level exact-duplicate rate (overlap windows re-emit shared
  spans; an index wants each span once)
- document length histogram (equi-width buckets for corpus profiling)
- per-vector int8 scalar quantization of embeddings (the memory-format
  step before an IVF/PQ index ships to serving)

All are single-scan map/agg shapes with exact integer or
double-identical arithmetic, so every query carries a DuckDB oracle.

Scale: chunking and quantization are map-only (no shuffle at any SF —
they pipeline into whatever sink follows); the histogram and dup-rate
are single hash aggregations on bounded key spaces (buckets; chunk
hashes). Nothing here materializes per-pair or per-token state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import register_views

_CHUNK = 160  # window (chars)
_STRIDE = 120  # step (chars) -> 40-char overlap between neighbors


# ---------------------------------------------------------------------------
# Overlapping chunker: fixed char window, fixed stride
# ---------------------------------------------------------------------------
# Spark and DuckDB substring share 1-based, end-clamped semantics, so
# the chunk text itself is oracle-comparable. Start offsets come from
# sequence()/generate_series — fully codegen'd, no iteration. Map-only:
# a 100 TB corpus chunks in place with zero shuffle; downstream
# embedding/indexing sees ~n_chars/stride rows per doc.

_CHUNK_SPARK_SQL = f"""
SELECT doc_id,
       CAST(start div {_STRIDE} AS BIGINT)         AS chunk_id,
       substring(text, start + 1, {_CHUNK})        AS chunk_text,
       CAST(length(substring(text, start + 1, {_CHUNK})) AS BIGINT)
                                                   AS chunk_len
FROM (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0)
LATERAL VIEW explode(sequence(0, n - 1, {_STRIDE})) t AS start
"""

_CHUNK_DUCK_SQL = f"""
SELECT doc_id,
       CAST(start // {_STRIDE} AS BIGINT)          AS chunk_id,
       substr(text, start + 1, {_CHUNK})           AS chunk_text,
       CAST(len(substr(text, start + 1, {_CHUNK})) AS BIGINT)
                                                   AS chunk_len
FROM (SELECT doc_id, text, len(text) AS n FROM documents WHERE len(text) > 0),
     UNNEST(generate_series(0, n - 1, {_STRIDE})) AS t(start)
"""


@register("chunk_documents_overlap", oracle=_CHUNK_DUCK_SQL)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking (160ch window, 120ch
    stride) — the standard RAG splitter, emitted by sequence() explode.

    Map-only (no shuffle at any scale); chunk count scales with corpus
    chars, never quadratically.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_CHUNK_SPARK_SQL)


# ---------------------------------------------------------------------------
# Chunk-level duplicate rate
# ---------------------------------------------------------------------------
# Overlap windows re-emit shared spans and boilerplate repeats across
# docs; an index wants each distinct span once. One hash-agg on the
# chunk text (at 100 TB: on a 64-bit chunk hash) — same shape as
# dedup_exact_documents but at sub-document granularity.

_CHUNK_DUP_SPARK_SQL = f"""
WITH chunks AS (
    SELECT substring(text, start + 1, {_CHUNK}) AS chunk_text
    FROM (SELECT text, length(text) AS n FROM documents WHERE length(text) > 0)
    LATERAL VIEW explode(sequence(0, n - 1, {_STRIDE})) t AS start
),
per AS (
    SELECT chunk_text, CAST(count(*) AS BIGINT) AS n_copies
    FROM chunks GROUP BY chunk_text
)
SELECT CAST(sum(n_copies) AS BIGINT)                      AS n_chunks,
       CAST(count(*) AS BIGINT)                           AS n_distinct,
       CAST(sum(n_copies) - count(*) AS BIGINT)           AS n_redundant,
       floor((1.0 - CAST(count(*) AS DOUBLE) / sum(n_copies)) * 1e6 + 0.5) / 1e6
                                                          AS dup_ratio
FROM per
"""

_CHUNK_DUP_DUCK_SQL = f"""
WITH chunks AS (
    SELECT substr(text, start + 1, {_CHUNK}) AS chunk_text
    FROM (SELECT text, len(text) AS n FROM documents WHERE len(text) > 0),
         UNNEST(generate_series(0, n - 1, {_STRIDE})) AS t(start)
),
per AS (
    SELECT chunk_text, CAST(count(*) AS BIGINT) AS n_copies
    FROM chunks GROUP BY chunk_text
)
SELECT CAST(sum(n_copies) AS BIGINT)                      AS n_chunks,
       CAST(count(*) AS BIGINT)                           AS n_distinct,
       CAST(sum(n_copies) - count(*) AS BIGINT)           AS n_redundant,
       floor((1.0 - CAST(count(*) AS DOUBLE) / sum(n_copies)) * 1e6 + 0.5) / 1e6
                                                          AS dup_ratio
FROM per
"""


@register("chunk_dedup_rate", oracle=_CHUNK_DUP_DUCK_SQL)
def chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of redundant chunks after overlap-window splitting: one
    hash-agg over chunk text (a 64-bit chunk hash at scale), exact
    integer counts + snapped ratio."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_CHUNK_DUP_SPARK_SQL)


# ---------------------------------------------------------------------------
# Document length histogram
# ---------------------------------------------------------------------------
# Equi-width profile of n_chars. Integer floor-division bucketing is
# engine-exact; one hash agg over ~dozens of buckets (map-side combine
# collapses everything before the shuffle).

_HIST_WIDTH = 200

_HIST_SPARK_SQL = f"""
SELECT CAST(n_chars div {_HIST_WIDTH} AS BIGINT)            AS bucket,
       CAST(n_chars div {_HIST_WIDTH} AS BIGINT) * {_HIST_WIDTH}
                                                            AS bucket_lo,
       CAST(count(*) AS BIGINT)                             AS n_docs,
       CAST(min(n_chars) AS BIGINT)                         AS min_chars,
       CAST(max(n_chars) AS BIGINT)                         AS max_chars,
       floor(avg(CAST(n_chars AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS avg_chars
FROM documents
GROUP BY bucket, bucket_lo
"""

_HIST_DUCK_SQL = f"""
SELECT CAST(n_chars // {_HIST_WIDTH} AS BIGINT)             AS bucket,
       CAST(n_chars // {_HIST_WIDTH} AS BIGINT) * {_HIST_WIDTH}
                                                            AS bucket_lo,
       CAST(count(*) AS BIGINT)                             AS n_docs,
       CAST(min(n_chars) AS BIGINT)                         AS min_chars,
       CAST(max(n_chars) AS BIGINT)                         AS max_chars,
       floor(avg(CAST(n_chars AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS avg_chars
FROM documents
GROUP BY 1, 2
"""


@register("doc_length_histogram", oracle=_HIST_DUCK_SQL)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width (width=200) histogram of document lengths with
    per-bucket min/max/avg — integer bucketing, map-side-combined agg."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_HIST_SPARK_SQL)


# ---------------------------------------------------------------------------
# Int8 scalar quantization of embeddings
# ---------------------------------------------------------------------------
# Symmetric per-vector quantization: scale = max(|x|), q = round(x /
# scale * 127). All arithmetic is promoted to DOUBLE before any op —
# float32→float64 promotion is exact and IEEE double ops are
# engine-identical, so q is bit-equal across Spark and DuckDB (round
# via the floor(+0.5) house form; max(|x|) is order-independent).
# Output is exploded to (vec_id, dim_idx, q) — scalar rows the driver
# canonicalizer can sort (array-typed outputs crash it; see round 1's
# map_functions_demo). Map-only: no shuffle at any scale.

_QUANT_SPARK_SQL = """
WITH scaled AS (
    SELECT vec_id,
           array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
           embedding
    FROM embeddings
)
SELECT vec_id,
       CAST(dim_idx AS BIGINT)                                  AS dim_idx,
       CAST(floor(CAST(val AS DOUBLE) / mx * 127.0 + 0.5) AS BIGINT) AS q,
       floor(mx * 1e6 + 0.5) / 1e6                              AS scale
FROM scaled
LATERAL VIEW posexplode(embedding) t AS dim_idx, val
WHERE mx > 0
"""

_QUANT_DUCK_SQL = """
WITH scaled AS (
    SELECT vec_id,
           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
           embedding
    FROM embeddings
)
SELECT vec_id,
       CAST(dim - 1 AS BIGINT)                                  AS dim_idx,
       CAST(floor(CAST(embedding[dim] AS DOUBLE) / mx * 127.0 + 0.5) AS BIGINT) AS q,
       floor(mx * 1e6 + 0.5) / 1e6                              AS scale
FROM scaled,
     UNNEST(generate_series(1, len(embedding))) AS t(dim)
WHERE mx > 0
"""


@register("embedding_quantize_int8", oracle=_QUANT_DUCK_SQL)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (q = round(x/max|x|*127))
    exploded to scalar rows; double-promoted arithmetic keeps both
    engines bit-identical. Map-only."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_QUANT_SPARK_SQL)


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) re-ranking of a retrieval candidate set
# ---------------------------------------------------------------------------
# The diversity pass every RAG stack runs between retrieval and the
# context window: plain top-k hands the LLM five near-copies of the
# same passage; MMR greedily picks argmax lambda*rel(d) -
# (1-lambda)*max_{s in S} sim(d, s), trading relevance against
# redundancy with what is already selected (Carbonell & Goldstein 1998).
#
# Shape: ONE corpus pass scores cosine-to-query and TakeOrders the
# top-12 candidate set (never a global window); the 12x12 pairwise sim
# grid and the 5 unrolled greedy steps are bounded algebra — each step
# is a <=12-row argmax with snapped-micro scores and vec_id tiebreak,
# and membership tests are NOT-IN against the <=5-row selected set
# (planner-forced tiny broadcasts, the q16 exemption class). Relevance
# and sims snap to the 1e-6 grid BEFORE any compare, so greedy picks
# are identical cross-engine. Spark materializes the candidate set via
# localCheckpoint (12 rows) because every step re-references it and
# Spark inlines CTEs.

_MMR_LAMBDA = "7e-1"
_MMR_K = 12   # candidate pool (top by relevance)
_MMR_PICK = 5  # selected set size

_MMR_NORM_SPARK = (
    "emb_n AS (SELECT vec_id, embedding,"
    " sqrt(aggregate(transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)) AS nrm FROM embeddings)"
)
_MMR_NORM_DUCK = (
    "emb_n AS (SELECT vec_id, embedding,"
    " sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    " AS nrm FROM embeddings)"
)
_MMR_DOT_SPARK = (
    "aggregate(zip_with(a.embedding, b.embedding,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_MMR_DOT_DUCK = "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"

_MMR_CANDS = """cands AS (
    SELECT b.vec_id, b.embedding, b.nrm,
           floor(({dot} / (a.nrm * b.nrm)) * 1e6 + 0.5) / 1e6 AS rel
    FROM (SELECT embedding, nrm FROM emb_n WHERE vec_id = 0) a
    CROSS JOIN emb_n b
    WHERE b.vec_id != 0
    ORDER BY rel DESC, b.vec_id
    LIMIT {k}
)"""


def _mmr_steps(cands: str) -> str:
    lam = _MMR_LAMBDA
    parts = [f"""s1 AS (
    SELECT vec_id, rel, 0e0 AS maxsim,
           floor(({lam} * rel) * 1e6 + 0.5) / 1e6 AS mmr_score
    FROM {cands} ORDER BY rel DESC, vec_id LIMIT 1
),
sel1 AS (SELECT vec_id FROM s1)"""]
    for i in range(2, _MMR_PICK + 1):
        parts.append(f"""s{i} AS (
    SELECT c.vec_id, c.rel, m.maxsim,
           floor(({lam} * c.rel - (1e0 - {lam}) * m.maxsim) * 1e6 + 0.5)
               / 1e6 AS mmr_score
    FROM {cands} c
    JOIN (SELECT p.a_id AS vec_id, max(p.sim) AS maxsim
          FROM sims p
          WHERE p.b_id IN (SELECT vec_id FROM sel{i - 1})
          GROUP BY p.a_id) m ON m.vec_id = c.vec_id
    WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
    ORDER BY mmr_score DESC, c.vec_id LIMIT 1
),
sel{i} AS (SELECT vec_id FROM sel{i - 1}
           UNION ALL SELECT vec_id FROM s{i})""")
    return ",\n".join(parts)


def _mmr_tail(cands: str, dot: str) -> str:
    union = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS mmr_rank, vec_id, rel, maxsim,"
        f" mmr_score FROM s{i}"
        for i in range(1, _MMR_PICK + 1)
    )
    return f"""sims AS (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           floor(({dot} / (a.nrm * b.nrm)) * 1e6 + 0.5) / 1e6 AS sim
    FROM {cands} a JOIN {cands} b ON a.vec_id != b.vec_id
),
{_mmr_steps(cands)}
{union}
ORDER BY mmr_rank"""


_MMR_DUCK_SQL = (
    f"WITH {_MMR_NORM_DUCK},\n"
    + _MMR_CANDS.format(dot=_MMR_DOT_DUCK, k=_MMR_K)
    + ",\n"
    + _mmr_tail("cands", _MMR_DOT_DUCK)
)


@register("rag_mmr_rerank", oracle=_MMR_DUCK_SQL)
def rag_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 from the top-12 cosine candidates of query
    vec 0: greedy lambda*rel - (1-lambda)*redundancy selection with
    snapped scores and vec_id tiebreaks."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    cands = spark.sql(
        f"WITH {_MMR_NORM_SPARK},\n"
        + _MMR_CANDS.format(dot=_MMR_DOT_SPARK, k=_MMR_K)
        + "\nSELECT * FROM cands"
    )
    materialize(cands, "mmr_cands")
    out = spark.sql("WITH " + _mmr_tail("mmr_cands", _MMR_DOT_SPARK))
    spark.catalog.dropTempView("mmr_cands")
    return out
