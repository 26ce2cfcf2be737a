"""Sparse + dense retrieval operators (SURVEY §2.8 LLM-data ops).

The reference pipeline stores documents it fetched; a training-data
engine also needs to *retrieve* from them. Three operators:

- ``text_bm25_ranking``: Okapi BM25 scoring of a fixed query-term set
  over the ``documents`` corpus — the standard sparse-retrieval baseline
  (and the negative-sampling scorer for contrastive training data).
- ``text_inverted_postings``: the inverted-index build behind it — per
  term document frequency, collection frequency, and a bounded posting
  sample.
- ``embedding_hard_negatives``: dense hard-negative mining — for each
  query vector, the nearest *different-label* neighbors plus the margin
  to the best same-label positive (the pairs a contrastive trainer
  actually wants).

All JVM-side SQL (explode → hash-agg → window); DuckDB oracles mirror
every expression. Floats snap to the 1e-6 grid before any compare or
ordering, per the repo's cross-engine discipline.

Scale notes per query in the docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.text import (
    DUCK_TOKENS,
    SPARK_TOKENS,
)
from automated_data_pipeline_python_spark.functions.numeric import (
    sql_exact_sum,
)
from automated_data_pipeline_python_spark.queries.catalog import register
from automated_data_pipeline_python_spark.tables import register_views

_S_TOK = SPARK_TOKENS.format(col="text")
_D_TOK = DUCK_TOKENS.format(col="text")

# Fixed query-term set (deterministic; a production run would broadcast
# a query table instead — the plan shape is identical).
_QUERY_TERMS = ("hash", "join", "vector")
_TERMS_IN = ", ".join(f"'{t}'" for t in _QUERY_TERMS)

_K1 = 1.2
_B = 0.75
_BM25_TOP = 20


# ---------------------------------------------------------------------------
# BM25 ranking
# ---------------------------------------------------------------------------
# tf only for the query terms (filter BEFORE the explode aggregation —
# the scan's predicate can't prune tokens, but the per-token filter runs
# map-side so the shuffle carries |query_terms| × docs rows at most).
# Corpus stats (N, avgdl) are a 1-row aggregate broadcast into the
# scorer; df per term is |query_terms| rows. Nothing here grows faster
# than the corpus itself — the 100 TB shape.

_BM25_BODY = """
WITH doclen AS (
    SELECT doc_id, {size_toks} AS dl FROM documents
),
stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           CAST({sum_dl} AS DOUBLE) / count(*) AS avgdl
    FROM doclen
),
tf AS (
    SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf
    FROM ({explode_toks})
    WHERE tok IN ({terms_in})
    GROUP BY doc_id, tok
),
df AS (
    SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
),
scored AS (
    SELECT tf.doc_id,
           sum(
             ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * ({k1} + 1.0))
             / (tf.tf + {k1} * (1.0 - {b} + {b} * d.dl / s.avgdl))
           ) AS score,
           count(*) AS n_terms_hit
    FROM tf
    JOIN df ON tf.term = df.term
    JOIN doclen d ON tf.doc_id = d.doc_id
    CROSS JOIN stats s
    GROUP BY tf.doc_id
),
snapped AS (
    SELECT doc_id, floor((score) * 1e6 + 0.5) / 1e6 AS bm25,
           CAST(n_terms_hit AS INT) AS n_terms_hit
    FROM scored
),
picked AS (
    SELECT doc_id, bm25, n_terms_hit
    FROM snapped ORDER BY bm25 DESC, doc_id LIMIT {top}
)
SELECT doc_id, bm25, n_terms_hit,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rnk
FROM picked
ORDER BY rnk
"""

_BM25_SPARK_SQL = _BM25_BODY.format(
    size_toks=f"size({_S_TOK})",
    sum_dl="sum(dl)",
    explode_toks=f"SELECT doc_id, explode({_S_TOK}) AS tok FROM documents",
    terms_in=_TERMS_IN,
    k1=_K1,
    b=_B,
    top=_BM25_TOP,
)

_BM25_DUCK_SQL = _BM25_BODY.format(
    size_toks=f"CAST(len({_D_TOK}) AS INT)",
    sum_dl="CAST(sum(dl) AS DOUBLE)",  # sum(BIGINT) -> HUGEINT in DuckDB
    explode_toks=(
        f"SELECT doc_id, unnest({_D_TOK}) AS tok FROM documents"
    ),
    terms_in=_TERMS_IN,
    k1=_K1,
    b=_B,
    top=_BM25_TOP,
)


@register("text_bm25_ranking", oracle=_BM25_DUCK_SQL)
def text_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed query-term set (k1=1.2, b=0.75).

    Scale: map-side term filter → one hash-agg on (doc, term) → join
    against two broadcast-sized stats relations (df: |terms| rows;
    stats: 1 row) → global top-k (TakeOrderedAndProject). Total order
    via (snapped score DESC, doc_id).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_BM25_SPARK_SQL)


# ---------------------------------------------------------------------------
# Inverted-index postings
# ---------------------------------------------------------------------------
# df/cf aggregate over the full posting relation; the posting *sample*
# is rank-capped per term BEFORE the list is materialized, so no
# executor ever holds a hot term's full posting list (the naive
# collect_list-then-slice would OOM on a stopword at 100 TB).

_POSTINGS_BODY = """
WITH tf AS (
    SELECT doc_id, tok AS term, count(*) AS tf
    FROM ({explode_toks})
    GROUP BY doc_id, tok
),
stats AS (
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST({sum_tf} AS BIGINT) AS cf
    FROM tf GROUP BY term
),
ranked AS (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM tf
),
sample AS (
    SELECT term, {postings} AS postings_head
    FROM ranked WHERE rn <= 8 GROUP BY term
)
SELECT s.term, s.df, s.cf, p.postings_head
FROM stats s JOIN sample p ON s.term = p.term
WHERE s.df >= 10
ORDER BY s.term
"""

_POSTINGS_SPARK_SQL = _POSTINGS_BODY.format(
    explode_toks=f"SELECT doc_id, explode({_S_TOK}) AS tok FROM documents",
    sum_tf="sum(tf)",
    postings="concat_ws(',', sort_array(collect_list(CAST(doc_id AS STRING))))",
)

# DuckDB renders the same head-8 posting sample; list_sort on the string
# form keeps the lexicographic order identical to Spark's sort_array.
_POSTINGS_DUCK_SQL = _POSTINGS_BODY.format(
    explode_toks=f"SELECT doc_id, unnest({_D_TOK}) AS tok FROM documents",
    sum_tf="CAST(sum(tf) AS BIGINT)",
    postings=(
        "list_aggregate(list_sort(list(CAST(doc_id AS VARCHAR))), 'string_agg', ',')"
    ),
)


@register("text_inverted_postings", oracle=_POSTINGS_DUCK_SQL)
def text_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per-term df, cf, and a head-8 posting sample.

    Scale: one explode → (doc, term) hash-agg (map-side partials), one
    window partitioned by term with an rn<=8 cut before any list is
    built. A 100 TB hot term costs a rank-scan, never a giant array.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_POSTINGS_SPARK_SQL)


# ---------------------------------------------------------------------------
# Dense hard-negative mining
# ---------------------------------------------------------------------------

_N_QUERIES = 5
_NEG_K = 5

_SPARK_DOT = (
    "aggregate(zip_with(a.embedding, b.embedding,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_DUCK_DOT = "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"

_SPARK_EMB_N_CTE = (
    "emb_n AS (SELECT vec_id, label, embedding,"
    " sqrt(aggregate(transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)) AS nrm FROM embeddings)"
)
_DUCK_EMB_N_CTE = (
    "emb_n AS (SELECT vec_id, label, embedding,"
    " sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm"
    " FROM embeddings)"
)

_HARDNEG_TAIL = f"""
scored AS (
    SELECT a.vec_id AS query_id, a.label AS query_label,
           b.vec_id AS cand_id, b.label AS cand_label,
           floor(({{cos}}) * 1e6 + 0.5) / 1e6 AS cos
    FROM emb_n a JOIN emb_n b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {_N_QUERIES}
),
best_pos AS (
    SELECT query_id, max(cos) AS best_pos_cos
    FROM scored WHERE cand_label = query_label
    GROUP BY query_id
),
negs AS (
    SELECT query_id, cand_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, cand_id) AS rnk
    FROM scored WHERE cand_label != query_label
)
SELECT n.query_id, n.cand_id AS negative_id,
       n.cos AS neg_cos, p.best_pos_cos,
       floor((p.best_pos_cos - n.cos) * 1e6 + 0.5) / 1e6 AS margin,
       CAST(n.rnk AS INT) AS rnk
FROM negs n JOIN best_pos p ON n.query_id = p.query_id
WHERE n.rnk <= {_NEG_K}
ORDER BY n.query_id, n.rnk
"""

_HARDNEG_SPARK_SQL = (
    f"WITH {_SPARK_EMB_N_CTE},\n{_HARDNEG_TAIL.format(cos=f'{_SPARK_DOT} / (a.nrm * b.nrm)')}"
)
_HARDNEG_DUCK_SQL = (
    f"WITH {_DUCK_EMB_N_CTE},\n{_HARDNEG_TAIL.format(cos=f'{_DUCK_DOT} / (a.nrm * b.nrm)')}"
)


@register("embedding_hard_negatives", oracle=_HARDNEG_DUCK_SQL)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per query vector (vec_id < 5),
    the top-5 *different-label* cosine neighbors plus the margin to the
    best same-label positive.

    Scale: the query set is a broadcast side against the corpus (one
    pass, pre-normed per row); per-partition top-k before the tiny
    final window. Cosines snap to the 1e-6 grid BEFORE ranking and the
    margin subtraction so both engines rank identical values.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_HARDNEG_SPARK_SQL)


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (hybrid lexical + vector retrieval)
# ---------------------------------------------------------------------------
# The standard RAG ranking combiner: run a lexical leg (query-term hit
# counts over documents) and a semantic leg (cosine vs the query
# embedding, vec_id 0 — the aligned doc_id space), take each leg's
# top-20 with ORDER BY + LIMIT (TakeOrdered, no corpus-wide rank
# window), then fuse with RRF = Σ 1/(60 + rank_leg) over a full outer
# join — docs found by only one leg still score. Ranks are integers;
# the fused score is a sum of two reciprocals of integers, snapped
# once. k=60 is the canonical RRF constant.

_RRF_LEG_TOP = 20
_RRF_TOP = 10


def _rrf_sql(tok_sub: str, emb_cte: str, cos: str) -> str:
    return f"""
WITH lex AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS hits
    FROM ({tok_sub}) t
    WHERE tok IN ({_TERMS_IN})
    GROUP BY doc_id
),
lex_top AS (
    SELECT doc_id, hits FROM lex ORDER BY hits DESC, doc_id
    LIMIT {_RRF_LEG_TOP}
),
lex_rank AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY hits DESC, doc_id) AS INT) AS r
    FROM lex_top
),
{emb_cte},
sem AS (
    SELECT b.vec_id AS doc_id,
           floor(({cos}) * 1e6 + 0.5) / 1e6 AS cs
    FROM emb_n a JOIN emb_n b ON a.vec_id = 0 AND b.vec_id != 0
),
sem_top AS (
    SELECT doc_id, cs FROM sem ORDER BY cs DESC, doc_id
    LIMIT {_RRF_LEG_TOP}
),
sem_rank AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY cs DESC, doc_id) AS INT) AS r
    FROM sem_top
)
SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
       l.r AS lex_rank, s.r AS sem_rank,
       floor((coalesce(1e0 / (60 + l.r), 0e0)
              + coalesce(1e0 / (60 + s.r), 0e0)) * 1e6 + 0.5) / 1e6
           AS rrf_score
FROM lex_rank l FULL OUTER JOIN sem_rank s ON s.doc_id = l.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOP}
"""


_RRF_SPARK_SQL = _rrf_sql(
    f"SELECT doc_id, tok FROM (SELECT doc_id, {_S_TOK} AS a FROM documents)"
    " LATERAL VIEW explode(a) x AS tok",
    "emb_n AS (SELECT vec_id, embedding,"
    " sqrt(aggregate(transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)) AS nrm FROM embeddings)",
    "aggregate(zip_with(a.embedding, b.embedding,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v) / (a.nrm * b.nrm)",
)
_RRF_DUCK_SQL = _rrf_sql(
    f"SELECT doc_id, unnest({_D_TOK}) AS tok FROM documents",
    "emb_n AS (SELECT vec_id, embedding,"
    " sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    " AS nrm FROM embeddings)",
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (a.nrm * b.nrm)",
)


@register("rag_reciprocal_rank_fusion", oracle=_RRF_DUCK_SQL)
def rag_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: lexical top-20 and cosine top-20 legs fused
    by reciprocal-rank fusion (k=60), full-outer so single-leg hits
    survive; top-10 under a total order.

    Scale: each leg reduces to a TakeOrdered top-k; ranks are assigned
    on the 20-row leg outputs; fusion joins two 20-row relations.
    """
    register_views(spark, sf_dir, scaled=("documents", "embeddings"))
    return spark.sql(_RRF_SPARK_SQL)


# ---------------------------------------------------------------------------
# Late-interaction (ColBERT-style) MaxSim retrieval
# ---------------------------------------------------------------------------
# BM25 above scores on lexical term frequency; MaxSim is the
# late-interaction shape (Khattab & Zaharia, SIGIR'20): every doc
# TOKEN gets its own embedding, each query term matches its BEST doc
# token, and the doc score is the sum of those per-term maxima —
# semantic generalization without crushing the doc into one vector.
# Token "embeddings" here are the repo's deterministic 28-bit content
# hashes read as ±1 hypercube vectors, so cosine reduces to Hamming
# agreement: sim = 28 − 2·popcount(h_q XOR h_t) — EXACT INTEGERS end
# to end (the simhash/multiprobe machinery, reused for ranking). A
# real encoder drops in by swapping the hash for an embedding column
# and max-cosine for max-dot; the plan shape (explode → per-(doc,term)
# max → per-doc sum → top-k) is identical.
#
# Scale: one token explode (map-only) × |Q| small query terms; the
# per-doc rollup shuffles (doc, term)-grouped integers; top-10 is a
# TakeOrdered with doc_id tiebreak. XOR portability trap (pinned by
# the multiprobe family): Spark `^` is xor, DuckDB `^` is POWER — the
# oracle spells xor().


def _maxsim_sql(tok: str, unnest: str, hash28: str, xor: str) -> str:
    return f"""
WITH qterms AS (
    SELECT term, {hash28.format(col="term")} AS qh
    FROM (SELECT {unnest} AS term)
),
dtok AS (
    SELECT doc_id, {hash28.format(col="tok")} AS th
    FROM (SELECT doc_id, {tok} AS tok FROM documents)
),
permax AS (
    SELECT d.doc_id, q.term,
           CAST(max(28 - 2 * bit_count({xor})) AS BIGINT) AS best_sim
    FROM dtok d CROSS JOIN qterms q
    GROUP BY d.doc_id, q.term
),
scored AS (
    SELECT doc_id,
           CAST(sum(best_sim) AS BIGINT) AS maxsim_score,
           CAST(count(*) AS BIGINT) AS n_terms_matched
    FROM permax GROUP BY doc_id
)
SELECT doc_id, maxsim_score, n_terms_matched
FROM scored
ORDER BY maxsim_score DESC, doc_id
LIMIT 10
"""


_MAXSIM_DUCK_SQL = _maxsim_sql(
    tok=f"unnest({DUCK_TOKENS.format(col='text')})",
    unnest=f"unnest([{_TERMS_IN}])",
    hash28="CAST('0x' || substr(sha256({col}), 1, 7) AS BIGINT)",
    xor="xor(q.qh, d.th)",
)


@register("retrieval_maxsim_colbert", oracle=_MAXSIM_DUCK_SQL)
def retrieval_maxsim_colbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs by late-interaction MaxSim over hash token vectors."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(
        _maxsim_sql(
            tok=f"explode({SPARK_TOKENS.format(col='text')})",
            unnest=f"explode(array({_TERMS_IN}))",
            hash28="CAST(conv(substr(sha2({col}, 256), 1, 7), 16, 10) AS BIGINT)",
            xor="q.qh ^ d.th",
        )
    )


# ---------------------------------------------------------------------------
# Query-likelihood ranking (Dirichlet-smoothed language model)
# ---------------------------------------------------------------------------
# The LM-retrieval counterpart to text_bm25_ranking (Zhai & Lafferty
# 2001): score(d) = sum_t ln((tf + mu*P(t|C)) / (dl + mu)), mu = 2000.
# BM25 rewards rarity via idf; QL-Dirichlet rewards it via the
# collection LM, and the Dirichlet prior makes long documents pay for
# their length — the two standard-but-different rankings worth
# cross-checking (a doc ranked high by both is a robust hit).
#
# Decomposed so NO dense doc x term relation ever exists:
# score = [S - |Q|*ln(dl + mu)] + adj(d), where S = sum_t ln(mu*P_t)
# is ONE broadcast scalar, the bracket is a map-only expression per
# document, and adj sums ln(tf + mu*P_t) - ln(mu*P_t) over the HIT
# (doc, term) rows only. Per-term logs snap at 1e-9 and exact-sum;
# the final score snaps at 1e-6; top-20 totally ordered.

_QL_MU = "2e3"
_QL_TOP = 20

_QL_BODY = """
WITH doclen AS (
    SELECT doc_id, {size_toks} AS dl FROM documents
),
ctot AS (
    SELECT CAST({sum_dl} AS DOUBLE) AS c FROM doclen
),
tf AS (
    SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
    FROM ({explode_toks})
    WHERE tok IN ({terms_in})
    GROUP BY doc_id, tok
),
cf AS (
    SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term
),
p AS (
    SELECT term,
           floor(({mu} * cf / t.c) * 1e9 + 0.5) / 1e9 AS mup
    FROM cf CROSS JOIN ctot t
),
sbase AS (
    SELECT {s_sum} AS s, CAST(count(*) AS INT) AS nt FROM p
),
adj AS (
    SELECT tf.doc_id,
           {adj_sum} AS a,
           CAST(count(*) AS INT) AS n_terms_hit
    FROM tf JOIN p ON p.term = tf.term
    GROUP BY tf.doc_id
),
scored AS (
    SELECT d.doc_id,
           floor((b.s - b.nt * ln(d.dl + {mu}) + coalesce(a.a, 0e0))
                 * 1e6 + 0.5) / 1e6 AS ql_score,
           CAST(coalesce(a.n_terms_hit, 0) AS INT) AS n_terms_hit
    FROM doclen d CROSS JOIN sbase b
    LEFT JOIN adj a ON a.doc_id = d.doc_id
),
picked AS (
    SELECT doc_id, ql_score, n_terms_hit
    FROM scored ORDER BY ql_score DESC, doc_id LIMIT {top}
)
SELECT doc_id, ql_score, n_terms_hit,
       CAST(row_number() OVER (ORDER BY ql_score DESC, doc_id) AS INT)
           AS rnk
FROM picked
ORDER BY rnk
"""


def _ql_sql(size_toks: str, sum_dl: str, explode_toks: str) -> str:
    return _QL_BODY.format(
        size_toks=size_toks,
        sum_dl=sum_dl,
        explode_toks=explode_toks,
        terms_in=_TERMS_IN,
        mu=_QL_MU,
        top=_QL_TOP,
        s_sum=sql_exact_sum("ln(mup)", 9),
        adj_sum=sql_exact_sum("ln(tf.tf + p.mup) - ln(p.mup)", 9),
    )


_QL_SPARK_SQL = _ql_sql(
    f"size({_S_TOK})",
    "sum(dl)",
    f"SELECT doc_id, explode({_S_TOK}) AS tok FROM documents",
)
_QL_DUCK_SQL = _ql_sql(
    f"CAST(len({_D_TOK}) AS INT)",
    "CAST(sum(dl) AS DOUBLE)",
    f"SELECT doc_id, unnest({_D_TOK}) AS tok FROM documents",
)


@register("text_ql_dirichlet_ranking", oracle=_QL_DUCK_SQL)
def text_ql_dirichlet_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-20 for the shared fixed
    query-term set (mu=2000) — the LM ranking next to BM25, with a
    map-only base term and a hits-only adjustment join."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_QL_SPARK_SQL)
