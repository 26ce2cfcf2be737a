"""Similarity search over ``embeddings`` (SURVEY §2.8 ANN targets).

- brute-force cosine top-k: the exact baseline (query-set × corpus).
- random-hyperplane LSH: deterministic pseudo-random planes derived from
  the portable SHA hash, sign-bit bucket signatures, then ANN restricted
  to same-bucket candidates — the scale path (candidates ≪ corpus).

All vector math stays JVM-side: posexplode + join + hash-agg for dot
products, array lambdas (zip_with/aggregate) for pairwise cosine — no
Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import math

from automated_data_pipeline_python_spark.functions.numeric import (
    exact_sum,
    sql_exact_avg,
    sql_exact_sum,
    stable_round,
)
from automated_data_pipeline_python_spark.functions.text import (
    duck_hash60,
    spark_hash60,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import register_views

_DIMS = 64
_N_PLANES = 3   # 8 buckets per table
_N_TABLES = 4   # union of candidates across tables (recall knob)
_N_QUERIES = 5  # query set: vec_id < 5
_TOP_K = 10


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (exact baseline)
# ---------------------------------------------------------------------------

_SPARK_DOT = (
    "aggregate(zip_with(a.embedding, b.embedding,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)

_DUCK_DOT = "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"

# Pre-normed vector relation: each side's L2 norm is computed ONCE PER
# ROW here, not once per candidate pair (the round-1 knn plan inlined
# sqrt(aggregate(...)) for both sides of every pair — ~2× the necessary
# 64-dim work on the hottest bench query). Spark inlines CTEs, so each
# reference re-derives emb_n from its own scan — exactly one norm pass
# per join side, with the query-side filter pushed through.
_SPARK_EMB_N_CTE = (
    "emb_n AS (SELECT vec_id, embedding,"
    " sqrt(aggregate(transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)) AS nrm FROM embeddings)"
)
_DUCK_EMB_N_CTE = (
    "emb_n AS (SELECT vec_id, embedding,"
    " sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm"
    " FROM embeddings)"
)

# Cosine over pre-normed sides `a`/`b` (both must carry `nrm`).
_SPARK_COS = f"{_SPARK_DOT} / (a.nrm * b.nrm)"
_DUCK_COS = f"{_DUCK_DOT} / (a.nrm * b.nrm)"

_KNN_TAIL = f"""
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {{cos}} AS cos
    FROM emb_n a JOIN emb_n b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {_N_QUERIES}
),
ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, floor((cos) * 1e6 + 0.5) / 1e6 AS cos_sim, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOP_K}
"""

_KNN_SPARK_SQL = f"WITH {_SPARK_EMB_N_CTE},\n{_KNN_TAIL.format(cos=_SPARK_COS)}"
_KNN_DUCK_SQL = f"WITH {_DUCK_EMB_N_CTE},\n{_KNN_TAIL.format(cos=_DUCK_COS)}"


@register("knn_bruteforce_topk", oracle=_KNN_DUCK_SQL)
def knn_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the query set (vec_id < 5).

    Scale: the query set broadcasts against the corpus; per-partition
    top-k then a tiny final ranking shuffle (window over query_id).
    Norms come from the shared pre-normed relation (one pass per side),
    not per-pair recomputation.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_KNN_SPARK_SQL)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH buckets
# ---------------------------------------------------------------------------

# Plane weights: deterministic pseudo-random in [-1, 1], derived from the
# portable hash so both engines build identical planes.
_SPARK_PLANE_KEY = (
    "concat('hp', CAST(t AS STRING), ':', CAST(p AS STRING), ':', CAST(d AS STRING))"
)
_DUCK_PLANE_KEY = (
    "concat('hp', CAST(t AS VARCHAR), ':', CAST(p AS VARCHAR), ':', CAST(d AS VARCHAR))"
)
_SPARK_WT = f"(({spark_hash60(_SPARK_PLANE_KEY)}) % 2001 - 1000) / 1000.0"
_DUCK_WT = f"(({duck_hash60(_DUCK_PLANE_KEY)}) % 2001 - 1000) / 1000.0"

# r12 optimization (guide §2.3/§2.4): the hyperplane dot products are
# computed MAP-SIDE against the 12 plane-weight vectors collected into
# ONE array-of-structs row (t-, p-, then d-sorted — 768 doubles,
# broadcast-sized forever), instead of exploding the corpus to
# N×DIMS component rows, joining them against the plane relation and
# re-aggregating twice. The old shape shuffled corpus×12 partial dot
# rows plus corpus×4 bucket rows; this shape shuffles NOTHING until a
# consumer aggregates buckets. The per-(vec,t,p) dot folds d ascending
# (deterministic) where the old hash aggregate summed in arbitrary
# order. r13 snaps the dot to the 1e-6 grid on BOTH engines before the
# >= 0 sign decision (the repo's threshold-compare invariant) — the old
# form relied on "far from any summation-order ulp at every SF"; now a
# corpus regeneration cannot flip a bucket bit unless the true dot sits
# on a grid midpoint. Results proven byte-identical at 3 SFs.
_BUCKETS_CORE_SPARK = f"""
WITH planes AS (
    SELECT t, p, d, {_SPARK_WT} AS wt
    FROM (SELECT explode(sequence(0, {_N_TABLES - 1})) AS t)
    CROSS JOIN (SELECT explode(sequence(0, {_N_PLANES - 1})) AS p)
    CROSS JOIN (SELECT explode(sequence(0, {_DIMS - 1})) AS d)
),
ptab AS (
    SELECT array_sort(collect_list(named_struct('t', t, 'p', p, 'w', w))) AS ps
    FROM (SELECT t, p,
                 transform(array_sort(collect_list(named_struct('d', d, 'wt', wt))),
                           s -> s.wt) AS w
          FROM planes GROUP BY t, p) g
),
buckets AS (
    SELECT vec_id, tb.t AS t, tb.bucket AS bucket
    FROM (
        SELECT vec_id,
               transform(sequence(0, {_N_TABLES - 1}), tt -> named_struct(
                   't', tt,
                   'bucket', aggregate(filter(ps, e -> e.t = tt), CAST(0 AS BIGINT),
                       (acc, e) -> acc + IF(floor((aggregate(zip_with(embedding, e.w,
                           (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE),
                           (a2, v2) -> a2 + v2)) * 1e6 + 0.5) / 1e6 >= 0,
                           shiftleft(CAST(1 AS BIGINT), e.p), CAST(0 AS BIGINT))))) AS tbs
        FROM embeddings CROSS JOIN ptab
    ) b LATERAL VIEW explode(tbs) x AS tb
)
"""

_BUCKETS_CORE_DUCK = f"""
WITH planes AS (
    SELECT t, p, d, {_DUCK_WT} AS wt
    FROM generate_series(0, {_N_TABLES - 1}) AS gt(t)
    CROSS JOIN generate_series(0, {_N_PLANES - 1}) AS gp(p)
    CROSS JOIN generate_series(0, {_DIMS - 1}) AS gd(d)
),
comps AS (
    SELECT vec_id, d, CAST(embedding[d + 1] AS DOUBLE) AS x
    FROM embeddings, generate_series(0, {_DIMS - 1}) AS g(d)
),
dots AS (
    SELECT c.vec_id, p.t, p.p, sum(c.x * p.wt) AS dot
    FROM comps c JOIN planes p ON c.d = p.d
    GROUP BY c.vec_id, p.t, p.p
),
buckets AS (
    SELECT vec_id, t,
           CAST(sum(CASE WHEN floor((dot) * 1e6 + 0.5) / 1e6 >= 0
                         THEN (CAST(1 AS BIGINT) << p)
                         ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id, t
)
"""

_HIST_TAIL = """
SELECT t, bucket, count(*) AS n_vectors
FROM buckets GROUP BY t, bucket
"""
_HIST_TAIL_DUCK = """
SELECT t, bucket, CAST(count(*) AS BIGINT) AS n_vectors
FROM buckets GROUP BY t, bucket
"""


@register("ann_lsh_bucket_histogram", oracle=_BUCKETS_CORE_DUCK + _HIST_TAIL_DUCK)
def ann_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH signature buckets + occupancy histogram."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_BUCKETS_CORE_SPARK + _HIST_TAIL)


_ANN_TAIL = f"""
{{emb_n}},
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {{cos}} AS cos
    FROM emb_n a
    JOIN (SELECT DISTINCT ba.vec_id AS qa, bb.vec_id AS nb
          FROM {{buckets}} ba JOIN {{buckets}} bb
            ON bb.t = ba.t AND bb.bucket = ba.bucket) cand
      ON cand.qa = a.vec_id
    JOIN emb_n b ON b.vec_id = cand.nb AND b.vec_id != a.vec_id
    WHERE a.vec_id < {_N_QUERIES}
),
ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, floor((cos) * 1e6 + 0.5) / 1e6 AS cos_sim, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOP_K}
"""


# Spark variant reads the materialized bucket view (Spark inlines CTEs,
# so the single-statement form would run the whole LSH pipeline once per
# bucket reference).
_ANN_TAIL_SPARK = "WITH " + _ANN_TAIL.format(
    emb_n=_SPARK_EMB_N_CTE, cos=_SPARK_COS, buckets="lsh_buckets"
).lstrip()


@register(
    "ann_lsh_topk",
    oracle=_BUCKETS_CORE_DUCK
    + ","
    + _ANN_TAIL.format(emb_n=_DUCK_EMB_N_CTE, cos=_DUCK_COS, buckets="buckets"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: cosine ranking restricted to same-LSH-bucket.

    Scale: bucket equality drives the join (candidates ≈ corpus/2^planes
    per query); exact cosine only on candidates, with norms from the
    pre-normed relation (one pass per side). More planes + multiple
    tables trade recall for cost — the plan shape is unchanged.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(spark.sql(_BUCKETS_CORE_SPARK + "SELECT * FROM buckets"), "lsh_buckets")
    return spark.sql(_ANN_TAIL_SPARK)


# ---------------------------------------------------------------------------
# Norm stats (sanity surface for the vector column)
# ---------------------------------------------------------------------------

# avg over full-mantissa doubles is order-dependent — snap norms to a
# 1e-8 grid and sum exactly (functions/numeric.py) so the 1e4-rounded
# average is bit-identical across engines and partitionings.
_NORM_SPARK_SQL = f"""
WITH norms AS (
    SELECT label,
           sqrt(aggregate(transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                CAST(0 AS DOUBLE), (acc, v) -> acc + v)) AS nrm
    FROM embeddings
)
SELECT label, count(*) AS n,
       floor(({sql_exact_avg("nrm", 8)}) * 1e4 + 0.5) / 1e4 AS avg_norm,
       floor((min(nrm)) * 1e6 + 0.5) / 1e6 AS min_norm, floor((max(nrm)) * 1e6 + 0.5) / 1e6 AS max_norm
FROM norms GROUP BY label
"""

_NORM_DUCK_SQL = f"""
WITH norms AS (
    SELECT label,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n,
       floor(({sql_exact_avg("nrm", 8)}) * 1e4 + 0.5) / 1e4 AS avg_norm,
       floor((min(nrm)) * 1e6 + 0.5) / 1e6 AS min_norm, floor((max(nrm)) * 1e6 + 0.5) / 1e6 AS max_norm
FROM norms GROUP BY label
"""


@register("embedding_norm_stats", oracle=_NORM_DUCK_SQL)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector norm statistics."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_NORM_SPARK_SQL)


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer (centroids) -> probe nearest cells
# ---------------------------------------------------------------------------



def _cell_assign_sql(dot, explode, collect, cast_vec, bigint) -> str:
    # Same cross-engine float discipline as kmeans_lloyd_refine
    # (clustering.py): centroid components snap to a 1e-6 grid after the
    # mean, distances use the precomputed-self-dot form
    # (nrm2 - 2*dot + cnrm2) snapped to 1e-6, and argmin ties break on
    # cell id — so differing float summation orders between engines
    # cannot flip an assignment.
    d2 = f"floor((b.nrm2 - 2 * {dot('b.v', 'ct.c')} + ct.cnrm2) * 1e6 + 0.5) / 1e6"
    return f"""
WITH base AS (
    SELECT vec_id, label, v, {dot('v', 'v')} AS nrm2
    FROM (SELECT vec_id, label, {cast_vec} AS v FROM embeddings) b0
),
cent_long AS (
    SELECT label, d, floor(avg(x) * 1e6 + 0.5) / 1e6 AS c
    FROM ({explode('base')}) e
    GROUP BY label, d
),
cent AS (
    SELECT cell, c, {dot('c', 'c')} AS cnrm2
    FROM (SELECT label AS cell, {collect} AS c FROM cent_long GROUP BY label) cc
),
dist AS (
    SELECT b.vec_id, ct.cell, {d2} AS dist
    FROM base b CROSS JOIN cent ct
)
SELECT vec_id, cell, dist
FROM (
    SELECT vec_id, cell, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rnk
    FROM dist
) r WHERE rnk = 1
"""


# r12 optimization (guide §2.4): Spark-side assignment is a MAP-SIDE
# argmin against the centroid set collected into one array-of-structs
# row (cell-ascending; the fold keeps the FIRST minimum, so ties break
# on the lowest cell — exactly row_number() ORDER BY dist, cell), in
# place of the template's corpus×cells cross join + window shuffle+sort.
# Distance text matches the template's d2 byte-for-byte
# ((nrm2 - 2*dot) + cnrm2, snapped floor(x*1e6+0.5)/1e6). The DuckDB
# oracle keeps the template form.
_CELL_ASSIGN_ARGMIN = (
    "aggregate(transform(cents, ct -> named_struct("
    "'dist', floor((b.nrm2 - 2 * aggregate(zip_with(b.v, ct.c, (x, y) -> x * y),"
    " CAST(0 AS DOUBLE), (acc, e) -> acc + e) + ct.cnrm2) * 1e6 + 0.5) / 1e6,"
    " 'cell', ct.cell)),"
    " named_struct('dist', CAST('Infinity' AS DOUBLE), 'cell', CAST(-1 AS INT)),"
    " (best, e) -> IF(e.dist < best.dist, e, best))"
)

_CELL_ASSIGN_SPARK_SQL = f"""
WITH base AS (
    SELECT vec_id, label, v,
           aggregate(zip_with(v, v, (x, y) -> x * y),
                     CAST(0 AS DOUBLE), (acc, e) -> acc + e) AS nrm2
    FROM (SELECT vec_id, label,
                 transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings) b0
),
cent_long AS (
    SELECT label, d, floor(avg(x) * 1e6 + 0.5) / 1e6 AS c
    FROM (SELECT label, d, x FROM base LATERAL VIEW posexplode(base.v) t AS d, x) e
    GROUP BY label, d
),
cents_tab AS (
    SELECT array_sort(collect_list(named_struct('cell', cell, 'c', c,
        'cnrm2', aggregate(zip_with(c, c, (x, y) -> x * y),
                           CAST(0 AS DOUBLE), (acc, e) -> acc + e)))) AS cents
    FROM (SELECT label AS cell,
                 transform(array_sort(collect_list(named_struct('d', d, 'c', c))),
                           s -> s.c) AS c
          FROM cent_long GROUP BY label) cc
)
SELECT vec_id, r.cell AS cell, r.dist AS dist
FROM (SELECT b.vec_id, {_CELL_ASSIGN_ARGMIN} AS r
      FROM base b CROSS JOIN cents_tab) am
"""

_CELL_ASSIGN_DUCK_SQL = _cell_assign_sql(
    dot=lambda a, b: f"list_dot_product({a}, {b})",
    explode=lambda m: (
        f"SELECT label, unnest(generate_series(1, len(v))) AS d, "
        f"unnest(v) AS x FROM {m}"
    ),
    collect="list(c ORDER BY d)",
    cast_vec="embedding::DOUBLE[]",
    bigint=lambda e: f"CAST({e} AS BIGINT)",
)


@register("ann_ivf_cell_assignment", oracle=_CELL_ASSIGN_DUCK_SQL)
def ann_ivf_cell_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid.

    Centroids are per-label component means — the plan shape (tiny
    centroid table cross-joined/broadcast against the corpus, argmin via
    window) is exactly an IVF index build; swap the centroid source for
    sampled k-means at scale. Oracle-checked: the kmeans_lloyd_refine
    float discipline (1e-6 snap on centroid components and distances,
    cell-id tiebreak) makes the assignment bit-stable across engines.
    Structure is additionally validated by tests/test_similarity.py
    (assignment total, cells balanced, IVF top-k recall vs brute force).
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_CELL_ASSIGN_SPARK_SQL)


# ---------------------------------------------------------------------------
# IVF top-k search (deterministic seed centroids -> oracle-checkable)
# ---------------------------------------------------------------------------

_N_IVF_CELLS = 8
_N_PROBE = 2
_IVF_TOP_K = 5

# r12 optimization (guide §2.4): the Spark side replaces the template's
# corpus×centroids cross join + TWO window passes (ranked_assign is
# referenced by `cells` AND `probes`, and Spark inlines CTEs — so the
# cross join and the row_number shuffle+sort each ran twice) with ONE
# map-side sorted centroid ranking per vector: array_sort by
# (-cos, cid) == ORDER BY cos DESC, cid (cos is never NaN: the corpus
# has no zero vectors), the pos=0 slice is the cell assignment, the
# first nprobe slices are the query probes. Query embedding and norm
# ride along, so the re-rank join needs no extra emb_n joins either.
# The DuckDB oracle keeps the template form.
_IVF_SPARK_SQL = f"""
WITH {_SPARK_EMB_N_CTE},
cents AS (
    SELECT array_sort(collect_list(named_struct(
        'cid', vec_id, 'e', embedding, 'nrm', nrm))) AS cs
    FROM emb_n WHERE vec_id < {_N_IVF_CELLS}
),
rk AS (
    SELECT vec_id, embedding, nrm,
           array_sort(transform(cs, ct -> named_struct(
               'negcos', -(aggregate(zip_with(embedding, ct.e,
                   (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                   CAST(0 AS DOUBLE), (acc, v) -> acc + v) / (nrm * ct.nrm)),
               'cid', ct.cid))) AS rks
    FROM emb_n CROSS JOIN cents
),
ex AS (
    SELECT vec_id, embedding, nrm, pos, pr.cid AS cid
    FROM rk LATERAL VIEW posexplode(slice(rks, 1, {_N_PROBE})) t AS pos, pr
),
cells AS (SELECT vec_id, embedding, nrm, cid FROM ex WHERE pos = 0),
probes AS (
    SELECT vec_id AS query_id, embedding, nrm, cid
    FROM ex WHERE vec_id < {_N_QUERIES}
),
scored AS (
    -- probes is query-count-bounded (vec_id < {_N_QUERIES} x nprobe rows)
    -- at EVERY scale factor, so the hint is safe: it keeps the
    -- corpus-sized cells side from being sorted/shuffled by an
    -- 8-value key for a sort-merge join.
    SELECT /*+ BROADCAST(p) */ p.query_id, m.vec_id AS neighbor_id,
           aggregate(zip_with(p.embedding, m.embedding,
               (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
               CAST(0 AS DOUBLE), (acc, v) -> acc + v) / (p.nrm * m.nrm) AS cos
    FROM probes p JOIN cells m ON m.cid = p.cid AND m.vec_id != p.query_id
),
final_rank AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id,
       floor((cos) * 1e6 + 0.5) / 1e6 AS cos_sim,
       CAST(rnk AS INT) AS rnk
FROM final_rank WHERE rnk <= {_IVF_TOP_K}
"""

_IVF_SQL_TEMPLATE = """
WITH {emb_n},
centroids AS (
    SELECT vec_id AS cid, embedding, nrm FROM emb_n WHERE vec_id < {cells}
),
assign AS (
    SELECT a.vec_id, b.cid, {cos} AS cos
    FROM emb_n a CROSS JOIN centroids b
),
ranked_assign AS (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rnk
    FROM assign
),
cells AS (SELECT vec_id, cid FROM ranked_assign WHERE rnk = 1),
probes AS (
    SELECT vec_id AS query_id, cid
    FROM ranked_assign WHERE vec_id < {queries} AND rnk <= {nprobe}
),
candidates AS (
    SELECT p.query_id, m.vec_id AS neighbor_id
    FROM probes p JOIN cells m ON m.cid = p.cid
    WHERE m.vec_id != p.query_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id, {cos} AS cos
    FROM candidates c
    JOIN emb_n a ON a.vec_id = c.query_id
    JOIN emb_n b ON b.vec_id = c.neighbor_id
),
final_rank AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id,
       floor((cos) * 1e6 + 0.5) / 1e6 AS cos_sim,
       CAST(rnk AS INT) AS rnk
FROM final_rank WHERE rnk <= {k}
"""


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of LSH and IVF vs brute force
# ---------------------------------------------------------------------------
# The metric an index deployment actually tunes on: what fraction of
# the exact top-k does each approximate method retrieve per query.
# Composes the three pipelines above — everything deterministic, so the
# whole evaluation is oracle-checkable. Cost is the sum of the parts
# (each sub-pipeline keeps its own scale shape; the final join is
# queries×k rows — trivial).

_LSH_DUCK_FULL = (
    _BUCKETS_CORE_DUCK
    + ","
    + _ANN_TAIL.format(emb_n=_DUCK_EMB_N_CTE, cos=_DUCK_COS, buckets="buckets")
)

_IVF_DUCK_FULL = _IVF_SQL_TEMPLATE.format(
    cells=_N_IVF_CELLS, queries=_N_QUERIES, nprobe=_N_PROBE, k=_IVF_TOP_K,
    cos=_DUCK_COS, emb_n=_DUCK_EMB_N_CTE,
)

_RECALL_DUCK_SQL = f"""
WITH exact AS ({_KNN_DUCK_SQL}),
lsh AS ({_LSH_DUCK_FULL}),
ivf AS ({_IVF_DUCK_FULL}),
lsh_recall AS (
    SELECT 'lsh' AS method, e.query_id, CAST({_TOP_K} AS INT) AS k,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           floor((count(a.neighbor_id) / CAST({_TOP_K} AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS recall
    FROM exact e LEFT JOIN lsh a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
),
ivf_recall AS (
    SELECT 'ivf' AS method, e.query_id, CAST({_IVF_TOP_K} AS INT) AS k,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           floor((count(a.neighbor_id) / CAST({_IVF_TOP_K} AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS recall
    FROM exact e LEFT JOIN ivf a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    WHERE e.rnk <= {_IVF_TOP_K}
    GROUP BY e.query_id
)
SELECT * FROM lsh_recall UNION ALL SELECT * FROM ivf_recall
"""


@register("ann_recall_at_k", oracle=_RECALL_DUCK_SQL)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of LSH (k=10) and IVF (k=5) against brute-force truth.

    Per query vector: |approx top-k ∩ exact top-k| / k. The evaluation
    loop a real ANN deployment runs when tuning planes/tables/nprobe.
    """
    exact = knn_bruteforce_topk(spark, sf_dir)
    lsh = ann_lsh_topk(spark, sf_dir)
    ivf = ann_ivf_topk(spark, sf_dir)

    def recall(e: DataFrame, a: DataFrame, k: int, method: str) -> DataFrame:
        hits = (
            e.join(
                a.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
                ["query_id", "neighbor_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(F.count("hit").alias("hits"))
        )
        return hits.select(
            F.lit(method).alias("method"),
            "query_id",
            F.lit(k).cast("int").alias("k"),
            "hits",
            (F.floor(F.col("hits") / F.lit(float(k)) * 1e6 + F.lit(0.5)) / 1e6).alias(
                "recall"
            ),
        )

    return recall(exact, lsh, _TOP_K, "lsh").unionAll(
        recall(exact.filter(F.col("rnk") <= _IVF_TOP_K), ivf, _IVF_TOP_K, "ivf")
    )


@register(
    "ann_ivf_topk",
    oracle=_IVF_SQL_TEMPLATE.format(
        cells=_N_IVF_CELLS, queries=_N_QUERIES, nprobe=_N_PROBE, k=_IVF_TOP_K,
        cos=_DUCK_COS, emb_n=_DUCK_EMB_N_CTE,
    ),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: coarse-quantize, probe nprobe cells, exact re-rank.

    Deterministic seed centroids (vec_id < 8) make the whole pipeline
    oracle-checkable end-to-end — the companion
    `ann_ivf_cell_assignment` keeps the production centroid source
    (per-label means / sampled k-means at scale). Search cost is
    candidates-only: |probed cells| ≈ nprobe/cells of the corpus,
    versus the full corpus for brute force.

    Scale: centroids broadcast (tiny); assignment is one pass over the
    corpus; the candidate join shuffles on cell id — cells bound skew
    because assignment is 1:1. Re-rank touches ~nprobe/cells of the
    data per query.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_IVF_SPARK_SQL)


# ---------------------------------------------------------------------------
# Product-quantization ANN (ADC search) — the fourth index family
# ---------------------------------------------------------------------------
# PQ completes the index spectrum (brute force / LSH / IVF / PQ): split
# each vector into M subspaces, quantize every subvector to its nearest
# per-subspace codeword, and answer queries by Asymmetric Distance
# Computation — the exact query subvectors against a tiny (M × codes)
# lookup of codeword distances, summed across subspaces. Memory per
# vector collapses from D floats to M code ids; at 100 TB that is the
# difference between an index that fits executor memory and one that
# doesn't. Codebooks are seeded deterministically (vec_id < codes, the
# IVF seeding) so the whole pipeline is oracle-checkable; a real
# deployment trains them with per-subspace k-means (same plan shape as
# queries/clustering.py).

_PQ_M = 4                      # subspaces
_PQ_SUBDIM = _DIMS // _PQ_M    # 16 dims each
_PQ_CODES = 8
_PQ_TOP_K = 5


def _pq_d2_spark(a: str, b: str) -> str:
    dot = (
        "aggregate(zip_with({x}, {y}, (p, q) -> p * q),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    expr = (
        f"{dot.format(x=a, y=a)} - 2 * {dot.format(x=a, y=b)}"
        f" + {dot.format(x=b, y=b)}"
    )
    return f"floor(({expr}) * 1e6 + 0.5) / 1e6"


def _pq_d2_duck(a: str, b: str) -> str:
    expr = (
        f"list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b})"
    )
    return f"floor(({expr}) * 1e6 + 0.5) / 1e6"


# Subvector relation: one row per (vector, subspace). Materialized once
# on the Spark side — the codebook, encode, and query stages all read it
# and Spark would inline the slice+cast subtree three times.
_PQ_SUB_SPARK = f"""
WITH base AS (
    SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
)
SELECT vec_id, m, slice(v, m * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM}) AS sv
FROM base LATERAL VIEW explode(sequence(0, {_PQ_M - 1})) t AS m
"""

_PQ_TAIL_SPARK = f"""
WITH cb AS (
    SELECT vec_id AS code, m, sv AS cw FROM pq_sub WHERE vec_id < {_PQ_CODES}
),
enc AS (
    SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, cb.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {_pq_d2_spark('s.sv', 'cb.cw')}, cb.code) AS rn
        FROM pq_sub s JOIN cb ON s.m = cb.m
    ) r WHERE rn = 1
),
qd AS (
    SELECT q.vec_id AS query_id, cb.m, cb.code,
           {_pq_d2_spark('q.sv', 'cb.cw')} AS pd
    FROM pq_sub q JOIN cb ON q.m = cb.m
    WHERE q.vec_id < {_N_QUERIES}
),
scored AS (
    SELECT qd.query_id, e.vec_id AS neighbor_id, sum(qd.pd) AS adist
    FROM enc e JOIN qd ON qd.m = e.m AND qd.code = e.code
    WHERE e.vec_id != qd.query_id
    GROUP BY qd.query_id, e.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adist, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id,
       floor((adist) * 1e6 + 0.5) / 1e6 AS approx_dist,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_PQ_TOP_K}
"""

_PQ_DUCK_SQL = f"""
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
sub AS (
    SELECT vec_id, m,
           list_slice(v, m * {_PQ_SUBDIM} + 1, m * {_PQ_SUBDIM} + {_PQ_SUBDIM}) AS sv
    FROM base, generate_series(0, {_PQ_M - 1}) AS g(m)
),
cb AS (
    SELECT vec_id AS code, m, sv AS cw FROM sub WHERE vec_id < {_PQ_CODES}
),
enc AS (
    SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, cb.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {_pq_d2_duck('s.sv', 'cb.cw')}, cb.code) AS rn
        FROM sub s JOIN cb ON s.m = cb.m
    ) r WHERE rn = 1
),
qd AS (
    SELECT q.vec_id AS query_id, cb.m, cb.code,
           {_pq_d2_duck('q.sv', 'cb.cw')} AS pd
    FROM sub q JOIN cb ON q.m = cb.m
    WHERE q.vec_id < {_N_QUERIES}
),
scored AS (
    SELECT qd.query_id, e.vec_id AS neighbor_id, sum(qd.pd) AS adist
    FROM enc e JOIN qd ON qd.m = e.m AND qd.code = e.code
    WHERE e.vec_id != qd.query_id
    GROUP BY qd.query_id, e.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adist, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id,
       floor((adist) * 1e6 + 0.5) / 1e6 AS approx_dist,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_PQ_TOP_K}
"""


@register("ann_pq_adc_topk", oracle=_PQ_DUCK_SQL)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index + ADC top-k: encode (M=4 subspaces × 8 codes), search by
    summed query-to-codeword subspace distances.

    Subspace distances are snapped to the 1e-6 grid, so the 4-term ADC
    sum is exact and order-independent (grid partials add without
    rounding); ranking ties break on neighbor_id — deterministic on
    both engines.

    Scale: the encoded corpus is M small ints per vector; a query costs
    one (M × codes)-row lookup table plus an aggregation over candidate
    codes — never a 64-dim dot per candidate. Codebooks broadcast; the
    encode stage is one corpus pass per subspace. The subvector relation
    is materialized once (codebook, encode, and query stages share it).
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(spark.sql(_PQ_SUB_SPARK), "pq_sub")
    return spark.sql(_PQ_TAIL_SPARK)


# ---------------------------------------------------------------------------
# PQ quality evaluation: ADC recall vs exact L2 truth
# ---------------------------------------------------------------------------
# PQ approximates L2 distance (ADC), so its truth set is the exact L2
# top-k — not the cosine truth ann_recall_at_k uses for LSH/IVF. This
# eval reports recall@k of the ADC ranking per query: the number one
# tunes M (subspaces) and codebook size against.

_PQ_EXACT_L2_TMPL = """
exact_scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           floor(({d2}) * 1e6 + 0.5) / 1e6 AS dist
    FROM {base} a JOIN {base} b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {queries}
),
exact_rank AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dist, neighbor_id) AS rnk
    FROM exact_scored
),
exact_topk AS (
    SELECT query_id, neighbor_id FROM exact_rank WHERE rnk <= {k}
)
"""


def _pq_l2_spark(a: str, b: str) -> str:
    dot = (
        "aggregate(zip_with({x}, {y}, (p, q) -> p * q),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        f"{dot.format(x=a + '.v', y=a + '.v')} - 2 * {dot.format(x=a + '.v', y=b + '.v')}"
        f" + {dot.format(x=b + '.v', y=b + '.v')}"
    )


_PQ_RECALL_TAIL = """
SELECT e.query_id,
       CAST({k} AS INT) AS k,
       CAST(count(p.neighbor_id) AS BIGINT) AS n_hit,
       floor((CAST(count(p.neighbor_id) AS DOUBLE) / {k}) * 1e6 + 0.5) / 1e6
           AS recall
FROM exact_topk e
LEFT JOIN pq_topk p
  ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""

_PQ_RECALL_DUCK_SQL = (
    "WITH pq_topk AS (" + _PQ_DUCK_SQL + "),\n"
    "base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    + _PQ_EXACT_L2_TMPL.format(
        d2="list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, b.v)"
           " + list_dot_product(b.v, b.v)",
        base="base",
        queries=_N_QUERIES,
        k=_PQ_TOP_K,
    ).lstrip()
    + _PQ_RECALL_TAIL.format(k=_PQ_TOP_K)
)


@register("ann_pq_recall_eval", oracle=_PQ_RECALL_DUCK_SQL)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PQ-ADC ranking vs exact L2 top-5 per query.

    Scale: the exact side is evaluation-only (queries × corpus, run on
    a sample in production); the PQ side is the index pipeline
    unchanged. Both read the materialized subvector relation.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(spark.sql(_PQ_SUB_SPARK), "pq_sub")
    spark.sql(_PQ_TAIL_SPARK).createOrReplaceTempView("pq_topk")
    sql = (
        "WITH base AS (SELECT vec_id,"
        " transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n"
        + _PQ_EXACT_L2_TMPL.format(
            d2=_pq_l2_spark("a", "b"),
            base="base",
            queries=_N_QUERIES,
            k=_PQ_TOP_K,
        ).lstrip()
        + _PQ_RECALL_TAIL.format(k=_PQ_TOP_K)
    )
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# PQ tuning sweep: the M / codebook-size lever, measured
# ---------------------------------------------------------------------------
# The recall eval above reports the configured index's quality; this
# query measures the TUNING LEVER — recall@5 across (M, codes)
# configurations on the same fixture and truth set. More subspaces and
# more codewords monotonically refine the ADC distance (finer
# quantization cells), roughly doubling recall from the baseline
# (M=4, codes=8) to (M=16, codes=32) on this corpus. Memory per vector
# is M code ids — the sweep IS the memory/recall trade a deployment
# reads off before fixing the index layout.

_PQ_SWEEP_CONFIGS = [(4, 8), (8, 8), (4, 16), (16, 16), (16, 32)]


def _pq_sweep_sql(d2, cast_vec, subspaces) -> str:
    """One statement: shared exact-L2 truth, one PQ chain per config,
    hits counted per config. ``subspaces(m, subdim)`` renders the
    (vec_id, m, sv) subvector relation; ``d2`` the snapped distance."""
    chains = []
    selects = []
    for m, codes in _PQ_SWEEP_CONFIGS:
        subdim = _DIMS // m
        tag = f"m{m}c{codes}"
        chains.append(f"""
sub_{tag} AS ({subspaces(m, subdim)}),
cb_{tag} AS (
    SELECT vec_id AS code, m, sv AS cw FROM sub_{tag} WHERE vec_id < {codes}
),
enc_{tag} AS (
    SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, cb.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {d2('s.sv', 'cb.cw')}, cb.code) AS rn
        FROM sub_{tag} s JOIN cb_{tag} cb ON s.m = cb.m
    ) r WHERE rn = 1
),
qd_{tag} AS (
    SELECT q.vec_id AS query_id, cb.m, cb.code, {d2('q.sv', 'cb.cw')} AS pd
    FROM sub_{tag} q JOIN cb_{tag} cb ON q.m = cb.m
    WHERE q.vec_id < {_N_QUERIES}
),
topk_{tag} AS (
    SELECT query_id, neighbor_id FROM (
        SELECT qd.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qd.query_id
                                  ORDER BY sum(qd.pd), e.vec_id) AS rnk
        FROM enc_{tag} e
        JOIN qd_{tag} qd ON qd.m = e.m AND qd.code = e.code
        WHERE e.vec_id != qd.query_id
        GROUP BY qd.query_id, e.vec_id
    ) rr WHERE rnk <= {_PQ_TOP_K}
)""")
        selects.append(
            f"SELECT '{tag}' AS config, {m} AS m, {codes} AS codes,"
            f" count(p.neighbor_id) AS n_hit\n"
            f"FROM exact_topk e LEFT JOIN topk_{tag} p\n"
            f"  ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id"
        )
    exact = f"""
exact_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {d2('a.v', 'b.v')}, b.vec_id) AS rnk
        FROM base a JOIN base b ON b.vec_id != a.vec_id
        WHERE a.vec_id < {_N_QUERIES}
    ) er WHERE rnk <= {_PQ_TOP_K}
)"""
    union = "\nUNION ALL\n".join(selects)
    total = _N_QUERIES * _PQ_TOP_K
    # hits is an integer → the recall division is bit-identical across
    # engines; the 1e-6 snap guards only the decimal rendering.
    # {{base_src}} is filled per engine: DuckDB derives inline (it
    # materializes multiply-referenced CTEs itself); Spark reads a
    # localCheckpoint'ed view — every config chain plus the exact truth
    # reference base, so inline it would be re-derived ~11x.
    return f"""
WITH base AS ({{base_src}}),
{exact},{','.join(chains)},
per_config AS ({union})
SELECT config, CAST(m AS INT) AS m, CAST(codes AS INT) AS codes,
       CAST(n_hit AS BIGINT) AS n_hit,
       floor((CAST(n_hit AS DOUBLE) / {total}) * 1e6 + 0.5) / 1e6 AS recall
FROM per_config
ORDER BY m, codes
"""


# r13 optimization (guide §2.4, VERDICT r12 task 7): the Spark sweep's
# ENCODE stage is map-side — each config's codebook (<= 16x32 rows of
# subdim doubles, bounded by construction) is collected into ONE
# (m, code)-sorted array row and the per-(vector, subspace) code is a
# first-minimum fold, exactly the kmeans/_CELL_ASSIGN argmin pattern
# (same snapped d2 text, ties on the lowest code == row_number ORDER BY
# d2, code). This removes, per config, the corpus x M encode join and
# its (vec_id, m)-keyed row_number window shuffle+sort — five
# corpus-scale windows gone from the statement; what remains
# corpus-sized is one ADC aggregation per config (the scan IS the
# search) and the shared exact-truth ranking (queries-bounded
# partitions). The DuckDB oracle keeps the template form.


def _pq_sweep_spark_chain(tag: str, m: int, codes: int, subdim: int) -> str:
    sub = (
        f"SELECT vec_id, m, slice(v, m * {subdim} + 1, {subdim}) AS sv\n"
        f"    FROM base LATERAL VIEW explode(sequence(0, {m - 1})) t AS m"
    )
    d2 = _pq_d2_spark("sv", "e.cw")
    return f"""
sub_{tag} AS ({sub}),
cb_{tag} AS (
    SELECT vec_id AS code, m, sv AS cw FROM sub_{tag} WHERE vec_id < {codes}
),
cbarr_{tag} AS (
    SELECT array_sort(collect_list(named_struct('m', m, 'code', code,
                                                'cw', cw))) AS cbs
    FROM cb_{tag}
),
enc_{tag} AS (
    SELECT vec_id, m,
           aggregate(
               transform(filter(cbs, e -> e.m = m),
                         e -> named_struct('d', {d2}, 'code', e.code)),
               named_struct('d', CAST('Infinity' AS DOUBLE),
                            'code', CAST(-1 AS BIGINT)),
               (best, e) -> IF(e.d < best.d, e, best)).code AS code
    FROM sub_{tag} CROSS JOIN cbarr_{tag}
),
qd_{tag} AS (
    SELECT q.vec_id AS query_id, cb.m, cb.code,
           {_pq_d2_spark('q.sv', 'cb.cw')} AS pd
    FROM sub_{tag} q JOIN cb_{tag} cb ON q.m = cb.m
    WHERE q.vec_id < {_N_QUERIES}
),
topk_{tag} AS (
    -- qd is query-count-bounded at every SF (queries x M x codes
    -- <= 2560 rows): broadcasting it keeps the corpus-sized encode
    -- stream from shuffling for the ADC join (repo hint rule: fixed
    -- eval sets may broadcast).
    SELECT query_id, neighbor_id FROM (
        SELECT /*+ BROADCAST(qd) */ qd.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qd.query_id
                                  ORDER BY sum(qd.pd), e.vec_id) AS rnk
        FROM enc_{tag} e
        JOIN qd_{tag} qd ON qd.m = e.m AND qd.code = e.code
        WHERE e.vec_id != qd.query_id
        GROUP BY qd.query_id, e.vec_id
    ) rr WHERE rnk <= {_PQ_TOP_K}
)"""


def _pq_sweep_spark_sql() -> str:
    chains, selects = [], []
    for m, codes in _PQ_SWEEP_CONFIGS:
        tag = f"m{m}c{codes}"
        chains.append(_pq_sweep_spark_chain(tag, m, codes, _DIMS // m))
        selects.append(
            f"SELECT '{tag}' AS config, {m} AS m, {codes} AS codes,"
            f" count(p.neighbor_id) AS n_hit\n"
            f"FROM exact_topk e LEFT JOIN topk_{tag} p\n"
            f"  ON p.query_id = e.query_id AND p.neighbor_id = e.neighbor_id"
        )
    exact = f"""
exact_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_pq_d2_spark('a.v', 'b.v')}, b.vec_id) AS rnk
        FROM base a JOIN base b ON b.vec_id != a.vec_id
        WHERE a.vec_id < {_N_QUERIES}
    ) er WHERE rnk <= {_PQ_TOP_K}
)"""
    union = "\nUNION ALL\n".join(selects)
    total = _N_QUERIES * _PQ_TOP_K
    return f"""
WITH base AS (SELECT * FROM pq_sweep_base),
{exact},{','.join(chains)},
per_config AS ({union})
SELECT config, CAST(m AS INT) AS m, CAST(codes AS INT) AS codes,
       CAST(n_hit AS BIGINT) AS n_hit,
       floor((CAST(n_hit AS DOUBLE) / {total}) * 1e6 + 0.5) / 1e6 AS recall
FROM per_config
ORDER BY m, codes
"""


_PQ_SWEEP_SPARK_SQL = _pq_sweep_spark_sql()

_PQ_SWEEP_DUCK_SQL = _pq_sweep_sql(
    d2=_pq_d2_duck,
    cast_vec="embedding::DOUBLE[]",
    subspaces=lambda m, subdim: (
        f"SELECT vec_id, m,\n"
        f"           list_slice(v, m * {subdim} + 1, m * {subdim} + {subdim}) AS sv\n"
        f"    FROM base, generate_series(0, {m - 1}) AS g(m)"
    ),
).format(
    base_src="SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
)


@register("ann_pq_tuning_sweep", oracle=_PQ_SWEEP_DUCK_SQL)
def ann_pq_tuning_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 across PQ (M, codes) configurations vs shared L2 truth.

    Shows the tuning lever moves: on this fixture recall roughly
    doubles from the (4, 8) baseline to (16, 32). n_hit is an integer
    and the truth set is shared, so the whole sweep hash-matches the
    DuckDB oracle exactly.

    Scale: evaluation-only (run on a query sample in production — the
    exact-truth side is queries × corpus). The doubled-vector base
    relation is materialized once (pq_sweep_base): every config chain
    plus the shared exact truth reads it, and Spark would otherwise
    re-derive the cast+scan ~11x across the five chains.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(
        spark.sql(
            "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
            " FROM embeddings"
        ),
        "pq_sweep_base",
    )
    return spark.sql(_PQ_SWEEP_SPARK_SQL)


# ---------------------------------------------------------------------------
# ANN quality evaluation #2: NDCG@k (rank-aware, not just set overlap)
# ---------------------------------------------------------------------------
# recall@k treats the approximate top-k as a SET; NDCG@k also scores
# the ORDER — a method that finds all true neighbors but ranks them
# backwards loses credit. Binary relevance (membership in the exact
# cosine top-k), standard log2 position discount:
#     DCG@k  = Σ_i rel_i / log2(i + 1)      (i = approx rank)
#     NDCG@k = DCG@k / IDCG@k               (ideal: all k relevant)
# IDCG is a constant for binary relevance at fixed k — computed once
# in Python and inlined as the SAME double literal in both dialects.
#
# Float discipline: each discount term snaps to the 1e-6 grid and sums
# via the exact-sum decimal path (order-independent), so the per-query
# DCG is a deterministic function of the (integer) hit/rank pairs.
#
# Scale: cost is the two composed pipelines; the scoring join is
# queries × k rows.

_IDCG_AT_K = sum(1.0 / math.log2(i + 1) for i in range(1, _TOP_K + 1))

_NDCG_DUCK_SQL = f"""
WITH exact AS ({_KNN_DUCK_SQL}),
lsh AS ({_LSH_DUCK_FULL}),
j AS (
    SELECT l.query_id, l.rnk,
           CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM lsh l LEFT JOIN exact e
      ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
)
SELECT 'lsh' AS method, query_id,
       CAST(sum(hit) AS BIGINT) AS hits,
       {sql_exact_sum("CAST(hit AS DOUBLE) / log2(rnk + 1)", 6)} AS dcg,
       floor((({sql_exact_sum("CAST(hit AS DOUBLE) / log2(rnk + 1)", 6)})
              / CAST({_IDCG_AT_K!r} AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS ndcg
FROM j
GROUP BY query_id
"""


@register("ann_ndcg_eval", oracle=_NDCG_DUCK_SQL)
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the LSH ranking vs exact cosine truth (rank-aware)."""
    exact = knn_bruteforce_topk(spark, sf_dir)
    lsh = ann_lsh_topk(spark, sf_dir)
    j = lsh.select("query_id", "neighbor_id", "rnk").join(
        exact.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    term = F.coalesce(F.col("hit"), F.lit(0)).cast("double") / F.log2(
        F.col("rnk") + F.lit(1)
    )
    agg = j.groupBy("query_id").agg(
        F.count("hit").cast("bigint").alias("hits"),
        exact_sum(term, 6).alias("dcg"),
    )
    return agg.select(
        F.lit("lsh").alias("method"),
        "query_id",
        "hits",
        "dcg",
        stable_round(F.col("dcg") / F.lit(_IDCG_AT_K), 6).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Semantic eval-set decontamination
# ---------------------------------------------------------------------------
# The n-gram decontamination pass (queries/training.py) catches verbatim
# and near-verbatim leakage; PARAPHRASED eval items slip through it.
# The semantic pass: max cosine of each corpus vector against the eval
# set — above threshold ⇒ semantically contaminated. Same blocking
# economics as contamination_ngram_overlap: the EVAL SET is the
# broadcast side (eval suites are thousands of items at any corpus
# size), the corpus streams through exactly once, and the per-row work
# is |eval|·d dot products. Threshold compares snap to the 1e-6 grid
# first (the float-threshold invariant).

_CONTAM_EVAL_N = 8       # eval set: vec_id < 8 (stands in for a benchmark)
_CONTAM_COS_MIN = 0.4    # flag threshold (tuned per embedding model)


def _semantic_contam_tail(cos: str) -> str:
    snapped = f"floor(({cos}) * 1e6 + 0.5) / 1e6"
    return f"""
scored AS (
    SELECT a.vec_id, a.label, max({snapped}) AS max_eval_cos
    FROM emb_n a JOIN emb_n b ON b.vec_id < {_CONTAM_EVAL_N}
    WHERE a.vec_id >= {_CONTAM_EVAL_N}
    GROUP BY a.vec_id, a.label
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN max_eval_cos >= {_CONTAM_COS_MIN} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       floor((max(max_eval_cos)) * 1e6 + 0.5) / 1e6 AS worst_cos
FROM scored
GROUP BY label
"""


_SEM_CONTAM_DUCK_SQL = (
    f"WITH {_DUCK_EMB_N_CTE.replace('vec_id, embedding,', 'vec_id, label, embedding,')},\n"
    + _semantic_contam_tail(_DUCK_COS)
)


@register("contamination_semantic", oracle=_SEM_CONTAM_DUCK_SQL)
def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label semantic-contamination report vs a broadcast eval set."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    sql = (
        f"WITH {_SPARK_EMB_N_CTE.replace('vec_id, embedding,', 'vec_id, label, embedding,')},\n"
        + _semantic_contam_tail(_SPARK_COS)
    )
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# Matryoshka dimension-truncation recall
# ---------------------------------------------------------------------------
# The modern embedding-serving question: how much recall does keeping
# only the first d dimensions lose? (MRL-trained models pack the
# signal front-first; serving at d=16 quarters memory and bandwidth.)
# Per truncation d ∈ {16, 32}: exact top-10 by truncated cosine vs
# the full-dimension top-10 truth, per-query overlap. Same broadcast-
# query-set × corpus shape as the other evals — the truncated scorer
# reads the SAME scan (slice() is a map-side projection), so the eval
# costs two extra candidate rankings, never extra corpus passes.

_TRUNC_DIMS = (16, 32)

_TRUNC_TAIL = """
t{d} AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           floor((({dot}) / (a.nrm{d} * b.nrm{d})) * 1e6 + 0.5) / 1e6 AS cos
    FROM emb_t a JOIN emb_t b ON b.vec_id != a.vec_id
    WHERE a.vec_id < {nq}
),
r{d} AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rnk
    FROM t{d}
),
rec{d} AS (
    SELECT 'dim{d}' AS method, e.query_id, CAST({k} AS INT) AS k,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           floor((count(a.neighbor_id) / CAST({k} AS DOUBLE)) * 1e6 + 0.5) / 1e6
               AS recall
    FROM exact e
    LEFT JOIN (SELECT query_id, neighbor_id FROM r{d} WHERE rnk <= {k}) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
)
"""


def _trunc_sql(spark_side: bool) -> str:
    if spark_side:
        emb_t_cols = ", ".join(
            f"slice(embedding, 1, {d}) AS e{d}, "
            f"sqrt(aggregate(transform(slice(embedding, 1, {d}),"
            f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)) AS nrm{d}"
            for d in _TRUNC_DIMS
        )
        dots = {
            d: (
                f"aggregate(zip_with(a.e{d}, b.e{d},"
                " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            )
            for d in _TRUNC_DIMS
        }
        knn = _KNN_SPARK_SQL
    else:
        emb_t_cols = ", ".join(
            f"embedding[1:{d}] AS e{d}, "
            f"sqrt(list_dot_product(embedding[1:{d}]::DOUBLE[],"
            f" embedding[1:{d}]::DOUBLE[])) AS nrm{d}"
            for d in _TRUNC_DIMS
        )
        dots = {
            d: f"list_dot_product(a.e{d}::DOUBLE[], b.e{d}::DOUBLE[])"
            for d in _TRUNC_DIMS
        }
        knn = _KNN_DUCK_SQL
    parts = [
        f"WITH exact AS ({knn}),",
        f"emb_t AS (SELECT vec_id, {emb_t_cols} FROM embeddings),",
        ",\n".join(
            _TRUNC_TAIL.format(d=d, dot=dots[d], nq=_N_QUERIES, k=_TOP_K)
            for d in _TRUNC_DIMS
        ),
        "SELECT * FROM ("
        + " UNION ALL ".join(f"SELECT * FROM rec{d}" for d in _TRUNC_DIMS)
        + ") ORDER BY method, query_id",
    ]
    return "\n".join(parts)


@register("ann_dim_truncation_recall", oracle=_trunc_sql(False))
def ann_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of dimension-truncated cosine (d=16, 32) vs full-dim
    truth — the Matryoshka serving trade-off, measured."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_trunc_sql(True))


# ---------------------------------------------------------------------------
# Class separability (centroid distances vs within-class spread)
# ---------------------------------------------------------------------------
# The embedding-quality eval before anyone trains a classifier: per
# label pair, the centroid distance over the mean within-class spread
# (a Fisher-style ratio — higher = more separable). ONE corpus pass
# reduces the exploded components to per-(label, dim) EXACT INTEGER
# moments (each component snaps to the 1e-6 grid and scales to BIGINT
# first, so the sums are order-independent — plain double sums here
# would carry the cross-engine accumulation-order hazard the repo's
# exact-sum discipline exists for). Scatter and centroid-distance
# terms are then per-dim deterministic doubles snapped back to
# integers BEFORE the cross-dim sums, which are exact again. The
# moment relation (labels × dims rows) is materialized once on the
# Spark side — it feeds the scatter rollup and both sides of the
# pairwise join, and CTE inlining would re-run the corpus explode per
# reference.

_SEP_MOMENTS = """
SELECT label, {pos} AS d,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(xi) AS BIGINT) AS sx,
       CAST(sum(xi * xi) AS BIGINT) AS sx2
FROM (
    SELECT label, {pos}, CAST(floor(CAST({x} AS DOUBLE) * 1e6 + 0.5)
                              AS BIGINT) AS xi
    FROM {src}
)
GROUP BY label, {pos}
"""

_SEP_TAIL = """
wvar AS (
    -- within-class scatter per label: Σ_d (Σx² − (Σx)²/n), each dim's
    -- term snapped to an integer before the exact cross-dim sum
    SELECT label,
           sum(sx2 - CAST(floor(CAST(sx AS DOUBLE) * sx / n + 5e-1)
                          AS BIGINT)) AS w,
           max(n) AS n_vecs
    FROM {mom} GROUP BY label
),
spread AS (
    SELECT label,
           sqrt(CAST(w AS DOUBLE) / n_vecs) / 1e6 AS rms
    FROM wvar
),
cdist AS (
    SELECT label_a, label_b, sqrt(CAST(sum(t) AS DOUBLE)) / 1e6 AS dist
    FROM (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(floor(
                   (CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n)
                 * (CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n)
                 + 5e-1) AS BIGINT) AS t
        FROM {mom} a JOIN {mom} b ON a.d = b.d AND a.label < b.label
    )
    GROUP BY label_a, label_b
)
SELECT cd.label_a, cd.label_b,
       floor((cd.dist) * 1e6 + 0.5) / 1e6 AS centroid_dist,
       floor(((sa.rms + sb.rms) / 2e0) * 1e6 + 0.5) / 1e6 AS mean_spread,
       floor((cd.dist / ((sa.rms + sb.rms) / 2e0)) * 1e6 + 0.5) / 1e6
           AS separability
FROM cdist cd
JOIN spread sa ON cd.label_a = sa.label
JOIN spread sb ON cd.label_b = sb.label
ORDER BY cd.label_a, cd.label_b
"""

_SEP_DUCK_SQL = (
    "WITH sep_mom AS ("
    + _SEP_MOMENTS.format(
        pos="d",
        x="x",
        src=(
            f"(SELECT label, g.d AS d, embedding[g.d + 1] AS x "
            f"FROM embeddings, generate_series(0, {_DIMS - 1}) AS g(d))"
        ),
    )
    + "),\n"
    + _SEP_TAIL.replace("{mom}", "sep_mom").lstrip()
)


@register("embedding_class_separability", oracle=_SEP_DUCK_SQL)
def embedding_class_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-style per-label-pair separability of the embedding space.

    The full labels² matrix is tiny (labels are class ids, bounded);
    the corpus-sized work is the single exploded-moment aggregation,
    materialized once.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(
        spark.sql(
            _SEP_MOMENTS.format(
                pos="pos",
                x="x",
                src="(SELECT label, pos, x FROM embeddings "
                    "LATERAL VIEW posexplode(embedding) t AS pos, x)",
            )
        ),
        "sep_mom",
    )
    return spark.sql("WITH " + _SEP_TAIL.replace("{mom}", "sep_mom").lstrip())


# ---------------------------------------------------------------------------
# Multi-probe LSH (Lv et al., VLDB 2007)
# ---------------------------------------------------------------------------
# The table-count killer: instead of adding hash tables to lift recall,
# each QUERY also probes the perturbed buckets one hyperplane-bit away
# (the most likely homes of near-misses). Probe set per (query, table)
# = original bucket + {_N_PLANES} one-bit flips — query-side fan-out
# only, the DATA side is bucketed exactly once; candidates still meet
# through an equi-join on (table, bucket). XOR is the one non-portable
# spelling: Spark `^` is bitwise xor while DuckDB `^` is POWER — the
# oracle must use xor().

_MP_PROBE_TAIL = f"""
probes AS (
    SELECT b.vec_id, b.t,
           CASE WHEN j = -1 THEN b.bucket ELSE {{xor}} END AS pbucket
    FROM {{buckets}} b {{probe_series}}
    WHERE b.vec_id < {_N_QUERIES}
),
cand AS (
    SELECT DISTINCT p.vec_id AS qa, bb.vec_id AS nb
    FROM probes p
    JOIN {{buckets}} bb ON bb.t = p.t AND bb.bucket = p.pbucket
),
{{emb_n}},
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {{cos}} AS cos
    FROM cand
    JOIN emb_n a ON a.vec_id = cand.qa
    JOIN emb_n b ON b.vec_id = cand.nb AND b.vec_id != a.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id,
       floor((cos) * 1e6 + 0.5) / 1e6 AS cos_sim, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {_TOP_K}
"""

_MP_SPARK_TAIL = "WITH " + _MP_PROBE_TAIL.format(
    xor="(b.bucket ^ shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)))",
    probe_series=(
        f"LATERAL VIEW explode(sequence(-1, {_N_PLANES - 1})) jx AS j"
    ),
    buckets="mp_lsh_buckets",
    emb_n=_SPARK_EMB_N_CTE,
    cos=_SPARK_COS,
).lstrip()

_MP_DUCK_SQL = (
    _BUCKETS_CORE_DUCK
    + ","
    + _MP_PROBE_TAIL.format(
        xor="xor(b.bucket, CAST(1 AS BIGINT) << CAST(j AS INT))",
        probe_series=(
            f", UNNEST(generate_series(-1, {_N_PLANES - 1})) AS g(j)"
        ),
        buckets="buckets",
        emb_n=_DUCK_EMB_N_CTE,
        cos=_DUCK_COS,
    )
)


@register("ann_lsh_multiprobe_topk", oracle=_MP_DUCK_SQL)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: queries additionally probe every
    one-bit-perturbed bucket, lifting recall without more tables or
    any data-side fan-out; exact cosine re-ranks candidates.

    Scale: the probe relation is queries × tables × (planes+1) rows —
    query-side only; the data bucketing and the (t, bucket) equi-join
    are unchanged from ann_lsh_topk.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(
        spark.sql(_BUCKETS_CORE_SPARK + "SELECT vec_id, t, bucket FROM buckets"),
        "mp_lsh_buckets",
    )
    return spark.sql(_MP_SPARK_TAIL)


# ---------------------------------------------------------------------------
# Multi-probe recall eval: does the probing actually buy recall?
# ---------------------------------------------------------------------------
# The quantified version of multi-probe's pitch: same tables, same
# planes, recall@10 vs brute-force truth for single-probe vs
# multi-probe. The per-query delta IS the technique's value — and the
# honest tuning signal if a configuration ever shows none.

_MPR_DUCK_SQL = f"""
WITH exact AS ({_KNN_DUCK_SQL}),
sp AS ({_LSH_DUCK_FULL}),
mp AS ({_MP_DUCK_SQL}),
sp_recall AS (
    SELECT 'lsh_single' AS method, e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           floor((count(a.neighbor_id) / CAST({_TOP_K} AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS recall
    FROM exact e LEFT JOIN sp a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
),
mp_recall AS (
    SELECT 'lsh_multiprobe' AS method, e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           floor((count(a.neighbor_id) / CAST({_TOP_K} AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS recall
    FROM exact e LEFT JOIN mp a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
)
SELECT * FROM sp_recall UNION ALL SELECT * FROM mp_recall
"""


@register("ann_multiprobe_recall_eval", oracle=_MPR_DUCK_SQL)
def ann_multiprobe_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of single-probe vs multi-probe LSH against exact
    truth, per query — the measured recall the probing buys on
    identical tables/planes."""
    exact = knn_bruteforce_topk(spark, sf_dir)
    sp = ann_lsh_topk(spark, sf_dir)
    mp = ann_lsh_multiprobe_topk(spark, sf_dir)

    def recall(a: DataFrame, method: str) -> DataFrame:
        hits = (
            exact.join(
                a.select("query_id", "neighbor_id").withColumn(
                    "hit", F.lit(1)
                ),
                ["query_id", "neighbor_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(F.count("hit").alias("hits"))
        )
        return hits.select(
            F.lit(method).alias("method"),
            "query_id",
            "hits",
            (
                F.floor(F.col("hits") / F.lit(float(_TOP_K)) * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("recall"),
        )

    return recall(sp, "lsh_single").unionAll(recall(mp, "lsh_multiprobe"))


# ---------------------------------------------------------------------------
# Rocchio nearest-centroid classifier: train fold -> holdout confusion
# ---------------------------------------------------------------------------
# The embedding-based label filter a curation pipeline actually ships
# (classify-by-nearest-class-centroid): centroids from a hash-split
# train fold, cosine classification of the holdout, full confusion
# matrix. Components snap to 1e-6 micro-integers at the scan (the
# class-separability discipline) so centroid sums and dot products are
# exact integer arithmetic; cosines snap before the argmax and ties
# break on label — cross-engine identical picks.

_ROC_TAIL = f"""
centroids AS (
    SELECT label, pos,
           CAST(floor(CAST(sum(xi) AS DOUBLE) / count(*) + 0.5)
                AS BIGINT) AS c_u
    FROM comp WHERE fold <> 0
    GROUP BY label, pos
),
cnorm AS (
    SELECT label,
           sqrt(CAST(sum(c_u * c_u) AS DOUBLE)) / 1e6 AS nrm
    FROM centroids GROUP BY label
),
xnorm AS (
    SELECT vec_id,
           sqrt(CAST(sum(xi * xi) AS DOUBLE)) / 1e6 AS nrm
    FROM comp WHERE fold = 0 GROUP BY vec_id
),
dots AS (
    SELECT t.vec_id, t.label AS true_label, c.label AS cand_label,
           CAST(sum(CAST(t.xi AS DECIMAL(38,0)) * c.c_u)
                AS DECIMAL(38,0)) AS dot_u2
    FROM comp t JOIN centroids c ON c.pos = t.pos
    WHERE t.fold = 0
    GROUP BY t.vec_id, t.label, c.label
),
cosines AS (
    SELECT d.vec_id, d.true_label, d.cand_label,
           floor((CAST(d.dot_u2 AS DOUBLE) / 1e12 / (x.nrm * c.nrm))
                 * 1e6 + 0.5) / 1e6 AS cos_sim
    FROM dots d
    JOIN xnorm x ON x.vec_id = d.vec_id
    JOIN cnorm c ON c.label = d.cand_label
),
picked AS (
    SELECT vec_id, true_label, cand_label AS pred_label FROM (
        SELECT vec_id, true_label, cand_label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_sim DESC, cand_label)
                   AS rk
        FROM cosines
    ) WHERE rk = 1
),
truth_sizes AS (
    SELECT true_label, CAST(count(*) AS BIGINT) AS n_true
    FROM picked GROUP BY true_label
)
SELECT p.true_label, p.pred_label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       floor((CAST(count(*) AS DOUBLE) / max(t.n_true)) * 1e6 + 0.5)
           / 1e6 AS share_of_true
FROM picked p JOIN truth_sizes t ON t.true_label = p.true_label
GROUP BY p.true_label, p.pred_label
ORDER BY p.true_label, p.pred_label
"""


def _rocchio_spark_sql() -> str:
    fold = spark_hash60("CAST(vec_id AS STRING)")
    return f"""
WITH comp AS (
    SELECT vec_id, label, pmod({fold}, 5) AS fold, pos,
           CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xi
    FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, x
),
{_ROC_TAIL.lstrip()}
"""


def _rocchio_duck_sql() -> str:
    fold = duck_hash60("CAST(vec_id AS VARCHAR)")
    return f"""
WITH comp AS (
    SELECT vec_id, label, ({fold}) % 5 AS fold, g.d AS pos,
           CAST(floor(CAST(embedding[g.d + 1] AS DOUBLE) * 1e6 + 0.5)
                AS BIGINT) AS xi
    FROM embeddings, generate_series(0, {_DIMS - 1}) AS g(d)
),
{_ROC_TAIL.lstrip()}
"""


@register("embedding_rocchio_classifier", oracle=_rocchio_duck_sql())
def embedding_rocchio_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of the hash-holdout
    fold against train-fold class centroids by snapped cosine: the
    holdout confusion matrix with per-true-label shares.

    Scale: centroid fit is one (label, dim) aggregation; scoring joins
    the holdout component stream to the labels x dims centroid relation
    (bounded) and reduces per (vector, label) — no pairwise vector
    joins anywhere.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_rocchio_spark_sql())


# ---------------------------------------------------------------------------
# Embedding centroid drift (snapshot-half comparison per label)
# ---------------------------------------------------------------------------
# The embedding-space member of the drift family: PSI/KS/W1 watch
# SCALAR distributions; when the monitored artifact is a vector column
# (a re-embedded corpus, a retrained encoder), the first-order check is
# whether each class's CENTROID moved — cosine between the early-half
# and late-half mean vectors, plus the norm ratio (a shrinking norm
# with stable cosine = the classic "embedding collapse" smell).
# Halves split on vec_id parity (the deterministic stand-in for two
# snapshots).
#
# Float discipline (the clustering.py centroid rules): per-dim means
# are exact 1e-9-grid sums divided once and re-snapped; the cosine's
# cross-dim sums are exact 1e-12-grid sums of snapped products; the two
# final ratios snap at 1e-6 behind a zero-norm guard. Scale: one
# posexplode pass to (label, half, dim) partial aggregates — dims are
# bounded (64), labels bounded, so everything after the first group-by
# is tiny.


def _centroid_tail() -> str:
    """Everything downstream of the per-(label, half, dim) snapped-sum
    grid, as a ``{sums}``-parameterized template (columns: label,
    late ∈ {{0=reference, 1=live}}, d, sx = 1e9-grid snapped component
    sum, c = vector count); labels × dims rows, bounded.
    """
    return f"""means AS (
    SELECT label, late, d,
           floor((CAST(sx AS DOUBLE) / 1e9 / c) * 1e9 + 0.5) / 1e9 AS m
    FROM {{sums}}
),
pairs AS (
    SELECT e.label, e.m AS me, l.m AS ml
    FROM means e JOIN means l ON l.label = e.label AND l.d = e.d
    WHERE e.late = 0 AND l.late = 1
),
stats AS (
    SELECT label,
           {sql_exact_sum("me * ml", 12)} AS dt,
           {sql_exact_sum("me * me", 12)} AS ne2,
           {sql_exact_sum("ml * ml", 12)} AS nl2
    FROM pairs GROUP BY label
),
counts AS (
    SELECT label,
           CAST(max(CASE WHEN late = 0 THEN c END) AS BIGINT) AS n_early,
           CAST(max(CASE WHEN late = 1 THEN c END) AS BIGINT) AS n_late
    FROM {{sums}} GROUP BY label
)
SELECT c.label, c.n_early, c.n_late,
       CASE WHEN s.ne2 <= 0e0 OR s.nl2 <= 0e0 THEN CAST(NULL AS DOUBLE)
            ELSE floor((s.dt / sqrt(s.ne2) / sqrt(s.nl2)) * 1e6 + 0.5)
                 / 1e6 END AS centroid_cosine,
       CASE WHEN s.ne2 <= 0e0 THEN CAST(NULL AS DOUBLE)
            ELSE floor(sqrt(s.nl2 / s.ne2) * 1e6 + 0.5) / 1e6
       END AS norm_ratio
FROM counts c JOIN stats s ON s.label = c.label
ORDER BY c.label
"""


def _centroid_drift_sql(explode, cast_vec: str) -> str:
    return f"""
WITH halves AS (
    SELECT label, vec_id % 2 AS late, {cast_vec} AS v FROM embeddings
),
dims AS (
    {explode("halves")}
),
sums AS (
    SELECT label, late, d,
           CAST(sum(CAST(floor((x) * 1e9 + 0.5) AS DECIMAL(38,0)))
                AS DECIMAL(38,0)) AS sx,
           CAST(count(*) AS BIGINT) AS c
    FROM dims GROUP BY label, late, d
),
{_centroid_tail().format(sums="sums")}"""


_CENTROID_DRIFT_SPARK_SQL = _centroid_drift_sql(
    explode=lambda m: (
        f"SELECT label, late, d, x FROM {m}"
        f" LATERAL VIEW posexplode(v) t AS d, x"
    ),
    cast_vec="transform(embedding, x -> CAST(x AS DOUBLE))",
)
_CENTROID_DRIFT_DUCK_SQL = _centroid_drift_sql(
    explode=lambda m: (
        f"SELECT label, late, unnest(generate_series(1, len(v))) AS d,"
        f" unnest(v) AS x FROM {m}"
    ),
    cast_vec="embedding::DOUBLE[]",
)


@register("embedding_centroid_drift", oracle=_CENTROID_DRIFT_DUCK_SQL)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid cosine and norm ratio between the two
    vec_id-parity halves of the embedding corpus — the vector-space
    drift screen next to the scalar PSI/KS/W1 family."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_CENTROID_DRIFT_SPARK_SQL)


# ---------------------------------------------------------------------------
# Per-label Mahalanobis outliers (diagonal covariance)
# ---------------------------------------------------------------------------
# The embedding-quality screen the centroid/separability queries stop
# short of: WHICH vectors don't belong to their labelled class?
# Diagonal-covariance Mahalanobis distance D^2 = sum_d (x_d -
# mu_d)^2 / sigma_d^2 is the standard scalable form (the full-matrix
# inverse is a d^2 broadcast nobody needs for outlier triage), and
# per-dim variances also catch scale pathologies cosine hides.
#
# Exactness: components snap to scaled integers once; per-(label,dim)
# moments are exact (second moment DECIMAL(38,0)); each dim's ratio
# (n*x - S)^2 / (n*SS - S^2) is scale-free exact-integer arithmetic
# evaluated identically on both engines, and the 64-dim sum is a
# snapped-term exact integer sum (order-independent). Top-5 per label
# ranks on the INTEGER distance with vec_id tie-break. One corpus
# explode pass, one bounded (labels x dims) join back — the same
# shuffle shape as the centroid queries; constant dims (zero
# variance) are excluded from the sum on both sides.


def _mahal_sql(explode_comps: str) -> str:
    return f"""
WITH comps AS (
    SELECT vec_id, label, d,
           CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xs
    FROM ({explode_comps}) src
),
stats AS (
    SELECT label, d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(xs) AS BIGINT) AS s,
           CAST(sum(CAST(xs AS DECIMAL(38,0)) * xs) AS DECIMAL(38,0)) AS ss
    FROM comps GROUP BY label, d
),
terms AS (
    SELECT c.vec_id, c.label,
           CAST(floor((CAST(st.n * c.xs - st.s AS DOUBLE)
                       * CAST(st.n * c.xs - st.s AS DOUBLE))
                      / (CAST(st.n AS DOUBLE) * CAST(st.ss AS DOUBLE)
                         - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE))
                      * 1e6 + 0.5) AS BIGINT) AS t
    FROM comps c
    JOIN stats st ON st.label = c.label AND st.d = c.d
    WHERE CAST(st.n AS DOUBLE) * CAST(st.ss AS DOUBLE)
          - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) > 0
),
d2 AS (
    SELECT vec_id, label, CAST(sum(t) AS BIGINT) AS d2i
    FROM terms GROUP BY vec_id, label
),
ranked AS (
    SELECT label, vec_id, d2i,
           CAST(row_number() OVER (PARTITION BY label
                                   ORDER BY d2i DESC, vec_id)
                AS BIGINT) AS rnk
    FROM d2
)
SELECT label, vec_id,
       floor(CAST(d2i AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS mahal_d2,
       rnk
FROM ranked WHERE rnk <= 5
ORDER BY label, rnk
"""


_MAHAL_SPARK_SQL = _mahal_sql(
    "SELECT vec_id, label, pos AS d, x"
    " FROM embeddings LATERAL VIEW posexplode(embedding) e AS pos, x"
)

_MAHAL_DUCK_SQL = _mahal_sql(
    "SELECT vec_id, label,"
    " unnest(generate_series(1, len(embedding))) AS d,"
    " unnest(embedding) AS x FROM embeddings"
)


@register("embedding_mahalanobis_outliers", oracle=_MAHAL_DUCK_SQL)
def embedding_mahalanobis_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-5 per-label embedding outliers by diagonal-covariance
    Mahalanobis distance — exact scaled-integer moments, scale-free
    per-dim ratios, integer-ranked with vec_id tie-breaks."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_MAHAL_SPARK_SQL)
