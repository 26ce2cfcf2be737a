"""Graph analytics over the brand co-purchase graph.

Nodes are part brands; an edge (a, b) with weight w means brands a and b
appeared together in w distinct orders. The corpus-sized work is ONE
pass building that edge list (lineitem joined to part, distinct
order-brand pairs, a basket-bounded self-join); everything downstream —
PageRank iterations, triangle counting — runs on the vocabulary-sized
graph relation. This is the standard distributed-graph shape: edges are
the big relation you shuffle by src/dst; vertex state stays tiny.

Float discipline (PageRank): per-edge contributions snap to the 1e-9
grid before the order-independent exact sum; ranks snap between
iterations so both engines iterate on identical doubles (the
embedding_power_iteration discipline). Triangle counts are pure
integers until the final clustering-coefficient ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.numeric import (
    sql_exact_sum,
    sql_stable_round,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.session import recursion_limits
from automated_data_pipeline_python_spark.tables import register_views

# Distinct (order, brand) pairs → symmetric weighted edge list. The
# self-join is bounded by basket size (brands per order), never by
# corpus size: per-order work is |basket|², and baskets are small by
# construction in any order/part schema. part joins UNHINTED — it grows
# with scale factor, so AQE broadcasts while small and shuffle-joins at
# 100 TB (the repo-wide broadcast policy).
_EDGES_SQL = """
WITH ob AS (
    SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT a.brand AS src, b.brand AS dst, CAST(count(*) AS BIGINT) AS w
FROM ob a JOIN ob b ON a.o = b.o AND a.brand <> b.brand
GROUP BY a.brand, b.brand
"""


def _pagerank_tail(edges: str, node: str = "brand", suffix: str = "") -> str:
    es = sql_exact_sum
    r = sql_stable_round
    # One damping iteration: r_next(dst) = 0.15/N + 0.85 * sum_src
    # r(src) * w/out_w(src). Edges are symmetric, so dst set == src set
    # == nodes and there are no dangling nodes to redistribute.
    return f"""
WITH nodes AS (SELECT DISTINCT src AS {node} FROM {edges}),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
outw AS (
    SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM {edges} GROUP BY src
),
r0 AS (SELECT {node}, CAST(1 AS DOUBLE) / nn.n AS r FROM nodes, nn),
c1 AS (
    SELECT e.dst AS {node},
           {es("r0.r * (CAST(e.w AS DOUBLE) / CAST(ow.out_w AS DOUBLE))", 9)}
               AS s
    FROM {edges} e
    JOIN r0 ON e.src = r0.{node}
    JOIN outw ow ON e.src = ow.src
    GROUP BY e.dst
),
r1 AS (SELECT c1.{node}, {r("15e-2 / nn.n + 85e-2 * c1.s", 9)} AS r
       FROM c1, nn),
c2 AS (
    SELECT e.dst AS {node},
           {es("r1.r * (CAST(e.w AS DOUBLE) / CAST(ow.out_w AS DOUBLE))", 9)}
               AS s
    FROM {edges} e
    JOIN r1 ON e.src = r1.{node}
    JOIN outw ow ON e.src = ow.src
    GROUP BY e.dst
),
r2 AS (SELECT c2.{node}, {r("15e-2 / nn.n + 85e-2 * c2.s", 9)} AS r
       FROM c2, nn)
SELECT r2.{node} AS {node},
       {r("r2.r", 6)} AS pagerank,
       CAST(deg.n_neighbors AS BIGINT) AS n_neighbors,
       CAST(deg.w_total AS BIGINT) AS w_total
FROM r2
JOIN (
    SELECT src AS {node}, count(*) AS n_neighbors, sum(w) AS w_total
    FROM {edges} GROUP BY src
) deg ON r2.{node} = deg.{node}
{suffix}
"""


_PAGERANK_DUCK = (
    "WITH edges AS (" + _EDGES_SQL + ")\n"
    + _pagerank_tail("edges").replace("WITH nodes", ", nodes", 1)
)


@register("graph_brand_pagerank", oracle=_PAGERANK_DUCK)
def graph_brand_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 damped iterations) over the brand co-purchase graph.

    The edge list feeds four pipeline stages (out-weights, two
    contribution rounds, degrees); Spark inlines CTEs, so it is
    materialized once via localCheckpoint (DuckDB materializes shared
    CTEs itself — single-statement oracle).
    """
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "pr_edges")
    return spark.sql(_pagerank_tail("pr_edges"))


# ---------------------------------------------------------------------------
# Triangle counting + local clustering coefficient
# ---------------------------------------------------------------------------
# Classic 3-clique enumeration on the canonical (src < dst) edge
# orientation: each triangle a<b<c is found exactly once by joining
# e(a,b) ⋈ e(b,c) ⋈ e(a,c). On the brand graph the join is
# vocabulary-sized; on a general graph this is the standard two-shuffle
# triangle count (wedge build + closing-edge check) whose cost is
# bounded by Σ deg², not corpus size. All counts are integers; the
# clustering coefficient 2·tri/(deg·(deg−1)) is the single float, snapped.


def _triangles_tail(edges: str) -> str:
    r = sql_stable_round
    return f"""
WITH und AS (
    SELECT src, dst FROM {edges} WHERE src < dst
),
tri AS (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM und e1
    JOIN und e2 ON e2.src = e1.dst
    JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
per_node AS (
    SELECT brand, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
        SELECT a AS brand FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) t
    GROUP BY brand
),
deg AS (
    SELECT src AS brand, CAST(count(*) AS BIGINT) AS degree
    FROM {edges} GROUP BY src
)
SELECT d.brand, d.degree,
       coalesce(p.n_triangles, 0) AS n_triangles,
       {r("CAST(2 * coalesce(p.n_triangles, 0) AS DOUBLE)"
          " / CAST(d.degree * (d.degree - 1) AS DOUBLE)", 6)}
           AS clustering_coeff
FROM deg d
LEFT JOIN per_node p ON d.brand = p.brand
WHERE d.degree > 1
"""


_TRIANGLES_DUCK = (
    "WITH edges AS (" + _EDGES_SQL + ")\n"
    + _triangles_tail("edges").replace("WITH und", ", und", 1)
)


@register("graph_brand_triangles", oracle=_TRIANGLES_DUCK)
def graph_brand_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand triangle count and local clustering coefficient."""
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "tri_edges")
    return spark.sql(_triangles_tail("tri_edges"))


# ---------------------------------------------------------------------------
# Bounded-depth reachability (min-hop BFS from a seed brand)
# ---------------------------------------------------------------------------
# "What can I reach in k hops, and how close is it?" — the recursive
# frontier expands over the materialized vocabulary-sized edge list
# with depth capped at 3 and min(hops) aggregated at the end (the
# recursive term cannot self-dedup, so duplicate paths are tolerated
# and collapsed after; at bounded depth over a degree-bounded graph
# the path count stays polynomial). The production shape at unbounded
# depth is the iterative frontier-dedup DataFrame loop the label-
# propagation operator uses; this is the SQL-surface twin with the
# same min-hop semantics. Seed = lexicographically-first brand
# (deterministic at every scale).

_REACH_DEPTH = 3


def _reach_tail(edges: str) -> str:
    """CTE body from `seed` onward — callers prepend WITH RECURSIVE
    (and, for the oracle, the inline edges CTE)."""
    return f"""
seed AS (SELECT min(src) AS brand FROM {edges}),
walk(brand, hops) AS (
    SELECT brand, 0 FROM seed
    UNION ALL
    SELECT e.dst, w.hops + 1
    FROM walk w JOIN {edges} e ON e.src = w.brand
    WHERE w.hops < {_REACH_DEPTH}
)
SELECT brand, CAST(min(hops) AS INT) AS hops
FROM walk
GROUP BY brand
ORDER BY hops, brand
"""


@register(
    "graph_brand_reachability",
    oracle=f"WITH RECURSIVE edges AS ({_EDGES_SQL}),\n"
    + _reach_tail("edges").lstrip(),
)
def graph_brand_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop reachability from the first brand, depth <= 3."""
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "reach_edges")
    with recursion_limits(spark):
        return spark.sql(
            "WITH RECURSIVE " + _reach_tail("reach_edges").lstrip()
        ).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Link prediction via strong-neighbor overlap
# ---------------------------------------------------------------------------
# The classic graph-ML feature: for brand pairs, score how likely an
# (absent or weak) edge is from the overlap of their STRONG
# neighborhoods. "Strong" = each node's top-5 neighbors by weight
# (rank-based, so the definition is scale-invariant — a raw weight
# threshold would saturate as counts grow with the corpus). Jaccard =
# |A∩B| / |A∪B| over those sets, all integer counts until the final
# snapped ratio; the pair relation is bounded by brands², independent
# of corpus size, and the corpus-sized work remains the one edge-list
# build shared with PageRank/triangles.

_TOP_NEIGHBORS = 5

_LINK_PRED_TAIL = f"""
strong AS (
    SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
        FROM edges
    ) WHERE rk <= {_TOP_NEIGHBORS}
),
deg AS (
    SELECT src, CAST(count(*) AS BIGINT) AS n FROM strong GROUP BY src
),
pairs AS (
    SELECT a.src AS u, b.src AS v, CAST(count(*) AS BIGINT) AS common_strong
    FROM strong a JOIN strong b ON a.dst = b.dst AND a.src < b.src
    GROUP BY a.src, b.src
)
SELECT p.u, p.v, p.common_strong,
       (e.src IS NOT NULL) AS already_linked,
       floor((CAST(p.common_strong AS DOUBLE)
              / (du.n + dv.n - p.common_strong)) * 1e6 + 0.5) / 1e6
           AS jaccard
FROM pairs p
JOIN deg du ON du.src = p.u
JOIN deg dv ON dv.src = p.v
LEFT JOIN (SELECT DISTINCT src, dst FROM strong) e
       ON e.src = p.u AND e.dst = p.v
"""


@register(
    "graph_link_prediction",
    oracle=f"WITH edges AS ({_EDGES_SQL}), {_LINK_PRED_TAIL}",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap link prediction on the brand graph: top-5
    strong neighborhoods per node (rank-based, scale-invariant), then
    Jaccard over shared strong neighbors for every candidate pair,
    flagged with whether a strong link already exists.

    All integer counts until one snapped ratio; pair work is bounded by
    brands x top-k, never corpus size.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(f"WITH edges AS ({_EDGES_SQL}), {_LINK_PRED_TAIL}")


# ---------------------------------------------------------------------------
# Bounded-hop weighted shortest paths (Bellman-Ford, unrolled)
# ---------------------------------------------------------------------------
# Single-source shortest path by edge COST (cost = max_w + 1 − w, so
# the strongest tie is the cheapest hop — all BIGINT, no float path
# sums), relaxed for exactly 3 Bellman-Ford rounds:
# d_k(v) = min(d_{k-1}(v), min_u d_{k-1}(u) + cost(u, v)). Each round
# is one join + one min-aggregation — the shape that runs as k
# shuffle stages on a billion-edge graph (vertex state joined to
# edges, grouped by destination), with no recursion engine needed;
# reachability above pins the recursive-CTE variant, this pins the
# unrolled-iteration variant with weights. Emitting d1/d2/d3 columns
# shows monotone convergence per node.

_SSSP_ROUNDS = 3


def _sssp_tail(edges: str) -> str:
    relax = """
d{n} AS (
    SELECT brand, min(d) AS d FROM (
        SELECT brand, d FROM d{p}
        UNION ALL
        SELECT c.dst AS brand, d{p}.d + c.c AS d
        FROM d{p} JOIN cost c ON c.src = d{p}.brand
    ) {alias}
    GROUP BY brand
)"""
    rounds = ",".join(
        relax.format(n=n, p=n - 1, alias=f"u{n}")
        for n in range(1, _SSSP_ROUNDS + 1)
    )
    return f"""
mw AS (SELECT CAST(max(w) AS BIGINT) AS m FROM {edges}),
cost AS (
    SELECT src, dst, CAST(m + 1 - w AS BIGINT) AS c
    FROM {edges} CROSS JOIN mw
),
srcn AS (SELECT min(src) AS s FROM {edges}),
d0 AS (SELECT s AS brand, CAST(0 AS BIGINT) AS d FROM srcn),
{rounds.lstrip()},
nodes AS (SELECT DISTINCT src AS brand FROM {edges})
SELECT n.brand,
       CAST(x1.d AS BIGINT) AS dist_1hop,
       CAST(x2.d AS BIGINT) AS dist_2hop,
       CAST(x3.d AS BIGINT) AS dist_3hop
FROM nodes n
LEFT JOIN d1 x1 ON x1.brand = n.brand
LEFT JOIN d2 x2 ON x2.brand = n.brand
LEFT JOIN d3 x3 ON x3.brand = n.brand
"""


@register(
    "graph_weighted_sssp",
    oracle=f"WITH edges AS ({_EDGES_SQL}),\n" + _sssp_tail("edges").lstrip(),
)
def graph_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round Bellman-Ford from the first brand over integer edge
    costs (max_w + 1 − w), one join + min-agg per round; d1/d2/d3
    columns expose the monotone relaxation.

    The edge build is the only corpus-sized stage and is materialized
    once; every round shuffles the vocabulary-sized vertex/edge
    relations by dst.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "sssp_edges")
    return spark.sql("WITH " + _sssp_tail("sssp_edges").lstrip())


# ---------------------------------------------------------------------------
# TextRank keyword extraction (PageRank over the word co-occurrence graph)
# ---------------------------------------------------------------------------
# Mihalcea & Tarau 2004: rank words by PageRank over the adjacency
# graph of content words (here: tokens >= 5 chars, window 2). RAKE
# (text_rake_phrases) scores phrases by degree heuristics; TextRank is
# the graph-centrality alternative on the same corpus — the classic
# unsupervised keyword pair. The corpus-sized work is ONE bigram
# explode (map-only, per-doc bounded); the graph itself is
# vocabulary²-bounded and the PageRank tail reuses the brand graph's
# exact-sum/snap float discipline verbatim. Top-20 is totally ordered
# (snapped rank, then word).

from automated_data_pipeline_python_spark.functions.text import (  # noqa: E402
    DUCK_TOKENS,
    SPARK_TOKENS,
    duck_word_shingles,
    spark_word_shingles,
)

_TR_EDGES_SPARK = f"""
WITH tok AS (
    SELECT {SPARK_TOKENS.format(col='text')} AS toks FROM documents
),
bg AS (
    SELECT explode({spark_word_shingles('toks', 2)}) AS s FROM tok
),
pairs AS (
    SELECT split_part(s, ' ', 1) AS w1, split_part(s, ' ', 2) AS w2 FROM bg
),
filt AS (
    SELECT w1, w2 FROM pairs
    WHERE length(w1) >= 5 AND length(w2) >= 5 AND w1 <> w2
)
SELECT src, dst, CAST(count(*) AS BIGINT) AS w
FROM (SELECT w1 AS src, w2 AS dst FROM filt
      UNION ALL
      SELECT w2 AS src, w1 AS dst FROM filt) e
GROUP BY src, dst
"""

_TR_EDGES_DUCK = f"""
WITH tok AS (
    SELECT {DUCK_TOKENS.format(col='text')} AS toks FROM documents
),
bg AS (
    SELECT unnest({duck_word_shingles('toks', 2)}) AS s FROM tok
),
pairs AS (
    SELECT split_part(s, ' ', 1) AS w1, split_part(s, ' ', 2) AS w2 FROM bg
),
filt AS (
    SELECT w1, w2 FROM pairs
    WHERE length(w1) >= 5 AND length(w2) >= 5 AND w1 <> w2
)
SELECT src, dst, CAST(count(*) AS BIGINT) AS w
FROM (SELECT w1 AS src, w2 AS dst FROM filt
      UNION ALL
      SELECT w2 AS src, w1 AS dst FROM filt) e
GROUP BY src, dst
"""

_TR_SUFFIX = "ORDER BY pagerank DESC, word\nLIMIT 20"

_TEXTRANK_DUCK = (
    "WITH tr_edges AS (" + _TR_EDGES_DUCK + ")\n"
    + _pagerank_tail("tr_edges", node="word", suffix=_TR_SUFFIX)
    .replace("WITH nodes", ", nodes", 1)
)


@register("text_textrank_keywords", oracle=_TEXTRANK_DUCK)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 TextRank keywords over the word co-occurrence graph.

    The edge list feeds four tail stages; Spark inlines CTEs, so it is
    materialized once via localCheckpoint (DuckDB materializes shared
    CTEs itself — single-statement oracle).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_TR_EDGES_SPARK), "tr_edges")
    return spark.sql(
        _pagerank_tail("tr_edges", node="word", suffix=_TR_SUFFIX)
    )


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peeling)
# ---------------------------------------------------------------------------
# The density-subgraph classic: repeatedly delete nodes of degree < k;
# what survives is the k-core. The raw co-purchase graph is near-
# complete at every scale factor (every brand co-occurs with every
# other eventually), so cores are read off the MUTUAL TOP-5 graph —
# each node keeps its 5 strongest neighbors (rank-based, so the graph
# stays sparse as weights grow with the corpus; the
# graph_link_prediction discipline) and an edge survives only if BOTH
# endpoints keep it. Three peel rounds unrolled (the bounded-iteration
# twin of the Bellman-Ford SSSP below); each round is one semi-join +
# degree recount on the vocabulary-sized graph. Integer-only — no
# float anywhere.

_KCORE_K = 3

_KCORE_SQL = f"""
WITH ranked AS (
    SELECT src, dst,
           CAST(row_number() OVER (PARTITION BY src
                                   ORDER BY w DESC, dst) AS BIGINT) AS rk
    FROM {{edges}}
),
top5 AS (SELECT src, dst FROM ranked WHERE rk <= 5),
mutual AS (
    SELECT a.src, a.dst
    FROM top5 a JOIN top5 b ON b.src = a.dst AND b.dst = a.src
),
deg0 AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM mutual GROUP BY src),
alive1 AS (SELECT src FROM deg0 WHERE d >= {_KCORE_K}),
e1 AS (
    SELECT m.src, m.dst FROM mutual m
    JOIN alive1 s ON s.src = m.src
    JOIN alive1 t ON t.src = m.dst
),
deg1 AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e1 GROUP BY src),
alive2 AS (SELECT src FROM deg1 WHERE d >= {_KCORE_K}),
e2 AS (
    SELECT m.src, m.dst FROM e1 m
    JOIN alive2 s ON s.src = m.src
    JOIN alive2 t ON t.src = m.dst
),
deg2 AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e2 GROUP BY src),
alive3 AS (SELECT src FROM deg2 WHERE d >= {_KCORE_K}),
e3 AS (
    SELECT m.src, m.dst FROM e2 m
    JOIN alive3 s ON s.src = m.src
    JOIN alive3 t ON t.src = m.dst
),
deg3 AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e3 GROUP BY src)
SELECT d0.src AS brand,
       d0.d AS degree_mutual,
       coalesce(d3.d, 0) AS degree_after_peel,
       coalesce(d3.d, 0) >= {_KCORE_K} AS in_kcore
FROM deg0 d0
LEFT JOIN deg3 d3 ON d3.src = d0.src
ORDER BY brand
"""

_KCORE_DUCK = (
    "WITH edges AS (" + _EDGES_SQL + ")\n"
    + _KCORE_SQL.replace("WITH ranked", ", ranked", 1).format(edges="edges")
)


@register("graph_brand_kcore", oracle=_KCORE_DUCK)
def graph_brand_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k-core peel (k=3) of the mutual-top-5 brand graph.

    The mutual graph feeds every peel round; the base edge list is
    materialized once via localCheckpoint against CTE inlining.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "kcore_edges")
    return spark.sql(_KCORE_SQL.format(edges="kcore_edges"))


# ---------------------------------------------------------------------------
# HITS hubs & authorities (2 unrolled iterations)
# ---------------------------------------------------------------------------
# Kleinberg's HITS (1999), the eigenvector sibling of PageRank that
# separates "points at good things" (hub) from "is pointed at"
# (authority) — on the weighted co-purchase digraph the same
# _EDGES_SQL builds for PageRank. Two unrolled rounds of the mutual
# recursion a <- E^T h, h <- E a, each L2-normalized:
#
#   a1 = normalize(col-sums of w)        (h0 = 1; exact integers)
#   h1 = normalize(E a1)                 (exact-sum of snapped terms)
#   a2 = normalize(E^T h1)
#
# Float discipline: the a1 pre-normalization sums are exact BIGINTs;
# every subsequent cross-row sum is sql_exact_sum at 1e-9, every
# normalized score snaps to 1e-6 before feeding the next round (the
# power-iteration discipline — embedding_power_iteration:205).
#
# Scale: the one corpus-sized stage is the edge build (shared with
# PageRank); both iterations run on the bounded brand graph
# (|V| <= brands, |E| <= brands^2), so the whole refinement is
# broadcast-sized at any corpus scale.


def _hits_tail(edges: str) -> str:
    es = sql_exact_sum
    r = sql_stable_round
    return f"""
a1p AS (
    SELECT dst, CAST(sum(w) AS BIGINT) AS s FROM {edges} GROUP BY dst
),
a1n AS (SELECT sqrt({es("CAST(s AS DOUBLE) * s", 0)}) AS nrm FROM a1p),
a1 AS (SELECT dst, {r("CAST(s AS DOUBLE) / nrm", 6)} AS a FROM a1p, a1n),
h1p AS (
    SELECT e.src, {es("e.w * a1.a", 9)} AS s
    FROM {edges} e JOIN a1 ON a1.dst = e.dst
    GROUP BY e.src
),
h1n AS (SELECT sqrt({es("s * s", 9)}) AS nrm FROM h1p),
h1 AS (SELECT src, {r("s / nrm", 6)} AS h FROM h1p, h1n),
a2p AS (
    SELECT e.dst, {es("e.w * h1.h", 9)} AS s
    FROM {edges} e JOIN h1 ON h1.src = e.src
    GROUP BY e.dst
),
a2n AS (SELECT sqrt({es("s * s", 9)}) AS nrm FROM a2p)
SELECT a2p.dst AS brand,
       {r("a2p.s / a2n.nrm", 6)} AS authority,
       h1.h AS hub
FROM a2p CROSS JOIN a2n
JOIN h1 ON h1.src = a2p.dst
ORDER BY brand
"""


_HITS_DUCK = (
    "WITH edges AS (" + _EDGES_SQL + "),\n"
    + _hits_tail("edges").replace("\na1p AS", "\n a1p AS", 1)
)


@register("graph_brand_hits", oracle=_HITS_DUCK)
def graph_brand_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled HITS iterations on the weighted brand co-purchase
    digraph: per-brand authority and hub scores, L2-normalized each
    round with the power-iteration float discipline.

    The edge relation feeds three matrix-product stages; Spark inlines
    CTEs, so it is materialized once via localCheckpoint.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "hits_edges")
    return spark.sql("WITH " + _hits_tail("hits_edges").lstrip())


# ---------------------------------------------------------------------------
# Newman modularity of the brand-family partition
# ---------------------------------------------------------------------------
# The community-quality score (Newman & Girvan 2004) every clustering
# of a graph is judged by: Q = Σ_c [ in_c/W − (deg_c/W)² ], where W is
# the total directed edge weight, in_c the weight inside community c,
# and deg_c the weighted degree of c. Communities here are the brand
# families (first digit of 'Brand#xy' — TPC-H's 5 manufacturer
# groups), making this the null-hypothesis check on whether
# manufacturer structure shows up in co-purchase behavior (on uniform
# TPC-H baskets it should sit near 0 — that near-zero IS the signal).
#
# Everything is exact BIGINT until the two final divisions per
# community, snapped. The corpus-sized stage is the shared edge
# build; the modularity terms are three aggregations of the bounded
# edge relation (|E| <= brands²).


def _modularity_tail(edges: str) -> str:
    r = sql_stable_round
    q = (
        "CAST(coalesce(i.iw, 0) AS DOUBLE) / t.tw"
        " - (CAST(d.dw AS DOUBLE) / t.tw) * (CAST(d.dw AS DOUBLE) / t.tw)"
    )
    return f"""
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM {edges}),
deg AS (
    SELECT substr(src, 7, 1) AS com, CAST(sum(w) AS BIGINT) AS dw,
           CAST(count(DISTINCT src) AS BIGINT) AS n_brands
    FROM {edges} GROUP BY substr(src, 7, 1)
),
intra AS (
    SELECT substr(src, 7, 1) AS com, CAST(sum(w) AS BIGINT) AS iw
    FROM {edges}
    WHERE substr(src, 7, 1) = substr(dst, 7, 1)
    GROUP BY substr(src, 7, 1)
)
SELECT d.com AS community, d.n_brands,
       coalesce(i.iw, 0) AS internal_w, d.dw AS degree_w,
       {r(q, 6)} AS q_contrib
FROM deg d
LEFT JOIN intra i ON i.com = d.com
CROSS JOIN tot t
ORDER BY community
"""


@register(
    "graph_brand_modularity",
    oracle="WITH edges AS (" + _EDGES_SQL + "),\n"
    + _modularity_tail("edges").replace("\ntot AS", "\n tot AS", 1),
)
def graph_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community Newman modularity contributions of the
    brand-family partition of the co-purchase graph — exact integer
    weights, two snapped divisions per community."""
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "mod_edges")
    return spark.sql("WITH " + _modularity_tail("mod_edges").lstrip())


# ---------------------------------------------------------------------------
# Label propagation (2 synchronous rounds, weighted argmax vote)
# ---------------------------------------------------------------------------
# Community detection without a preset partition — the complement to
# graph_brand_modularity, which SCORES a given partition: initialize
# every node with its own label, then each round every node adopts the
# label with the highest incident edge-weight sum among its neighbors
# (Raghavan et al. 2007), ties broken by lexicographically smallest
# label. Two synchronous rounds, fully deterministic (weights are
# exact integers; the argmax is a partitioned rank with a total
# tiebreak — no RNG, no update-order dependence).
#
# Scale: each round is one join edges->labels (hash-partitioned on the
# node key), one (node, label) weight aggregation, one PARTITIONED
# row_number — work O(edges) per round. The edge list is materialized
# once (three consumers; Spark inlines CTEs).


def _lp_round(edges: str, labels: str, out: str) -> str:
    return f"""
{out}_vote AS (
    SELECT e.src AS node, l.lab, CAST(sum(e.w) AS BIGINT) AS wsum
    FROM {edges} e JOIN {labels} l ON l.node = e.dst
    GROUP BY e.src, l.lab
),
{out} AS (
    SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node
                                  ORDER BY wsum DESC, lab) AS rk
        FROM {out}_vote
    ) r WHERE rk = 1
)"""


def _lp_tail(edges: str) -> str:
    return f"""
labels0 AS (SELECT DISTINCT src AS node, src AS lab FROM {edges}),
{_lp_round(edges, "labels0", "labels1").lstrip()},
{_lp_round(edges, "labels1", "labels2").lstrip()}
SELECT l2.node AS brand,
       l1.lab AS label_round1,
       l2.lab AS label_round2
FROM labels2 l2 JOIN labels1 l1 ON l1.node = l2.node
ORDER BY brand
"""


@register(
    "graph_label_propagation",
    oracle="WITH edges AS (" + _EDGES_SQL + "),\n"
    + _lp_tail("edges").lstrip(),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous weighted label-propagation rounds on the brand
    co-purchase graph: per-node adopted label after each round
    (argmax incident weight, lexicographic tiebreak)."""
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "lp_edges")
    return spark.sql("WITH " + _lp_tail("lp_edges").lstrip())


# ---------------------------------------------------------------------------
# Degree assortativity (Newman 2002)
# ---------------------------------------------------------------------------
# The one-number mixing diagnostic: do high-degree brands co-purchase
# with other high-degree brands (r > 0, assortative) or with niche
# brands (r < 0, disassortative — the hub-and-spoke shape most retail
# graphs show)? r is the Pearson correlation of the (unweighted)
# endpoint degrees over all DIRECTED edges of the symmetric list,
# which is exactly Newman's undirected formula (the symmetric double
# count implements the ½(j+k) symmetrization).
#
# All five moment sums are exact BIGINTs (degree <= |brands|, edges
# <= brands² — products far below BIGINT range at any scale factor
# since the brand vocabulary is bounded); r is ONE snapped expression
# over them, NULL if a degree variance is zero.


def _assort_tail(edges: str) -> str:
    r_num = "(mom.n * mom.sxy - mom.sx * mom.sy)"
    r_den = (
        "sqrt(CAST(mom.n * mom.sxx - mom.sx * mom.sx AS DOUBLE)"
        " * CAST(mom.n * mom.syy - mom.sy * mom.sy AS DOUBLE))"
    )
    return f"""
deg AS (
    SELECT src AS brand, CAST(count(*) AS BIGINT) AS d
    FROM {edges} GROUP BY src
),
ej AS (
    SELECT d1.d AS dx, d2.d AS dy
    FROM {edges} e
    JOIN deg d1 ON d1.brand = e.src
    JOIN deg d2 ON d2.brand = e.dst
),
mom AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dx) AS BIGINT) AS sx,
           CAST(sum(dy) AS BIGINT) AS sy,
           CAST(sum(dx * dy) AS BIGINT) AS sxy,
           CAST(sum(dx * dx) AS BIGINT) AS sxx,
           CAST(sum(dy * dy) AS BIGINT) AS syy
    FROM ej
),
degstats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(d) AS BIGINT) AS min_degree,
           CAST(max(d) AS BIGINT) AS max_degree,
           CAST(sum(d) AS BIGINT) AS sum_degree
    FROM deg
)
SELECT s.n_nodes, CAST(floor(CAST(mom.n AS DOUBLE) / 2) AS BIGINT) AS n_edges,
       s.min_degree, s.max_degree,
       floor(CAST(s.sum_degree AS DOUBLE) / s.n_nodes * 1e6 + 0.5) / 1e6
           AS mean_degree,
       CASE WHEN mom.n * mom.sxx = mom.sx * mom.sx
              OR mom.n * mom.syy = mom.sy * mom.sy
            THEN CAST(NULL AS DOUBLE)
            ELSE floor(CAST({r_num} AS DOUBLE) / {r_den} * 1e6 + 0.5) / 1e6
       END AS assortativity
FROM mom CROSS JOIN degstats s
"""


@register(
    "graph_degree_assortativity",
    oracle="WITH edges AS (" + _EDGES_SQL + "),\n"
    + _assort_tail("edges").lstrip(),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree-assortativity coefficient of the brand
    co-purchase graph, plus degree summary stats — exact integer
    moment sums, one snapped Pearson expression."""
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "assort_edges")
    return spark.sql("WITH " + _assort_tail("assort_edges").lstrip())


# ---------------------------------------------------------------------------
# Harmonic + closeness centrality via unrolled BFS (depth ≤ 3)
# ---------------------------------------------------------------------------
# Exact shortest-path distances on the brand graph by three unrolled
# BFS frontiers (the co-purchase graph's diameter is ~2; depth-3 pairs
# are counted so a sparser corpus still resolves). Harmonic centrality
# Σ 1/d handles disconnection without a convention; classic closeness
# (reached / Σd) rides along. All set algebra is joins on the
# vocabulary-sized edge relation — the corpus-sized work remains the
# single edge-list build.

_CLOSE_TAIL = """
d1 AS (SELECT DISTINCT src, dst FROM e),
d2 AS (
    SELECT DISTINCT a.src, b.dst
    FROM d1 a JOIN d1 b ON a.dst = b.src AND a.src <> b.dst
    LEFT JOIN d1 x ON x.src = a.src AND x.dst = b.dst
    WHERE x.src IS NULL
),
d3 AS (
    SELECT DISTINCT a.src, b.dst
    FROM d2 a JOIN d1 b ON a.dst = b.src AND a.src <> b.dst
    LEFT JOIN d1 x ON x.src = a.src AND x.dst = b.dst
    LEFT JOIN d2 y ON y.src = a.src AND y.dst = b.dst
    WHERE x.src IS NULL AND y.src IS NULL
),
dist AS (
    SELECT src, dst, 1 AS d FROM d1
    UNION ALL SELECT src, dst, 2 AS d FROM d2
    UNION ALL SELECT src, dst, 3 AS d FROM d3
),
nodes AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM d1),
agg AS (
    SELECT src AS brand,
           CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
           CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
           CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3,
           CAST(count(*) AS BIGINT) AS n_reached,
           CAST(sum(d) AS BIGINT) AS sum_d
    FROM dist GROUP BY src
)
SELECT a.brand, a.n_d1, a.n_d2, a.n_d3, a.n_reached,
       floor((CAST(a.n_d1 AS DOUBLE) + CAST(a.n_d2 AS DOUBLE) / 2e0
              + CAST(a.n_d3 AS DOUBLE) / 3e0) * 1e6 + 0.5) / 1e6
           AS harmonic,
       floor((CAST(a.n_reached AS DOUBLE) / a.sum_d) * 1e6 + 0.5) / 1e6
           AS closeness,
       floor((CAST(a.n_reached AS DOUBLE) / (nd.n - 1)) * 1e6 + 0.5) / 1e6
           AS coverage
FROM agg a CROSS JOIN nodes nd
ORDER BY a.brand
"""

_CLOSE_SQL = "WITH e AS (" + _EDGES_SQL + "),\n" + _CLOSE_TAIL.lstrip()


@register("graph_closeness_centrality", oracle=_CLOSE_SQL)
def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand harmonic and classic closeness centrality from exact
    BFS distances (three unrolled frontiers) on the co-purchase graph,
    with per-depth reach counts and coverage.

    Scale: the corpus pass is the one edge-list build; every BFS
    frontier is a join between brand-domain relations (≤ brands² rows).
    """
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "close_edges")
    return spark.sql("WITH e AS (SELECT * FROM close_edges),\n" + _CLOSE_TAIL.lstrip())


# ---------------------------------------------------------------------------
# 4-truss peeling: triangle-support edge filtration, 3 unrolled rounds
# ---------------------------------------------------------------------------
# Truss decomposition's inner loop: an edge's support is its triangle
# count; the k-truss keeps edges with support ≥ k−2 and re-peels until
# fixpoint. Three unrolled rounds of the k=4 peel (support ≥ 2) on the
# brand graph — the dense co-purchase graph converges in 1-2 rounds;
# per-round survivor counts expose the filtration. Support is a
# common-neighbor join on the vocabulary-sized edge relation.

_TRUSS_K = 4


def _truss_round(prev: str, out: str) -> str:
    return f"""
supp_{out} AS (
    SELECT e.src, e.dst, CAST(count(w.dst) AS BIGINT) AS supp
    FROM {prev} e
    LEFT JOIN {prev} a ON a.src = e.src
    LEFT JOIN {prev} w ON w.src = a.dst AND w.dst = e.dst
    GROUP BY e.src, e.dst
),
{out} AS (
    SELECT src, dst FROM supp_{out} WHERE supp >= {_TRUSS_K - 2}
)"""


_TRUSS_TAIL = f"""
e0 AS (SELECT DISTINCT src, dst FROM e),
{_truss_round("e0", "e1").lstrip()},
{_truss_round("e1", "e2").lstrip()},
{_truss_round("e2", "e3").lstrip()},
rounds AS (
    SELECT 0 AS round, src, dst, CAST(NULL AS BIGINT) AS supp FROM e0
    UNION ALL SELECT 1, s.src, s.dst, s.supp FROM supp_e1 s
        JOIN e1 k ON k.src = s.src AND k.dst = s.dst
    UNION ALL SELECT 2, s.src, s.dst, s.supp FROM supp_e2 s
        JOIN e2 k ON k.src = s.src AND k.dst = s.dst
    UNION ALL SELECT 3, s.src, s.dst, s.supp FROM supp_e3 s
        JOIN e3 k ON k.src = s.src AND k.dst = s.dst
)
SELECT round,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
       CAST(min(supp) AS BIGINT) AS min_support,
       CAST(max(supp) AS BIGINT) AS max_support
FROM rounds
GROUP BY round
ORDER BY round
"""

_TRUSS_SQL = "WITH e AS (" + _EDGES_SQL + "),\n" + _TRUSS_TAIL.lstrip()


@register("graph_brand_ktruss", oracle=_TRUSS_SQL)
def graph_brand_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=4 truss peeling on the brand co-purchase graph: per peel
    round, surviving edge/node counts and the support range of the
    survivors (round 0 = the raw graph).

    Scale: the corpus pass is the one edge-list build; each peel round
    is a common-neighbor join between brand-domain relations.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "truss_edges")
    return spark.sql(
        "WITH e AS (SELECT * FROM truss_edges),\n" + _TRUSS_TAIL.lstrip()
    )


# ---------------------------------------------------------------------------
# Personalized PageRank from the hottest brand (2 damped rounds)
# ---------------------------------------------------------------------------
# Global PageRank (above) scores overall centrality; recommendation
# and related-item surfaces need proximity TO A SEED — the random walk
# with restart: r = 0.15·e_seed + 0.85·M r, seeded at the brand with
# the largest co-purchase weight (deterministic: (out_w DESC, brand)
# total order). Two unrolled rounds on the same vocabulary-bounded
# edge relation as the global query — contributions snap to the 1e-9
# grid and sum exactly; restart mass re-enters as a CASE term. The
# corpus-sized pass is the shared edge build; everything here is
# brand-domain work. Top-20 by proximity, totally ordered.


def _ppr_tail(edges: str) -> str:
    es = sql_exact_sum
    r = sql_stable_round
    contrib = "r0.r * (CAST(e.w AS DOUBLE) / ow.out_w)"

    def rnd(prev: str, out: str) -> str:
        return f"""
c_{out} AS (
    SELECT e.dst AS brand,
           {es(contrib.replace("r0.", f"{prev}."), 9)} AS s
    FROM {edges} e
    JOIN {prev} ON e.src = {prev}.brand
    JOIN outw ow ON e.src = ow.src
    WHERE {prev}.r > 0e0
    GROUP BY e.dst
),
{out} AS (
    SELECT o.src AS brand,
           {r("CASE WHEN o.src = s.sb THEN 15e-2 ELSE 0e0 END"
              f" + 85e-2 * coalesce(c_{out}.s, 0e0)", 9)} AS r
    FROM outw o CROSS JOIN seed s
    LEFT JOIN c_{out} ON c_{out}.brand = o.src
)"""

    return f"""
WITH outw AS (
    SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM {edges} GROUP BY src
),
seed AS (SELECT src AS sb FROM outw ORDER BY out_w DESC, src LIMIT 1),
r0 AS (
    SELECT o.src AS brand,
           CASE WHEN o.src = s.sb THEN 1e0 ELSE 0e0 END AS r
    FROM outw o CROSS JOIN seed s
),{rnd("r0", "r1")},{rnd("r1", "r2")}
SELECT s.sb AS seed_brand, r2.brand,
       {r("r2.r", 6)} AS ppr
FROM r2 CROSS JOIN seed s
ORDER BY ppr DESC, brand
LIMIT 20
"""


_PPR_DUCK = (
    "WITH edges AS (" + _EDGES_SQL + ")\n"
    + _ppr_tail("edges").replace("\nWITH outw", "\n, outw", 1)
)


@register("graph_personalized_pagerank", oracle=_PPR_DUCK)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart, 2 damped
    rounds) from the top-co-purchase-weight seed brand: the top-20
    related brands by walk proximity."""
    register_views(spark, sf_dir, "lineitem", "part")
    materialize(spark.sql(_EDGES_SQL), "ppr_edges")
    return spark.sql(_ppr_tail("ppr_edges"))
