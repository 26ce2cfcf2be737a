"""K-means Lloyd refinement over the embeddings table (SURVEY §2.8).

The index-build step IVF assumes: start from deterministic seed
centroids and run Lloyd iterations (assign → recompute means) entirely
as relational algebra — cross join against the (tiny, broadcastable)
centroid set for assignment, long-form position explode + avg for the
update, re-collected to arrays for the next round. Two iterations are
unrolled here so DuckDB can run the identical computation as a single
SQL statement (the oracle); `operators/clusters.py` holds the
driver-looped generalization pattern for unbounded iteration counts.

Cross-engine float discipline: distances and updated centroid
components are snapped to a 1e-6 grid at every step (floor(x*1e6+0.5)
form), and argmin ties break on cell id — so differing float summation
orders between engines cannot flip an assignment.

Scale (r12 form): assignment is map-side (no shuffle at all — the
k·d-double centroid array broadcasts at any corpus scale); the only
corpus-derived exchange per iteration is the (cell, dim) mean update,
partial-aggregated map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import register_views

_K = 8  # seed cells: embeddings of vec_id < _K (same seeding as IVF)


def _sql(dot, explode, collect, cast_vec, bigint) -> str:
    # Self-dots are precomputed per row (base.nrm2, cX.cnrm2): the
    # assignment cross join then pays ONE dot per (vector, cell) instead
    # of three. Same left-to-right expression tree as the inline form
    # ((nrm2 - 2*dot) + cnrm2), so every snapped distance is bit-identical.
    # r13: the ASSIGNMENT distances (a1/a2 — argmin decisions) snap the
    # inner dot to the 1e-6 grid first (d2s), per the repo's threshold-
    # compare invariant — an engine-order ulp in the dot can no longer
    # reach the distance compare. The drift OUTPUT keeps the raw-dot
    # form (d2) so the declared result is byte-identical to r12.
    def d2(bn: str, a: str, b: str, cn: str) -> str:
        expr = f"{bn} - 2 * {dot(a, b)} + {cn}"
        return f"floor(({expr}) * 1e6 + 0.5) / 1e6"

    def d2s(bn: str, a: str, b: str, cn: str) -> str:
        expr = f"{bn} - 2 * (floor(({dot(a, b)}) * 1e6 + 0.5) / 1e6) + {cn}"
        return f"floor(({expr}) * 1e6 + 0.5) / 1e6"

    return f"""
WITH base AS ({{base_src}}),
c0 AS (
    SELECT vec_id AS cell, v AS c, nrm2 AS cnrm2 FROM base WHERE vec_id < {_K}
),
a1 AS (
    SELECT b.vec_id, c0.cell, {d2s('b.nrm2', 'b.v', 'c0.c', 'c0.cnrm2')} AS dist
    FROM base b CROSS JOIN c0
),
m1 AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rnk
        FROM a1
    ) r WHERE rnk = 1
),
u1 AS (
    SELECT cell, d, floor(avg(x) * 1e6 + 0.5) / 1e6 AS c
    FROM ({explode('m1')}) e1
    GROUP BY cell, d
),
c1 AS (
    SELECT cell, c, {dot('c', 'c')} AS cnrm2
    FROM (SELECT cell, {collect} AS c FROM u1 GROUP BY cell) cc1
),
a2 AS (
    SELECT b.vec_id, c1.cell, {d2s('b.nrm2', 'b.v', 'c1.c', 'c1.cnrm2')} AS dist
    FROM base b CROSS JOIN c1
),
m2 AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rnk
        FROM a2
    ) r WHERE rnk = 1
),
u2 AS (
    SELECT cell, d, floor(avg(x) * 1e6 + 0.5) / 1e6 AS c
    FROM ({explode('m2')}) e2
    GROUP BY cell, d
),
c2 AS (
    SELECT cell, c, {dot('c', 'c')} AS cnrm2
    FROM (SELECT cell, {collect} AS c FROM u2 GROUP BY cell) cc2
),
members AS (SELECT cell, count(*) AS n FROM m2 GROUP BY cell)
SELECT
    c2.cell,
    {bigint('members.n')} AS n_members,
    floor(sqrt(c2.cnrm2) * 1e6 + 0.5) / 1e6 AS centroid_norm,
    floor(sqrt(greatest({d2('c1.cnrm2', 'c1.c', 'c2.c', 'c2.cnrm2')}, 0)) * 1e6 + 0.5) / 1e6 AS drift
FROM c2
JOIN c1 ON c1.cell = c2.cell
JOIN members ON members.cell = c2.cell
ORDER BY c2.cell
"""


_SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
)

# The base relation (vec_id, doubled vector, self-dot) is registered
# as a plain view (km_base): it is a cheap scan+cast map lineage, so
# its three consumers (seed slice, two assignment passes) re-derive it
# from column-pruned scans — measured faster than checkpoint-write+read
# locally and the right call at 100 TB (guide §5).
_SPARK_BASE_DERIVE = (
    "SELECT vec_id, v, "
    + _SPARK_DOT.format(a="v", b="v")
    + " AS nrm2 FROM (SELECT vec_id,"
    " transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings) b0"
)

# r12 optimization (guide §2.4 "remove shuffles outright"): the Spark
# side no longer runs the template's cross-join + row_number argmin.
# Assignment is a MAP-SIDE argmin against the centroid set collected
# into ONE array-of-structs row (8 centroids — broadcast-sized at any
# corpus scale): a broadcast nested-loop join attaches the array, a
# higher-order fold computes the same snapped distance expression
# ((nrm2 - 2*dot) + cnrm2, floor(x*1e6+0.5)/1e6) per centroid and keeps
# the strict minimum. The centroid array is CELL-ASCENDING (array_sort
# on the struct, cell is the first field) and the fold keeps the FIRST
# minimum, so ties break on the lowest cell — exactly row_number()
# ORDER BY dist, cell. This removes, per iteration: the 8N-row window
# shuffle+sort AND the member-explode's join back to base (v rides
# along with the assignment). The DuckDB oracle keeps the template
# form — results are proven identical by the driver-contract replays.

# Argmin fold over `cents` (array<struct<cell,c,cnrm2>>) for a row with
# columns (v, nrm2). Distance text matches _sql's d2s byte-for-byte
# modulo qualifiers: floor((nrm2 - 2*snap(dot) + cnrm2) * 1e6 + 0.5)/1e6
# with snap(x) = floor(x*1e6+0.5)/1e6 (r13: the decision dot snaps on
# both engines; the drift OUTPUT keeps the raw-dot form).
_KM_ARGMIN = (
    "aggregate(transform(cents, ct -> named_struct("
    "'dist', floor((nrm2 - 2 * (floor((aggregate(zip_with(v, ct.c, (x, y) -> x * y),"
    " CAST(0 AS DOUBLE), (acc, e) -> acc + e)) * 1e6 + 0.5) / 1e6) + ct.cnrm2) * 1e6 + 0.5) / 1e6,"
    " 'cell', ct.cell)),"
    " named_struct('dist', CAST('Infinity' AS DOUBLE), 'cell', CAST(-1 AS BIGINT)),"
    " (best, e) -> IF(e.dist < best.dist, e, best)).cell"
)

_KM_DOT_CC = (
    "aggregate(zip_with(c, c, (x, y) -> x * y),"
    " CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
)

# Iteration 1: seed centroids (vec_id < _K) -> assign -> per-(cell,d)
# snapped means -> 8-row (cell, c, cnrm2) relation. Materialized by the
# query fn (it feeds both the iteration-2 assignment and the final
# drift join; Spark inlines CTEs, so the inline form would re-run the
# whole iteration-1 corpus pass per reference). The assignment carries
# v, so the member explode needs NO join back to the corpus.
_SPARK_C1_SQL = f"""
WITH cents0 AS (
    SELECT array_sort(collect_list(named_struct(
        'cell', vec_id, 'c', v, 'cnrm2', nrm2))) AS cents
    FROM km_base WHERE vec_id < {_K}
),
a1 AS (
    SELECT v, {_KM_ARGMIN} AS cell
    FROM km_base CROSS JOIN cents0
),
u1 AS (
    SELECT cell, d, floor(avg(x) * 1e6 + 0.5) / 1e6 AS c
    FROM a1 LATERAL VIEW posexplode(v) t AS d, x
    GROUP BY cell, d
)
SELECT cell, c, {_KM_DOT_CC} AS cnrm2
FROM (SELECT cell,
             transform(array_sort(collect_list(named_struct('d', d, 'c', c))),
                       s -> s.c) AS c
      FROM u1 GROUP BY cell) cc1
"""

# Iteration 2 + report. n_members comes from the d=0 slice of the same
# aggregation that computes the means (every vector contributes exactly
# one d=0 row), so the assignment pass runs ONCE — no separate members
# aggregation over a re-executed subtree.
_SPARK_SQL = f"""
WITH cents1 AS (
    SELECT array_sort(collect_list(named_struct(
        'cell', cell, 'c', c, 'cnrm2', cnrm2))) AS cents
    FROM km_c1
),
a2 AS (
    SELECT v, {_KM_ARGMIN} AS cell
    FROM km_base CROSS JOIN cents1
),
u2 AS (
    SELECT cell, d, floor(avg(x) * 1e6 + 0.5) / 1e6 AS c, count(*) AS nd
    FROM a2 LATERAL VIEW posexplode(v) t AS d, x
    GROUP BY cell, d
),
c2 AS (
    SELECT cell, c, {_KM_DOT_CC} AS cnrm2, n_members
    FROM (SELECT cell,
                 transform(array_sort(collect_list(named_struct('d', d, 'c', c))),
                           s -> s.c) AS c,
                 max(CASE WHEN d = 0 THEN nd END) AS n_members
          FROM u2 GROUP BY cell) cc2
)
SELECT
    c2.cell,
    c2.n_members AS n_members,
    floor(sqrt(c2.cnrm2) * 1e6 + 0.5) / 1e6 AS centroid_norm,
    floor(sqrt(greatest(floor((c1.cnrm2 - 2 * aggregate(zip_with(c1.c, c2.c,
        (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, e) -> acc + e)
        + c2.cnrm2) * 1e6 + 0.5) / 1e6, 0)) * 1e6 + 0.5) / 1e6 AS drift
FROM c2
JOIN km_c1 c1 ON c1.cell = c2.cell
ORDER BY c2.cell
"""

_DUCK_SQL = _sql(
    dot=lambda a, b: f"list_dot_product({a}, {b})",
    explode=lambda m: (
        f"SELECT {m}.cell, unnest(generate_series(1, len(base.v))) AS d, "
        f"unnest(base.v) AS x FROM {m} "
        f"JOIN base ON base.vec_id = {m}.vec_id"
    ),
    collect="list(c ORDER BY d)",
    cast_vec="embedding::DOUBLE[]",
    bigint=lambda e: f"CAST({e} AS BIGINT)",
).format(
    base_src=(
        "SELECT vec_id, v, list_dot_product(v, v) AS nrm2"
        " FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) b0"
    )
)


@register("kmeans_lloyd_refine", oracle=_DUCK_SQL)
def kmeans_lloyd_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations from IVF seed centroids.

    Returns per-cell membership, centroid norm, and inter-iteration
    drift (the convergence signal a driver loop would test against).

    The iteration-1 centroids (8 rows) are materialized: they feed the
    iteration-2 assignment AND the drift join, and the inline form
    would re-run the whole iteration-1 corpus pass per reference. The
    doubled-vector base relation is NOT materialized any more (r12): it
    is a cheap scan+cast+fold map lineage, and re-executing it (3x:
    seed slice, two assignment passes) measures faster locally than
    checkpoint-write+read — and at 100 TB three column-pruned parquet
    scans beat writing a corpus-sized doubled copy to executor disks
    (guide §5: cache only when recomputing costs more than the
    materialization).
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    spark.sql(_SPARK_BASE_DERIVE).createOrReplaceTempView("km_base")
    materialize(spark.sql(_SPARK_C1_SQL), "km_c1")
    return spark.sql(_SPARK_SQL)


# ---------------------------------------------------------------------------
# Power iteration: dominant eigenvector of the embedding second-moment
# matrix (the PCA/whitening kernel)
# ---------------------------------------------------------------------------
# Two unrolled iterations of v <- normalize(A v) with A = Σ x xᵀ —
# the same unrolled-iteration discipline that made kmeans_lloyd_refine
# oracle-checkable. A is never materialized (d² would be fine at d=64,
# but the point is the scalable form): each iteration is
#   s(x) = x·v      one broadcast join of the d-row vector + hash agg
#   w_d  = Σ s(x)·x_d   one hash agg over the exploded corpus
# so cost is O(corpus · d) per iteration regardless of d². Used for
# PCA projection, embedding whitening, and spectral initialization.
#
# Float discipline: every cross-row sum is exact (1e-9-grid snapped
# products, DECIMAL accumulation); every derived vector snaps before
# it feeds the next stage, so both engines iterate on identical
# numbers. Start vector v0 = e_1 (deterministic; any vector not
# orthogonal to the dominant eigenvector converges).

from automated_data_pipeline_python_spark.functions.numeric import (  # noqa: E402
    sql_exact_sum,
    sql_stable_round,
)

_PI_X_SPARK = """
SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS val
FROM embeddings LATERAL VIEW posexplode(embedding) e AS pos, x
"""

_PI_X_DUCK = """
SELECT vec_id, unnest(generate_series(1, len(embedding))) AS dim,
       CAST(unnest(embedding) AS DOUBLE) AS val
FROM embeddings
"""


def _power_iter_tail(x: str) -> str:
    es = sql_exact_sum
    r = sql_stable_round
    return f"""
WITH s0 AS (
    SELECT vec_id, val AS s FROM {x} WHERE dim = 1
),
w1 AS (
    SELECT x.dim, {es("s0.s * x.val", 9)} AS w
    FROM {x} x JOIN s0 ON x.vec_id = s0.vec_id
    GROUP BY x.dim
),
w1s AS (SELECT dim, {r("w", 6)} AS w FROM w1),
n1 AS (SELECT sqrt({es("w * w", 9)}) AS nrm FROM w1s),
v1 AS (SELECT dim, {r("w / nrm", 9)} AS v FROM w1s, n1),
s1 AS (
    SELECT x.vec_id, {es("x.val * v1.v", 9)} AS s
    FROM {x} x JOIN v1 ON x.dim = v1.dim
    GROUP BY x.vec_id
),
s1s AS (SELECT vec_id, {r("s", 6)} AS s FROM s1),
w2 AS (
    SELECT x.dim, {es("s1s.s * x.val", 9)} AS w
    FROM {x} x JOIN s1s ON x.vec_id = s1s.vec_id
    GROUP BY x.dim
),
w2s AS (SELECT dim, {r("w", 6)} AS w FROM w2),
lam AS (
    SELECT {es("w2s.w * v1.v", 9)} AS eigval
    FROM w2s JOIN v1 ON w2s.dim = v1.dim
),
n2 AS (SELECT sqrt({es("w * w", 9)}) AS nrm FROM w2s)
SELECT CAST(w2s.dim AS INT) AS dim,
       {r("w2s.w / n2.nrm", 6)} AS v2,
       {r("lam.eigval", 4)} AS rayleigh
FROM w2s, n2, lam
"""


_PI_DUCK_SQL = (
    "WITH x AS (" + _PI_X_DUCK + ")\n"
    + _power_iter_tail("x").replace("WITH s0", ", s0", 1)
)


@register("embedding_power_iteration", oracle=_PI_DUCK_SQL)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector (2 power iterations) + Rayleigh quotient.

    The exploded (vec, dim, val) relation feeds three pipeline stages;
    Spark inlines CTEs, so it is materialized once via localCheckpoint
    (DuckDB materializes shared CTEs itself — single-statement oracle).
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(spark.sql(_PI_X_SPARK), "pi_x")
    return spark.sql(_power_iter_tail("pi_x"))


# ---------------------------------------------------------------------------
# Greedy k-center (Gonzalez) coreset selection
# ---------------------------------------------------------------------------
# Diversity-based data selection: pick the point farthest from every
# center chosen so far — Gonzalez's 2-approximation to the k-center
# objective, the standard coreset/active-learning seed selector
# (Sener & Savarese 2018 use exactly this over embeddings). Each round
# is ONE map-only pass updating the running min-distance against the
# newly selected (single, broadcast-sized) center plus ONE
# TakeOrdered argmax — never a pairwise product, so the shape survives
# any corpus scale; k rounds cost k corpus scans, the inherent price
# of the greedy algorithm.
#
# Cross-engine float discipline: squared distances reuse the kmeans
# expansion (nrm2 − 2·dot + cnrm2) snapped to the 1e-6 grid, the
# running minimum is a least() of snapped values, and every argmax
# tiebreaks on vec_id — so differing float summation orders cannot
# flip a selection.

_KC_ROUNDS = 3  # greedy selections after the deterministic seed


def _kc_d2(dot, bn: str, a: str, b: str, cn: str) -> str:
    expr = f"{bn} - 2 * {dot(a, b)} + {cn}"
    return f"floor(({expr}) * 1e6 + 0.5) / 1e6"


def _kcenter_sql(dot, base_src: str) -> str:
    d2 = lambda bn, a, b, cn: _kc_d2(dot, bn, a, b, cn)  # noqa: E731
    ctes = [
        f"base AS ({base_src})",
        "s0 AS (SELECT vec_id, v, nrm2 FROM base ORDER BY vec_id LIMIT 1)",
        (
            "d1 AS (SELECT b.vec_id, b.v, b.nrm2, "
            + d2("b.nrm2", "b.v", "s.v", "s.nrm2")
            + " AS dmin FROM base b CROSS JOIN s0 s)"
        ),
    ]
    for r in range(1, _KC_ROUNDS + 1):
        ctes.append(
            f"s{r} AS (SELECT vec_id, v, nrm2, dmin FROM d{r}"
            f" ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"d{r + 1} AS (SELECT d.vec_id, d.v, d.nrm2, "
            f"least(d.dmin, {d2('d.nrm2', 'd.v', 's.v', 's.nrm2')}) AS dmin "
            f"FROM d{r} d CROSS JOIN s{r} s)"
        )
    ctes.append(f"cov AS (SELECT max(dmin) AS r2 FROM d{_KC_ROUNDS + 1})")
    picks = ["SELECT 0 AS round, vec_id, 0e0 AS sel_dist2 FROM s0"] + [
        f"SELECT {r} AS round, vec_id, dmin AS sel_dist2 FROM s{r}"
        for r in range(1, _KC_ROUNDS + 1)
    ]
    union = "\nUNION ALL\n".join(picks)
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CAST(p.round AS INT) AS round,
       CAST(p.vec_id AS BIGINT) AS center_vec_id,
       p.sel_dist2,
       cov.r2 AS coverage_radius2
FROM ({union}) p CROSS JOIN cov
ORDER BY p.round
"""
    )


_KC_DUCK_SQL = _kcenter_sql(
    dot=lambda a, b: f"list_dot_product({a}, {b})",
    base_src=(
        "SELECT vec_id, v, list_dot_product(v, v) AS nrm2"
        " FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) b0"
    ),
)


@register("selection_kcenter_greedy", oracle=_KC_DUCK_SQL)
def selection_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (Gonzalez) selection over embeddings: seed =
    min vec_id, then 3 farthest-point selections, with the final
    coverage radius (max over points of the min squared distance to
    any selected center).

    Each round's running-min relation feeds two consumers (the argmax
    pick and the next round's update); Spark inlines CTEs, so every
    d-relation is materialized via localCheckpoint — otherwise round N
    re-executes the whole prefix exponentially (the BPE-rounds
    discipline).
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    dot = lambda a, b: _SPARK_DOT.format(a=a, b=b)  # noqa: E731
    d2 = lambda bn, a, b, cn: _kc_d2(dot, bn, a, b, cn)  # noqa: E731
    materialize(spark.sql(_SPARK_BASE_DERIVE), "kc_base")
    spark.sql(
        "SELECT vec_id, v, nrm2 FROM kc_base ORDER BY vec_id LIMIT 1"
    ).createOrReplaceTempView("kc_s0")
    materialize(
        spark.sql(
            "SELECT b.vec_id, b.v, b.nrm2, "
            + d2("b.nrm2", "b.v", "s.v", "s.nrm2")
            + " AS dmin FROM kc_base b CROSS JOIN kc_s0 s"
        ),
        "kc_d1",
    )
    for r in range(1, _KC_ROUNDS + 1):
        spark.sql(
            f"SELECT vec_id, v, nrm2, dmin FROM kc_d{r}"
            f" ORDER BY dmin DESC, vec_id LIMIT 1"
        ).createOrReplaceTempView(f"kc_s{r}")
        materialize(
            spark.sql(
                f"SELECT d.vec_id, d.v, d.nrm2, "
                f"least(d.dmin, {d2('d.nrm2', 'd.v', 's.v', 's.nrm2')}) AS dmin "
                f"FROM kc_d{r} d CROSS JOIN kc_s{r} s"
            ),
            f"kc_d{r + 1}",
        )
    picks = ["SELECT 0 AS round, vec_id, 0e0 AS sel_dist2 FROM kc_s0"] + [
        f"SELECT {r} AS round, vec_id, dmin AS sel_dist2 FROM kc_s{r}"
        for r in range(1, _KC_ROUNDS + 1)
    ]
    union = "\nUNION ALL\n".join(picks)
    return spark.sql(
        f"""
WITH cov AS (SELECT max(dmin) AS r2 FROM kc_d{_KC_ROUNDS + 1})
SELECT CAST(p.round AS INT) AS round,
       CAST(p.vec_id AS BIGINT) AS center_vec_id,
       p.sel_dist2,
       cov.r2 AS coverage_radius2
FROM ({union}) p CROSS JOIN cov
ORDER BY p.round
"""
    )


# ---------------------------------------------------------------------------
# Davies-Bouldin index of the Lloyd assignment (cluster-quality gate)
# ---------------------------------------------------------------------------
# The clustering family fits (Lloyd, k-center, label propagation) but
# never SCORES a partition; Davies-Bouldin is the standard internal
# index a pipeline gates on before trusting cluster-derived features:
# DB = (1/k) * sum_i max_{j!=i} (S_i + S_j) / M_ij with S_i the mean
# member-to-centroid distance and M_ij the centroid separation. Lower
# is better; the index needs only centroids + one distance pass, so it
# scales where silhouette (all-pairs) cannot.
#
# Shape: one Lloyd assignment from the IVF seed centroids (the
# kmeans_lloyd_refine discipline — snapped distances, id tie-breaks),
# one corpus pass for per-member distances to the UPDATED centroids
# (each sqrt snapped to 1e-6 and summed as exact scaled integers, so
# S_i is order-independent), then an 8x8 centroid grid for M_ij. No
# all-pairs anywhere; the corpus never shuffles on anything but the
# argmin key.


def _db_sql(dot, explode, collect, bigint) -> str:
    def d2(bn: str, a: str, b: str, cn: str) -> str:
        expr = f"{bn} - 2 * {dot(a, b)} + {cn}"
        return f"floor(({expr}) * 1e6 + 0.5) / 1e6"

    sdist = (
        "CAST(floor(sqrt(greatest("
        + d2("b.nrm2", "b.v", "c1.c", "c1.cnrm2")
        + ", 0)) * 1e6 + 0.5) AS BIGINT)"
    )
    return f"""
WITH base AS ({{base_src}}),
c0 AS (
    SELECT vec_id AS cell, v AS c, nrm2 AS cnrm2 FROM base WHERE vec_id < {_K}
),
a1 AS (
    SELECT b.vec_id, c0.cell, {d2('b.nrm2', 'b.v', 'c0.c', 'c0.cnrm2')} AS dist
    FROM base b CROSS JOIN c0
),
m1 AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rnk
        FROM a1
    ) r WHERE rnk = 1
),
u1 AS (
    SELECT cell, d, floor(avg(x) * 1e6 + 0.5) / 1e6 AS c
    FROM ({explode('m1')}) e1
    GROUP BY cell, d
),
c1 AS (
    SELECT cell, c, {dot('c', 'c')} AS cnrm2
    FROM (SELECT cell, {collect} AS c FROM u1 GROUP BY cell) cc1
),
intra AS (
    SELECT m1.cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum({sdist}) AS DOUBLE) / 1e6 / count(*) AS s_intra
    FROM m1
    JOIN base b ON b.vec_id = m1.vec_id
    JOIN c1 ON c1.cell = m1.cell
    GROUP BY m1.cell
),
sep AS (
    SELECT ci.cell AS i, cj.cell AS j,
           floor(sqrt(greatest({d2('ci.cnrm2', 'ci.c', 'cj.c', 'cj.cnrm2')},
                               0)) * 1e6 + 0.5) / 1e6 AS m_ij
    FROM c1 ci JOIN c1 cj ON ci.cell <> cj.cell
),
ratios AS (
    SELECT s.i AS cell,
           max(floor((a.s_intra + b.s_intra) / s.m_ij * 1e6 + 0.5) / 1e6)
               AS r_max
    FROM sep s
    JOIN intra a ON a.cell = s.i
    JOIN intra b ON b.cell = s.j
    WHERE s.m_ij > 0
    GROUP BY s.i
),
db AS (
    SELECT floor(avg(r_max) * 1e6 + 0.5) / 1e6 AS db_index FROM ratios
)
SELECT {bigint('i.cell')} AS cell, i.n_members,
       floor(i.s_intra * 1e6 + 0.5) / 1e6 AS s_intra,
       r.r_max, db.db_index
FROM intra i
JOIN ratios r ON r.cell = i.cell
CROSS JOIN db
ORDER BY cell
"""


_DB_SPARK_SQL = _db_sql(
    dot=lambda a, b: (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
    ),
    explode=lambda m: (
        f"SELECT {m}.cell, d, x FROM {m} "
        f"JOIN base ON base.vec_id = {m}.vec_id "
        f"LATERAL VIEW posexplode(base.v) t AS d, x"
    ),
    collect="transform(array_sort(collect_list(named_struct('d', d, 'c', c))), s -> s.c)",
    bigint=lambda e: e,
).format(base_src="SELECT * FROM km_base")

_DB_DUCK_SQL = _db_sql(
    dot=lambda a, b: f"list_dot_product({a}, {b})",
    explode=lambda m: (
        f"SELECT {m}.cell, unnest(generate_series(1, len(base.v))) AS d, "
        f"unnest(base.v) AS x FROM {m} "
        f"JOIN base ON base.vec_id = {m}.vec_id"
    ),
    collect="list(c ORDER BY d)",
    bigint=lambda e: f"CAST({e} AS BIGINT)",
).format(
    base_src=(
        "SELECT vec_id, v, list_dot_product(v, v) AS nrm2"
        " FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) b0"
    )
)


@register("clustering_davies_bouldin", oracle=_DB_DUCK_SQL)
def clustering_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index of the one-step Lloyd partition: per-cell
    mean member distance (exact scaled-integer sums), worst
    same-partner ratio, and the global index — the internal quality
    gate that scales where all-pairs silhouette cannot."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(spark.sql(_SPARK_BASE_DERIVE), "km_base")
    return spark.sql(_DB_SPARK_SQL)


# ---------------------------------------------------------------------------
# Cluster-label purity (do embedding cells align with labels?)
# ---------------------------------------------------------------------------
# The external counterpart of the Davies-Bouldin internal index: given
# the SAME one-step Lloyd partition, how well do cells agree with the
# ground-truth labels? Per cell: majority label, purity (majority
# share), and label entropy; globally: the member-weighted purity —
# the number an embedding-quality gate thresholds before trusting
# cluster-derived pseudo-labels. Same assignment subtree as
# clustering_davies_bouldin (snapped distances, id tie-breaks), one
# label join back, then bounded (cells x labels) algebra.


def _purity_sql(dot, bigint) -> str:
    def d2(bn: str, a: str, b: str, cn: str) -> str:
        expr = f"{bn} - 2 * {dot(a, b)} + {cn}"
        return f"floor(({expr}) * 1e6 + 0.5) / 1e6"

    return f"""
WITH base AS ({{base_src}}),
c0 AS (
    SELECT vec_id AS cell, v AS c, nrm2 AS cnrm2 FROM base WHERE vec_id < {_K}
),
a1 AS (
    SELECT b.vec_id, c0.cell, {d2('b.nrm2', 'b.v', 'c0.c', 'c0.cnrm2')} AS dist
    FROM base b CROSS JOIN c0
),
m1 AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rnk
        FROM a1
    ) r WHERE rnk = 1
),
cl AS (
    SELECT m1.cell, e.label, CAST(count(*) AS BIGINT) AS n
    FROM m1 JOIN embeddings e ON e.vec_id = m1.vec_id
    GROUP BY m1.cell, e.label
),
per_cell AS (
    SELECT cell,
           CAST(sum(n) AS BIGINT) AS n_members,
           CAST(max(n) AS BIGINT) AS n_majority
    FROM cl GROUP BY cell
),
major AS (
    SELECT cell, label AS majority_label FROM (
        SELECT cell, label,
               row_number() OVER (PARTITION BY cell
                                  ORDER BY n DESC, label) AS rnk
        FROM cl
    ) m WHERE rnk = 1
),
ent AS (
    SELECT c.cell,
           CAST(sum(CAST(floor(-(CAST(c.n AS DOUBLE) / p.n_members)
                               * ln(CAST(c.n AS DOUBLE) / p.n_members)
                               * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6
               AS label_entropy
    FROM cl c JOIN per_cell p ON p.cell = c.cell
    GROUP BY c.cell
),
g_all AS (
    SELECT floor(CAST(sum(n_majority) AS DOUBLE) / sum(n_members)
                 * 1e6 + 0.5) / 1e6 AS overall_purity
    FROM per_cell
)
SELECT {bigint('p.cell')} AS cell, p.n_members,
       {bigint('m.majority_label')} AS majority_label,
       floor(CAST(p.n_majority AS DOUBLE) / p.n_members * 1e6 + 0.5) / 1e6
           AS purity,
       e.label_entropy, g.overall_purity
FROM per_cell p
JOIN major m ON m.cell = p.cell
JOIN ent e ON e.cell = p.cell
CROSS JOIN g_all g
ORDER BY cell
"""


_PURITY_SPARK_SQL = _purity_sql(
    dot=lambda a, b: (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
    ),
    bigint=lambda e: e,
).format(base_src="SELECT * FROM km_base")

_PURITY_DUCK_SQL = _purity_sql(
    dot=lambda a, b: f"list_dot_product({a}, {b})",
    bigint=lambda e: f"CAST({e} AS BIGINT)",
).format(
    base_src=(
        "SELECT vec_id, v, list_dot_product(v, v) AS nrm2"
        " FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) b0"
    )
)


@register("clustering_label_purity", oracle=_PURITY_DUCK_SQL)
def clustering_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell majority label, purity, and label entropy of the
    one-step Lloyd partition, with member-weighted overall purity —
    the external cluster-quality gate beside Davies-Bouldin's
    internal one."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(spark.sql(_SPARK_BASE_DERIVE), "km_base")
    return spark.sql(_PURITY_SPARK_SQL)


# ---------------------------------------------------------------------------
# Adjusted Rand index of the Lloyd partition vs labels (round 10)
# ---------------------------------------------------------------------------
# clustering_label_purity reports per-cell majority agreement, but
# purity is gameable (k = n gives purity 1); the standard
# chance-corrected external index is the Adjusted Rand Index (Hubert &
# Arabie 1985): pair-counting agreement between the partition and the
# labels, rescaled so random labellings score 0. Same one-step Lloyd
# assignment subtree as purity/Davies-Bouldin, so all three external/
# internal gates judge the SAME partition.
#
# Exactness: every pair sum is an exact integer — the DOUBLED pair
# count x·(x-1) = 2·C(x,2) promotes to DECIMAL(38,0) before multiplying
# (cell sizes are corpus-scaled), and the factor of 2 cancels
# algebraically in both the ARI and Rand expressions, so no halving
# division ever happens (DECIMAL/2 promotes to DOUBLE in DuckDB and
# loses exactness past 2^53). ARI/RI are single float expressions over
# the 4-number rollup, snapped at output. The contingency grid is
# (cells x labels)-bounded and referenced by seven scalar subqueries,
# so the Spark side materializes it once (localCheckpoint — Spark
# inlines CTEs; DuckDB materializes shared CTEs itself); the corpus
# shuffles once on the argmin key and once on the grid key.


def _ari_grid_ctes(dot) -> str:
    """CTE chain (no WITH keyword) ending in cl — the (cell, label, n)
    contingency grid of the one-step Lloyd partition vs labels,
    parameterized by {base_src}."""

    def d2(bn: str, a: str, b: str, cn: str) -> str:
        expr = f"{bn} - 2 * {dot(a, b)} + {cn}"
        return f"floor(({expr}) * 1e6 + 0.5) / 1e6"

    return f"""base AS ({{base_src}}),
c0 AS (
    SELECT vec_id AS cell, v AS c, nrm2 AS cnrm2 FROM base WHERE vec_id < {_K}
),
a1 AS (
    SELECT b.vec_id, c0.cell, {d2('b.nrm2', 'b.v', 'c0.c', 'c0.cnrm2')} AS dist
    FROM base b CROSS JOIN c0
),
m1 AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rnk
        FROM a1
    ) r WHERE rnk = 1
),
cl AS (
    SELECT m1.cell, e.label, CAST(count(*) AS BIGINT) AS n
    FROM m1 JOIN embeddings e ON e.vec_id = m1.vec_id
    GROUP BY m1.cell, e.label
)"""


def _c2x(x: str) -> str:
    # Doubled pair count x·(x-1) = 2·C(x,2): exact in DECIMAL(38,0) on
    # both engines; the 2 cancels in ARI and RI below.
    return f"CAST(CAST({x} AS DECIMAL(38,0)) * ({x} - 1) AS DECIMAL(38,0))"


# Tail over the materialized grid {cl} (CTE chain, no WITH keyword).
# With every sum doubled (s' = 2s), numerator s'_ij − s'_i·s'_j/s'_0 =
# 2·num and denominator (s'_i + s'_j)/2 − s'_i·s'_j/s'_0 = 2·den, so
# ARI is unchanged; the Rand ratio's doubling cancels termwise.
_ARI_TAIL = f"""sums AS (
    SELECT
        CAST(sum({_c2x('n')}) AS DECIMAL(38,0)) AS s_ij,
        (SELECT CAST(sum({_c2x('a')}) AS DECIMAL(38,0))
         FROM (SELECT CAST(sum(n) AS BIGINT) AS a FROM {{cl}} GROUP BY cell) ga)
            AS s_i,
        (SELECT CAST(sum({_c2x('b')}) AS DECIMAL(38,0))
         FROM (SELECT CAST(sum(n) AS BIGINT) AS b FROM {{cl}} GROUP BY label) gb)
            AS s_j,
        (SELECT {_c2x('t')}
         FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM {{cl}}) gt) AS s_0,
        (SELECT CAST(count(*) AS BIGINT)
         FROM (SELECT DISTINCT cell FROM {{cl}}) dc) AS n_cells,
        (SELECT CAST(count(*) AS BIGINT)
         FROM (SELECT DISTINCT label FROM {{cl}}) dl) AS n_labels,
        (SELECT CAST(sum(n) AS BIGINT) FROM {{cl}}) AS n_points
    FROM {{cl}}
)
SELECT n_points, n_cells, n_labels,
       floor((CAST(s_ij AS DOUBLE)
              - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE)
                / CAST(s_0 AS DOUBLE))
             / ((CAST(s_i AS DOUBLE) + CAST(s_j AS DOUBLE)) / 2e0
                - CAST(s_i AS DOUBLE) * CAST(s_j AS DOUBLE)
                  / CAST(s_0 AS DOUBLE))
             * 1e6 + 0.5) / 1e6 AS adjusted_rand,
       floor((CAST(s_0 AS DOUBLE) + 2e0 * CAST(s_ij AS DOUBLE)
              - CAST(s_i AS DOUBLE) - CAST(s_j AS DOUBLE))
             / CAST(s_0 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS rand_index
FROM sums
"""


_ARI_GRID_SPARK_SQL = (
    "WITH "
    + _ari_grid_ctes(
        dot=lambda a, b: (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
            f" CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
        ),
    ).format(base_src="SELECT * FROM km_base")
    + "\nSELECT cell, label, n FROM cl"
)

_ARI_DUCK_SQL = (
    "WITH "
    + _ari_grid_ctes(dot=lambda a, b: f"list_dot_product({a}, {b})").format(
        base_src=(
            "SELECT vec_id, v, list_dot_product(v, v) AS nrm2"
            " FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) b0"
        )
    )
    + ",\n"
    + _ARI_TAIL.format(cl="cl")
)


@register("clustering_adjusted_rand", oracle=_ARI_DUCK_SQL)
def clustering_adjusted_rand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index (and raw Rand) between the one-step Lloyd
    partition and the ground-truth labels — the chance-corrected
    external gate purity cannot be (exact doubled DECIMAL pair sums;
    the contingency grid materializes once for its seven references)."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(spark.sql(_SPARK_BASE_DERIVE), "km_base")
    materialize(spark.sql(_ARI_GRID_SPARK_SQL), "ari_cl")
    return spark.sql("WITH " + _ARI_TAIL.format(cl="ari_cl"))


# ---------------------------------------------------------------------------
# Simplified (centroid-based) silhouette (round 10)
# ---------------------------------------------------------------------------
# The classic silhouette needs all-pairs distances — quadratic, the
# exact thing this module avoids; the SIMPLIFIED silhouette
# (Hruschka et al. 2004, what Spark MLlib's evaluator computes)
# replaces mean member distance with centroid distance: a = d(x, own
# centroid), b = min over other centroids, s = (b-a)/max(a,b). Same
# one-step Lloyd partition and UPDATED centroids as Davies-Bouldin, so
# the internal gates agree on what they score; cost is one k-way
# cross join — linear in members, never pairs.
#
# Exactness: distances snap to 1e-6 (the module's shared discipline);
# per-point s snaps before the exact scaled-integer mean, so per-cell
# and overall means are order-independent.


def _sil_sql(dot, explode, collect, bigint) -> str:
    def d2(bn: str, a: str, b: str, cn: str) -> str:
        expr = f"{bn} - 2 * {dot(a, b)} + {cn}"
        return f"floor(({expr}) * 1e6 + 0.5) / 1e6"

    return f"""
WITH base AS ({{base_src}}),
c0 AS (
    SELECT vec_id AS cell, v AS c, nrm2 AS cnrm2 FROM base WHERE vec_id < {_K}
),
a1 AS (
    SELECT b.vec_id, c0.cell, {d2('b.nrm2', 'b.v', 'c0.c', 'c0.cnrm2')} AS dist
    FROM base b CROSS JOIN c0
),
m1 AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rnk
        FROM a1
    ) r WHERE rnk = 1
),
u1 AS (
    SELECT cell, d, floor(avg(x) * 1e6 + 0.5) / 1e6 AS c
    FROM ({explode('m1')}) e1
    GROUP BY cell, d
),
c1 AS (
    SELECT cell, c, {dot('c', 'c')} AS cnrm2
    FROM (SELECT cell, {collect} AS c FROM u1 GROUP BY cell) cc1
),
dists AS (
    SELECT b.vec_id, m1.cell AS own, c1.cell,
           floor(sqrt(greatest({d2('b.nrm2', 'b.v', 'c1.c', 'c1.cnrm2')},
                               0)) * 1e6 + 0.5) / 1e6 AS dist
    FROM base b
    JOIN m1 ON m1.vec_id = b.vec_id
    CROSS JOIN c1
),
ab AS (
    SELECT vec_id, own,
           min(CASE WHEN cell = own THEN dist END) AS a_own,
           min(CASE WHEN cell <> own THEN dist END) AS b_other
    FROM dists GROUP BY vec_id, own
),
s AS (
    SELECT own AS cell,
           CAST(floor(CASE WHEN greatest(a_own, b_other) > 0e0
                           THEN (b_other - a_own) / greatest(a_own, b_other)
                           ELSE 0e0 END * 1e6 + 0.5) AS BIGINT) AS s6
    FROM ab
),
per_cell AS (
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_members,
           floor(CAST(sum(s6) AS DOUBLE) / count(*) + 0.5) / 1e6
               AS mean_silhouette
    FROM s GROUP BY cell
),
overall AS (
    SELECT floor(CAST(sum(s6) AS DOUBLE) / count(*) + 0.5) / 1e6
               AS overall_silhouette
    FROM s
)
SELECT {bigint('p.cell')} AS cell, p.n_members, p.mean_silhouette,
       o.overall_silhouette
FROM per_cell p CROSS JOIN overall o
ORDER BY cell
"""


_SIL_SPARK_SQL = _sil_sql(
    dot=lambda a, b: (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" CAST(0 AS DOUBLE), (acc, e) -> acc + e)"
    ),
    explode=lambda m: (
        f"SELECT {m}.cell, d, x FROM {m} "
        f"JOIN base ON base.vec_id = {m}.vec_id "
        f"LATERAL VIEW posexplode(base.v) t AS d, x"
    ),
    collect="transform(array_sort(collect_list(named_struct('d', d, 'c', c))), s -> s.c)",
    bigint=lambda e: e,
).format(base_src="SELECT * FROM km_base")

_SIL_DUCK_SQL = _sil_sql(
    dot=lambda a, b: f"list_dot_product({a}, {b})",
    explode=lambda m: (
        f"SELECT {m}.cell, unnest(generate_series(1, len(base.v))) AS d, "
        f"unnest(base.v) AS x FROM {m} "
        f"JOIN base ON base.vec_id = {m}.vec_id"
    ),
    collect="list(c ORDER BY d)",
    bigint=lambda e: f"CAST({e} AS BIGINT)",
).format(
    base_src=(
        "SELECT vec_id, v, list_dot_product(v, v) AS nrm2"
        " FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) b0"
    )
)


@register("clustering_silhouette_simplified", oracle=_SIL_DUCK_SQL)
def clustering_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette of the one-step Lloyd
    partition — per-cell and overall means from snapped per-point
    scores, linear in members where all-pairs silhouette is
    quadratic."""
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(spark.sql(_SPARK_BASE_DERIVE), "km_base")
    return spark.sql(_SIL_SPARK_SQL)
