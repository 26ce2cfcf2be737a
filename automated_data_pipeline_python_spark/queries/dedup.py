"""Deduplication operators over ``documents``/``embeddings`` (SURVEY §2.8).

Five dedup families, each a complete pipeline with a value-identical
DuckDB oracle (portable SHA-derived hashing — see functions.text):

- exact       : canonical-normalize → SHA-256 → group
- minhash-LSH : shingle → 16 minhash perms → 4 bands → bucket-join →
                jaccard-verify candidates (the 100 TB-scale path: cost is
                O(docs × shingles) + bucket joins, never O(docs²));
                bucket-size-capped BY DEFAULT (giant buckets hand off to
                exact dedup; uncapped twin kept as a diagnostic)
- simhash     : 32-bit sign-of-weighted-bits fingerprint + chunk-blocked
                hamming pairs
- n-gram jaccard : direct shingle-join pairwise similarity (exact but
                O(pairs sharing a shingle) — the verify step / small-set path)
- embedding   : label-blocked cosine near-dup pairs

Scale notes: every pipeline is shuffle-bounded by (doc_id, shingle) or
bucket keys; none materializes a docs×docs product. At 100 TB the same
plans hold with shingle-hash salting for hot shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.functions.text import (
    DUCK_TOKENS,
    SPARK_TOKENS,
    duck_hash28,
    duck_hash60,
    duck_word_shingles,
    spark_hash28,
    spark_hash60,
    spark_word_shingles,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import load_scaled, register_views

_S_TOK = SPARK_TOKENS.format(col="text")
_D_TOK = DUCK_TOKENS.format(col="text")

# MinHash parameters: 16 permutations in 4 bands of 4 → catches
# jaccard ≳ 0.5 with high probability. Permutation i: (a_i·h + b_i) mod p
# with a_i = 2i+1, b_i = i·12582917, p = 2^31 − 1 (all arithmetic stays
# far below int64 overflow on 28-bit shingle hashes — DuckDB *raises* on
# BIGINT overflow, so this bound is load-bearing for oracle parity).
_N_PERM = 16
_BAND = 4
_PRIME = 2_147_483_647
_B_MULT = 12_582_917
_JACCARD_THRESHOLD = 0.5


# ---------------------------------------------------------------------------
# Exact dedup: canonical key (reference cache.py:58-74 pattern → content hash)
# ---------------------------------------------------------------------------

_NORM_SPARK = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
_NORM_DUCK = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

_EXACT_SPARK_SQL = f"""
SELECT
    sha2({_NORM_SPARK}, 256) AS content_hash,
    count(*)                 AS cnt,
    min(doc_id)              AS canonical_id,
    max(doc_id)              AS last_id
FROM documents
GROUP BY content_hash
"""

_EXACT_DUCK_SQL = f"""
SELECT
    sha256({_NORM_DUCK})     AS content_hash,
    CAST(count(*) AS BIGINT) AS cnt,
    min(doc_id)              AS canonical_id,
    max(doc_id)              AS last_id
FROM documents
GROUP BY content_hash
"""


@register("dedup_exact_documents", oracle=_EXACT_DUCK_SQL)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via whitespace-normalized SHA-256 content hash.

    One hash-aggregate over the corpus; the canonical-key construction
    mirrors the reference's cache key (sha256 of normalized content,
    reference pipeline/utils/cache.py:58-74).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_EXACT_SPARK_SQL)


# ---------------------------------------------------------------------------
# MinHash + LSH banding → candidate pairs → jaccard verification
# ---------------------------------------------------------------------------


_MINHASH_DUCK_SQL = f"""
WITH toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks, UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)
),
hashed AS (
    SELECT doc_id, {duck_hash28('shingle')} AS h FROM sh
),
perm AS (SELECT i FROM generate_series(0, {_N_PERM - 1}) AS g(i)),
mh AS (
    SELECT doc_id, i, min(((2 * i + 1) * h + i * {_B_MULT}) % {_PRIME}) AS m
    FROM hashed CROSS JOIN perm
    GROUP BY doc_id, i
),
bands AS (
    SELECT doc_id, i // {_BAND} AS band,
           string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS sig
    FROM mh
    GROUP BY doc_id, i // {_BAND}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS isect
    FROM cand c
    JOIN sh s1 ON s1.doc_id = c.doc_a
    JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
    GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       floor((CAST(isect AS DOUBLE) / (na.n + nb.n - isect)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM inter
JOIN sizes na ON inter.doc_a = na.doc_id
JOIN sizes nb ON inter.doc_b = nb.doc_id
WHERE CAST(isect AS DOUBLE) / (na.n + nb.n - isect) >= {_JACCARD_THRESHOLD}
"""


# r12 optimization (guide §2.3/§2.4): a document's DISTINCT shingle set
# is intra-row (array_distinct over its own shingle array), so the old
# corpus-wide DISTINCT exchange over shingle STRINGS — the fattest
# shuffle in the pipeline — disappears: mh_sets is one row per doc
# carrying the distinct-shingle array, computed entirely map-side.
# Docs with <3 tokens have no shingles and were absent from the old
# (exploded) relation — the size(hs) > 0 filter on the signature branch
# preserves that (empty docs can then never reach a band bucket, and
# the verify branch only sees docs that appear in candidates). The
# SHA-derived portable hash array (the expensive scalar) is computed
# once per doc INSIDE the materialization: the signature branch's 16
# permutation projections would otherwise each re-expand the transform
# after project collapsing (measured 16x the SHA work — a 4.5x wall
# regression before this was pinned into the checkpoint).
# NO row filter here: a predicate on size(shs) would be pushed below
# load_scaled's repartition exchange and re-expand the whole
# tokenize+distinct pipeline into a single-core pre-exchange Filter
# (measured 5x wall). Empty docs ride along as empty arrays and are
# dropped AFTER materialization (mins' WHERE below reads checkpointed
# data — nothing to re-expand).
_MINHASH_SETS_SPARK = f"""
SELECT doc_id, shs, transform(shs, s -> {spark_hash28('s')}) AS hs
FROM (SELECT doc_id, array_distinct({spark_word_shingles('w', 3)}) AS shs
      FROM (SELECT doc_id, {_S_TOK} AS w FROM documents) toks) d
"""

# Same per-doc set relation without the SHA hash array, for consumers
# whose discovery is keyed on shingle strings (prefix filter) — no
# point paying a SHA pass they never read.
_SETS_SHS_ONLY_SPARK = f"""
SELECT doc_id, array_distinct({spark_word_shingles('w', 3)}) AS shs
FROM (SELECT doc_id, {_S_TOK} AS w FROM documents) toks
"""

# Exploded (doc_id, shingle, h) relation. Post-r13 no query
# materializes it (the capped discovery moved to xxhash64 ints); kept
# as the textbook form for ground-truth construction in tests
# (test_mllib_parity, test_skew).
_MINHASH_SH_SPARK = f"""
WITH toks AS (
    SELECT doc_id, {_S_TOK} AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks LATERAL VIEW explode({spark_word_shingles('w', 3)}) t AS shingle
)
SELECT doc_id, shingle, {spark_hash28('shingle')} AS h FROM sh
"""

_MINHASH_TAIL_SPARK = f"""
-- all 16 permutation minima map-side from the per-doc hash array (the
-- old form was one grouped aggregation pass over exploded rows — one
-- full-corpus exchange; this one shuffles nothing)
WITH mins AS (
    SELECT doc_id,
           array_min(transform(hs, h -> ((1) * h + 0) % 2147483647)) AS m0,
           array_min(transform(hs, h -> ((3) * h + 12582917) % 2147483647)) AS m1,
           array_min(transform(hs, h -> ((5) * h + 25165834) % 2147483647)) AS m2,
           array_min(transform(hs, h -> ((7) * h + 37748751) % 2147483647)) AS m3,
           array_min(transform(hs, h -> ((9) * h + 50331668) % 2147483647)) AS m4,
           array_min(transform(hs, h -> ((11) * h + 62914585) % 2147483647)) AS m5,
           array_min(transform(hs, h -> ((13) * h + 75497502) % 2147483647)) AS m6,
           array_min(transform(hs, h -> ((15) * h + 88080419) % 2147483647)) AS m7,
           array_min(transform(hs, h -> ((17) * h + 100663336) % 2147483647)) AS m8,
           array_min(transform(hs, h -> ((19) * h + 113246253) % 2147483647)) AS m9,
           array_min(transform(hs, h -> ((21) * h + 125829170) % 2147483647)) AS m10,
           array_min(transform(hs, h -> ((23) * h + 138412087) % 2147483647)) AS m11,
           array_min(transform(hs, h -> ((25) * h + 150995004) % 2147483647)) AS m12,
           array_min(transform(hs, h -> ((27) * h + 163577921) % 2147483647)) AS m13,
           array_min(transform(hs, h -> ((29) * h + 176160838) % 2147483647)) AS m14,
           array_min(transform(hs, h -> ((31) * h + 188743755) % 2147483647)) AS m15
    FROM mh_sets WHERE size(hs) > 0
),
bands AS (
    SELECT doc_id, band, s0, s1, s2, s3
    FROM mins
    LATERAL VIEW stack(4,
            0, m0, m1, m2, m3,
            1, m4, m5, m6, m7,
            2, m8, m9, m10, m11,
            3, m12, m13, m14, m15) t AS band, s0, s1, s2, s3
),
-- bucket-grouping instead of a band self-join: one shuffle of one row
-- per (doc, band) builds the buckets; pairs explode inside the executor.
-- Equality on the 4 signature ints == equality on the banded signature
-- (no string building, no second scan of the bands relation).
buckets AS (
    SELECT collect_list(doc_id) AS ds
    FROM bands
    GROUP BY band, s0, s1, s2, s3
    HAVING count(*) > 1
),
cand AS (
    SELECT DISTINCT least(p.a, p.b) AS doc_a, greatest(p.a, p.b) AS doc_b
    FROM buckets
    LATERAL VIEW explode(flatten(transform(ds, (a, i) ->
        transform(slice(ds, i + 2, size(ds) - i - 1),
                  b -> named_struct('a', a, 'b', b))))) t AS p
),
-- verify: per-doc shingle ARRAYS + array_intersect, evaluated inside
-- the candidate join -- the per-doc set relation is already one array
-- row per doc (no aggregation at all since r12); intersection size is
-- exact (shingles are distinct)
arrs AS (
    SELECT doc_id, shs, size(shs) AS n FROM mh_sets
),
ver AS (
    SELECT c.doc_a, c.doc_b,
           size(array_intersect(a.shs, b.shs)) AS isect,
           a.n AS na, b.n AS nb
    FROM cand c
    JOIN arrs a ON c.doc_a = a.doc_id
    JOIN arrs b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b,
       floor((CAST(isect AS DOUBLE) / (na + nb - isect)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM ver
WHERE CAST(isect AS DOUBLE) / (na + nb - isect) >= {_JACCARD_THRESHOLD}
"""


@register("dedup_minhash_lsh_uncapped", oracle=_MINHASH_DUCK_SQL)
def dedup_minhash_lsh_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIAGNOSTIC twin of dedup_minhash_lsh: no bucket-size cap.

    Same MinHash → band-bucket → verify pipeline as the headline
    dedup_minhash_lsh, with pair generation uncapped. Without the cap,
    band-bucket sizes grow linearly with corpus size, so within-bucket
    candidate pairs grow quadratically — measured 37.4× time at 100×
    data (BENCH_DEDUP_SCALING.json) versus the capped default's flat
    13.3 s. Keep this form for cap-recall evaluation and small-corpus
    exactness studies ONLY; the default (capped) plan is the 100 TB
    path. tests/test_mllib_parity.py measures the cap's recall delta
    against exact-Jaccard ground truth.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_MINHASH_SETS_SPARK), "mh_sets")
    return spark.sql(_MINHASH_TAIL_SPARK)


# ---------------------------------------------------------------------------
# SimHash fingerprint + chunk-blocked hamming pairs
# ---------------------------------------------------------------------------

# r12 optimization (guide §2.3/§2.4): the signature is computed entirely
# MAP-SIDE. sum(cnt * sign_b) over distinct (doc, token) rows equals
# sum(sign_b) over raw token OCCURRENCES (integer addition is
# associative/commutative; the per-token cnt just groups equal terms),
# so the old two-exchange core -- GROUP BY (doc_id, token) count, then a
# per-doc 32-sum aggregation -- collapses into one intra-row fold: hash
# every occurrence, fold +/-1 into a 32-lane bit-sum array, pack the
# signs. The trade is SHA-per-occurrence instead of
# SHA-per-distinct-token (~2.3x hash work on this corpus: 54 tokens/doc,
# 23 distinct) for ZERO corpus exchanges -- the (doc_id, token, cnt)
# shuffle was the simhash family's last corpus-scale string shuffle.
# One aggregate expression references the transformed hash array exactly
# once, so nothing re-expands under project collapsing (the r12
# Catalyst trap). NULL text is filtered at the scan (plain scan-column
# predicate, safe to push below the fan-out) so a nullable-text corpus
# keeps the oracle's explode-drop semantics instead of emitting a
# (doc_id, NULL) signature row (ADVICE r12).
#
# r13 (guide §1.2 per-task work): the SHA runs per DISTINCT token run,
# not per occurrence — tokens are sorted intra-row and folded with
# run-length state (prev, cnt, acc); a run's hash is bound ONCE via
# `aggregate(array(sha), acc, ...)` (a bare hash inside the zip_with
# lambda would re-evaluate the SHA per bit lane). sum over runs of
# cnt*sign == sum over occurrences of sign (exact integers), proven
# equal row-for-row on the 100x corpus and byte-identical at 3 SFs.
# ~2.3x less SHA work on this corpus (54 occurrences vs 23 distinct
# per doc): the signature pass measured 6.27 -> 5.05 s at 100x
# (alternating A/B min-of-3). Still ZERO exchanges.
_SH_BITS = "array(" + ", ".join(str(b) for b in range(32)) + ")"

_SH_FLUSH = (
    f"IF(st.prev IS NULL, st.acc, aggregate(array({spark_hash60('st.prev')}),"
    f" st.acc, (acc2, h) -> zip_with(acc2, {_SH_BITS}, (a, b) ->"
    f" a + IF((shiftright(h, b) & 1) = 1, st.cnt, -st.cnt))))"
)

_SIMHASH_CORE_SPARK = f"""
WITH sig AS (
    SELECT doc_id,
           aggregate(
               array_sort({_S_TOK}),
               named_struct('prev', CAST(NULL AS STRING),
                            'cnt', CAST(0 AS BIGINT),
                            'acc', array_repeat(CAST(0 AS BIGINT), 32)),
               (st, t) -> IF(st.prev IS NOT NULL AND t = st.prev,
                   named_struct('prev', st.prev,
                                'cnt', st.cnt + CAST(1 AS BIGINT),
                                'acc', st.acc),
                   named_struct('prev', t, 'cnt', CAST(1 AS BIGINT),
                                'acc', {_SH_FLUSH})),
               st -> aggregate(
                   zip_with({_SH_FLUSH}, {_SH_BITS},
                            (s, b) -> IF(s > 0,
                                         shiftleft(CAST(1 AS BIGINT), b),
                                         CAST(0 AS BIGINT))),
                   CAST(0 AS BIGINT), (x, y) -> x + y)) AS simhash
    FROM documents
    WHERE text IS NOT NULL
)
"""

_SIMHASH_CORE_DUCK = f"""
WITH toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
tok AS (
    SELECT doc_id, token, count(*) AS cnt
    FROM toks, UNNEST(w) AS t(token)
    GROUP BY doc_id, token
),
th AS (SELECT doc_id, {duck_hash60('token')} AS h, cnt FROM tok),
acc AS (
    SELECT doc_id,
           sum(CASE WHEN ((h >> 0) & 1) = 1 THEN cnt ELSE -cnt END) AS s0,
           sum(CASE WHEN ((h >> 1) & 1) = 1 THEN cnt ELSE -cnt END) AS s1,
           sum(CASE WHEN ((h >> 2) & 1) = 1 THEN cnt ELSE -cnt END) AS s2,
           sum(CASE WHEN ((h >> 3) & 1) = 1 THEN cnt ELSE -cnt END) AS s3,
           sum(CASE WHEN ((h >> 4) & 1) = 1 THEN cnt ELSE -cnt END) AS s4,
           sum(CASE WHEN ((h >> 5) & 1) = 1 THEN cnt ELSE -cnt END) AS s5,
           sum(CASE WHEN ((h >> 6) & 1) = 1 THEN cnt ELSE -cnt END) AS s6,
           sum(CASE WHEN ((h >> 7) & 1) = 1 THEN cnt ELSE -cnt END) AS s7,
           sum(CASE WHEN ((h >> 8) & 1) = 1 THEN cnt ELSE -cnt END) AS s8,
           sum(CASE WHEN ((h >> 9) & 1) = 1 THEN cnt ELSE -cnt END) AS s9,
           sum(CASE WHEN ((h >> 10) & 1) = 1 THEN cnt ELSE -cnt END) AS s10,
           sum(CASE WHEN ((h >> 11) & 1) = 1 THEN cnt ELSE -cnt END) AS s11,
           sum(CASE WHEN ((h >> 12) & 1) = 1 THEN cnt ELSE -cnt END) AS s12,
           sum(CASE WHEN ((h >> 13) & 1) = 1 THEN cnt ELSE -cnt END) AS s13,
           sum(CASE WHEN ((h >> 14) & 1) = 1 THEN cnt ELSE -cnt END) AS s14,
           sum(CASE WHEN ((h >> 15) & 1) = 1 THEN cnt ELSE -cnt END) AS s15,
           sum(CASE WHEN ((h >> 16) & 1) = 1 THEN cnt ELSE -cnt END) AS s16,
           sum(CASE WHEN ((h >> 17) & 1) = 1 THEN cnt ELSE -cnt END) AS s17,
           sum(CASE WHEN ((h >> 18) & 1) = 1 THEN cnt ELSE -cnt END) AS s18,
           sum(CASE WHEN ((h >> 19) & 1) = 1 THEN cnt ELSE -cnt END) AS s19,
           sum(CASE WHEN ((h >> 20) & 1) = 1 THEN cnt ELSE -cnt END) AS s20,
           sum(CASE WHEN ((h >> 21) & 1) = 1 THEN cnt ELSE -cnt END) AS s21,
           sum(CASE WHEN ((h >> 22) & 1) = 1 THEN cnt ELSE -cnt END) AS s22,
           sum(CASE WHEN ((h >> 23) & 1) = 1 THEN cnt ELSE -cnt END) AS s23,
           sum(CASE WHEN ((h >> 24) & 1) = 1 THEN cnt ELSE -cnt END) AS s24,
           sum(CASE WHEN ((h >> 25) & 1) = 1 THEN cnt ELSE -cnt END) AS s25,
           sum(CASE WHEN ((h >> 26) & 1) = 1 THEN cnt ELSE -cnt END) AS s26,
           sum(CASE WHEN ((h >> 27) & 1) = 1 THEN cnt ELSE -cnt END) AS s27,
           sum(CASE WHEN ((h >> 28) & 1) = 1 THEN cnt ELSE -cnt END) AS s28,
           sum(CASE WHEN ((h >> 29) & 1) = 1 THEN cnt ELSE -cnt END) AS s29,
           sum(CASE WHEN ((h >> 30) & 1) = 1 THEN cnt ELSE -cnt END) AS s30,
           sum(CASE WHEN ((h >> 31) & 1) = 1 THEN cnt ELSE -cnt END) AS s31
    FROM th
    GROUP BY doc_id
),
sig AS (
    SELECT doc_id,
           CAST(CASE WHEN s0 > 0 THEN (CAST(1 AS BIGINT) << 0) ELSE CAST(0 AS BIGINT) END + CASE WHEN s1 > 0 THEN (CAST(1 AS BIGINT) << 1) ELSE CAST(0 AS BIGINT) END + CASE WHEN s2 > 0 THEN (CAST(1 AS BIGINT) << 2) ELSE CAST(0 AS BIGINT) END + CASE WHEN s3 > 0 THEN (CAST(1 AS BIGINT) << 3) ELSE CAST(0 AS BIGINT) END + CASE WHEN s4 > 0 THEN (CAST(1 AS BIGINT) << 4) ELSE CAST(0 AS BIGINT) END + CASE WHEN s5 > 0 THEN (CAST(1 AS BIGINT) << 5) ELSE CAST(0 AS BIGINT) END + CASE WHEN s6 > 0 THEN (CAST(1 AS BIGINT) << 6) ELSE CAST(0 AS BIGINT) END + CASE WHEN s7 > 0 THEN (CAST(1 AS BIGINT) << 7) ELSE CAST(0 AS BIGINT) END + CASE WHEN s8 > 0 THEN (CAST(1 AS BIGINT) << 8) ELSE CAST(0 AS BIGINT) END + CASE WHEN s9 > 0 THEN (CAST(1 AS BIGINT) << 9) ELSE CAST(0 AS BIGINT) END + CASE WHEN s10 > 0 THEN (CAST(1 AS BIGINT) << 10) ELSE CAST(0 AS BIGINT) END + CASE WHEN s11 > 0 THEN (CAST(1 AS BIGINT) << 11) ELSE CAST(0 AS BIGINT) END + CASE WHEN s12 > 0 THEN (CAST(1 AS BIGINT) << 12) ELSE CAST(0 AS BIGINT) END + CASE WHEN s13 > 0 THEN (CAST(1 AS BIGINT) << 13) ELSE CAST(0 AS BIGINT) END + CASE WHEN s14 > 0 THEN (CAST(1 AS BIGINT) << 14) ELSE CAST(0 AS BIGINT) END + CASE WHEN s15 > 0 THEN (CAST(1 AS BIGINT) << 15) ELSE CAST(0 AS BIGINT) END + CASE WHEN s16 > 0 THEN (CAST(1 AS BIGINT) << 16) ELSE CAST(0 AS BIGINT) END + CASE WHEN s17 > 0 THEN (CAST(1 AS BIGINT) << 17) ELSE CAST(0 AS BIGINT) END + CASE WHEN s18 > 0 THEN (CAST(1 AS BIGINT) << 18) ELSE CAST(0 AS BIGINT) END + CASE WHEN s19 > 0 THEN (CAST(1 AS BIGINT) << 19) ELSE CAST(0 AS BIGINT) END + CASE WHEN s20 > 0 THEN (CAST(1 AS BIGINT) << 20) ELSE CAST(0 AS BIGINT) END + CASE WHEN s21 > 0 THEN (CAST(1 AS BIGINT) << 21) ELSE CAST(0 AS BIGINT) END + CASE WHEN s22 > 0 THEN (CAST(1 AS BIGINT) << 22) ELSE CAST(0 AS BIGINT) END + CASE WHEN s23 > 0 THEN (CAST(1 AS BIGINT) << 23) ELSE CAST(0 AS BIGINT) END + CASE WHEN s24 > 0 THEN (CAST(1 AS BIGINT) << 24) ELSE CAST(0 AS BIGINT) END + CASE WHEN s25 > 0 THEN (CAST(1 AS BIGINT) << 25) ELSE CAST(0 AS BIGINT) END + CASE WHEN s26 > 0 THEN (CAST(1 AS BIGINT) << 26) ELSE CAST(0 AS BIGINT) END + CASE WHEN s27 > 0 THEN (CAST(1 AS BIGINT) << 27) ELSE CAST(0 AS BIGINT) END + CASE WHEN s28 > 0 THEN (CAST(1 AS BIGINT) << 28) ELSE CAST(0 AS BIGINT) END + CASE WHEN s29 > 0 THEN (CAST(1 AS BIGINT) << 29) ELSE CAST(0 AS BIGINT) END + CASE WHEN s30 > 0 THEN (CAST(1 AS BIGINT) << 30) ELSE CAST(0 AS BIGINT) END + CASE WHEN s31 > 0 THEN (CAST(1 AS BIGINT) << 31) ELSE CAST(0 AS BIGINT) END AS BIGINT) AS simhash
    FROM acc
)
"""

_SIMHASH_SPARK_SQL = _SIMHASH_CORE_SPARK + "SELECT doc_id, simhash FROM sig"
_SIMHASH_DUCK_SQL = _SIMHASH_CORE_DUCK + "SELECT doc_id, simhash FROM sig"


@register("dedup_simhash_signatures", oracle=_SIMHASH_DUCK_SQL)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (sign of per-bit weighted token sums)."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_SIMHASH_SPARK_SQL)


# Chunk-blocked near-dup pairs: 4 byte-chunks of the signature; pairs
# sharing any chunk value become candidates, then exact hamming filter.
# With threshold 3 < 4 chunks the blocking is pigeonhole-COMPLETE (any
# pair within hamming 3 must agree on at least one chunk) — and on this
# shared-vocabulary corpus a loose threshold (8) degenerates to ~2.6M
# pairs at sf0.1, i.e. "everything matches everything": tight thresholds
# are what keep simhash output near-dup-sized at scale.
_HAMMING_MAX = 3

# NOTE (r12): a bucket-grouped pair explode (the minhash cand shape)
# was tried here and measured 2.5-20x WORSE: chunk-blocking buckets are
# UNCAPPED and byte-chunk values are shared by hundreds of docs, so the
# slice-per-element explode materializes O(B^2) struct arrays per
# bucket, while the equi-join below streams the same pairs through the
# join without materializing them. Keep the join.
_SIMHASH_PAIRS_TAIL_SPARK = f"""
WITH chunks AS (
    SELECT doc_id, simhash, c, shiftright(simhash, 8 * c) & 255 AS chunk
    FROM simhash_sig LATERAL VIEW explode(sequence(0, 3)) t AS c
)
-- dedup WITHOUT a shuffle: a pair agreeing on several chunks is kept
-- only at its FIRST agreeing chunk (decidable from the xor alone), so
-- the candidate stream needs no DISTINCT — the hamming + first-chunk
-- filters run inside the join stage and remove a multi-million-row
-- exchange at this corpus's bucket sizes.
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming
FROM chunks a JOIN chunks b
  ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(a.simhash ^ b.simhash) <= {_HAMMING_MAX}
  AND a.c = CASE WHEN ((a.simhash ^ b.simhash) & 255) = 0 THEN 0
                 WHEN (shiftright(a.simhash ^ b.simhash, 8) & 255) = 0 THEN 1
                 WHEN (shiftright(a.simhash ^ b.simhash, 16) & 255) = 0 THEN 2
                 ELSE 3 END
"""

_SIMHASH_PAIRS_TAIL_DUCK = f"""
, chunks AS (
    SELECT doc_id, simhash, c, (simhash >> (8 * c)) & 255 AS chunk
    FROM sig, generate_series(0, 3) AS g(c)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS ha, b.simhash AS hb
    FROM chunks a JOIN chunks b
      ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {_HAMMING_MAX}
"""


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_CORE_DUCK + _SIMHASH_PAIRS_TAIL_DUCK,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via chunk blocking + exact hamming filter.

    Signatures are materialized once (the chunk self-join references
    them twice and would otherwise recompute the token-hash pipeline);
    the first-agreeing-chunk rule makes each pair's emission unique so
    no DISTINCT exchange follows the join. Pigeonhole: hamming ≤ 3 over
    4 chunks guarantees ≥ 1 agreeing chunk, so blocking stays complete.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_SIMHASH_SPARK_SQL), "simhash_sig")
    return spark.sql(_SIMHASH_PAIRS_TAIL_SPARK)


# ---------------------------------------------------------------------------
# Direct n-gram jaccard (exact pairwise over shingle join)
# ---------------------------------------------------------------------------

_NGRAM_THRESHOLD = 0.2


def _ngram_sql(tok_expr: str, shingles_fn, unnest: str) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, {tok_expr} AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks{unnest}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS isect
    FROM sh s1 JOIN sh s2
      ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
    GROUP BY s1.doc_id, s2.doc_id
)
SELECT doc_a, doc_b,
       floor((CAST(isect AS DOUBLE) / (na.n + nb.n - isect)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM inter
JOIN sizes na ON inter.doc_a = na.doc_id
JOIN sizes nb ON inter.doc_b = nb.doc_id
WHERE CAST(isect AS DOUBLE) / (na.n + nb.n - isect) >= {_NGRAM_THRESHOLD}
"""


# r12 optimization (guide §2.2/§2.3): discovery joins on the 28-bit
# shingle HASH (ints) instead of the shingle STRING — the corpus-scale
# discovery shuffle carries (doc_id, h, n) ints — and the per-pair
# intersection is COUNTED in the join's aggregation, exactly like the
# textbook string form, not rebuilt per pair from arrays (an
# array_intersect over every candidate pair measured 3.3x the wall at
# sf0.1: O(pairs × set size) string hashing). Because h-matches can
# overcount a true intersection (28-bit collisions, and intra-doc hash
# duplicates multiply join hits), the counted value is only an UPPER
# BOUND — capped at least(na, nb) so the degenerate all-equal-h case
# cannot push the denominator negative and drop a true pair — and the
# jaccard built from it is ≥ the true jaccard (x/(na+nb-x) is
# increasing in x). The prefilter therefore passes a SUPERSET of the
# true threshold pairs, and the tiny surviving slice is re-verified
# EXACTLY over the full per-doc shingle-STRING sets, so results are
# unchanged. The explode reads CHECKPOINTED arrays (never an
# un-materialized computed array — the r12 InferFiltersFromGenerate
# trap).


def _h_prefilter_cand(sets: str, pre_where: str) -> str:
    """Int-keyed discovery + upper-bound count prefilter CTEs."""
    return f"""hrows AS (
    SELECT doc_id, h, CAST(size(shs) AS BIGINT) AS n
    FROM {sets} LATERAL VIEW explode(hs) t AS h
),
pre AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           least(count(*), min(a.n), min(b.n)) AS ub,
           min(a.n) AS na, min(b.n) AS nb
    FROM hrows a JOIN hrows b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
cand AS (
    SELECT doc_a, doc_b FROM pre WHERE {pre_where}
)"""


_NGRAM_SETS_TAIL_SPARK = f"""
WITH {_h_prefilter_cand(
    'ng_sets',
    f'CAST(ub AS DOUBLE) / (na + nb - ub) >= {_NGRAM_THRESHOLD}',
)},
ver AS (
    SELECT c.doc_a, c.doc_b,
           size(array_intersect(a.shs, b.shs)) AS isect,
           size(a.shs) AS na, size(b.shs) AS nb
    FROM cand c
    JOIN ng_sets a ON c.doc_a = a.doc_id
    JOIN ng_sets b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b,
       floor((CAST(isect AS DOUBLE) / (na + nb - isect)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM ver
WHERE CAST(isect AS DOUBLE) / (na + nb - isect) >= {_NGRAM_THRESHOLD}
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_ngram_sql(
        _D_TOK,
        duck_word_shingles,
        f", UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)",
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram jaccard pairs ≥ 0.2 via shingle equality join.

    Exact but O(pairs sharing a shingle) — at 100 TB this is the
    *verification* stage after LSH candidate generation, not the
    discovery stage (hot shingles need frequency-capping/salting). The
    per-doc set relation is map-side (array_distinct — r12, no corpus
    DISTINCT exchange) and materialized once (referenced three times);
    discovery shuffles (doc_id, h) ints, never shingle strings.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_MINHASH_SETS_SPARK), "ng_sets")
    return spark.sql(_NGRAM_SETS_TAIL_SPARK)


# ---------------------------------------------------------------------------
# Hot-key mitigation: frequency-capped discovery + bucket-capped LSH
# ---------------------------------------------------------------------------
# A shingle present in k docs contributes k·(k−1)/2 candidate pairs, all
# landing on ONE shuffle key — the classic scale-killer for shingle-join
# discovery (one boilerplate sentence in 50% of a 100 TB corpus is ~1e15
# pairs on a single task). The production fix is frequency capping: drop
# shingles whose document frequency exceeds a cap from the DISCOVERY
# stage only (they carry no discriminative signal; the pair explosion is
# quadratic in df, so the cap bounds per-key work at cap·(cap−1)/2).
# Verification stays exact over the FULL shingle sets, so jaccard values
# are unchanged — the only semantic delta is that pairs sharing *only*
# hot shingles are not discovered (documented recall trade-off; such
# pairs are boilerplate-overlap, not near-duplicates).
#
# The hot list is tiny by construction (heavy hitters), so Spark takes
# it broadcast: the big shingle relation never reshuffles for the cap.

_HOT_DF_CAP = 6

# r12 measured (and rejected) a sets-port that kept the STRING-keyed
# discovery self-join — the extra materialization write without
# touching the actual wall (the string join) lost 13-46% on the
# ladder. r13 (guide §2.2/§2.3, VERDICT r12 task 2) replaces the wall
# itself: discovery self-joins 64-bit xxhash64 INTS (Spark-side only —
# the oracle keeps the textbook string form), which is sound because
# every stage that DEFINES semantics stays exact on strings:
#
# - the hot list (df > cap on shingle IDENTITY) is computed exactly
#   with ONE grouped census over the exploded set arrays. (A two-phase
#   census — count per hash, then exact string df over the suspect-
#   hash slice — was measured first and reverted: on this boilerplate-
#   heavy corpus 92% of shingle occurrences carry a suspect hash, so
#   phase 2 re-shuffled nearly the full string relation ON TOP of the
#   int census. At a low-duplication corpus the two-phase form wins;
#   here it is strictly more shuffle.)
# - cold rows = per-(doc, shingle) rows whose STRING is not hot
#   (broadcast anti join, map-side off the checkpointed sets).
# - the int candidate join yields a SUPERSET of pairs sharing a cold
#   shingle (equal strings => equal hashes; collisions only add).
# - verification is exact over the full string sets, and the cap's
#   discovery semantics — "pairs sharing ONLY hot shingles are not
#   found" — are enforced exactly on the threshold survivors: a pair
#   is kept iff its per-doc COLD string sets intersect, i.e. iff the
#   oracle's string discovery would have found it. The cold arrays
#   regroup the (already hot-filtered, hence small) cold rows — on
#   this corpus ~95% of shingle occurrences are hot at 10x, so the
#   regroup exchange is tiny. (A collected-hot-array probe per
#   survivor was measured first and rejected: the hot list is 225k
#   strings at 10x, and array_except rebuilds its hash set PER ROW —
#   72.8 s vs 8.4 s before, the same per-row-probe trap r12 hit in
#   contamination_ngram_overlap.)
_CAPPED_SETS_SPARK = f"""
SELECT doc_id, shs, transform(shs, s -> xxhash64(s)) AS hs
FROM (SELECT doc_id, array_distinct({spark_word_shingles('w', 3)}) AS shs
      FROM (SELECT doc_id, {_S_TOK} AS w FROM documents) toks) d
"""

_CAPPED_HOT_SPARK = f"""
SELECT sh AS shingle
FROM cp_sets LATERAL VIEW explode(shs) t AS sh
GROUP BY sh HAVING count(*) > {_HOT_DF_CAP}
"""

_CAPPED_COLD_SPARK = """
SELECT /*+ BROADCAST(cp_hot) */ doc_id, sh, h
FROM (SELECT doc_id, z.shs AS sh, z.hs AS h
      FROM cp_sets LATERAL VIEW explode(arrays_zip(shs, hs)) t AS z) rows
LEFT ANTI JOIN cp_hot ON rows.sh = cp_hot.shingle
"""

# SHUFFLE_HASH hints (guide §3.1): the candidate and verification joins
# default to sort-merge, whose 4.8M-row sorts dominated the 100x tail
# (alternating A/B: SMJ 15.5-24.0 s vs SHJ 13.0-15.5 s — SMJ's sort
# spill also caused the outliers). Build sides are safe to hash at any
# scale: cp_sets is one row per doc_id (unique key, uniform partitions)
# and the cold self-join's build keys are df-capped (<= cap rows per h
# up to collisions), so no partition outgrows the standard shuffle
# sizing. This is a size/shape argument, not a local[32] tune.
_NGRAM_CAPPED_TAIL_SPARK = f"""
WITH cand AS (
    SELECT /*+ SHUFFLE_HASH(b) */ a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cp_cold a JOIN cp_cold b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
ver AS (
    SELECT /*+ SHUFFLE_HASH(a, b) */ c.doc_a, c.doc_b,
           CAST(size(array_intersect(a.shs, b.shs)) AS BIGINT) AS isect,
           CAST(size(a.shs) AS BIGINT) AS na, CAST(size(b.shs) AS BIGINT) AS nb
    FROM cand c
    JOIN cp_sets a ON c.doc_a = a.doc_id
    JOIN cp_sets b ON c.doc_b = b.doc_id
),
thr AS (
    SELECT doc_a, doc_b, isect, na, nb
    FROM ver
    WHERE CAST(isect AS DOUBLE) / (na + nb - isect) >= {_NGRAM_THRESHOLD}
),
colds AS (
    SELECT doc_id, collect_list(sh) AS cold_shs FROM cp_cold GROUP BY doc_id
)
SELECT t.doc_a, t.doc_b,
       floor((CAST(isect AS DOUBLE) / (na + nb - isect)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM thr t
JOIN colds ca ON t.doc_a = ca.doc_id
JOIN colds cb ON t.doc_b = cb.doc_id
WHERE size(array_intersect(ca.cold_shs, cb.cold_shs)) >= 1
"""

_NGRAM_CAPPED_DUCK_SQL = f"""
WITH toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks, UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)
),
hot AS (
    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {_HOT_DF_CAP}
),
disc AS (
    SELECT s.doc_id, s.shingle FROM sh s
    WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.shingle = s.shingle)
),
cand AS (
    SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
    FROM disc s1 JOIN disc s2
      ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS isect
    FROM cand c
    JOIN sh s1 ON s1.doc_id = c.doc_a
    JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
    GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       floor((CAST(isect AS DOUBLE) / (na.n + nb.n - isect)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM inter
JOIN sizes na ON inter.doc_a = na.doc_id
JOIN sizes nb ON inter.doc_b = nb.doc_id
WHERE CAST(isect AS DOUBLE) / (na.n + nb.n - isect) >= {_NGRAM_THRESHOLD}
"""


@register("dedup_ngram_jaccard_capped", oracle=_NGRAM_CAPPED_DUCK_SQL)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard pairs with frequency-capped candidate discovery.

    Discovery joins only on shingles with document frequency ≤
    {cap}: per-shuffle-key work is bounded at cap·(cap−1)/2 pairs no
    matter how skewed the corpus (tests/test_skew.py proves the bound
    on a 50%%-hot-shingle fixture). Verification is exact over the full
    shingle sets. The hot list is heavy-hitters-small and broadcast.

    Scale (r13): the discovery self-join and the hot-list census run on
    xxhash64 INTS (exact string df only over the broadcast suspect-hash
    slice); the cap's drop-hot-only-pairs semantics are enforced
    exactly on the threshold survivors via the full string sets.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_CAPPED_SETS_SPARK), "cp_sets")
    materialize(spark.sql(_CAPPED_HOT_SPARK), "cp_hot")
    materialize(spark.sql(_CAPPED_COLD_SPARK), "cp_cold")
    return spark.sql(_NGRAM_CAPPED_TAIL_SPARK)


# LSH analog: a degenerate band bucket (thousands of near-identical docs)
# explodes quadratically inside one executor task. Cap the bucket size:
# buckets larger than the cap are dropped from pair generation (their
# members are boilerplate-identical clusters better handled by exact
# dedup; each surviving bucket emits ≤ cap·(cap−1)/2 pairs).

_BUCKET_CAP = 8

_MINHASH_CAPPED_TAIL_SPARK = _MINHASH_TAIL_SPARK.replace(
    "HAVING count(*) > 1",
    f"HAVING count(*) BETWEEN 2 AND {_BUCKET_CAP}",
)

_MINHASH_CAPPED_DUCK_SQL = _MINHASH_DUCK_SQL.replace(
    """cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),""",
    f"""bsz AS (
    SELECT band, sig, count(*) AS c FROM bands GROUP BY band, sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    JOIN bsz ON bsz.band = a.band AND bsz.sig = a.sig
    WHERE bsz.c BETWEEN 2 AND {_BUCKET_CAP}
),""",
)


# .replace() no-ops silently on drift — fail at import instead.
assert _MINHASH_CAPPED_TAIL_SPARK != _MINHASH_TAIL_SPARK
assert _MINHASH_CAPPED_DUCK_SQL != _MINHASH_DUCK_SQL


@register("dedup_minhash_lsh", oracle=_MINHASH_CAPPED_DUCK_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup: MinHash signatures → LSH band buckets → verified pairs.

    Never computes docs×docs: candidates come from (band, signature)
    buckets — grouped, not self-joined, so the signatures shuffle once
    and pairs explode bucket-locally; only candidates pay the
    exact-jaccard verification join. The per-doc distinct-shingle SET
    relation is computed entirely map-side (array_distinct is intra-row
    — r12; no corpus-wide DISTINCT exchange) and materialized once
    (referenced by signatures and both sides of the verification join).

    Bucket-size-capped BY DEFAULT (round-9 change, per the measured
    scaling study): band buckets larger than {cap} members are skipped
    from pair generation — per-bucket pair emission is bounded at
    cap·(cap−1)/2, so one degenerate signature cluster can no longer
    serialize a task (tests/test_skew.py proves the bound under a
    30-identical-docs fixture). Round-10 min-of-5 study
    (BENCH_DEDUP_SCALING.json): candidate pairs stay LINEAR in data
    (6.0k → 59k → 589k at 1×/10×/100×, ~46% below uncapped at every
    point); wall 1.76 → 5.50 → 14.1 s (8.0× for 100× data) vs
    uncapped 1.40 → 7.43 → 14.6 s (10.4×) — the cap's constant
    ~0.35 s bookkeeping at 1× repays by 10× and the adversarial
    B²/2-per-bucket blowup (a boilerplate cluster of B docs) is
    bounded by construction. Giant buckets are boilerplate-identical
    clusters better handled by exact dedup (dedup_exact_documents —
    the documented hand-off). Opt out via dedup_minhash_lsh_uncapped,
    the explicit diagnostic twin; the cap's recall delta on
    exact-Jaccard ground truth is measured in
    tests/test_mllib_parity.py.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_MINHASH_SETS_SPARK), "mh_sets")
    return spark.sql(_MINHASH_CAPPED_TAIL_SPARK)


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (label-blocked)
# ---------------------------------------------------------------------------

_COS_THRESHOLD = 0.4

_SPARK_DOT = (
    "aggregate(zip_with(a.embedding, b.embedding,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _spark_norm(side: str) -> str:
    return (
        f"sqrt(aggregate(transform({side}.embedding,"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        f" CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )


_EMB_SPARK_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       floor(({_SPARK_DOT} / ({_spark_norm('a')} * {_spark_norm('b')})) * 1e6 + 0.5) / 1e6 AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_SPARK_DOT} / ({_spark_norm('a')} * {_spark_norm('b')}) >= {_COS_THRESHOLD}
"""

_EMB_DUCK_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       floor((list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))) * 1e6 + 0.5) / 1e6
           AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= {_COS_THRESHOLD}
"""


@register("dedup_embedding_cosine", oracle=_EMB_DUCK_SQL)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: label-blocked cosine ≥ 0.4.

    The label column acts as the blocking key (clusters) — the equi-join
    drives the shuffle and the cosine evaluates inside the join, so cost
    is Σ per-block² rather than global²; at 100 TB the block key comes
    from a coarse quantizer (IVF centroid), same plan shape.
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    return spark.sql(_EMB_SPARK_SQL)


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

_CLUSTERS_DUCK_SQL = f"""
WITH RECURSIVE
toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks, UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS isect
    FROM sh s1 JOIN sh s2
      ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
    GROUP BY s1.doc_id, s2.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes na ON inter.doc_a = na.doc_id
    JOIN sizes nb ON inter.doc_b = nb.doc_id
    WHERE CAST(isect AS DOUBLE) / (na.n + nb.n - isect) >= {_NGRAM_THRESHOLD}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
    UNION
    SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node
"""


_SURVIVORS_DUCK_SQL = f"""
WITH RECURSIVE
toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks, UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS isect
    FROM sh s1 JOIN sh s2
      ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
    GROUP BY s1.doc_id, s2.doc_id
),
pairs AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes na ON inter.doc_a = na.doc_id
    JOIN sizes nb ON inter.doc_b = nb.doc_id
    WHERE CAST(isect AS DOUBLE) / (na.n + nb.n - isect) >= {_NGRAM_THRESHOLD}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
    UNION
    SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE NOT EXISTS (
    SELECT 1 FROM comp c WHERE c.node = d.doc_id AND c.component != d.doc_id
)
"""


@register("dedup_remove_near_duplicates", oracle=_SURVIVORS_DUCK_SQL)
def dedup_remove_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of fuzzy dedup: the surviving corpus.

    Each near-dup cluster (jaccard ≥ 0.2 connected components) keeps
    only its canonical member (min doc_id); singletons pass through.
    Spark side: candidate pairs → min-label propagation → anti-join of
    the non-canonical set against the corpus (AQE broadcasts it when
    it is small; at high dup rates it stays a shuffled anti-join —
    the non-canonical set can approach corpus size, so an unconditional
    broadcast would be wrong at 100 TB).
    """
    from automated_data_pipeline_python_spark.operators.clusters import (
        connected_components,
    )

    docs = load_scaled(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    materialize(spark.sql(_MINHASH_SETS_SPARK), "ng_sets")
    pairs = spark.sql(_NGRAM_SETS_TAIL_SPARK).select("doc_a", "doc_b")
    dupes = (
        connected_components(pairs, src="doc_a", dst="doc_b")
        .filter(F.col("component") != F.col("node"))
        .select(F.col("node").alias("doc_id"))
    )
    return docs.join(dupes, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


@register("dedup_clusters", oracle=_CLUSTERS_DUCK_SQL)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over jaccard-0.2 pairs.

    The genuinely iterative operator in the catalog: Spark runs min-label
    propagation to a fixpoint (operators.clusters, GraphX-style); the
    oracle is DuckDB's recursive-CTE transitive closure. Component id =
    min doc_id in the cluster = the canonical document to keep.
    """
    from automated_data_pipeline_python_spark.operators.clusters import (
        connected_components,
    )

    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_MINHASH_SETS_SPARK), "ng_sets")
    pairs = spark.sql(_NGRAM_SETS_TAIL_SPARK).select("doc_a", "doc_b")
    return connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )


# ---------------------------------------------------------------------------
# Semantic dedup: cluster-then-prune (SemDeDup, Abbas et al. 2023)
# ---------------------------------------------------------------------------
# The third dedup modality next to lexical (minhash/ngram) and pairwise
# cosine: coarse-quantize the corpus into k-means cells, then drop any
# vector whose cosine to a lower-id vector IN THE SAME CELL exceeds the
# threshold — one representative survives per semantic near-dup set.
# Cells make the pair stage Σ per-cell² instead of corpus²; in a real
# deployment cell count scales with N so per-cell population (and
# therefore pair cost) stays constant.

_SD_CELLS = 8
_SD_THRESHOLD = 0.4


def _sd_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


_SD_ASSIGN_SPARK = f"""
WITH base AS (
    SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
c0 AS (SELECT vec_id AS cell, v AS c FROM base WHERE vec_id < {_SD_CELLS}),
d AS (
    SELECT b.vec_id, c0.cell,
           floor(({_sd_dot('b.v', 'b.v')} - 2 * {_sd_dot('b.v', 'c0.c')}
                  + {_sd_dot('c0.c', 'c0.c')}) * 1e6 + 0.5) / 1e6 AS dist
    FROM base b CROSS JOIN c0
),
asn AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d
    ) r WHERE rn = 1
)
-- one row per vector with its cell, components, and L2 norm: the pair
-- stage then pays ONE dot per pair (norms precomputed per row, the
-- knn pre-norm discipline) instead of three
SELECT a.vec_id, a.cell, b.v,
       sqrt({_sd_dot('b.v', 'b.v')}) AS nrm
FROM asn a JOIN base b ON a.vec_id = b.vec_id
"""

# The cosine is snapped to the 1e-6 grid BEFORE the threshold compare:
# Spark's aggregate-fold dot product and DuckDB's list_dot_product can
# differ by an ulp, and an unsnapped compare would let a pair sitting
# exactly on the threshold flip kept/dup_of between engines.
_SD_COS = (
    f"floor(({_sd_dot('aa.v', 'bb.v')} / (aa.nrm * bb.nrm)) * 1e6 + 0.5) / 1e6"
)

_SD_TAIL_SPARK = f"""
WITH j AS (
    SELECT bb.vec_id AS vec_id, aa.vec_id AS lower_id, {_SD_COS} AS cs
    FROM sd_asn aa
    JOIN sd_asn bb ON aa.cell = bb.cell AND aa.vec_id < bb.vec_id
),
dups AS (
    SELECT vec_id, min(lower_id) AS dup_of
    FROM j WHERE cs >= {_SD_THRESHOLD}
    GROUP BY vec_id
)
SELECT s.vec_id, s.cell, (d.vec_id IS NULL) AS kept, d.dup_of
FROM sd_asn s LEFT JOIN dups d ON s.vec_id = d.vec_id
"""

_SEMDEDUP_DUCK_SQL = f"""
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
c0 AS (SELECT vec_id AS cell, v AS c FROM base WHERE vec_id < {_SD_CELLS}),
d AS (
    SELECT b.vec_id, c0.cell,
           floor((list_dot_product(b.v, b.v) - 2 * list_dot_product(b.v, c0.c)
                  + list_dot_product(c0.c, c0.c)) * 1e6 + 0.5) / 1e6 AS dist
    FROM base b CROSS JOIN c0
),
asn AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
        FROM d
    ) r WHERE rn = 1
),
j AS (
    SELECT bb.vec_id AS vec_id, aa.vec_id AS lower_id,
           floor((list_dot_product(va.v, vb.v)
             / (sqrt(list_dot_product(va.v, va.v))
                * sqrt(list_dot_product(vb.v, vb.v)))) * 1e6 + 0.5) / 1e6 AS cs
    FROM asn aa
    JOIN asn bb ON aa.cell = bb.cell AND aa.vec_id < bb.vec_id
    JOIN base va ON va.vec_id = aa.vec_id
    JOIN base vb ON vb.vec_id = bb.vec_id
),
dups AS (
    SELECT vec_id, min(lower_id) AS dup_of
    FROM j WHERE cs >= {_SD_THRESHOLD}
    GROUP BY vec_id
)
SELECT s.vec_id, s.cell, (d.vec_id IS NULL) AS kept, d.dup_of
FROM asn s LEFT JOIN dups d ON s.vec_id = d.vec_id
"""


@register("semdedup_cluster_prune", oracle=_SEMDEDUP_DUCK_SQL)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-cell blocking + within-cell cosine prune.

    Every vector is assigned to its nearest deterministic seed centroid
    (vec_id < 8, the IVF seeding — snapped L2, argmin ties break on
    cell); a vector is pruned when any lower-id vector in the SAME cell
    has cosine >= 0.4 (dup_of = the smallest such id; kept = no such
    neighbor). One representative per semantic near-dup set survives.

    Scale: centroids broadcast; assignment is one corpus pass; the pair
    stage joins on cell id, so cost is Σ per-cell², never corpus² —
    with cell count scaled to corpus size, per-cell population is a
    constant. The assignment is materialized once (both pair sides and
    the final projection read it; Spark would otherwise inline the CTE
    three times).
    """
    register_views(spark, sf_dir, scaled=("embeddings",))
    materialize(spark.sql(_SD_ASSIGN_SPARK), "sd_asn")
    return spark.sql(_SD_TAIL_SPARK)


# ---------------------------------------------------------------------------
# Dedup quality evaluation: LSH recall against exact-jaccard truth
# ---------------------------------------------------------------------------
# The dedup twin of `ann_recall_at_k` ("measure, don't guess"): ground
# truth = ALL pairs with jaccard >= 0.5 (exact shingle join — affordable
# at evaluation scale, never the production path); retrieved = the
# minhash-LSH pipeline's verified pairs. Precision is 1.0 by
# construction (LSH candidates are exact-verified); recall < 1 exactly
# when no band signature collides for a true pair — the number this
# query reports is the one you tune bands/permutations against.

# r12: truth discovery joins on h ints off the checkpointed set arrays
# with the counted upper-bound prefilter (superset of the true ≥ 0.5
# pairs — see _NGRAM_SETS_TAIL_SPARK), then exact verification over
# the full string sets for the surviving slice; the old form shuffled
# the exploded string relation twice plus a collect_list
# re-aggregation.
_LSH_EVAL_SPARK_TRUTH = f"""
WITH {_h_prefilter_cand(
    'mh_sets',
    f'CAST(ub AS DOUBLE) / (na + nb - ub) >= {_JACCARD_THRESHOLD}',
)},
ver AS (
    SELECT c.doc_a, c.doc_b,
           size(array_intersect(a.shs, b.shs)) AS isect,
           size(a.shs) AS na, size(b.shs) AS nb
    FROM cand c
    JOIN mh_sets a ON c.doc_a = a.doc_id
    JOIN mh_sets b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b FROM ver
WHERE CAST(isect AS DOUBLE) / (na + nb - isect) >= {_JACCARD_THRESHOLD}
"""

_LSH_EVAL_TAIL_SPARK = """
SELECT
    CAST(count(*) AS BIGINT)        AS n_true,
    CAST(count(r.doc_a) AS BIGINT)  AS n_retrieved,
    floor((CAST(count(r.doc_a) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6
                                    AS recall
FROM truth_pairs t
LEFT JOIN lsh_pairs r ON t.doc_a = r.doc_a AND t.doc_b = r.doc_b
"""

_LSH_EVAL_DUCK_SQL = f"""
WITH lsh AS ({_MINHASH_DUCK_SQL}),
toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks, UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS isect
    FROM sh s1 JOIN sh s2
      ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
    GROUP BY s1.doc_id, s2.doc_id
),
truth AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes na ON inter.doc_a = na.doc_id
    JOIN sizes nb ON inter.doc_b = nb.doc_id
    WHERE CAST(isect AS DOUBLE) / (na.n + nb.n - isect) >= {_JACCARD_THRESHOLD}
)
SELECT
    CAST(count(*) AS BIGINT)        AS n_true,
    CAST(count(r.doc_a) AS BIGINT)  AS n_retrieved,
    floor((CAST(count(r.doc_a) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6
                                    AS recall
FROM truth t
LEFT JOIN lsh r ON t.doc_a = r.doc_a AND t.doc_b = r.doc_b
"""


@register("dedup_lsh_recall_eval", oracle=_LSH_EVAL_DUCK_SQL)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of minhash-LSH dedup vs exact jaccard-0.5 ground truth.

    Scale: the exact-truth side is evaluation-only (run on a sampled
    slice in production); the LSH side is the production pipeline
    unchanged. Both read the one materialized per-doc set relation.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_MINHASH_SETS_SPARK), "mh_sets")
    materialize(spark.sql(_LSH_EVAL_SPARK_TRUTH), "truth_pairs")
    spark.sql(_MINHASH_TAIL_SPARK).createOrReplaceTempView("lsh_pairs")
    return spark.sql(_LSH_EVAL_TAIL_SPARK)


# ---------------------------------------------------------------------------
# Incremental dedup: a new batch probed against the existing corpus
# ---------------------------------------------------------------------------
# The production shape at 100 TB: dedup does not rerun over the whole
# corpus daily — the existing corpus's band signatures are a PRECOMPUTED
# index (a stored table bucketed by band signature), and each incoming
# batch computes only its own signatures and probes. Candidates are
# strictly incoming × existing (never existing × existing — that work
# was done when those docs arrived). Here both sides derive from one
# corpus (incoming = doc_id % 13 == 0) so the whole pipeline is
# oracle-checkable; swap the existing-side derivation for the stored
# index table and nothing else changes.

_INC_MOD = 13

# r12: all 16 permutation minima map-side as array_min folds off the
# checkpointed per-doc hash arrays (the old form was one grouped pass
# over exploded rows — a corpus exchange); the verify side reads the
# set arrays directly instead of re-aggregating collect_list. hs is a
# CHECKPOINTED attribute, so the 16 projections re-expand nothing.
_INC_MINS = ",\n           ".join(
    f"array_min(transform(hs, h -> (({2 * i + 1}) * h + {i * _B_MULT})"
    f" % {_PRIME})) AS m{i}"
    for i in range(_N_PERM)
)

_INC_TAIL_SPARK = f"""
WITH mins AS (
    SELECT doc_id,
           {_INC_MINS}
    FROM inc_sets WHERE size(hs) > 0
),
bands AS (
    SELECT doc_id, band, s0, s1, s2, s3
    FROM mins
    LATERAL VIEW stack(4,
            0, m0, m1, m2, m3,
            1, m4, m5, m6, m7,
            2, m8, m9, m10, m11,
            3, m12, m13, m14, m15) t AS band, s0, s1, s2, s3
),
cand AS (
    SELECT DISTINCT i.doc_id AS doc_new, e.doc_id AS doc_old
    FROM (SELECT * FROM bands WHERE doc_id % {_INC_MOD} = 0) i
    JOIN (SELECT * FROM bands WHERE doc_id % {_INC_MOD} != 0) e
      ON i.band = e.band AND i.s0 = e.s0 AND i.s1 = e.s1
     AND i.s2 = e.s2 AND i.s3 = e.s3
),
ver AS (
    SELECT c.doc_new, c.doc_old,
           size(array_intersect(a.shs, b.shs)) AS isect,
           size(a.shs) AS na, size(b.shs) AS nb
    FROM cand c
    JOIN inc_sets a ON c.doc_new = a.doc_id
    JOIN inc_sets b ON c.doc_old = b.doc_id
)
SELECT doc_new, doc_old,
       floor((CAST(isect AS DOUBLE) / (na + nb - isect)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM ver
WHERE CAST(isect AS DOUBLE) / (na + nb - isect) >= {_JACCARD_THRESHOLD}
"""

_INC_DUCK_SQL = f"""
WITH toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks, UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)
),
hashed AS (
    SELECT doc_id, {duck_hash28('shingle')} AS h FROM sh
),
perm AS (SELECT i FROM generate_series(0, {_N_PERM - 1}) AS g(i)),
mh AS (
    SELECT doc_id, i, min(((2 * i + 1) * h + i * {_B_MULT}) % {_PRIME}) AS m
    FROM hashed CROSS JOIN perm
    GROUP BY doc_id, i
),
bands AS (
    SELECT doc_id, i // {_BAND} AS band,
           string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS sig
    FROM mh
    GROUP BY doc_id, i // {_BAND}
),
cand AS (
    SELECT DISTINCT i.doc_id AS doc_new, e.doc_id AS doc_old
    FROM (SELECT * FROM bands WHERE doc_id % {_INC_MOD} = 0) i
    JOIN (SELECT * FROM bands WHERE doc_id % {_INC_MOD} != 0) e
      ON i.band = e.band AND i.sig = e.sig
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_new, c.doc_old, count(*) AS isect
    FROM cand c
    JOIN sh s1 ON s1.doc_id = c.doc_new
    JOIN sh s2 ON s2.doc_id = c.doc_old AND s2.shingle = s1.shingle
    GROUP BY c.doc_new, c.doc_old
)
SELECT doc_new, doc_old,
       floor((CAST(isect AS DOUBLE) / (na.n + nb.n - isect)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM inter
JOIN sizes na ON inter.doc_new = na.doc_id
JOIN sizes nb ON inter.doc_old = nb.doc_id
WHERE CAST(isect AS DOUBLE) / (na.n + nb.n - isect) >= {_JACCARD_THRESHOLD}
"""


@register("dedup_incremental_minhash", oracle=_INC_DUCK_SQL)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fuzzy dedup: probe an incoming batch against the
    existing corpus's band index.

    Candidates are strictly incoming × existing — the existing side's
    signatures are index state computed when those docs arrived, so a
    daily increment costs O(batch shingles) plus one bucket probe join,
    not a corpus rescan. The per-doc set relation is materialized once
    (signature, probe, and verify stages read it).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_MINHASH_SETS_SPARK), "inc_sets")
    return spark.sql(_INC_TAIL_SPARK)


# ---------------------------------------------------------------------------
# Containment pairs (the sub/superset catch jaccard misses)
# ---------------------------------------------------------------------------
# A 50-shingle doc fully contained in a 500-shingle doc scores jaccard
# 0.1 — under every dedup threshold — yet is exactly the quote/
# boilerplate-expansion duplicate a training corpus wants flagged.
# Containment |A∩B| / min(|A|,|B|) = 1.0 there. Same materialized
# shingle relation and shingle-equality join as dedup_ngram_jaccard
# (at 100 TB this is likewise the verification stage behind LSH/capped
# discovery); the ratio is a pure integer quotient, so both engines
# compute bit-identical doubles and the threshold compare needs no
# snap.

_CONTAIN_THRESHOLD = 0.8

_CONTAIN_TAIL = """
sizes AS (SELECT doc_id, count(*) AS n FROM {sh} GROUP BY doc_id),
inter AS (
    SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS isect
    FROM {sh} s1 JOIN {sh} s2
      ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
    GROUP BY s1.doc_id, s2.doc_id
)
SELECT doc_a, doc_b,
       CAST(isect AS BIGINT) AS isect,
       floor((CAST(isect AS DOUBLE) / least(na.n, nb.n)) * 1e6 + 0.5) / 1e6
           AS containment,
       floor((CAST(isect AS DOUBLE) / (na.n + nb.n - isect)) * 1e6 + 0.5) / 1e6
           AS jaccard
FROM inter
JOIN sizes na ON inter.doc_a = na.doc_id
JOIN sizes nb ON inter.doc_b = nb.doc_id
WHERE CAST(isect AS DOUBLE) / least(na.n, nb.n) >= {thr}
"""

_CONTAIN_DUCK_SQL = (
    f"""WITH toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
ct_sh2 AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks, UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)
),
"""
    + _CONTAIN_TAIL.replace("{sh}", "ct_sh2").replace(
        "{thr}", str(_CONTAIN_THRESHOLD)
    )
)


# r12: same restructure as _NGRAM_SETS_TAIL_SPARK — int-keyed h
# discovery with the counted upper bound (ub ≥ isect, ub ≤ least(na,
# nb) so ub/least(na,nb) ≥ true containment and stays ≤ 1), then exact
# verification over the full string sets for the surviving slice.
_CONTAIN_SETS_TAIL_SPARK = f"""
WITH {_h_prefilter_cand(
    'ct_sets',
    f'CAST(ub AS DOUBLE) / least(na, nb) >= {_CONTAIN_THRESHOLD}',
)},
ver AS (
    SELECT c.doc_a, c.doc_b,
           size(array_intersect(a.shs, b.shs)) AS isect,
           size(a.shs) AS na, size(b.shs) AS nb
    FROM cand c
    JOIN ct_sets a ON c.doc_a = a.doc_id
    JOIN ct_sets b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b,
       CAST(isect AS BIGINT) AS isect,
       floor((CAST(isect AS DOUBLE) / least(na, nb)) * 1e6 + 0.5) / 1e6
           AS containment,
       floor((CAST(isect AS DOUBLE) / (na + nb - isect)) * 1e6 + 0.5) / 1e6
           AS jaccard
FROM ver
WHERE CAST(isect AS DOUBLE) / least(na, nb) >= {_CONTAIN_THRESHOLD}
"""


@register("dedup_ngram_containment", oracle=_CONTAIN_DUCK_SQL)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment pairs ≥ 0.8 with the jaccard contrast column."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_MINHASH_SETS_SPARK), "ct_sets")
    return spark.sql(_CONTAIN_SETS_TAIL_SPARK)


# ---------------------------------------------------------------------------
# MinHash estimator accuracy (signature agreement vs exact jaccard)
# ---------------------------------------------------------------------------
# The estimator the LSH pipeline rests on, measured directly: for a
# deterministic pair sample (doc, doc+1 for doc % 5 = 0), the fraction
# of agreeing signature slots (matches/16 — an unbiased jaccard
# estimator) against the exact shingle jaccard, with the absolute
# error shown. Uses the SAME permutation family and 28-bit hash as
# the production signatures, in long form (doc, i, m) so one SQL text
# shape serves both engines. Errors at 16 permutations are large by
# construction — the n_perm tuning signal, reported honestly.

_MH_EST_TAIL = f"""
mh AS (
    SELECT doc_id, i,
           min(((2 * i + 1) * h + i * {_B_MULT}) % {_PRIME}) AS m
    FROM {{hashed}} CROSS JOIN ({{perm}}) p
    GROUP BY doc_id, i
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM (SELECT DISTINCT doc_id FROM {{sh}}) a
    JOIN (SELECT DISTINCT doc_id FROM {{sh}}) b
      ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 5 = 0
),
est AS (
    SELECT p.doc_a, p.doc_b,
           CAST(sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS INT)
               AS matches
    FROM pairs p
    JOIN mh ma ON ma.doc_id = p.doc_a
    JOIN mh mb ON mb.doc_id = p.doc_b AND mb.i = ma.i
    GROUP BY p.doc_a, p.doc_b
),
sizes AS (SELECT doc_id, count(*) AS n FROM {{sh}} GROUP BY doc_id),
ex AS (
    SELECT p.doc_a, p.doc_b, count(*) AS isect
    FROM pairs p
    JOIN {{sh}} s1 ON s1.doc_id = p.doc_a
    JOIN {{sh}} s2 ON s2.doc_id = p.doc_b AND s2.shingle = s1.shingle
    GROUP BY p.doc_a, p.doc_b
)
SELECT e.doc_a, e.doc_b, e.matches,
       floor((CAST(e.matches AS DOUBLE) / {_N_PERM}) * 1e6 + 0.5) / 1e6
           AS est_jaccard,
       floor((CAST(coalesce(x.isect, 0) AS DOUBLE)
              / (na.n + nb.n - coalesce(x.isect, 0))) * 1e6 + 0.5) / 1e6
           AS exact_jaccard,
       floor(abs(CAST(e.matches AS DOUBLE) / {_N_PERM}
                 - CAST(coalesce(x.isect, 0) AS DOUBLE)
                   / (na.n + nb.n - coalesce(x.isect, 0)))
             * 1e6 + 0.5) / 1e6 AS abs_err
FROM est e
LEFT JOIN ex x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
JOIN sizes na ON e.doc_a = na.doc_id
JOIN sizes nb ON e.doc_b = nb.doc_id
ORDER BY e.doc_a
"""

_MH_EST_DUCK_SQL = (
    f"""WITH toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
est_sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks, UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)
),
est_hashed AS (
    SELECT doc_id, {duck_hash28('shingle')} AS h FROM est_sh
),
"""
    + _MH_EST_TAIL.format(
        hashed="est_hashed",
        sh="est_sh",
        perm=f"SELECT CAST(unnest(generate_series(0, {_N_PERM - 1})) AS BIGINT) AS i",
    )
)


def _est_ms(col: str) -> str:
    """All 16 permutation minima of a per-doc hash array, as one array."""
    return (
        "array("
        + ", ".join(
            f"array_min(transform({col}, h -> (({2 * i + 1}) * h"
            f" + {i * _B_MULT}) % {_PRIME}))"
            for i in range(_N_PERM)
        )
        + ")"
    )


# r12: the sampled pairs are deterministic (doc, doc+1), so nothing
# corpus-scale needs to shuffle at all — the old form paid an exploded
# ×16 CROSS JOIN + GROUP BY (doc_id, i) over the whole corpus plus a
# string-equality intersection join. Now both the 16 slot minima and
# the exact intersection are intra-row folds over the checkpointed set
# arrays, evaluated only for the N/5 sampled pairs; slot agreement is a
# zip_with (slot i meets slot i, exactly the old mb.i = ma.i join).
# Slot values are exact integers, so = is exact; pairs need both docs
# shingled (size(shs) > 0), matching the old DISTINCT-doc_id relation.
_MH_EST_SETS_TAIL_SPARK = f"""
WITH pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM (SELECT doc_id FROM est_sets WHERE size(shs) > 0) a
    JOIN (SELECT doc_id FROM est_sets WHERE size(shs) > 0) b
      ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 5 = 0
),
j AS (
    SELECT p.doc_a, p.doc_b,
           CAST(size(filter(zip_with({_est_ms('a.hs')}, {_est_ms('b.hs')},
                                     (x, y) -> x = y), v -> v)) AS INT)
               AS matches,
           size(array_intersect(a.shs, b.shs)) AS isect,
           size(a.shs) AS na, size(b.shs) AS nb
    FROM pairs p
    JOIN est_sets a ON a.doc_id = p.doc_a
    JOIN est_sets b ON b.doc_id = p.doc_b
)
SELECT doc_a, doc_b, matches,
       floor((CAST(matches AS DOUBLE) / {_N_PERM}) * 1e6 + 0.5) / 1e6
           AS est_jaccard,
       floor((CAST(isect AS DOUBLE) / (na + nb - isect)) * 1e6 + 0.5) / 1e6
           AS exact_jaccard,
       floor(abs(CAST(matches AS DOUBLE) / {_N_PERM}
                 - CAST(isect AS DOUBLE) / (na + nb - isect))
             * 1e6 + 0.5) / 1e6 AS abs_err
FROM j
ORDER BY doc_a
"""


@register("dedup_minhash_estimate_accuracy", oracle=_MH_EST_DUCK_SQL)
def dedup_minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-agreement jaccard estimates vs exact, per sampled pair."""
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_MINHASH_SETS_SPARK), "est_sets")
    return spark.sql(_MH_EST_SETS_TAIL_SPARK)


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style)
# ---------------------------------------------------------------------------
# The literature-standard scalable similarity join (Xiao et al., "Efficient
# Similarity Joins for Near Duplicate Detection"): order each document's
# shingle set by GLOBAL document frequency ascending (rarest first,
# shingle-value tiebreak — a total order), and join candidates only on the
# PREFIX of length n - ceil(t*n) + 1. Pigeonhole: any pair with jaccard >=
# t MUST share a prefix element, so recall is exact; precision comes free
# because prefixes are built from the rarest shingles — the join keys are
# low-df by construction, the opposite of the hot-key problem the df-cap
# variant (dedup_ngram_jaccard_capped) handles by dropping. Distinct from
# that query: the cap trades recall on hot shingles for bounded work;
# prefix filtering keeps exact recall and bounds work via t.
#
# t is a DECIMAL literal on both engines, so n - ceil(t*n) + 1 is exact
# integer arithmetic (no float boundary to snap).

_PF_THRESHOLD = "0.5"

_PF_TAIL = f"""
dfreq AS (
    SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM {{sh}} GROUP BY shingle
),
sized AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM {{sh}} GROUP BY doc_id
),
ranked AS (
    SELECT s.doc_id, s.shingle,
           row_number() OVER (
               PARTITION BY s.doc_id ORDER BY d.df, s.shingle) AS rk
    FROM {{sh}} s JOIN dfreq d ON d.shingle = s.shingle
),
pref AS (
    SELECT r.doc_id, r.shingle
    FROM ranked r JOIN sized z ON z.doc_id = r.doc_id
    WHERE r.rk <= z.n - CAST(ceil({_PF_THRESHOLD} * z.n) AS BIGINT) + 1
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
inter AS (
    SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS isect
    FROM cand c
    JOIN {{sh}} s1 ON s1.doc_id = c.doc_a
    JOIN {{sh}} s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
    GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b, na.n AS n_a, nb.n AS n_b, i.isect,
       floor((CAST(i.isect AS DOUBLE) / (na.n + nb.n - i.isect)) * 1e6 + 0.5)
           / 1e6 AS jaccard
FROM inter i
JOIN sized na ON i.doc_a = na.doc_id
JOIN sized nb ON i.doc_b = nb.doc_id
WHERE CAST(i.isect AS DOUBLE) / (na.n + nb.n - i.isect) >= {_PF_THRESHOLD}
"""

_PF_DUCK_SQL = (
    f"""
WITH toks AS (
    SELECT doc_id, {_D_TOK} AS w FROM documents
),
pf_sh AS (
    SELECT DISTINCT doc_id, shingle
    FROM toks, UNNEST({duck_word_shingles('w', 3)}) AS t(shingle)
),
"""
    + _PF_TAIL.format(sh="pf_sh")
)

# r13 optimization (guide §2.2/§2.3, VERDICT r12 task 1): the whole
# discovery pipeline moves off shingle STRINGS onto 64-bit xxhash64
# keys — the Spark-side hash never has to match DuckDB (the oracle
# keeps the textbook string form), so the cheap native hash replaces
# both the SHA pass the jaccard family pays and every string shuffle:
#
# - df is counted per HASH (ints). df_h(h(s)) >= df(s) and equal
#   strings share a hash, so (df_h(h(s)), h(s), s) is a consistent
#   global TOTAL ORDER on shingles — the prefix-filter pigeonhole
#   guarantee holds for ANY total order, and the df-ascending heuristic
#   survives (rare hash => rare string, up to collisions).
# - the per-doc rank orders by (df, h) WITHOUT the string tiebreak:
#   (df, h)-ties are hash-identical, so the kept h-SET of the first
#   p = n - ceil(t*n) + 1 rows equals the h-set of the true string
#   prefix no matter how row_number breaks ties — candidate recall is
#   therefore >= the string form's (hash collisions only ADD pairs).
# - the intersection is COUNTED on h keys inside the candidate join:
#   an UPPER BOUND of the true intersection (collisions/dup hashes only
#   overcount; capped at least(na, nb)), so the threshold prefilter
#   passes a SUPERSET and only survivors pay the exact string-set
#   verification — the same proven shape as _h_prefilter_cand. Final
#   rows are exactly the jaccard >= t pairs in both forms.
#
# pf_h is checkpointed (map-side write): four consumers, and a view
# over Generate would feed the joins an inflated size estimate (the
# r12 BHJ->SMJ flip). The old string relation (pf_sh) is gone, which
# also retires the fragile 'sized AS' string surgery (ADVICE r12 #2) —
# sizes ride pf_h as a column.

_PF_H_SPARK = """
SELECT doc_id, xxhash64(sh) AS h, CAST(size(shs) AS BIGINT) AS n
FROM pf_sets LATERAL VIEW explode(shs) t AS sh
"""

# SHUFFLE_HASH hints (guide §3.1): the df-attach, candidate and
# upper-bound joins default to sort-merge; the multi-million-row sorts
# dominated the 10x tail (alternating A/B min 19.2 s SMJ vs 14.7 s SHJ,
# with SMJ sort-spill outliers to 26.7 s). Build sides are bounded per
# key at any scale: dfh is one row per hash, pf_h is bounded per doc by
# the shingle-set size, and pref keys are the globally RAREST shingles
# of each doc (low df by construction) — no partition outgrows the
# standard shuffle sizing.
_PF_TAIL_SPARK = f"""
WITH dfh AS (
    SELECT h, CAST(count(*) AS BIGINT) AS df FROM pf_h GROUP BY h
),
ranked AS (
    SELECT /*+ SHUFFLE_HASH(d) */ s.doc_id, s.h, s.n,
           row_number() OVER (
               PARTITION BY s.doc_id ORDER BY d.df, s.h) AS rk
    FROM pf_h s JOIN dfh d ON d.h = s.h
),
pref AS (
    SELECT doc_id, h FROM ranked
    WHERE rk <= n - CAST(ceil({_PF_THRESHOLD} * n) AS BIGINT) + 1
),
cand AS (
    SELECT /*+ SHUFFLE_HASH(b) */ DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id
),
ub AS (
    SELECT /*+ SHUFFLE_HASH(s1, s2) */ c.doc_a, c.doc_b,
           least(CAST(count(*) AS BIGINT), min(s1.n), min(s2.n)) AS ub,
           min(s1.n) AS na, min(s2.n) AS nb
    FROM cand c
    JOIN pf_h s1 ON s1.doc_id = c.doc_a
    JOIN pf_h s2 ON s2.doc_id = c.doc_b AND s2.h = s1.h
    GROUP BY c.doc_a, c.doc_b
),
pre AS (
    SELECT doc_a, doc_b FROM ub
    WHERE CAST(ub AS DOUBLE) / (na + nb - ub) >= {_PF_THRESHOLD}
),
ver AS (
    SELECT p.doc_a, p.doc_b,
           CAST(size(a.shs) AS BIGINT) AS n_a,
           CAST(size(b.shs) AS BIGINT) AS n_b,
           CAST(size(array_intersect(a.shs, b.shs)) AS BIGINT) AS isect
    FROM pre p
    JOIN pf_sets a ON p.doc_a = a.doc_id
    JOIN pf_sets b ON p.doc_b = b.doc_id
)
SELECT doc_a, doc_b, n_a, n_b, isect,
       floor((CAST(isect AS DOUBLE) / (n_a + n_b - isect)) * 1e6 + 0.5)
           / 1e6 AS jaccard
FROM ver
WHERE CAST(isect AS DOUBLE) / (n_a + n_b - isect) >= {_PF_THRESHOLD}
"""


@register("dedup_prefix_filter_join", oracle=_PF_DUCK_SQL)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall similarity join via df-ordered prefix filtering.

    Candidate generation joins only each doc's n - ceil(t*n) + 1
    globally-rarest shingles (pigeonhole guarantees no jaccard >= t
    pair is missed); verification is exact over full shingle sets.
    Join keys are low-df by construction — the skew-safety is inherent,
    not a recall trade (contrast dedup_ngram_jaccard_capped).

    Scale (r13): discovery runs entirely on xxhash64 INTS — df count,
    df-ordered prefix window, candidate join and the intersection
    upper-bound count all shuffle (doc_id, h, n) ints; shingle strings
    appear only in the map-side set materialization and the exact
    verification of the prefiltered survivors.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_SETS_SHS_ONLY_SPARK), "pf_sets")
    materialize(spark.sql(_PF_H_SPARK), "pf_h")
    return spark.sql(_PF_TAIL_SPARK)


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup rate
# ---------------------------------------------------------------------------
# The storage-dedup classic (LBFS/rsync family): chunk boundaries are
# placed where a rolling content hash satisfies hash(window) % D == 0,
# so an insertion early in a document only perturbs the one chunk it
# lands in — unlike fixed-size chunking, where every later chunk
# shifts. Here the "rolling" window is the 4-gram ending at each
# position, hashed with the repo's portable sha256-prefix hash28
# (D = 16 → ~16-char expected chunks on this corpus), boundaries at
# positions 4..len−1 so no empty tail chunk exists. Chunks are
# re-derived as substrings between consecutive starts via ONE per-doc
# lead() window (per-doc partitions — bounded), grouped by chunk hash
# for the dedup census per source plus a corpus-wide TOTAL row (total
# distinct is not derivable from per-source distincts).
#
# Scale: position explode is map-only, O(total chars) — the same cost
# class as the shingle pipelines; the dedup census shuffles chunk
# HASHES (narrow), never chunk text. No minimum-chunk-length
# constraint (that needs sequential suppression; the pure
# content-defined form is the textbook baseline). Spark's
# sequence(4, n−1) needs the descending-range guard; DuckDB's
# generate_series returns [] for empty ranges natively.


def _cdc_tail(hchunk: str) -> str:
    return f"""
spans AS (
    SELECT doc_id, source, text,
           s,
           coalesce(lead(s) OVER (PARTITION BY doc_id ORDER BY s), n + 1) - s
               AS clen
    FROM starts
),
chunks AS (
    SELECT doc_id, source,
           {hchunk} AS ch,
           clen
    FROM spans
),
per_source AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT ch) AS BIGINT) AS n_distinct_chunks,
           CAST(sum(clen) AS BIGINT) AS len_sum
    FROM chunks GROUP BY source
),
everything AS (
    SELECT * FROM per_source
    UNION ALL
    SELECT 'TOTAL',
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT ch) AS BIGINT),
           CAST(sum(clen) AS BIGINT)
    FROM chunks
)
SELECT source, n_chunks, n_distinct_chunks,
       floor((CAST(n_chunks - n_distinct_chunks AS DOUBLE) / n_chunks)
             * 1e6 + 0.5) / 1e6 AS dup_rate,
       floor((CAST(len_sum AS DOUBLE) / n_chunks) * 1e6 + 0.5) / 1e6
           AS avg_chunk_len
FROM everything
ORDER BY source
"""


_CDC_SPARK_SQL = f"""
WITH base AS (
    SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS n
    FROM documents
),
bnd AS (
    SELECT doc_id, p
    FROM (
        SELECT doc_id, text,
               explode(CASE WHEN n >= 5 THEN sequence(CAST(4 AS BIGINT), n - 1)
                            ELSE array() END) AS p
        FROM base
    ) e
    WHERE {spark_hash28("substr(text, CAST(p - 3 AS INT), 4)")} % 16 = 0
),
starts AS (
    SELECT doc_id, source, text, n, CAST(1 AS BIGINT) AS s FROM base
    UNION ALL
    SELECT b.doc_id, b.source, b.text, b.n, bnd.p + 1
    FROM bnd JOIN base b ON b.doc_id = bnd.doc_id
),
{_cdc_tail('sha2(substring(text, CAST(s AS INT), CAST(clen AS INT)), 256)')}
"""

_CDC_DUCK_SQL = f"""
WITH base AS (
    SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS n
    FROM documents
),
bnd AS (
    SELECT doc_id, p
    FROM (
        SELECT doc_id, text, unnest(generate_series(4, n - 1)) AS p
        FROM base
    ) e
    WHERE {duck_hash28("substr(text, CAST(p - 3 AS INT), 4)")} % 16 = 0
),
starts AS (
    SELECT doc_id, source, text, n, CAST(1 AS BIGINT) AS s FROM base
    UNION ALL
    SELECT b.doc_id, b.source, b.text, b.n, bnd.p + 1
    FROM bnd JOIN base b ON b.doc_id = bnd.doc_id
),
{_cdc_tail('sha256(substring(text, CAST(s AS INT), CAST(clen AS INT)))')}
"""


@register("dedup_cdc_chunks", oracle=_CDC_DUCK_SQL)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk boundaries + chunk-hash dedup census."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_CDC_SPARK_SQL)
