"""Language-model-construction operators over ``documents``.

The corpus statistics a tokenizer/LM training pipeline computes before
any neural step: exact-substring duplication (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better" — the
suffix-array substring dedup, approximated here with fixed-length
rolling token windows), bigram conditional-entropy tables (the n-gram
LM kernel), BPE merge-candidate pair counts (the counting kernel of
tokenizer training), and a Zipf power-law fit (corpus health
diagnostic).

All four are declarative Spark SQL (zero Python, whole-stage codegen)
with value-identical DuckDB oracles. Float discipline follows the repo
invariants: every engine-computed double that feeds a comparison or an
output column is snapped to a decimal grid (``sql_stable_round``), and
cross-row float sums go through ``sql_exact_sum`` so accumulation order
cannot flip a digit between engines.

Scale notes are per-query; the common shape is tokenize (map-only) →
explode (map-only) → one or two hash aggregations — no joins against
anything that grows faster than the vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automated_data_pipeline_python_spark.functions.numeric import (
    sql_exact_sum,
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
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import register_views

# ---------------------------------------------------------------------------
# Exact-substring duplication via rolling token windows
# ---------------------------------------------------------------------------
# Lee et al. 2022 find duplicated ≥50-token spans with a suffix array —
# a data structure with no distributed analogue. The scalable
# approximation: hash every W-token window (stride 1) and mark windows
# whose hash occurs in >1 distinct document. A duplicated span of
# length L ≥ W covers L−W+1 windows, so span duplication lower-bounds
# window duplication; W trades recall (long W misses spans < W) against
# precision (short W flags boilerplate). W=8 suits these ~100-token
# synthetic docs.
#
# Scale: windows explode map-side (≤ n_tokens rows per doc); the
# per-window doc count is ONE hash aggregation keyed by the 60-bit
# window hash; the join back to windows is hash-partitioned on the same
# key (no row ever meets more than its own window's count); the per-doc
# rollup is a second hash aggregation. Nothing is quadratic in corpus
# size and no driver state exists — the suffix array's O(corpus log
# corpus) single-machine sort is replaced by two shuffles.

_WIN = 8


def _substring_windows_sql(shingles: str, hash60, unnest_tpl: str) -> str:
    """The tokenize→shingle→hash relation — the expensive stage."""
    return f"""
SELECT doc_id, {hash60("s")} AS whash
FROM (SELECT doc_id, {shingles} AS sh FROM documents){unnest_tpl}
"""


def _substring_tail_sql(w: str) -> str:
    return f"""
WITH hot AS (
    SELECT whash, count(DISTINCT doc_id) AS ndocs
    FROM {w} GROUP BY whash
)
SELECT
    w.doc_id,
    CAST(count(*) AS BIGINT)                                   AS n_windows,
    CAST(sum(CASE WHEN hot.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                                                               AS dup_windows,
    {sql_stable_round(
        "CAST(sum(CASE WHEN hot.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)"
        " / count(*)", 6)}                                     AS dup_fraction
FROM {w} w JOIN hot ON w.whash = hot.whash
GROUP BY w.doc_id
"""


_SUBSTRING_DUCK_SQL = (
    "WITH w AS ("
    + _substring_windows_sql(
        duck_word_shingles(DUCK_TOKENS.format(col="text"), _WIN),
        duck_hash60,
        ", UNNEST(sh) AS t(s)",
    )
    + ")\n"
    + _substring_tail_sql("w").replace("WITH hot", ", hot", 1)
)


@register("dedup_substring_windows", oracle=_SUBSTRING_DUCK_SQL)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction via rolling W-token windows.

    The distributed approximation of exact-substring (suffix-array)
    dedup: a window hash shared across documents marks a verbatim
    W-token overlap. Documents shorter than W tokens emit no windows
    and drop out on both engines identically.

    The window relation is referenced twice (per-hash doc counts, then
    the per-doc rollup); Spark inlines CTEs, so it is materialized via
    localCheckpoint — otherwise the dominant shingle+SHA stage runs
    twice (DuckDB materializes shared CTEs on its own; the oracle keeps
    the single-statement form).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    w = spark.sql(
        _substring_windows_sql(
            spark_word_shingles(SPARK_TOKENS.format(col="text"), _WIN),
            spark_hash60,
            " LATERAL VIEW explode(sh) t AS s",
        )
    )
    materialize(w, "ssw_w")
    return spark.sql(_substring_tail_sql("ssw_w"))


# ---------------------------------------------------------------------------
# Bigram LM: per-prefix conditional entropy
# ---------------------------------------------------------------------------
# The n-gram LM kernel: P(w2 | w1) = c(w1 w2) / c(w1 ·), summarized per
# prefix as the conditional entropy H(·|w1) = ln c − Σ c_i ln c_i / c.
# High-frequency low-entropy prefixes are boilerplate signatures; the
# table itself is the backbone of KN/Katz smoothing.
#
# Float discipline: c and c_i are exact integers, so ln() is a
# deterministic function of exact inputs — but Σ c_i·ln(c_i) is a
# cross-row float sum, which sql_exact_sum makes order-independent
# (each term snapped to a 1e-6 grid, summed as DECIMAL).
#
# Scale: bigram counting is one hash aggregation over the exploded
# token stream (map-side partials collapse repeats before the
# shuffle); the per-prefix rollup re-shuffles only the bigram VOCAB
# (corpus-sublinear); top-k is TakeOrderedAndProject, never a global
# sort.

_TOP_PREFIXES = 50


def _bigram_sql(shingles2: str, unnest_tpl: str, split1: str) -> str:
    wsum = sql_exact_sum("CAST(cnt AS DOUBLE) * ln(cnt)", 6)
    return f"""
WITH big AS (
    SELECT s AS bigram, count(*) AS cnt
    FROM (SELECT {shingles2} AS sh FROM documents){unnest_tpl}
    GROUP BY s
),
pre AS (
    SELECT {split1} AS w1,
           CAST(sum(cnt) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_continuations,
           {wsum} AS wlogsum
    FROM big
    GROUP BY {split1}
)
SELECT w1, total, n_continuations,
       {sql_stable_round("ln(total) - wlogsum / total", 6)} AS cond_entropy
FROM pre
ORDER BY total DESC, w1
LIMIT {_TOP_PREFIXES}
"""


_BIGRAM_SPARK_SQL = _bigram_sql(
    spark_word_shingles(SPARK_TOKENS.format(col="text"), 2),
    " LATERAL VIEW explode(sh) t AS s",
    "split_part(bigram, ' ', 1)",
)

_BIGRAM_DUCK_SQL = _bigram_sql(
    duck_word_shingles(DUCK_TOKENS.format(col="text"), 2),
    ", UNNEST(sh) AS t(s)",
    "split_part(bigram, ' ', 1)",
)


@register("lm_bigram_entropy", oracle=_BIGRAM_DUCK_SQL)
def lm_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram prefixes by frequency with conditional entropy."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_BIGRAM_SPARK_SQL)


# ---------------------------------------------------------------------------
# BPE tokenizer training: merge-candidate pair counts
# ---------------------------------------------------------------------------
# One BPE training iteration = count adjacent symbol pairs weighted by
# word frequency, merge the argmax. This query is that counting kernel
# on the initial (single-character) symbol table: word types are
# counted once (one hash agg over the token stream), then each type
# explodes into its len−1 adjacent char pairs and the pair counts
# weight by type frequency. All-integer arithmetic → exact parity.
#
# Scale: the expensive agg (word-type counting) touches the corpus
# once; the pair explosion runs over the VOCABULARY (sublinear in
# corpus), mirroring how production BPE trainers operate on the word-
# frequency table, not the raw stream. Iterating (apply merge,
# recount) repeats the vocab-sized second stage only — the driver-side
# loop shape proven by ``kmeans_lloyd_refine``.

_TOP_PAIRS = 20


def _bpe_sql(word_extract: str, unnest_words: str, unnest_pairs: str,
             gen_series: str) -> str:
    return f"""
WITH words AS (
    SELECT w AS word, count(*) AS wcnt
    FROM (SELECT {word_extract} AS ws FROM documents){unnest_words}
    GROUP BY w
),
pairs AS (
    SELECT substr(word, i, 2) AS pair, wcnt
    FROM (SELECT word, wcnt, {gen_series} AS idx
          FROM words WHERE length(word) >= 2){unnest_pairs}
)
SELECT pair, CAST(sum(wcnt) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT {_TOP_PAIRS}
"""


_BPE_SPARK_SQL = _bpe_sql(
    "regexp_extract_all(text, '[a-z]+', 0)",
    " LATERAL VIEW explode(ws) t AS w",
    " LATERAL VIEW explode(idx) t AS i",
    "sequence(1, length(word) - 1)",
)

_BPE_DUCK_SQL = _bpe_sql(
    "regexp_extract_all(text, '[a-z]+')",
    ", UNNEST(ws) AS t(w)",
    ", UNNEST(idx) AS t(i)",
    "generate_series(1, length(word) - 1)",
)


@register("bpe_pair_merge_counts", oracle=_BPE_DUCK_SQL)
def bpe_pair_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates: char-pair counts weighted by word freq."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_BPE_SPARK_SQL)


# ---------------------------------------------------------------------------
# Zipf power-law fit over the term-frequency distribution
# ---------------------------------------------------------------------------
# A healthy natural-language corpus has a near −1 log-log slope of
# frequency vs rank; machine-generated or template-heavy corpora bend
# it. Fit by least squares over the top-200 ranks, from order-
# independent moment sums of 1e-6-snapped (ln rank, ln count) — the
# agg_corr_regression discipline (builtin regr_* accumulate doubles in
# partition order and are not reproducible cross-engine).
#
# Scale: term counting is the one corpus-sized agg; ranking the top
# 200 is TakeOrderedAndProject (no global sort); the fit itself runs
# over 200 rows.

_ZIPF_RANKS = 200


def _zipf_sql(word_extract: str, unnest_words: str) -> str:
    lx = f"{sql_stable_round('ln(rnk)', 6)}"
    ly = f"{sql_stable_round('ln(cnt)', 6)}"
    sx = sql_exact_sum("lx", 6)
    sy = sql_exact_sum("ly", 6)
    sxx = sql_exact_sum("lx * lx", 6)
    sxy = sql_exact_sum("lx * ly", 6)
    return f"""
WITH terms AS (
    SELECT w AS term, count(*) AS cnt
    FROM (SELECT {word_extract} AS ws FROM documents){unnest_words}
    GROUP BY w
),
topk AS (
    SELECT term, cnt FROM terms
    ORDER BY cnt DESC, term
    LIMIT {_ZIPF_RANKS}
),
ranked AS (
    -- rank AFTER the top-k: the limit is TakeOrderedAndProject over the
    -- vocab; the window only ever sorts {_ZIPF_RANKS} rows.
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS DOUBLE) AS rnk,
           CAST(cnt AS DOUBLE) AS cnt
    FROM topk
),
pts AS (SELECT {lx} AS lx, {ly} AS ly FROM ranked),
m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           {sx} AS sx, {sy} AS sy, {sxx} AS sxx, {sxy} AS sxy
    FROM pts
)
SELECT
    CAST(n AS BIGINT) AS n_ranks,
    {sql_stable_round("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)}
        AS zipf_slope,
    {sql_stable_round(
        "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n", 6)}
        AS zipf_intercept
FROM m
"""


_ZIPF_SPARK_SQL = _zipf_sql(
    "regexp_extract_all(text, '[a-z]+', 0)",
    " LATERAL VIEW explode(ws) t AS w",
)

_ZIPF_DUCK_SQL = _zipf_sql(
    "regexp_extract_all(text, '[a-z]+')",
    ", UNNEST(ws) AS t(w)",
)


@register("text_zipf_slope", oracle=_ZIPF_DUCK_SQL)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares log-log slope of the top-200 term-frequency ranks."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_ZIPF_SPARK_SQL)


# ---------------------------------------------------------------------------
# Token co-occurrence PMI (collocation mining)
# ---------------------------------------------------------------------------
# PMI(t1,t2) = ln( N · df(t1,t2) / (df(t1) · df(t2)) ) over document-
# level co-occurrence — the classic collocation/phrase-mining statistic
# (and the shape of feature-association mining generally). An
# unconstrained pair join is O(tokens-per-doc²) per document; the scale
# control is the repo's frequency-capped hot-list pattern: only the
# top-H tokens by document frequency enter the pair join, so per-doc
# work is ≤ H²/2 regardless of corpus size, and the hot list itself is
# a fixed-size broadcast (the invariant-sanctioned broadcast class —
# it does NOT grow with the corpus).
#
# Spark side: the doc-token distinct relation is materialized
# (localCheckpoint) because the pair join references it twice and
# Spark inlines CTEs; DuckDB materializes shared CTEs on its own.
# All counts are integers; the single ln() is a deterministic function
# of exact inputs, snapped to the 1e-6 grid before the ORDER BY.

_PMI_HOT = 50
_PMI_MIN_CODOCS = 5


def _pmi_tail_sql(dt: str) -> str:
    return f"""
WITH df AS (
    SELECT token, count(*) AS dfreq FROM {dt} GROUP BY token
),
hot AS (
    SELECT token, dfreq FROM df
    ORDER BY dfreq DESC, token
    LIMIT {_PMI_HOT}
),
hd AS (
    SELECT d.doc_id, d.token, h.dfreq
    FROM {dt} d JOIN hot h ON d.token = h.token
),
n AS (SELECT count(DISTINCT doc_id) AS ndocs FROM {dt}),
pairs AS (
    SELECT a.token AS t1, b.token AS t2,
           a.dfreq AS df1, b.dfreq AS df2,
           count(*) AS c12
    FROM hd a JOIN hd b
      ON a.doc_id = b.doc_id AND a.token < b.token
    GROUP BY a.token, b.token, a.dfreq, b.dfreq
)
SELECT t1, t2,
       CAST(c12 AS BIGINT) AS co_docs,
       {sql_stable_round(
           "ln(CAST(c12 AS DOUBLE) * ndocs / (CAST(df1 AS DOUBLE) * df2))", 6)}
           AS pmi
FROM pairs, n
WHERE c12 >= {_PMI_MIN_CODOCS}
ORDER BY pmi DESC, t1, t2
LIMIT 50
"""


_PMI_DUCK_SQL = f"""
WITH dt AS (
    SELECT DISTINCT doc_id, w AS token
    FROM (SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS ws
          FROM documents), UNNEST(ws) AS t(w)
),
{_pmi_tail_sql("dt").split("WITH ", 1)[1]}
"""


@register("text_token_pmi", oracle=_PMI_DUCK_SQL)
def text_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations among the 50 highest-df tokens."""
    register_views(spark, sf_dir, scaled=("documents",))
    dt = spark.sql(
        "SELECT DISTINCT doc_id, w AS token"
        " FROM (SELECT doc_id, regexp_extract_all(text, '[a-z]+', 0) AS ws"
        "       FROM documents) LATERAL VIEW explode(ws) t AS w"
    )
    materialize(dt, "pmi_dt")
    return spark.sql(_pmi_tail_sql("pmi_dt"))


# ---------------------------------------------------------------------------
# BPE merge-round training (the iterative half of tokenizer training)
# ---------------------------------------------------------------------------
# ``bpe_pair_merge_counts`` above is one counting pass; this is the
# actual TRAINING LOOP, unrolled for 3 rounds: count adjacent token
# pairs → pick the argmax merge (count desc, then lexicographic left,
# right — a total order) → rewrite the corpus with the pair fused →
# repeat on the rewritten corpus. The rewrite is two chained plain
# ``replace`` passes over the single-space-joined token string: plain
# replace is left-to-right non-overlapping in both engines, which IS
# BPE's greedy merge order; one pass can skip an occurrence whose
# leading space was consumed by the preceding match, and because two
# skipped occurrences can never be adjacent (a skipped occurrence is
# always preceded by a merged one), the second pass completes the
# merge exactly.
#
# Scale: each round is one corpus re-tokenize + one pair aggregation
# (vocabulary²-bounded, map-side combinable) + one broadcast of a
# single merge row into a map-only rewrite — 3 unrolled rounds = 3
# corpus scans, the inherent cost of BPE. On the Spark side each
# round's corpus is materialized (localCheckpoint): round N+1
# references round N twice (count + rewrite), so CTE inlining would
# re-run the whole prefix exponentially. DuckDB materializes CTEs on
# its own; the oracle keeps the single WITH chain.

_BPE_ROUNDS = 3
_BPE_JOIN = "¤"  # fuse marker; never appears in whitespace tokens


def _bpe_round(n: int, elem: str, guard_seq: str) -> str:
    """CTEs for round n: pairs_n, top_n (1 row), corpus_{n+1}."""
    e1 = elem.format(i="i")
    e2 = elem.format(i="i + 1")
    return f"""
tok{n} AS (
    SELECT doc_id, {{split}} AS a FROM corpus{n}
),
pairs{n} AS (
    SELECT {e1} AS l, {e2} AS r, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT doc_id, a, i FROM tok{n} {guard_seq})
    GROUP BY {e1}, {e2}
),
top{n} AS (
    SELECT l, r, cnt FROM pairs{n}
    ORDER BY cnt DESC, l, r LIMIT 1
),
corpus{n + 1} AS (
    SELECT c.doc_id,
           trim(replace(replace(
               ' ' || trim(c.s) || ' ',
               ' ' || t.l || ' ' || t.r || ' ',
               ' ' || t.l || '{_BPE_JOIN}' || t.r || ' '),
               ' ' || t.l || ' ' || t.r || ' ',
               ' ' || t.l || '{_BPE_JOIN}' || t.r || ' ')) AS s
    FROM corpus{n} c CROSS JOIN top{n} t
)"""


def _bpe_sql(spark_side: bool) -> str:
    if spark_side:
        split = "split(trim(s), ' ')"
        elem = "element_at(a, CAST({i} AS INT))"
        guard = (
            "LATERAL VIEW explode(CASE WHEN size(a) >= 2 THEN "
            "sequence(1, size(a) - 1) ELSE array() END) t AS i"
        )
        tok0 = "concat_ws(' ', split(trim(lower(text)), '\\\\s+'))"
    else:
        split = "string_split(trim(s), ' ')"
        elem = "a[CAST({i} AS INT)]"
        guard = (
            ", UNNEST(CASE WHEN len(a) >= 2 THEN "
            "generate_series(1, len(a) - 1) ELSE [] END) AS t(i)"
        )
        tok0 = (
            "array_to_string(regexp_split_to_array(trim(lower(text)), "
            "'\\s+'), ' ')"
        )
    rounds = "".join(
        "," + _bpe_round(n, elem, guard).format(split=split)
        for n in range(_BPE_ROUNDS)
    )
    picks = "\nUNION ALL\n".join(
        f"SELECT {n + 1} AS round, l AS merge_left, r AS merge_right, cnt"
        f" AS pair_count FROM top{n}"
        for n in range(_BPE_ROUNDS)
    )
    return f"""
WITH corpus0 AS (
    SELECT doc_id, {tok0} AS s FROM documents
    WHERE length(trim(text)) > 0
){rounds}
SELECT CAST(round AS INT) AS round, merge_left, merge_right, pair_count
FROM ({picks})
"""


@register("bpe_train_merge_rounds", oracle=_bpe_sql(False))
def bpe_train_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled BPE training rounds: argmax adjacent pair →
    greedy corpus fuse → recount, returning each round's learned merge
    and its count.

    Greedy-left merge via two plain-replace passes (exact: skipped
    occurrences are never adjacent); deterministic argmax by
    (count, left, right). Spark materializes each round's corpus
    against CTE-inlining re-execution.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    # Unroll with per-round materialization: build each round's corpus
    # as a checkpointed view so every round scans the MATERIALIZED
    # predecessor exactly once, then union the per-round top picks.
    split = "split(trim(s), ' ')"
    elem = "element_at(a, CAST({i} AS INT))"
    guard = (
        "LATERAL VIEW explode(CASE WHEN size(a) >= 2 THEN "
        "sequence(1, size(a) - 1) ELSE array() END) t AS i"
    )
    materialize(spark.sql(
        """
        SELECT doc_id,
               concat_ws(' ', split(trim(lower(text)), '\\\\s+')) AS s
        FROM documents WHERE length(trim(text)) > 0
        """
    ), "bpe_corpus0")
    picks = []
    for n in range(_BPE_ROUNDS):
        body = _bpe_round(n, elem, guard).format(split=split)
        # body defines tok{n}/pairs{n}/top{n}/corpus{n+1} against
        # corpus{n}; point corpus{n} at the materialized view.
        sql = "WITH corpus%d AS (SELECT * FROM bpe_corpus%d),%s" % (n, n, body)
        nxt = spark.sql(
            sql + f"\nSELECT doc_id, s FROM corpus{n + 1}"
        )
        materialize(nxt, f"bpe_corpus{n + 1}")
        picks.append(
            sql
            + f"\nSELECT {n + 1} AS round, l AS merge_left,"
            f" r AS merge_right, cnt AS pair_count FROM top{n}"
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in picks)
    return spark.sql(
        "SELECT CAST(round AS INT) AS round, merge_left, merge_right,"
        f" pair_count FROM ({union})"
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram smoothing (the production n-gram LM)
# ---------------------------------------------------------------------------
# The smoothing every deployed n-gram LM actually uses (Kneser & Ney
# 1995; Chen & Goodman 1998 interpolated form):
#
#   P_KN(w2|w1) = max(c(w1 w2) − D, 0)/c(w1 ·)
#               + D·N1+(w1 ·)/c(w1 ·) · N1+(· w2)/N1+(· ·)
#
# with absolute discount D = 0.75. The continuation probability
# N1+(· w2)/N1+(· ·) — "in how many distinct contexts does w2
# follow?" — is the KN insight that plain add-k misses ("Francisco" is
# frequent but only ever follows "San").
#
# Every input is an exact integer from the bigram-type table: c2, the
# prefix marginal c1, the distinct-continuation count N1+(w1 ·), the
# distinct-predecessor count N1+(· w2), and the bigram-type total.
# P_KN and the backoff weight λ(w1) are each ONE float expression over
# those integers, snapped to the 1e-6 grid before the (count, bigram)
# top-30 rank — a total order, so the LIMIT boundary is deterministic.
#
# Scale: the corpus-sized pass is the bigram count (map-side
# combinable); the three marginals re-aggregate only the bigram VOCAB
# (Zipf-bounded, corpus-sublinear) and join back on the vocab keys.
# Spark inlines CTEs, so the bigram-type table — read by four
# consumers — is materialized once via localCheckpoint.

_KN_D = "0.75e0"
_KN_TOP = 30


def _kn_tail(big: str) -> str:
    pkn = (
        f"(greatest(CAST(b.c2 AS DOUBLE) - {_KN_D}, 0e0) / p.c1)"
        f" + ({_KN_D} * p.n_cont / p.c1)"
        f" * (CAST(c.n_pred AS DOUBLE) / t.n_types)"
    )
    lam = f"{_KN_D} * p.n_cont / p.c1"
    return f"""
pre AS (
    SELECT w1,
           CAST(sum(c2) AS BIGINT)   AS c1,
           CAST(count(*) AS BIGINT)  AS n_cont
    FROM {big} GROUP BY w1
),
cont AS (
    SELECT w2, CAST(count(*) AS BIGINT) AS n_pred
    FROM {big} GROUP BY w2
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM {big})
SELECT b.w1, b.w2, b.c2 AS pair_count,
       p.c1 AS prefix_count,
       c.n_pred AS continuation_contexts,
       {sql_stable_round(pkn, 6)} AS p_kn,
       {sql_stable_round(lam, 6)} AS backoff_lambda
FROM {big} b
JOIN pre p ON p.w1 = b.w1
JOIN cont c ON c.w2 = b.w2
CROSS JOIN tot t
ORDER BY b.c2 DESC, b.w1, b.w2
LIMIT {_KN_TOP}
"""


def _kn_big_sql(shingles2: str, unnest_tpl: str) -> str:
    return f"""
SELECT split_part(s, ' ', 1) AS w1, split_part(s, ' ', 2) AS w2,
       CAST(count(*) AS BIGINT) AS c2
FROM (SELECT {shingles2} AS sh FROM documents){unnest_tpl}
GROUP BY 1, 2
"""


_KN_DUCK_SQL = (
    "WITH big AS ("
    + _kn_big_sql(
        duck_word_shingles(DUCK_TOKENS.format(col="text"), 2),
        ", UNNEST(sh) AS t(s)",
    )
    + ")\n"
    + _kn_tail("big").replace("\npre AS", "\n, pre AS", 1)
)


@register("lm_kneser_ney_bigram", oracle=_KN_DUCK_SQL)
def lm_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigrams with interpolated Kneser-Ney probabilities:
    discounted MLE + continuation-probability backoff (D = 0.75).

    The bigram-type table feeds four consumers (prefix marginal,
    continuation marginal, type total, final select); Spark inlines
    CTEs, so it is materialized once via localCheckpoint.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(
        spark.sql(
            _kn_big_sql(
                spark_word_shingles(SPARK_TOKENS.format(col="text"), 2),
                " LATERAL VIEW explode(sh) t AS s",
            )
        ),
        "kn_big",
    )
    return spark.sql("WITH " + _kn_tail("kn_big").lstrip())


# ---------------------------------------------------------------------------
# Held-out bigram perplexity (the CCNet-style LM filter, properly split)
# ---------------------------------------------------------------------------
# ``doc_unigram_surprisal`` scores docs against corpus-wide unigram
# stats — fine as a repetitiveness screen, but a real perplexity
# filter must score HELD-OUT text under a model trained elsewhere or
# it just rewards being typical of yourself. Train = every source
# except src0 (bigram + prefix counts, add-1 smoothed over the train
# bigram vocabulary V); eval = src0 docs, scored
# ln P(w2|w1) = ln((c(w1 w2)+1) / (c(w1 ·)+V)) with both counts
# COALESCEd to 0 for unseen events — exact integers into one ln() per
# bigram. ppl = exp(mean NLL), snapped (exp/ln accumulate ~1e-13
# cross-engine over ~100 terms, far inside the 1e-6 grid).
#
# Scale: train counts are two vocabulary-bounded aggregations; eval
# bigrams LEFT-JOIN those counts on the bigram/prefix key (Zipf-
# bounded, map-side combinable); per-doc rollup is one aggregation.
# The token/shingle relation is built once per side, materialized on
# the Spark side (two readers: train counts + eval bigrams).


def _ppl_tail(bg: str) -> str:
    return f"""
train_bg AS (
    SELECT bigram, CAST(count(*) AS BIGINT) AS c2
    FROM {bg} WHERE source != 'src0' GROUP BY bigram
),
train_pre AS (
    SELECT split_part(bigram, ' ', 1) AS w1,
           CAST(sum(c2) AS BIGINT) AS c1
    FROM train_bg GROUP BY split_part(bigram, ' ', 1)
),
vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM train_bg),
eval_bg AS (
    SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1
    FROM {bg} WHERE source = 'src0'
),
scored AS (
    SELECT e.doc_id,
           ln((coalesce(tb.c2, 0) + 1e0)
              / (coalesce(tp.c1, 0) + vs.v)) AS lp
    FROM eval_bg e
    LEFT JOIN train_bg tb ON tb.bigram = e.bigram
    LEFT JOIN train_pre tp ON tp.w1 = e.w1
    CROSS JOIN vsize vs
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       floor((-sum(lp) / count(*)) * 1e6 + 0.5) / 1e6 AS mean_nll,
       floor(exp(-sum(lp) / count(*)) * 1e6 + 0.5) / 1e6 AS ppl
FROM scored
GROUP BY doc_id
"""


_PPL_DUCK_SQL = (
    f"""
WITH bg AS (
    SELECT doc_id, source, s AS bigram
    FROM (SELECT doc_id, source,
                 {duck_word_shingles(DUCK_TOKENS.format(col="text"), 2)} AS sh
          FROM documents), UNNEST(sh) AS t(s)
),
"""
    + _ppl_tail("bg")
)


@register("lm_heldout_perplexity", oracle=_PPL_DUCK_SQL)
def lm_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram perplexity of the src0 slice under an add-1
    model trained on every OTHER source — the properly-split LM
    quality filter.

    Scale: vocabulary-bounded train counts, Zipf-keyed left joins,
    one per-doc rollup; the bigram relation is materialized once and
    read by both the train and eval sides.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(
        f"""
        SELECT doc_id, source, s AS bigram
        FROM (SELECT doc_id, source,
                     {spark_word_shingles(SPARK_TOKENS.format(col="text"), 2)}
                         AS sh
              FROM documents) LATERAL VIEW explode(sh) t AS s
        """
    ), "ppl_bg")
    return spark.sql("WITH " + _ppl_tail("ppl_bg").lstrip())


# ---------------------------------------------------------------------------
# BPE compression curve (why the merges are worth training)
# ---------------------------------------------------------------------------
# The metric that motivates BPE: each learned merge shrinks the corpus
# token count (every fused occurrence removes one token) while growing
# the symbol vocabulary by at most one. Reuses the exact round
# machinery above — corpus_0..corpus_3 — and reports, per round, total
# tokens and distinct symbols: the compression/vocabulary trade the
# tokenizer-budget decision reads.

def _bpe_stats_select(n: int, split: str, elem: str, guard: str) -> str:
    return f"""
SELECT {n} AS round,
       CAST(sum(size(a)) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT tok) AS BIGINT) AS vocab
FROM (
    SELECT a, {elem.format(i="i")} AS tok
    FROM (SELECT {split} AS a FROM corpus{n}) s {guard}
) x
"""


def _bpe_curve_sql_duck() -> str:
    split = "string_split(trim(s), ' ')"
    elem = "a[CAST({i} AS INT)]"
    guard = (
        ", UNNEST(CASE WHEN len(a) >= 1 THEN "
        "generate_series(1, len(a)) ELSE [] END) AS t(i)"
    )
    relem = "a[CAST({i} AS INT)]"
    rguard = (
        ", UNNEST(CASE WHEN len(a) >= 2 THEN "
        "generate_series(1, len(a) - 1) ELSE [] END) AS t(i)"
    )
    tok0 = (
        "array_to_string(regexp_split_to_array(trim(lower(text)), "
        "'\\s+'), ' ')"
    )
    rounds = "".join(
        "," + _bpe_round(n, relem, rguard).format(split=split)
        for n in range(_BPE_ROUNDS)
    )
    # DuckDB's size() is len() — patch the stats select per dialect.
    stats = "\nUNION ALL\n".join(
        _bpe_stats_select(n, split, elem, guard).replace("sum(size(a))", "sum(len(a))")
        for n in range(_BPE_ROUNDS + 1)
    )
    return f"""
WITH corpus0 AS (
    SELECT doc_id, {tok0} AS s FROM documents
    WHERE length(trim(text)) > 0
){rounds}
SELECT CAST(round AS INT) AS round, n_tokens, vocab FROM ({stats})
"""


@register("bpe_compression_curve", oracle=_bpe_curve_sql_duck())
def bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token count and symbol vocabulary after 0..3 BPE merge
    rounds — the compression/vocab trade curve, reusing the trained
    rounds' materialized corpora."""
    register_views(spark, sf_dir, scaled=("documents",))
    split = "split(trim(s), ' ')"
    relem = "element_at(a, CAST({i} AS INT))"
    rguard = (
        "LATERAL VIEW explode(CASE WHEN size(a) >= 2 THEN "
        "sequence(1, size(a) - 1) ELSE array() END) t AS i"
    )
    elem = "element_at(a, CAST({i} AS INT))"
    guard = (
        "LATERAL VIEW explode(CASE WHEN size(a) >= 1 THEN "
        "sequence(1, size(a)) ELSE array() END) t AS i"
    )
    materialize(spark.sql(
        f"""
        SELECT doc_id,
               concat_ws(' ', split(trim(lower(text)), '\\\\s+')) AS s
        FROM documents WHERE length(trim(text)) > 0
        """
    ), "bpc_corpus0")
    stats = []
    for n in range(_BPE_ROUNDS + 1):
        sql = "WITH corpus%d AS (SELECT * FROM bpc_corpus%d)" % (n, n)
        if n < _BPE_ROUNDS:
            body = _bpe_round(n, relem, rguard).format(split=split)
            nxt = spark.sql(
                sql + "," + body + f"\nSELECT doc_id, s FROM corpus{n + 1}"
            )
            materialize(nxt, f"bpc_corpus{n + 1}")
        stats.append(
            "SELECT * FROM ("
            + sql
            + "\n"
            + _bpe_stats_select(n, split, elem, guard)
            + ")"
        )
    union = "\nUNION ALL\n".join(stats)
    return spark.sql(
        f"SELECT CAST(round AS INT) AS round, n_tokens, vocab FROM ({union})"
    )


# ---------------------------------------------------------------------------
# Dunning log-likelihood-ratio collocations (G²)
# ---------------------------------------------------------------------------
# The statistically sound sibling of text_token_pmi: PMI over-rewards
# rare pairs (one co-occurrence of two hapaxes maxes the score);
# Dunning's G² = 2·Σ O·ln(O/E) over the bigram's 2×2 contingency
# table weighs evidence mass, which is why it is the standard
# collocation test (Dunning 1993) for real corpora. Counts come from
# ONE adjacent-bigram explode (map-only) + vocabulary²-bounded
# aggregations; every table cell (k11, k12, k21, k22) is an exact
# integer derived from the pair/left/right marginals, and G² is one
# float expression over those integers (x·ln x with the 0·ln 0 = 0
# guard), snapped before the top-30 rank with a (w1, w2) tiebreak.


def _xlx(x: str) -> str:
    return f"(CASE WHEN {x} = 0 THEN 0e0 ELSE CAST({x} AS DOUBLE) * ln(CAST({x} AS DOUBLE)) END)"


def _llr_tail(pairs: str) -> str:
    k11 = "p.k11"
    k12 = "(l.r1 - p.k11)"
    k21 = "(r.c1 - p.k11)"
    k22 = "(t.n - l.r1 - r.c1 + p.k11)"
    g2 = (
        f"2e0 * ({_xlx(k11)} + {_xlx(k12)} + {_xlx(k21)} + {_xlx(k22)}"
        f" - {_xlx('l.r1')} - {_xlx('(t.n - l.r1)')}"
        f" - {_xlx('r.c1')} - {_xlx('(t.n - r.c1)')}"
        f" + {_xlx('t.n')})"
    )
    return f"""
counts AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS k11 FROM {pairs}
    GROUP BY w1, w2
),
lefts AS (
    SELECT w1, CAST(sum(k11) AS BIGINT) AS r1 FROM counts GROUP BY w1
),
rights AS (
    SELECT w2, CAST(sum(k11) AS BIGINT) AS c1 FROM counts GROUP BY w2
),
tot AS (SELECT CAST(sum(k11) AS BIGINT) AS n FROM counts)
SELECT p.w1, p.w2, p.k11 AS pair_count,
       floor(({g2}) * 1e6 + 0.5) / 1e6 AS llr_g2
FROM counts p
JOIN lefts l ON l.w1 = p.w1
JOIN rights r ON r.w2 = p.w2
CROSS JOIN tot t
ORDER BY llr_g2 DESC, p.w1, p.w2
LIMIT 30
"""


_LLR_PAIRS_SPARK = f"""
SELECT split_part(s, ' ', 1) AS w1, split_part(s, ' ', 2) AS w2
FROM (
    SELECT explode({spark_word_shingles('toks', 2)}) AS s
    FROM (SELECT {SPARK_TOKENS.format(col='text')} AS toks FROM documents)
)
"""

_LLR_PAIRS_DUCK = f"""
SELECT split_part(s, ' ', 1) AS w1, split_part(s, ' ', 2) AS w2
FROM (
    SELECT unnest({duck_word_shingles('toks', 2)}) AS s
    FROM (SELECT {DUCK_TOKENS.format(col='text')} AS toks FROM documents)
)
"""

_LLR_DUCK_SQL = (
    "WITH bigr AS (" + _LLR_PAIRS_DUCK + ")\n"
    + _llr_tail("bigr").replace("\ncounts AS", "\n, counts AS", 1)
)


@register("text_token_llr", oracle=_LLR_DUCK_SQL)
def text_token_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 Dunning G² collocations over adjacent token bigrams.

    The bigram relation feeds three marginal aggregations; Spark
    inlines CTEs, so it is materialized once via localCheckpoint.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_LLR_PAIRS_SPARK), "llr_bigr")
    return spark.sql("WITH " + _llr_tail("llr_bigr").lstrip())


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer: one full EM round (SentencePiece-style)
# ---------------------------------------------------------------------------
# The OTHER tokenizer-training algorithm (Kudo 2018), complementing the
# BPE merge loop above: seed a subword vocabulary, E-step = find each
# word's minimum-cost segmentation under current piece probabilities,
# M-step = re-estimate probabilities from the chosen segmentations.
#
# Why this is tractable as pure SQL at 100 TB: the corpus first
# reduces to DISTINCT words × frequency (Zipf — vocabulary ≪ corpus;
# the ONE corpus-sized pass is that token count), and everything
# after runs on bounded relations. The seed vocab is the top-40
# multi-char substrings by frequency (RANK-based, so the vocab is
# scale-invariant where an absolute cutoff breaks) plus every single
# char (segmentability guarantee). The E-step finds each word's
# minimum-cost segmentation (cost = −ln p(piece) per step). The M-step
# is one weighted explode of the winning paths. Output: top-30 pieces
# by re-estimated probability.
#
# E-step execution (round-7 rewrite, VERDICT r6 task 2): the Spark
# side runs the position-DP (Viterbi) as ONE ``aggregate()`` fold per
# distinct word — a left-to-right scan over positions 1..length(w)
# keeping, per position, the (cost, path)-minimal struct among the ≤ 4
# piece lengths that can end there. One Spark job instead of one job
# per recursion level (the per-step recursive CTE ran 12.9 s at sf0.1;
# the fold runs the same corpus pass once and the DP JVM-side). The
# DuckDB oracle keeps the exhaustive recursive-CTE enumeration.
#
# Why the DP and the enumeration agree EXACTLY (not just on minima):
# both sides pre-snap each piece cost to the 1e-9 grid in the shared
# ``vc`` CTE, then accumulate with the identical left-to-right
# ``floor((cost + piece_cost) * 1e9 + 0.5) / 1e9`` step, so every
# partial cost is the same double in both engines. On that grid, two
# distinct prefix costs can never collapse into a tie after extension
# (the re-snap shifts both by the same fraction), so (a) a strictly
# cheaper prefix always yields a strictly cheaper completion — the DP's
# per-position argmin is safe — and (b) among equal-cost prefixes the
# lexicographically smaller path string stays smaller under any shared
# continuation (segmentations of the same chars are never string-
# prefixes of each other), so the DP's (cost, path) struct-min equals
# the enumeration's global ORDER BY cost, path per word. The old
# enumeration bound (length(w) <= 12 in the words CTE) is kept: it
# still caps the oracle's path count at 2^11 per word, and keeps the
# two engines' word sets identical.


def _unigram_sql(
    gen2: str, unnest_path: str, idx_word: str
) -> str:
    return f"""
words AS (
    -- length(w) <= 12 bounds the E-step: the exhaustive segmentation
    -- enumeration is <= 2^(len-1) <= 2048 paths per word. Without the
    -- guard one 40-char token (URL, hex hash — guaranteed in a web
    -- corpus) explodes the recursion exponentially. Dropping over-long
    -- tokens is the standard tokenizer-training truncation
    -- (SentencePiece max_sentencepiece_length ancestry) and is
    -- mirrored verbatim in the DuckDB oracle (shared SQL).
    SELECT w, CAST(count(*) AS BIGINT) AS wf
    FROM (SELECT {idx_word} AS w FROM tok_exploded)
    WHERE length(w) <= 12
    GROUP BY w
),
subs AS (
    SELECT substr(p.w, CAST(p.i AS INT), CAST(p.l AS INT)) AS piece,
           CAST(p.l AS BIGINT) AS len,
           CAST(sum(p.wf) AS BIGINT) AS pf
    FROM ({gen2}) p
    GROUP BY 1, 2
),
multi AS (
    SELECT piece, len, pf
    FROM (
        SELECT piece, len, pf,
               CAST(row_number() OVER (ORDER BY pf DESC, piece) AS BIGINT)
                   AS rk
        FROM subs WHERE len >= 2
    ) r WHERE rk <= 40
),
vocab AS (
    SELECT piece, len, pf FROM subs WHERE len = 1
    UNION ALL
    SELECT piece, len, pf FROM multi
),
tot AS (SELECT CAST(sum(pf) AS BIGINT) AS pftot FROM vocab),
seg(w, wf, pos, cost, path) AS (
    SELECT w, wf, CAST(0 AS BIGINT), 0e0, '' FROM words
    UNION ALL
    SELECT s.w, s.wf, s.pos + v.len,
           floor((s.cost
                  + ln(CAST(t.pftot AS DOUBLE))
                  - ln(CAST(v.pf AS DOUBLE))) * 1e9 + 0.5) / 1e9,
           CASE WHEN s.path = '' THEN v.piece
                ELSE s.path || ' ' || v.piece END
    FROM seg s
    JOIN vocab v ON substr(s.w, CAST(s.pos + 1 AS INT), CAST(v.len AS INT))
                    = v.piece
    CROSS JOIN tot t
    WHERE s.pos + v.len <= length(s.w)
),
best AS (
    SELECT w, wf, path
    FROM (
        SELECT w, wf, path,
               CAST(row_number() OVER (
                   PARTITION BY w
                   ORDER BY floor(cost * 1e6 + 0.5) / 1e6, path)
                   AS BIGINT) AS rk
        FROM seg WHERE pos = length(w)
    ) z WHERE rk = 1
),
mstep AS (
    SELECT piece, CAST(sum(wf) AS BIGINT) AS cnt_new
    FROM (SELECT wf, {unnest_path} AS piece FROM best) u
    GROUP BY piece
),
newtot AS (SELECT CAST(sum(cnt_new) AS BIGINT) AS ntot FROM mstep)
SELECT v.piece, v.len AS piece_len,
       floor((CAST(v.pf AS DOUBLE) / t.pftot) * 1e6 + 0.5) / 1e6 AS p_seed,
       coalesce(m.cnt_new, 0) AS count_em,
       floor((CAST(coalesce(m.cnt_new, 0) AS DOUBLE) / nt.ntot)
             * 1e6 + 0.5) / 1e6 AS p_em
FROM vocab v
LEFT JOIN mstep m ON m.piece = v.piece
CROSS JOIN tot t CROSS JOIN newtot nt
ORDER BY p_em DESC, v.piece
LIMIT 30
"""


_UNIGRAM_GEN2_SPARK = """
    SELECT ww.w, ww.wf, ii.i, ll.l
    FROM words ww
    LATERAL VIEW explode(sequence(1, length(ww.w))) ii AS i
    LATERAL VIEW explode(sequence(1, 4)) ll AS l
    WHERE ii.i + ll.l - 1 <= length(ww.w)
"""

_UNIGRAM_GEN2_DUCK = """
    SELECT ww.w, ww.wf, ii.i, ll.l
    FROM words ww,
         LATERAL (SELECT unnest(generate_series(1, length(ww.w))) AS i) ii,
         (SELECT unnest(generate_series(1, 4)) AS l) ll
    WHERE ii.i + ll.l - 1 <= length(ww.w)
"""


# Snapped per-piece cost table, shared verbatim by both engines (and by
# the DP/enumeration pair): every downstream cost arithmetic starts from
# these 1e-9-grid doubles, so the engines walk identical numbers.
_UNIGRAM_VC = """
SELECT v.piece, CAST(v.len AS INT) AS len, v.pf, t.pftot,
       floor((ln(CAST(t.pftot AS DOUBLE)) - ln(CAST(v.pf AS DOUBLE)))
             * 1e9 + 0.5) / 1e9 AS cost
FROM vocab v CROSS JOIN tot t
"""

# DuckDB E-step: exhaustive enumeration (recursive CTE), joined against
# the snapped cost table so its accumulation grid matches the Spark DP.
_UNIGRAM_EM_DUCK_BEST = """
seg(w, wf, pos, cost, path) AS (
    SELECT w, wf, CAST(0 AS BIGINT), 0e0, '' FROM words
    UNION ALL
    SELECT s.w, s.wf, s.pos + p.len,
           floor((s.cost + p.cost) * 1e9 + 0.5) / 1e9,
           CASE WHEN s.path = '' THEN p.piece
                ELSE s.path || ' ' || p.piece END
    FROM seg s
    JOIN vc p ON substr(s.w, CAST(s.pos + 1 AS INT), p.len) = p.piece
    WHERE s.pos + p.len <= length(s.w)
),
best AS (
    SELECT w, wf, path
    FROM (
        SELECT w, wf, path,
               CAST(row_number() OVER (
                   PARTITION BY w ORDER BY cost, path) AS BIGINT) AS rk
        FROM seg WHERE pos = length(w)
    ) z WHERE rk = 1
)"""


def _uem_cand(length: int) -> str:
    """One DP candidate: the piece of ``length`` chars ending at fold
    position ``i``. Nested CASE (not AND) so the acc index is only
    evaluated when i >= length — ANSI element_at rejects index <= 0."""
    prev = f"element_at(acc, i - {length} + 1)"
    piece = f"substr(w, i - {length} + 1, {length})"
    return (
        f"CASE WHEN i >= {length} THEN "
        f"CASE WHEN {prev}.c IS NOT NULL "
        f"AND try_element_at(m, {piece}) IS NOT NULL THEN "
        f"named_struct("
        f"'c', floor(({prev}.c + try_element_at(m, {piece})) * 1e9 + 0.5)"
        f" / 1e9, "
        f"'p', CASE WHEN {prev}.p = '' THEN {piece} "
        f"ELSE {prev}.p || ' ' || {piece} END"
        f") END END"
    )


def _unigram_em_spark_best(words: str, vc: str) -> str:
    """Spark E-step: one aggregate() fold per word. acc[j] = the
    (cost, path)-minimal struct reaching position j-1 (struct-min
    orders by field — cost, then path)."""
    return f"""
vmap AS (
    SELECT map_from_entries(collect_list(struct(piece, cost))) AS m
    FROM {vc}
),
best AS (
    SELECT w, wf,
           aggregate(
               sequence(1, length(w)),
               array(named_struct('c', CAST(0 AS DOUBLE), 'p', '')),
               (acc, i) -> concat(acc, array(array_min(filter(array(
                   {_uem_cand(1)},
                   {_uem_cand(2)},
                   {_uem_cand(3)},
                   {_uem_cand(4)}
               ), x -> x IS NOT NULL)))),
               acc -> element_at(acc, -1).p
           ) AS path
    FROM {words} CROSS JOIN vmap
)"""


def _unigram_em_tail(unnest_path: str, vc: str = "vc") -> str:
    """M-step + report, shared modulo the explode/unnest spelling."""
    return f"""
mstep AS (
    SELECT piece, CAST(sum(wf) AS BIGINT) AS cnt_new
    FROM (SELECT wf, {unnest_path} AS piece FROM best) u
    GROUP BY piece
),
newtot AS (SELECT CAST(sum(cnt_new) AS BIGINT) AS ntot FROM mstep)
SELECT v.piece, CAST(v.len AS BIGINT) AS piece_len,
       floor((CAST(v.pf AS DOUBLE) / v.pftot) * 1e6 + 0.5) / 1e6 AS p_seed,
       coalesce(m.cnt_new, CAST(0 AS BIGINT)) AS count_em,
       floor((CAST(coalesce(m.cnt_new, 0) AS DOUBLE) / nt.ntot)
             * 1e6 + 0.5) / 1e6 AS p_em
FROM {vc} v
LEFT JOIN mstep m ON m.piece = v.piece
CROSS JOIN newtot nt
ORDER BY p_em DESC, v.piece
LIMIT 30
"""


def _unigram_em_duck_sql() -> str:
    prefix = _unigram_sql(_UNIGRAM_GEN2_DUCK, "x", "tk").split("\nseg(")[0]
    prefix = prefix.rstrip().rstrip(",")
    return (
        "WITH RECURSIVE tok_exploded AS ("
        f"SELECT unnest({DUCK_TOKENS.format(col='text')}) AS tk "
        "FROM documents),\n"
        + prefix.lstrip()
        + f",\nvc AS ({_UNIGRAM_VC}),\n"
        + _UNIGRAM_EM_DUCK_BEST.lstrip()
        + ","
        + _unigram_em_tail("unnest(string_split(path, ' '))")
    )


@register("lm_unigram_em_round", oracle=_unigram_em_duck_sql())
def lm_unigram_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM round of a unigram-LM (SentencePiece-style) tokenizer:
    rank-seeded subword vocab → exact minimum-cost segmentation per
    distinct word → re-estimated piece probabilities.

    The Spark E-step is a single ``aggregate()`` position-DP fold per
    word (see the module comment for the exact-equality argument vs the
    oracle's exhaustive recursive enumeration). The corpus-pass outputs
    (distinct words, snapped-cost vocab) are each referenced twice, so
    they are materialized once via localCheckpoint; everything after
    runs on vocabulary-bounded relations in one job.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    prefix = _unigram_sql(_UNIGRAM_GEN2_SPARK, "x", "tk").split("\nseg(")[0]
    prefix = prefix.rstrip().rstrip(",")
    head = (
        "WITH tok_exploded AS ("
        f"SELECT explode({SPARK_TOKENS.format(col='text')}) AS tk "
        "FROM documents),"
        + prefix.lstrip()
    )
    materialize(spark.sql(head + "\nSELECT w, wf FROM words"), "uem_words")
    materialize(
        spark.sql(head + f",\nvc AS ({_UNIGRAM_VC})\nSELECT * FROM vc"), "uem_vc"
    )
    body = (
        "WITH "
        + _unigram_em_spark_best("uem_words", "uem_vc").lstrip()
        + ","
        + _unigram_em_tail("explode(split(path, ' '))", vc="uem_vc")
    )
    return spark.sql(body)


# ---------------------------------------------------------------------------
# word2vec negative-sampling distribution (unigram^0.75 table)
# ---------------------------------------------------------------------------
# The sampling table every skip-gram/contrastive trainer builds before
# the first gradient step (Mikolov et al. 2013): negatives are drawn
# with p(w) proportional to count(w)^0.75 — the exponent that lifts the
# tail enough to make rare-word negatives appear. This query builds the
# top-40 rows of that table with cumulative interval boundaries (the
# inverse-CDF form a sampler binary-searches into).
#
# Float discipline: count^0.75 = exp(0.75*ln(c)) snaps to the 1e-6
# grid the moment it is computed (exp/ln can differ by an ulp
# cross-engine); the normalizer is an exact sum of the snapped
# weights; the cumulative boundary is a running sum of the SAME
# snapped integers (DECIMAL accumulation, order fixed by the
# (count DESC, term) total order). The cumulative window runs over
# the VOCABULARY relation — corpus-sublinear, the invariant-
# sanctioned cumulative-window class.


def _negtable_sql(word_extract: str, unnest_words: str) -> str:
    w75 = "floor(exp(0.75 * ln(CAST(cnt AS DOUBLE))) * 1e6 + 0.5) / 1e6"
    tot = sql_exact_sum("w75", 6)
    return f"""
WITH terms AS (
    SELECT w AS term, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT {word_extract} AS ws FROM documents){unnest_words}
    GROUP BY w
),
pw AS (SELECT term, cnt, {w75} AS w75 FROM terms),
tot AS (SELECT {tot} AS tw FROM pw),
cum AS (
    SELECT term, cnt, w75,
           CAST(sum(CAST(floor(w75 * 1e6 + 0.5) AS DECIMAL(38,0)))
                OVER (ORDER BY cnt DESC, term) AS DOUBLE) / 1e6 AS cw
    FROM pw
)
SELECT c.term, c.cnt,
       {sql_stable_round("c.w75 / t.tw", 6)} AS p_neg,
       {sql_stable_round("c.cw / t.tw", 6)} AS cum_boundary
FROM cum c CROSS JOIN tot t
ORDER BY c.cnt DESC, c.term
LIMIT 40
"""


_NEG_SPARK_SQL = _negtable_sql(
    "regexp_extract_all(text, '[a-z]+', 0)",
    " LATERAL VIEW explode(ws) t AS w",
)

_NEG_DUCK_SQL = _negtable_sql(
    "regexp_extract_all(text, '[a-z]+')",
    ", UNNEST(ws) AS t(w)",
)


@register("lm_negative_sampling_table", oracle=_NEG_DUCK_SQL)
def lm_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 rows of the unigram^0.75 negative-sampling table with
    cumulative inverse-CDF boundaries — the skip-gram/contrastive
    trainer's sampling distribution, built exactly."""
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_NEG_SPARK_SQL)


# ---------------------------------------------------------------------------
# Viterbi (DP) minimum-cost segmentation — the bounded E-step form
# ---------------------------------------------------------------------------
# The same argmin the exhaustive recursive E-step above computes, as a
# position-indexed dynamic program: best(p) = min over piece lengths
# l=1..4 of best(p-l) + cost(piece ending at p). Work per word is
# O(L x 4) instead of O(2^(L-1)) paths — the form that stays bounded
# on ANY token length (each extra character adds one DP level, not a
# doubling). The SQL unrolls the 12 levels explicitly (matching the
# words CTE's length cap, so the two E-steps are directly comparable);
# supporting longer words is appending levels, linear growth.
#
# Determinism: every candidate cost snaps to the 1e-9 grid before the
# per-level min — identical monotone left-to-right accumulation as the
# exhaustive enumeration, so the per-word minimum MATCHES it exactly
# (pinned in tests/test_lm_bounds.py).
#
# Scale note (Spark): each bp level is referenced by up to 4 later
# levels and the final union; Spark inlines CTEs, so each level is
# materialized via localCheckpoint (12 tiny vocab-bounded relations) —
# the same discipline as the unrolled k-means/PageRank rounds. DuckDB
# materializes shared CTEs itself, so the oracle is one statement.

_VIT_MAXLEN = 12


def _vit_level_sql(p: int, bp: str, pc: str) -> str:
    """UNION-ALL branches for DP level p reading bp{p-l} and the piece
    cost table; returns the level's SELECT body."""
    branches = []
    for l in (1, 2, 3, 4):
        if p - l < 0:
            continue
        branches.append(
            f"""SELECT b.w, b.wf,
       floor((b.cost + p.cost) * 1e9 + 0.5) / 1e9 AS c
FROM {bp}{p - l} b JOIN {pc} p
     ON p.len = {l} AND substr(b.w, {p - l + 1}, {l}) = p.piece
WHERE length(b.w) >= {p}"""
        )
    body = "\nUNION ALL\n".join(branches)
    return f"SELECT w, wf, min(c) AS cost FROM (\n{body}\n) z GROUP BY w, wf"


def _vit_done_sql(bp: str) -> str:
    parts = [
        f"SELECT w, wf, cost FROM {bp}{p} WHERE length(w) = {p}"
        for p in range(1, _VIT_MAXLEN + 1)
    ]
    return (
        "SELECT w AS word, CAST(wf AS BIGINT) AS freq, cost AS vit_cost\n"
        "FROM (\n" + "\nUNION ALL\n".join(parts) + "\n) d\n"
        "ORDER BY freq DESC, word\nLIMIT 30"
    )


_VIT_PC_TAIL = """
SELECT v.piece, CAST(v.len AS INT) AS len,
       floor((ln(CAST(t.pftot AS DOUBLE)) - ln(CAST(v.pf AS DOUBLE)))
             * 1e9 + 0.5) / 1e9 AS cost
FROM vocab v CROSS JOIN tot t
"""


def _vit_duck_sql() -> str:
    # Every bp level is referenced by up to 4 later levels; DuckDB's
    # inlining would expand the reference tree 4^12-fold (it ran out of
    # file handles before finishing planning), so the shared CTEs are
    # pinned AS MATERIALIZED — DuckDB-only syntax, which is exactly what
    # the Spark side's per-level localCheckpoint does.
    prefix = _unigram_sql(_UNIGRAM_GEN2_DUCK, "x", "tk").split("\nseg(")[0]
    prefix = prefix.rstrip().rstrip(",")
    prefix = prefix.replace("words AS (", "words AS MATERIALIZED (", 1)
    ctes = [
        "WITH tok_exploded AS ("
        f"SELECT unnest({DUCK_TOKENS.format(col='text')}) AS tk "
        "FROM documents),"
        + prefix.lstrip()
        + f",\npc AS MATERIALIZED ({_VIT_PC_TAIL}),",
        "bp0 AS MATERIALIZED (SELECT w, wf, 0e0 AS cost FROM words)",
    ]
    for p in range(1, _VIT_MAXLEN + 1):
        ctes.append(
            f",\nbp{p} AS MATERIALIZED ({_vit_level_sql(p, 'bp', 'pc')})"
        )
    return "".join(ctes) + "\n" + _vit_done_sql("bp")


@register("lm_viterbi_segmentation", oracle=_vit_duck_sql())
def lm_viterbi_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-word minimum segmentation cost under the unigram seed vocab,
    computed by the position-DP (Viterbi) recurrence — O(L x 4) per
    word vs the exhaustive E-step's O(2^(L-1)); identical minima
    (pinned against lm_unigram_em_round's enumeration in tests)."""
    register_views(spark, sf_dir, scaled=("documents",))
    prefix = _unigram_sql(_UNIGRAM_GEN2_SPARK, "x", "tk").split("\nseg(")[0]
    prefix = prefix.rstrip().rstrip(",")
    head = (
        "WITH tok_exploded AS ("
        f"SELECT explode({SPARK_TOKENS.format(col='text')}) AS tk "
        "FROM documents),"
        + prefix.lstrip()
    )
    materialize(spark.sql(head + "\nSELECT w, wf FROM words"), "vit_words")
    materialize(spark.sql(head + "\n" + _VIT_PC_TAIL), "vit_pc")
    spark.sql(
        "SELECT w, wf, 0e0 AS cost FROM vit_words"
    ).createOrReplaceTempView("vit_bp0")
    for p in range(1, _VIT_MAXLEN + 1):
        materialize(spark.sql(_vit_level_sql(p, "vit_bp", "vit_pc")), f"vit_bp{p}")
    return spark.sql(_vit_done_sql("vit_bp"))


# ---------------------------------------------------------------------------
# WordPiece-style greedy longest-match segmentation
# ---------------------------------------------------------------------------
# The THIRD tokenizer-inference algorithm (after BPE merges and the
# unigram-EM/Viterbi pair above): WordPiece inference segments each
# word by repeatedly taking the LONGEST vocab piece that matches at the
# cursor (Devlin et al. 2019 — greedy, not optimal; its fertility
# (pieces/word) is the standard comparison against the Viterbi optimum
# computed from the same seed vocab). Deterministic: at a given cursor
# at most one vocab piece of each length matches (same substring), so
# the greedy path is unique — no tiebreak needed.
#
# Spark side: ONE aggregate() fold per distinct word (the unigram-EM
# rewrite's execution shape) carrying struct(pos, path); membership
# tests are try_element_at lookups into the broadcast piece map; every
# step advances the cursor by the longest match (single chars always
# present, so always >= 1 — length(w) iterations suffice). DuckDB
# oracle: the same greedy walk as a recursive CTE where a NOT EXISTS
# anti-join enforces "no longer piece matches here".


def _wp_member(length: int) -> str:
    return (
        f"(acc.pos + {length} <= length(w) AND try_element_at(m,"
        f" substr(w, acc.pos + 1, {length})) IS NOT NULL)"
    )


_WP_ADV = (
    f"CASE WHEN {_wp_member(4)} THEN 4 WHEN {_wp_member(3)} THEN 3"
    f" WHEN {_wp_member(2)} THEN 2 ELSE 1 END"
)

_WP_SPARK_TAIL = f"""
vm AS (
    SELECT map_from_entries(collect_list(struct(piece, len))) AS m
    FROM wp_vocab
),
seg AS (
    SELECT w, wf,
           aggregate(
               sequence(1, length(w)),
               named_struct('pos', 0, 'p', ''),
               (acc, i) -> CASE WHEN acc.pos >= length(w) THEN acc ELSE
                   named_struct(
                       'pos', acc.pos + {_WP_ADV},
                       'p', CASE WHEN acc.p = ''
                                 THEN substr(w, acc.pos + 1, {_WP_ADV})
                                 ELSE acc.p || ' '
                                      || substr(w, acc.pos + 1, {_WP_ADV})
                            END)
                   END,
               acc -> acc.p
           ) AS path
    FROM wp_words CROSS JOIN vm
)
SELECT w AS word, wf AS freq,
       CAST(size(split(path, ' ')) AS BIGINT) AS n_pieces,
       path AS wp_path
FROM seg
ORDER BY freq DESC, word
LIMIT 30
"""


def _wp_duck_sql() -> str:
    prefix = _unigram_sql(_UNIGRAM_GEN2_DUCK, "x", "tk").split("\nseg(")[0]
    prefix = prefix.rstrip().rstrip(",")
    return (
        "WITH RECURSIVE tok_exploded AS ("
        f"SELECT unnest({DUCK_TOKENS.format(col='text')}) AS tk "
        "FROM documents),\n"
        + prefix.lstrip()
        + """,
seg(w, wf, pos, path) AS (
    SELECT w, wf, CAST(0 AS BIGINT), '' FROM words
    UNION ALL
    SELECT s.w, s.wf, s.pos + v.len,
           CASE WHEN s.path = '' THEN v.piece
                ELSE s.path || ' ' || v.piece END
    FROM seg s
    JOIN vocab v
      ON substr(s.w, CAST(s.pos + 1 AS INT), CAST(v.len AS INT)) = v.piece
     AND s.pos + v.len <= length(s.w)
    WHERE NOT EXISTS (
        SELECT 1 FROM vocab v2
        WHERE v2.len > v.len
          AND s.pos + v2.len <= length(s.w)
          AND substr(s.w, CAST(s.pos + 1 AS INT), CAST(v2.len AS INT))
              = v2.piece
    )
)
SELECT w AS word, wf AS freq,
       CAST(len(string_split(path, ' ')) AS BIGINT) AS n_pieces,
       path AS wp_path
FROM seg WHERE pos = length(w)
ORDER BY freq DESC, word
LIMIT 30
"""
    )


@register("lm_wordpiece_greedy", oracle=_wp_duck_sql())
def lm_wordpiece_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match (WordPiece-inference) segmentation of the
    top-30 words under the unigram seed vocab: pieces-per-word
    fertility and the greedy path — one aggregate() fold per distinct
    word, corpus passes materialized once."""
    register_views(spark, sf_dir, scaled=("documents",))
    prefix = _unigram_sql(_UNIGRAM_GEN2_SPARK, "x", "tk").split("\nseg(")[0]
    prefix = prefix.rstrip().rstrip(",")
    head = (
        "WITH tok_exploded AS ("
        f"SELECT explode({SPARK_TOKENS.format(col='text')}) AS tk "
        "FROM documents),"
        + prefix.lstrip()
    )
    materialize(spark.sql(head + "\nSELECT w, wf FROM words"), "wp_words")
    materialize(
        spark.sql(head + "\nSELECT piece, CAST(len AS INT) AS len FROM vocab"),
        "wp_vocab",
    )
    return spark.sql("WITH " + _WP_SPARK_TAIL.lstrip())
