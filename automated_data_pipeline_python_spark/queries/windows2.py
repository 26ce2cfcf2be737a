"""Window-function battery 2 + classic text-weighting (TF-IDF) +
regex redaction — completing SURVEY §2.5/§2.6/§2.8 coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.functions.numeric import (
    snap_scaled,
    sql_snap_scaled,
    stable_round,
)
from automated_data_pipeline_python_spark.functions.text import (
    DUCK_TOKENS,
    SPARK_TOKENS,
)
from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import load, register_views

_S_TOK = SPARK_TOKENS.format(col="text")
_D_TOK = DUCK_TOKENS.format(col="text")


@register(
    "window_rank_battery",
    oracle="""
    SELECT
        c_mktsegment,
        c_custkey,
        CAST(ntile(4)       OVER w AS INT)                      AS quartile,
        floor((percent_rank() OVER w) * 1e6 + 0.5) / 1e6        AS pct_rank,
        floor((cume_dist()    OVER w) * 1e6 + 0.5) / 1e6        AS cume,
        CAST(dense_rank()   OVER w AS INT)                      AS drank,
        first_value(c_custkey) OVER w                           AS richest,
        last_value(c_custkey)  OVER (PARTITION BY c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest,
        nth_value(c_custkey, 2) OVER (PARTITION BY c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second
    FROM customer
    WHERE c_custkey < 300
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist/dense_rank/first/last/nth_value.

    last_value and nth_value need an explicit unbounded frame (the
    default frame ends at CURRENT ROW — a classic silent-wrong-result).
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        stable_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        stable_round(F.cume_dist().over(w), 6).alias("cume"),
        F.dense_rank().over(w).alias("drank"),
        F.first("c_custkey").over(w).alias("richest"),
        F.last("c_custkey").over(w_full).alias("poorest"),
        F.nth_value("c_custkey", 2).over(w_full).alias("second"),
    )


@register(
    "window_range_frame",
    oracle=f"""
    SELECT
        o_custkey,
        o_orderkey,
        floor((CAST(sum({sql_snap_scaled("o_totalprice", 2)}) OVER (
            PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
            RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
        ) AS DOUBLE) / 1e2) * 1e2 + 0.5) / 1e2 AS trailing_90d_spend
    FROM orders
    WHERE o_custkey < 100
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: trailing-90-day spend per customer.

    Expressed over epoch seconds so the frame bound is an exact integer
    range in both engines (90 d = 7,776,000 s). The frame sums
    cent-snapped integers — DuckDB's segment-tree window accumulation
    order differs from Spark's, so raw double frames drift by ulps.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    epoch = F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-7_776_000, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        stable_round(
            F.sum(snap_scaled("o_totalprice", 2)).over(w).cast("double") / F.lit(100.0), 2
        ).alias("trailing_90d_spend"),
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, {_D_TOK} AS w FROM documents), UNNEST(w) AS t(token)
        GROUP BY doc_id, token
    ),
    n_docs AS (SELECT count(*) AS n FROM documents),
    df AS (SELECT token, count(*) AS dfreq FROM tok GROUP BY token),
    scored AS (
        SELECT
            tok.doc_id,
            tok.token,
            tok.tf * ln(CAST(n.n AS DOUBLE) / dfreq) AS tfidf
        FROM tok JOIN df ON tok.token = df.token CROSS JOIN n_docs n
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, token) AS rn
        FROM scored
    )
    SELECT doc_id, token AS top_term,
           floor((tfidf) * 1e6 + 0.5) / 1e6 AS tfidf
    FROM ranked WHERE rn = 1
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: the most characteristic term per document.

    Scale: term frequencies and document frequencies are two hash
    aggregations over the exploded token stream; the idf table is tiny
    (vocab-sized) → broadcast join back. The (doc, token, tf) relation
    is materialized once — both the df aggregation and the scoring join
    read it, and Spark would otherwise inline the tokenize+explode+agg
    pipeline into each reference (2× the corpus work).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(
        f"""
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, {_S_TOK} AS w FROM documents)
        LATERAL VIEW explode(w) t AS token
        GROUP BY doc_id, token
        """
    ), "tfidf_tok")
    return spark.sql(
        """
        WITH tok AS (SELECT * FROM tfidf_tok),
        n_docs AS (SELECT count(*) AS n FROM documents),
        df AS (SELECT token, count(*) AS dfreq FROM tok GROUP BY token),
        scored AS (
            SELECT
                tok.doc_id,
                tok.token,
                tok.tf * ln(CAST(n.n AS DOUBLE) / dfreq) AS tfidf
            FROM tok JOIN df ON tok.token = df.token CROSS JOIN n_docs n
        ),
        -- r12 optimization (guide §2.3 "aggregate before you shuffle"):
        -- the per-doc argmax is min(struct(-tfidf, token)) — a hash
        -- aggregate with map-side partials (one row per doc crosses the
        -- exchange) instead of row_number()'s full shuffle+sort of every
        -- (doc, token) row. (-tfidf, token) ascending == ORDER BY tfidf
        -- DESC, token; negation is exact on doubles, and tfidf is never
        -- NaN (tf >= 1, n >= dfreq >= 1). Oracle keeps the window form.
        best AS (
            SELECT doc_id,
                   min(named_struct('negt', -tfidf, 'token', token)) AS m
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, m.token AS top_term,
               floor((-m.negt) * 1e6 + 0.5) / 1e6 AS tfidf
        FROM best
        """
    )


@register(
    "text_redact_patterns",
    oracle=r"""
    SELECT
        doc_id,
        regexp_replace(
            regexp_replace(
                concat(text, ' contact: user', CAST(doc_id AS VARCHAR),
                       '@example.com or +1-555-000-',
                       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')),
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')
            AS redacted_tail_64
    FROM documents
    WHERE doc_id < 50
    """,
)
def text_redact_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style regex redaction (emails, phone numbers).

    The corpus has no PII, so deterministic synthetic contact strings
    are appended then redacted — exercising multi-pass regexp_replace,
    the shape of production scrubbing passes. Pure projection: no
    shuffle, fully codegen'd.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-000-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            with_pii,
            r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
            "<EMAIL>",
        ),
        r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    return docs.select("doc_id", redacted.alias("redacted_tail_64"))


# ---------------------------------------------------------------------------
# LOCF forward fill: last_value IGNORE NULLS (timeseries staple)
# ---------------------------------------------------------------------------
# error events carry no reading (value → NULL); the last observation is
# carried forward per user. Spark: last(..., ignoreNulls) over a
# running frame; DuckDB: last_value(... IGNORE NULLS). One shuffle on
# user_id; the frame is running (no full-partition buffering).

_LOCF_DUCK_SQL = """
SELECT event_id, user_id,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
       event_type,
       last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                  IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS value_filled
FROM events
"""


@register("events_locf_forward_fill", oracle=_LOCF_DUCK_SQL)
def events_locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF): carry each user's last non-null reading
    across error events. Deterministic via the (ts, event_id) order."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    reading = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        F.last(reading, ignorenulls=True).over(w).alias("value_filled"),
    )
