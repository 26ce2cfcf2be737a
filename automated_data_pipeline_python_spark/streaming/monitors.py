"""Streaming drift, mixture, and changepoint monitors — twins of the
batch catalog queries ``events_psi_value_drift`` and
``events_ks_two_sample`` (queries/drift.py), ``mixture_doremi_round``
(queries/curation3.py), and ``events_cusum_changepoint`` /
``events_page_hinkley_drift`` (queries/timeseries.py — the two
detectors share one incrementally-maintained count grid).

Monitor shape (the ``mad_alarm`` discipline extended from map-only
scoring to aggregating monitors): the baseline is frozen batch-side as
bounded relations (a one-row cutoff frame, a <=10-row early histogram,
a vocab-sized surprisal table), the stream pays a stateless map plus
ONE bounded grouped aggregate (complete mode — 10 bucket rows /
|sources| rows of state, corpus-independent), and the report step is
O(bounded) algebra over the completed counts. Both report steps reuse
the catalog queries' tail SQL VERBATIM, so stream==batch parity is a
structural guarantee rather than a re-derivation — pinned by
tests/test_streaming.py against the catalog queries themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.functions.text import SPARK_TOKENS

_TOKENS = SPARK_TOKENS.format(col="text")

# Identical snapping to queries/drift.py _PSI_VALUED/_PSI_BUCKET: the
# value snaps to the 1e-6 grid BEFORE comparing against the snapped
# cutoffs, so a value equal to a cutoff lands identically everywhere.
_SNAP_V = "floor(value * 1e6 + 0.5) / 1e6"
_BUCKET = " + ".join(
    f"(CASE WHEN {_SNAP_V} > c{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
)
_IS_LATE = (
    "2 * timestampdiff(MICROSECOND, t0, ts)"
    " >= timestampdiff(MICROSECOND, t0, t1)"
)


def psi_baseline(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Frozen PSI baseline from a reference batch: the one-row cutoff
    frame (snapped full-period decile cutoffs c1..c9 plus the period
    bounds t0/t1 that define the early/late split) and the early-half
    per-bucket counts (<=10 rows).

    Production refreshes these on a schedule; the stream scores
    against the FROZEN values — what keeps the streaming side down to
    one bounded grouped count. Callers freeze via localCheckpoint.
    """
    bounds = events.agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    valued = events.where("value IS NOT NULL").crossJoin(F.broadcast(bounds))
    cuts = valued.select(F.expr(_SNAP_V).alias("v"), "t0", "t1").agg(
        *[
            F.expr(
                f"floor(percentile(v, {i} / 10e0) * 1e6 + 0.5) / 1e6"
            ).alias(f"c{i}")
            for i in range(1, 10)
        ],
        F.min("t0").alias("t0"),
        F.min("t1").alias("t1"),
    )
    early = (
        valued.where(f"NOT ({_IS_LATE})")
        .crossJoin(F.broadcast(cuts.drop("t0", "t1")))
        .select(F.expr(f"CAST({_BUCKET} AS INT)").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )
    return cuts, early


def psi_late_counts(stream: DataFrame, cuts: DataFrame) -> DataFrame:
    """Streamable late-half bucket counts: broadcast the one-row frozen
    cutoff frame (stream-static join, map-only), assign each row's
    decile bucket by indicator sum against the snapped cutoffs — no
    sort, no ntile — then ONE grouped count with 10 state rows
    (complete mode). Works identically on a batch frame."""
    return (
        stream.where("value IS NOT NULL")
        .crossJoin(F.broadcast(cuts))
        .where(_IS_LATE)
        .select(F.expr(f"CAST({_BUCKET} AS INT)").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def psi_report(late_counts: DataFrame, early_counts: DataFrame) -> DataFrame:
    """PSI per bucket from the completed counts — the catalog query's
    tail SQL (queries/drift.py _PSI_TAIL) applied verbatim to the
    monitor's (half, bucket, n) cells, so the streamed report equals
    events_psi_value_drift row-for-row."""
    from automated_data_pipeline_python_spark.queries.drift import _PSI_TAIL

    spark = late_counts.sparkSession
    cells = early_counts.select(
        F.lit("early").alias("half"), "bucket", "n"
    ).unionByName(
        late_counts.select(F.lit("late").alias("half"), "bucket", "n")
    )
    cells.createOrReplaceTempView("psi_mon_cells")
    return spark.sql(
        _PSI_TAIL.format(
            spine="SELECT explode(sequence(0, 9)) AS bucket",
            cells="psi_mon_cells",
        )
    )


def doremi_reference(documents: DataFrame) -> DataFrame:
    """Frozen per-token surprisal table from the reference corpus:
    loss_mu = floor(ln(N / cnt) * 1e6 + 0.5) micro-units — identical
    snapping to queries/curation3.py mixture_doremi_round's per_source
    CTE. Vocab-sized (Zipf-bounded), the one corpus-sized pass."""
    tok = documents.select(F.expr(f"explode({_TOKENS})").alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    tot = tok.agg(F.count("*").alias("n"))
    return vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        F.expr(
            "CAST(floor(ln(CAST(n AS DOUBLE) / cnt) * 1e6 + 0.5) AS BIGINT)"
        ).alias("loss_mu"),
    )


def doremi_source_stats(
    stream_docs: DataFrame, reference: DataFrame
) -> DataFrame:
    """Per-source running (n_tok, loss_u) over a document stream:
    tokenize + explode map-side, equi-join the frozen surprisal table
    (NO broadcast hint — the vocab grows with the reference corpus;
    tokens absent from the reference drop, the standard frozen-vocab
    OOV policy), then one grouped aggregate with |sources| state rows
    (complete mode). Works identically on a batch frame."""
    tok = stream_docs.select(
        "source", F.expr(f"explode({_TOKENS})").alias("token")
    )
    return (
        tok.join(reference, "token")
        .groupBy("source")
        .agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_tok"),
            F.expr("CAST(sum(loss_mu) AS BIGINT)").alias("loss_u"),
        )
    )


def doremi_report(per_source: DataFrame) -> DataFrame:
    """One DoReMi multiplicative-weights update from the completed
    per-source stats — the catalog query's {per_source}-parameterized
    report template (queries/curation3.py _DOREMI_REPORT_TAIL) applied
    verbatim, so the streamed report equals mixture_doremi_round
    row-for-row."""
    from automated_data_pipeline_python_spark.queries.curation3 import (
        _DOREMI_REPORT_TAIL,
    )

    spark = per_source.sparkSession
    per_source.createOrReplaceTempView("doremi_mon_per_source")
    return spark.sql(
        "WITH "
        + _DOREMI_REPORT_TAIL.format(per_source="doremi_mon_per_source")
    )


def ks_reference(events: DataFrame, side: str = "purchase") -> DataFrame:
    """Frozen KS reference histogram from a reference batch: per-cents
    counts of the reference side's ``value`` distribution. Bounded (the
    distinct-cents grid — the same distinct-value-CDF discipline the
    catalog query pins); callers freeze via localCheckpoint, production
    refreshes on a schedule."""
    return (
        events.where(F.col("value").isNotNull())
        .where(F.col("event_type") == side)
        .select(
            F.expr("CAST(floor(value * 1e2 + 0.5) AS BIGINT)").alias("cents")
        )
        .groupBy("cents")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
    )


def ks_live_counts(stream: DataFrame, side: str = "click") -> DataFrame:
    """Streamable live-side histogram: stateless cents mapping then ONE
    grouped count whose state is the bounded distinct-cents grid
    (complete mode — price-domain-sized, corpus-independent). Works
    identically on a batch frame."""
    return (
        stream.where(F.col("value").isNotNull())
        .where(F.col("event_type") == side)
        .select(
            F.expr("CAST(floor(value * 1e2 + 0.5) AS BIGINT)").alias("cents")
        )
        .groupBy("cents")
        .agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
    )


def _merged_value_grid(
    live_counts: DataFrame, reference: DataFrame, view: str
) -> DataFrame:
    """Union-merge the live (cx) and frozen reference (cy) histograms
    into the (cents, cx, cy) grid both eCDF reports read, and register
    it under ``view``."""
    grid = (
        live_counts.select(
            "cents", F.col("n").alias("cx"), F.expr("CAST(0 AS BIGINT)").alias("cy")
        )
        .unionByName(
            reference.select(
                "cents",
                F.expr("CAST(0 AS BIGINT)").alias("cx"),
                F.col("n").alias("cy"),
            )
        )
        .groupBy("cents")
        .agg(
            F.expr("CAST(sum(cx) AS BIGINT)").alias("cx"),
            F.expr("CAST(sum(cy) AS BIGINT)").alias("cy"),
        )
    )
    grid.createOrReplaceTempView(view)
    return grid


def ks_report(live_counts: DataFrame, reference: DataFrame) -> DataFrame:
    """Two-sample KS statistic/location/p-value from the completed
    histograms — the catalog query's {grid}-parameterized CDF/sup-gap
    template (queries/drift.py _KS_TAIL) applied verbatim to the
    union-merged (cents, cx, cy) grid, so with the catalog framing
    (live=click, reference=purchase) the streamed report equals
    events_ks_two_sample row-for-row."""
    from automated_data_pipeline_python_spark.queries.drift import _KS_TAIL

    spark = live_counts.sparkSession
    _merged_value_grid(live_counts, reference, "ks_mon_grid")
    return spark.sql("WITH " + _KS_TAIL.format(grid="ks_mon_grid"))


def w1_report(live_counts: DataFrame, reference: DataFrame) -> DataFrame:
    """Wasserstein-1 drift magnitude (in the value's own units) from
    the SAME histogram state the KS monitor keeps — the catalog query's
    {grid} template (queries/drift.py _W1_TAIL) applied verbatim, so
    with the catalog framing the streamed report equals
    events_wasserstein_distance row-for-row. One state relation, two
    drift reports (the CUSUM/Page-Hinkley pairing, for eCDFs)."""
    from automated_data_pipeline_python_spark.queries.drift import _W1_TAIL

    spark = live_counts.sparkSession
    _merged_value_grid(live_counts, reference, "w1_mon_grid")
    return spark.sql("WITH " + _W1_TAIL.format(grid="w1_mon_grid"))


def cusum_daily_counts(stream: DataFrame) -> DataFrame:
    """Streamable input state for the CUSUM changepoint monitor: the
    per-(type, day) count grid maintained incrementally (complete
    mode; state is calendar-bounded — types × retention days, never
    corpus-sized). Works identically on a batch frame."""
    return (
        stream.groupBy(
            "event_type", F.expr("CAST(ts AS DATE)").alias("d")
        ).agg(F.expr("CAST(count(*) AS BIGINT)").alias("n"))
    )


def page_hinkley_report(daily_counts: DataFrame) -> DataFrame:
    """Page-Hinkley running-mean drift report from the completed count
    grid — the catalog query's {daily}-parameterized algebra template
    (queries/timeseries.py _ph_tail) applied verbatim to the SAME
    incrementally-maintained state as the CUSUM monitor, so the
    streamed report equals events_page_hinkley_drift row-for-row (one
    state relation feeds both detectors)."""
    from automated_data_pipeline_python_spark.queries.timeseries import (
        _ph_tail,
    )

    spark = daily_counts.sparkSession
    daily_counts.createOrReplaceTempView("ph_mon_daily")
    return spark.sql(
        "WITH "
        + _ph_tail("date_format(d, 'yyyy-MM-dd')").format(
            daily="ph_mon_daily"
        )
    )


def cusum_report(daily_counts: DataFrame) -> DataFrame:
    """CUSUM changepoint per type from the completed count grid — the
    catalog query's {daily}-parameterized algebra template
    (queries/timeseries.py _CUSUM_TAIL) applied verbatim, so the
    streamed report equals events_cusum_changepoint row-for-row."""
    from automated_data_pipeline_python_spark.queries.timeseries import (
        _CUSUM_TAIL,
    )

    spark = daily_counts.sparkSession
    daily_counts.createOrReplaceTempView("cusum_mon_daily")
    return spark.sql("WITH " + _CUSUM_TAIL.format(daily="cusum_mon_daily"))


# ---------------------------------------------------------------------------
# Embedding centroid drift monitor (the drift suite's vector axis)
# ---------------------------------------------------------------------------
# PSI/KS/W1 watch SCALAR value distributions; when the monitored
# artifact is a vector column (a re-embedding stream from a retrained
# encoder), the first-order check is whether each class's CENTROID
# moved. Frozen-baseline shape: the reference snapshot's per-(label,
# dim) snapped component sums are bounded state (labels x dims rows),
# the stream pays a stateless posexplode map plus ONE grouped sum over
# the same bounded key space, and the report applies the catalog
# query's {sums} template (queries/similarity.py _centroid_tail)
# verbatim — so with the catalog framing (reference = even vec_ids,
# live = odd) the streamed report equals embedding_centroid_drift
# row-for-row.

_CENTROID_COMPONENTS = (
    "CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1e9 + 0.5) AS DECIMAL(38,0)))"
    " AS DECIMAL(38,0))"
)


def _centroid_sums(vectors: DataFrame) -> DataFrame:
    """Per-(label, dim) 1e9-grid snapped component sums + vector counts
    — the shared aggregation both the frozen reference and the live
    stream run (identical snapping to the catalog query's sums CTE)."""
    return (
        vectors.select(
            "label", F.expr("posexplode(embedding)").alias("d", "x")
        )
        .groupBy("label", "d")
        .agg(
            F.expr(_CENTROID_COMPONENTS).alias("sx"),
            F.expr("CAST(count(*) AS BIGINT)").alias("c"),
        )
    )


def centroid_reference(embeddings: DataFrame) -> DataFrame:
    """Frozen per-(label, dim) reference centroid state from a reference
    snapshot (catalog framing: the even-vec_id half). Bounded (labels x
    dims rows); callers freeze via localCheckpoint, production refreshes
    when the encoder is retrained."""
    return _centroid_sums(embeddings.where("vec_id % 2 = 0"))


def centroid_live_sums(stream: DataFrame) -> DataFrame:
    """Streamable live-side centroid state: stateless component explode
    then ONE grouped sum whose state is the bounded (label, dim) grid
    (complete mode — labels x dims rows, corpus-independent). Works
    identically on a batch frame (catalog framing: the odd-vec_id
    half)."""
    return _centroid_sums(stream)


def centroid_drift_report(
    live_sums: DataFrame, reference: DataFrame
) -> DataFrame:
    """Per-label centroid cosine + norm ratio from the completed sums —
    the catalog query's {sums} template (queries/similarity.py
    _centroid_tail) applied verbatim to the union-merged (label, late,
    d, sx, c) grid, so with the catalog framing the streamed report
    equals embedding_centroid_drift row-for-row."""
    from automated_data_pipeline_python_spark.queries.similarity import (
        _centroid_tail,
    )

    spark = live_sums.sparkSession
    merged = reference.select(
        "label", F.lit(0).alias("late"), "d", "sx", "c"
    ).unionByName(
        live_sums.select("label", F.lit(1).alias("late"), "d", "sx", "c")
    )
    merged.createOrReplaceTempView("centroid_mon_sums")
    return spark.sql(
        "WITH " + _centroid_tail().format(sums="centroid_mon_sums")
    )


# ---------------------------------------------------------------------------
# SLO burn-rate monitor (the error-budget axis)
# ---------------------------------------------------------------------------
# The drift monitors watch distributions; the SRE monitor watches the
# ERROR BUDGET. Same frozen-template discipline: the stream maintains
# per-day (total, error) counts as bounded state (retention-window
# days, never corpus-sized), and the multiwindow burn-rate report is
# the catalog query's {daily}-parameterized tail applied verbatim —
# stream==batch parity by construction.


def slo_daily_counts(stream: DataFrame) -> DataFrame:
    """Streamable input state for the SLO burn monitor: per-day total
    and error counts maintained incrementally (complete mode; state is
    calendar-bounded). Works identically on a batch frame."""
    return stream.groupBy(F.expr("CAST(ts AS DATE)").alias("d")).agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("e"),
    )


def slo_burn_report(daily_counts: DataFrame) -> DataFrame:
    """Multiwindow burn rates + page/ticket alerts from the completed
    per-day counts — the catalog query's {daily}-parameterized tail
    (queries/timeseries.py _slo_tail) applied verbatim, so the
    streamed report equals events_slo_burn_rate row-for-row."""
    from automated_data_pipeline_python_spark.queries.catalog import materialize
    from automated_data_pipeline_python_spark.queries.timeseries import (
        _slo_tail,
    )

    spark = daily_counts.sparkSession
    # The burn tail SELF-JOINS {daily}; a memory-sink view carries the
    # same attribute ids on both sides and Spark's self-join dedup
    # does not fire through MemoryPlan — materialize the (bounded,
    # retention-days-sized) state first.
    materialize(daily_counts, "slo_mon_daily")
    return spark.sql(
        "WITH "
        + _slo_tail("datediff(a.d, b.d)").format(daily="slo_mon_daily")
    )
