"""Multimodal planning queries for the driver catalog.

The corpus has no binary table, so media blobs are derived from document
text bytes (payload-agnostic plumbing; no codec is installed, so
decoding itself is out of scope). Everything UPSTREAM of the
codec boundary is JVM-side and oracle-checkable, and that is where the
100 TB leverage lives: a video/audio/image pipeline never materializes
decoded media across a shuffle — it computes a PLAN of (blob,
offset/timestamp) rows with integer arithmetic and ships only that plan
into the Arrow-batched codec stage. Four such passes here:

- blob metadata (byte length + content hash — the media dedup key)
- uniform frame-sampling schedule (k timestamps/frame indices per video)
- audio window segmentation (fixed window/hop byte-offset spans)
- image tile grid (edge-clamped 64x64 patch plan)

Media attributes (duration, fps, sample rate, dimensions) come
deterministically from blob bytes/ids, standing in for container-header
fields the codec stage would parse; the arithmetic downstream of them is
the real operator and is exact in both engines.

Each plan is ONE SQL body per query: the engines differ only in a few
tokens (byte length, integer division, sequence explode), injected as
dialect fragments so the twin texts cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.queries.catalog import materialize, register
from automated_data_pipeline_python_spark.tables import load_scaled, register_views


@register(
    "multimodal_media_metadata",
    oracle="""
    SELECT
        doc_id                              AS media_id,
        CAST(strlen(text) AS INT)           AS n_bytes,
        sha256(text)                        AS content_sha,
        CAST(length(text) AS INT)           AS n_chars
    FROM documents
    """,
)
def multimodal_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob metadata: UTF-8 byte size + SHA-256 content hash.

    Scale: pure projection (no shuffle); the hash doubles as the
    content-address for exact media dedup.
    """
    docs = load_scaled(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length("text").alias("n_bytes"),
        F.sha2("text", 256).alias("content_sha"),
        F.length("text").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Dialect fragments
# ---------------------------------------------------------------------------
# nbytes: UTF-8 byte length of a column.
# idiv:   integer division (both operands integral in every use below).
# expl1/expl2: explode a generate_series/sequence range (inclusive
#   bounds, optional step — identical semantics in both engines) into
#   column(s) joined laterally against the preceding relation.


def _spark_dialect() -> dict[str, object]:
    return {
        "nbytes": lambda c: f"octet_length({c})",
        "idiv": lambda a, b: f"({a}) div ({b})",
        "expl": lambda var, lo, hi, step=None: (
            f"LATERAL VIEW explode(sequence({lo}, {hi}"
            + (f", {step}" if step else "")
            + f")) {var}_t AS {var}"
        ),
    }


def _duck_dialect() -> dict[str, object]:
    return {
        "nbytes": lambda c: f"strlen({c})",
        "idiv": lambda a, b: f"({a}) // ({b})",
        "expl": lambda var, lo, hi, step=None: (
            f", UNNEST(generate_series({lo}, {hi}"
            + (f", {step}" if step else "")
            + f")) AS {var}_t({var})"
        ),
    }


# ---------------------------------------------------------------------------
# Uniform frame-sampling schedule (video)
# ---------------------------------------------------------------------------
# The planning half of video frame extraction: k uniformly-spaced sample
# timestamps per clip, mapped to frame indices at the clip's fps. The
# decode half (seek + decode at those indices) is a codec pass that
# would consume exactly this (media_id, frame_idx) plan. duration/fps
# stand in for container
# header fields; all downstream arithmetic is exact BIGINT.
#
# Scale: map-only explode of a constant-8 sequence — no shuffle at any
# SF, output is 8 rows per clip regardless of media size, so the plan
# table stays ~doc-count-sized while the blobs themselves never move.

_N_SAMPLES = 8


def _frame_plan_sql(d: dict[str, object]) -> str:
    nbytes, idiv, expl = d["nbytes"], d["idiv"], d["expl"]
    ts_ms = idiv("i * duration_ms", _N_SAMPLES)
    return f"""
WITH media AS (
    SELECT doc_id                                        AS media_id,
           CAST(1000 + ({nbytes('text')} % 97) * 250 AS BIGINT)
                                                         AS duration_ms,
           CAST(CASE doc_id % 3 WHEN 0 THEN 12 WHEN 1 THEN 24 ELSE 30 END
                AS BIGINT)                               AS fps
    FROM documents
    WHERE {nbytes('text')} > 0
)
SELECT media_id,
       CAST(i AS BIGINT)                                 AS sample_id,
       duration_ms,
       fps,
       CAST({ts_ms} AS BIGINT)                           AS ts_ms,
       CAST({idiv(f'({ts_ms}) * fps', 1000)} AS BIGINT)  AS frame_idx
FROM media
{expl('i', 0, _N_SAMPLES - 1)}
"""


@register("multimodal_frame_sample_plan", oracle=_frame_plan_sql(_duck_dialect()))
def multimodal_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform frame-sampling schedule: 8 sample timestamps per clip,
    mapped to frame indices at the clip's fps.

    Map-only (constant-width sequence explode, no shuffle at any SF);
    the output plan is what ships to the Arrow-batched codec stage —
    decoded frames never cross a shuffle boundary.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_frame_plan_sql(_spark_dialect()))


# ---------------------------------------------------------------------------
# Audio window segmentation (byte-offset spans)
# ---------------------------------------------------------------------------
# Fixed 80 ms window / 40 ms hop segmentation of PCM-style blobs at
# 2 bytes/ms, emitted as (byte_off, seg_len) spans plus their timeline
# positions. This is the offset plan an audio featurizer consumes — the
# codec stage slices each blob locally by (byte_off, seg_len); the
# segments themselves are never materialized engine-side. (Rates are
# scaled to the corpus's ~300-byte blobs so the window/hop fan-out is
# actually exercised — real PCM constants would put every blob inside
# one hop and degenerate to a projection.)

_BYTES_PER_MS = 2
_WIN_B = 160  # 80 ms
_HOP_B = 80  # 40 ms


def _audio_seg_sql(d: dict[str, object]) -> str:
    nbytes, idiv, expl = d["nbytes"], d["idiv"], d["expl"]
    return f"""
WITH media AS (
    SELECT doc_id                             AS media_id,
           CAST({nbytes('text')} AS BIGINT)   AS n_bytes
    FROM documents
    WHERE {nbytes('text')} > 0
)
SELECT media_id,
       CAST({idiv('start', _HOP_B)} AS BIGINT)            AS seg_id,
       CAST(start AS BIGINT)                              AS byte_off,
       CAST(least({_WIN_B}, n_bytes - start) AS BIGINT)   AS seg_len,
       CAST({idiv('start', _BYTES_PER_MS)} AS BIGINT)     AS start_ms,
       CAST({idiv(f'start + least({_WIN_B}, n_bytes - start)', _BYTES_PER_MS)}
            AS BIGINT)                                    AS end_ms,
       (start + {_HOP_B} >= n_bytes)                      AS is_last
FROM media
{expl('start', 0, 'n_bytes - 1', _HOP_B)}
"""


@register("multimodal_audio_segments", oracle=_audio_seg_sql(_duck_dialect()))
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio window segmentation: 80 ms window / 40 ms hop at
    2 bytes/ms, as (byte_off, seg_len) spans with timeline positions.

    Map-only sequence() explode (no shuffle); row count scales with
    total media bytes / hop, never quadratically, and blobs are sliced
    locally in the codec stage — only the offset plan flows through
    the engine.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_audio_seg_sql(_spark_dialect()))


# ---------------------------------------------------------------------------
# Image tile grid (2D patch plan)
# ---------------------------------------------------------------------------
# Completes the planning triad (video frames / audio windows / image
# tiles): the 64x64 patch grid a vision preprocessor cuts each image
# into, with edge tiles clamped to the image bounds. Dimensions derive
# deterministically from blob bytes/id (standing in for header fields);
# the grid itself — a double sequence() explode over ceil(w/64) x
# ceil(h/64) — is exact integer arithmetic on both engines.

_TILE = 64


def _tile_plan_sql(d: dict[str, object]) -> str:
    nbytes, idiv, expl = d["nbytes"], d["idiv"], d["expl"]
    n_tiles = lambda dim: f"{idiv(f'{dim} + {_TILE - 1}', _TILE)} - 1"  # noqa: E731
    return f"""
WITH media AS (
    SELECT doc_id                                             AS media_id,
           CAST(64 + ({nbytes('text')} % 193) AS BIGINT)      AS width,
           CAST(64 + (doc_id % 157) AS BIGINT)                AS height
    FROM documents
    WHERE {nbytes('text')} > 0
)
SELECT media_id, width, height,
       CAST(tx AS BIGINT)                                     AS tile_x,
       CAST(ty AS BIGINT)                                     AS tile_y,
       CAST(tx * {_TILE} AS BIGINT)                           AS off_x,
       CAST(ty * {_TILE} AS BIGINT)                           AS off_y,
       CAST(least({_TILE}, width - tx * {_TILE}) AS BIGINT)   AS tile_w,
       CAST(least({_TILE}, height - ty * {_TILE}) AS BIGINT)  AS tile_h
FROM media
{expl('tx', 0, n_tiles('width'))}
{expl('ty', 0, n_tiles('height'))}
"""


@register("multimodal_image_tile_plan", oracle=_tile_plan_sql(_duck_dialect()))
def multimodal_image_tile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64x64 image tile grid with edge-clamped tile sizes — the 2D
    patch plan a vision preprocessor consumes.

    Map-only double sequence() explode (no keyed exchange); output rows
    scale with total pixels / tile area, and pixels never cross the
    engine — the codec stage crops locally from (off_x, off_y, w, h).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_tile_plan_sql(_spark_dialect()))


# ===========================================================================
# Family 2 (round 11): multimodal CURATION — the operators a multimodal
# training-data pipeline runs over the planned media, still entirely
# upstream of the codec boundary and therefore oracle-checkable. Media
# attributes (modality, duration, fps, dimensions) and content features
# (frame/segment hashes, segment energy) derive deterministically from
# blob bytes/ids exactly as in family 1 — stand-ins for what a codec
# stage would emit — so the
# real operator under test is the engine-side arithmetic: mixture
# reports, robust DQ gates, hash-blocked frame dedup, scene/utterance
# segmentation (gaps-and-islands), resize planning, and storage packing.
# ===========================================================================

# Shared stand-in attribute fragments (same derivations as family 1's
# plans, so the two families describe ONE consistent media catalog).
_MODALITY = (
    "CASE doc_id % 4 WHEN 0 THEN 'text' WHEN 1 THEN 'image'"
    " WHEN 2 THEN 'audio' ELSE 'video' END"
)


# ---------------------------------------------------------------------------
# Modality mix report (the dataset card every mixture design starts from)
# ---------------------------------------------------------------------------
# One corpus pass to per-modality counts/bytes, then shares against the
# one-row totals frame. Bounded output (4 rows); exact integer sums,
# single snapped divisions at output.


def _mix_sql(d: dict[str, object]) -> str:
    nbytes = d["nbytes"]
    return f"""
WITH media AS (
    SELECT {_MODALITY} AS modality,
           CAST({nbytes('text')} AS BIGINT) AS n_bytes
    FROM documents
    WHERE {nbytes('text')} > 0
),
per AS (
    SELECT modality,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes
    FROM media GROUP BY modality
),
tot AS (
    SELECT CAST(sum(n_items) AS BIGINT) AS items,
           CAST(sum(total_bytes) AS BIGINT) AS bytes
    FROM per
)
SELECT p.modality, p.n_items, p.total_bytes,
       floor(CAST(p.n_items AS DOUBLE) / t.items * 1e6 + 0.5) / 1e6
           AS item_share,
       floor(CAST(p.total_bytes AS DOUBLE) / t.bytes * 1e6 + 0.5) / 1e6
           AS byte_share,
       floor(CAST(p.total_bytes AS DOUBLE) / p.n_items * 1e6 + 0.5) / 1e6
           AS mean_bytes
FROM per p CROSS JOIN tot t
ORDER BY p.modality
"""


@register("multimodal_modality_mix_report", oracle=_mix_sql(_duck_dialect()))
def multimodal_modality_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality dataset card: item/byte counts, corpus shares, and
    mean blob size — the table a multimodal mixture design reads first.
    Empty blobs are excluded (n_bytes > 0) so the card's denominators
    use the same media universe as the rest of the curation family
    (every other family-2 operator applies the identical guard).

    Scale: one hash aggregation to the 4-row modality relation; shares
    join against a one-row totals frame (planner-chosen tiny join).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_mix_sql(_spark_dialect()))


# ---------------------------------------------------------------------------
# Bitrate DQ gate (Tukey fences per fps group)
# ---------------------------------------------------------------------------
# The media-ingest twin of dq_tukey_fences: kbit/s per clip
# (bytes·8/duration_ms, snapped BEFORE the quantile so both engines rank
# identical grids), exact interpolated quartiles per fps group (Spark
# percentile == DuckDB quantile_cont), snapped fences, outlier counts.
# Groups are the 3 fps classes — bounded; the exact percentile sorts
# per group (the documented trade; percentile_approx at 100 TB when the
# fence does not need exactness).


def _bitrate_sql(d: dict[str, object], q1: str, q3: str) -> str:
    nbytes = d["nbytes"]
    return f"""
WITH clips AS (
    SELECT doc_id AS media_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 12 WHEN 1 THEN 24 ELSE 30 END
                AS BIGINT) AS fps,
           floor(CAST({nbytes('text')} AS DOUBLE) * 8e0
                 / (1000 + ({nbytes('text')} % 97) * 250)
                 * 1e6 + 0.5) / 1e6 AS kbps
    FROM documents
    WHERE {nbytes('text')} > 0
),
fences AS (
    SELECT fps,
           CAST(count(*) AS BIGINT) AS n_clips,
           floor(({q1}) * 1e6 + 0.5) / 1e6 AS q1,
           floor(({q3}) * 1e6 + 0.5) / 1e6 AS q3
    FROM clips GROUP BY fps
),
bounds AS (
    SELECT fps, n_clips, q1, q3,
           floor((q3 - q1) * 1e6 + 0.5) / 1e6 AS iqr,
           floor((q1 - 15e-1 * (q3 - q1)) * 1e6 + 0.5) / 1e6 AS lo_fence,
           floor((q3 + 15e-1 * (q3 - q1)) * 1e6 + 0.5) / 1e6 AS hi_fence
    FROM fences
)
SELECT b.fps, b.n_clips, b.q1, b.q3, b.iqr, b.lo_fence, b.hi_fence,
       CAST(sum(CASE WHEN c.kbps < b.lo_fence OR c.kbps > b.hi_fence
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       floor(CAST(sum(CASE WHEN c.kbps < b.lo_fence OR c.kbps > b.hi_fence
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / b.n_clips * 1e6 + 0.5) / 1e6 AS outlier_share
FROM clips c JOIN bounds b ON b.fps = c.fps
GROUP BY b.fps, b.n_clips, b.q1, b.q3, b.iqr, b.lo_fence, b.hi_fence
ORDER BY b.fps
"""


@register(
    "multimodal_bitrate_outliers",
    oracle=_bitrate_sql(
        _duck_dialect(),
        "quantile_cont(kbps, 0.25)",
        "quantile_cont(kbps, 0.75)",
    ),
)
def multimodal_bitrate_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey 1.5·IQR fences on clip bitrate (kbit/s) per fps group —
    the corrupt-container screen a media-ingest pipeline runs before
    spending codec time.

    Scale: one corpus pass to snapped bitrates, exact quartiles per
    bounded fps group, one join back for the outlier count.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(
        _bitrate_sql(
            _spark_dialect(),
            "percentile(kbps, 0.25)",
            "percentile(kbps, 0.75)",
        ),
    )


# ---------------------------------------------------------------------------
# Frame-hash dedup rate (cross-clip frame redundancy)
# ---------------------------------------------------------------------------
# The frame-level twin of document exact-dedup: hash every sampled
# frame (stand-in content = the blob's 40-char slice at the frame's
# timestamp — what the codec stage would hash after decode), then
# report the within-clip distinct-frame histogram and the corpus-wide
# frame dedup rate. Duplicate CLIPS collapse to identical frame-hash
# sets, so this measures exactly what a media pipeline saves by
# content-addressing frames before feature extraction.
#
# Scale: one corpus pass to (clip, frame-hash) rows (constant 8 per
# clip), one keyed per-clip aggregation, one distinct over hashes. The
# frame relation feeds two aggregations, so the Spark side materializes
# it once (localCheckpoint; DuckDB materializes shared CTEs itself).

from automated_data_pipeline_python_spark.functions.text import (  # noqa: E402
    duck_hash60,
    spark_hash60,
)


def _frames_sql(d: dict[str, object], hash60) -> str:
    """(media_id, sample_id, duration_ms, frame hash) — family 1's
    frame-sample plan joined to its stand-in frame content."""
    nbytes, idiv, expl = d["nbytes"], d["idiv"], d["expl"]
    ts_ms = idiv("i * duration_ms", _N_SAMPLES)
    slice_ = (
        f"substr(text, CAST(1 + (({ts_ms}) % greatest(length(text) - 39, 1))"
        f" AS INT), 40)"
    )
    return f"""
WITH media AS (
    SELECT doc_id AS media_id, text,
           CAST(1000 + ({nbytes('text')} % 97) * 250 AS BIGINT)
               AS duration_ms
    FROM documents
    WHERE {nbytes('text')} > 0
)
SELECT media_id,
       CAST(i AS BIGINT) AS sample_id,
       duration_ms,
       {hash60(slice_)} AS fh
FROM media
{expl('i', 0, _N_SAMPLES - 1)}
"""


def _frame_dedup_tail(frames: str) -> str:
    return f"""
WITH per_clip AS (
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(count(DISTINCT fh) AS BIGINT) AS n_distinct
    FROM {frames} GROUP BY media_id
),
hist AS (
    SELECT n_distinct AS n_distinct_in_clip,
           CAST(count(*) AS BIGINT) AS n_clips
    FROM per_clip GROUP BY n_distinct
),
gstats AS (
    SELECT CAST(sum(n_frames) AS BIGINT) AS corpus_frames,
           CAST(sum(n_clips_tot) AS BIGINT) AS corpus_clips,
           CAST(min(cd) AS BIGINT) AS corpus_distinct
    FROM (SELECT n_frames, 1 AS n_clips_tot,
                 (SELECT count(DISTINCT fh) FROM {frames}) AS cd
          FROM per_clip) g
)
SELECT h.n_distinct_in_clip, h.n_clips,
       floor(CAST(h.n_clips AS DOUBLE) / g.corpus_clips * 1e6 + 0.5) / 1e6
           AS clip_share,
       g.corpus_frames, g.corpus_distinct,
       floor((1e0 - CAST(g.corpus_distinct AS DOUBLE) / g.corpus_frames)
             * 1e6 + 0.5) / 1e6 AS corpus_dup_rate
FROM hist h CROSS JOIN gstats g
ORDER BY h.n_distinct_in_clip
"""


_FRAME_DEDUP_DUCK = (
    "WITH mm_frames AS ("
    + _frames_sql(_duck_dialect(), duck_hash60).strip()
    + "),\n"
    + _frame_dedup_tail("mm_frames").lstrip().removeprefix("WITH ")
)


@register("multimodal_frame_dedup_rate", oracle=_FRAME_DEDUP_DUCK)
def multimodal_frame_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-clip distinct-frame histogram + corpus-wide frame dedup
    rate off content-hashed sampled frames — what frame-level
    content-addressing saves before feature extraction.

    The frame relation feeds two aggregations (per-clip and global
    distinct); Spark inlines CTEs, so it is materialized once via
    localCheckpoint (DuckDB materializes shared CTEs itself).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_frames_sql(_spark_dialect(), spark_hash60)), "mm_frames")
    return spark.sql(_frame_dedup_tail("mm_frames"))


# ---------------------------------------------------------------------------
# Scene-cut segmentation (consecutive-frame hash distance)
# ---------------------------------------------------------------------------
# The shot-boundary pass of video curation: hamming distance between
# consecutive sampled frames' 60-bit content hashes (the codec stage
# would emit perceptual hashes; the stand-in preserves the one property
# the operator needs — identical content → distance 0), a cut wherever
# the distance clears the threshold, scenes = cuts + 1. The lag window
# is keyed by clip (8 rows per partition) — never global.

_CUT_HAMMING = 24  # >= this = scene boundary (0 = identical content)


def _scene_sql(frames: str, xor) -> str:
    return f"""
WITH lagged AS (
    SELECT media_id, sample_id, duration_ms, fh,
           lag(fh) OVER (PARTITION BY media_id ORDER BY sample_id)
               AS fh_prev
    FROM {frames}
),
cuts AS (
    SELECT media_id,
           CAST(min(duration_ms) AS BIGINT) AS duration_ms,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN fh_prev IS NOT NULL
                          AND bit_count({xor('fh', 'fh_prev')})
                              >= {_CUT_HAMMING}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
    FROM lagged GROUP BY media_id
)
SELECT media_id, duration_ms, n_frames, n_cuts,
       CAST(n_cuts + 1 AS BIGINT) AS n_scenes,
       floor(CAST(duration_ms AS DOUBLE) / (n_cuts + 1) * 1e6 + 0.5) / 1e6
           AS mean_scene_ms
FROM cuts
"""


_SCENE_DUCK = (
    "WITH mm_frames AS ("
    + _frames_sql(_duck_dialect(), duck_hash60).strip()
    + "),\n"
    + _scene_sql("mm_frames", lambda a, b: f"xor({a}, {b})")
    .lstrip()
    .removeprefix("WITH ")
)


@register("multimodal_scene_cut_spans", oracle=_SCENE_DUCK)
def multimodal_scene_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip scene segmentation: consecutive sampled frames whose
    content-hash hamming distance clears the threshold mark shot
    boundaries; emits cut/scene counts and mean scene length.

    Scale: the lag window is keyed by clip (constant 8 rows per
    partition); one corpus pass, one keyed aggregation, no pairs.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(
        "WITH mm_frames AS ("
        + _frames_sql(_spark_dialect(), spark_hash60).strip()
        + "),\n"
        + _scene_sql("mm_frames", lambda a, b: f"({a} ^ {b})")
        .lstrip()
        .removeprefix("WITH ")
    )


# ---------------------------------------------------------------------------
# VAD utterance segmentation (gaps-and-islands over audio windows)
# ---------------------------------------------------------------------------
# The voice-activity pass of audio curation: per family-1 audio window,
# a stand-in energy score (hash of the window's content slice, mod 100
# — the codec stage would emit RMS energy; the stand-in preserves
# determinism and per-window independence), active where the score
# clears the threshold, and consecutive active windows merged into
# utterances by the classic seg_id − row_number() island key. Emits the
# per-clip utterance profile a speech pipeline filters on (too little
# voiced audio → drop; one long utterance → split).
#
# Scale: windows explode at hop granularity (linear in media bytes);
# both windows are keyed by clip; the islanded relation feeds two
# aggregations, so the Spark side materializes it once.

_VAD_ACTIVE = 40  # energy (0-99) at or above this = voiced

from automated_data_pipeline_python_spark.functions.text import (  # noqa: E402
    duck_hash28,
    spark_hash28,
)


def _vad_isl_sql(d: dict[str, object], hash28) -> str:
    nbytes, idiv, expl = d["nbytes"], d["idiv"], d["expl"]
    slice_ = (
        "substr(text, CAST(1 + (start % greatest(length(text) - 15, 1))"
        " AS INT), 16)"
    )
    return f"""
WITH media AS (
    SELECT doc_id AS media_id, text,
           CAST({nbytes('text')} AS BIGINT) AS n_bytes
    FROM documents
    WHERE {nbytes('text')} > 0
),
segs AS (
    SELECT media_id,
           CAST({idiv('start', _HOP_B)} AS BIGINT) AS seg_id,
           CAST({idiv('start', _BYTES_PER_MS)} AS BIGINT) AS start_ms,
           CAST({idiv(f'start + least({_WIN_B}, n_bytes - start)',
                      _BYTES_PER_MS)} AS BIGINT) AS end_ms,
           CASE WHEN {hash28(slice_)} % 100 >= {_VAD_ACTIVE}
                THEN 1 ELSE 0 END AS active
    FROM media
    {expl('start', 0, 'n_bytes - 1', _HOP_B)}
)
SELECT media_id, seg_id, start_ms, end_ms, active,
       seg_id - row_number() OVER (PARTITION BY media_id, active
                                   ORDER BY seg_id) AS island
FROM segs
"""


def _vad_tail(isl: str) -> str:
    return f"""
WITH utter AS (
    SELECT media_id, island,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(min(start_ms) AS BIGINT) AS u_start_ms,
           CAST(max(end_ms) AS BIGINT) AS u_end_ms
    FROM {isl} WHERE active = 1
    GROUP BY media_id, island
),
per_u AS (
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_utterances,
           CAST(max(n_segs) AS BIGINT) AS longest_utterance_segs,
           CAST(sum(u_end_ms - u_start_ms) AS BIGINT) AS voiced_ms
    FROM utter GROUP BY media_id
),
per_m AS (
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(active) AS BIGINT) AS n_active
    FROM {isl} GROUP BY media_id
)
SELECT m.media_id, m.n_segments, m.n_active,
       coalesce(u.n_utterances, CAST(0 AS BIGINT)) AS n_utterances,
       coalesce(u.longest_utterance_segs, CAST(0 AS BIGINT))
           AS longest_utterance_segs,
       coalesce(u.voiced_ms, CAST(0 AS BIGINT)) AS voiced_ms,
       floor(CAST(m.n_active AS DOUBLE) / m.n_segments * 1e6 + 0.5) / 1e6
           AS voiced_ratio
FROM per_m m LEFT JOIN per_u u ON u.media_id = m.media_id
"""


_VAD_DUCK = (
    "WITH mm_isl AS ("
    + _vad_isl_sql(_duck_dialect(), duck_hash28).strip()
    + "),\n"
    + _vad_tail("mm_isl").lstrip().removeprefix("WITH ")
)


@register("multimodal_vad_utterances", oracle=_VAD_DUCK)
def multimodal_vad_utterances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip VAD profile: active windows merged into utterances via
    the seg_id − row_number() island key; emits utterance count,
    longest utterance, voiced time, and voiced ratio.

    Both windows are keyed by clip; the islanded relation feeds two
    aggregations, so Spark materializes it once (localCheckpoint;
    DuckDB materializes shared CTEs itself).
    """
    register_views(spark, sf_dir, scaled=("documents",))
    materialize(spark.sql(_vad_isl_sql(_spark_dialect(), spark_hash28)), "mm_isl")
    return spark.sql(_vad_tail("mm_isl"))


# ---------------------------------------------------------------------------
# Resolution resize ladder (aspect-preserving letterbox plan)
# ---------------------------------------------------------------------------
# The resize plan a vision preprocessor computes per image and target
# resolution: scale the long side to the target (integer arithmetic —
# out = dim·target DIV long_side, exact on both engines), letterbox the
# short side, flag upscales. Map-only explode over the 3-constant
# target ladder; pixels never enter the engine.


def _ladder_sql(d: dict[str, object], expl_targets: str) -> str:
    nbytes, idiv = d["nbytes"], d["idiv"]
    return f"""
WITH media AS (
    SELECT doc_id AS media_id,
           CAST(64 + ({nbytes('text')} % 193) AS BIGINT) AS width,
           CAST(64 + (doc_id % 157) AS BIGINT) AS height
    FROM documents
    WHERE {nbytes('text')} > 0
)
SELECT media_id, width, height,
       CAST(target AS BIGINT) AS target,
       CAST({idiv('width * target', 'greatest(width, height)')} AS BIGINT)
           AS out_w,
       CAST({idiv('height * target', 'greatest(width, height)')} AS BIGINT)
           AS out_h,
       CAST(target - {idiv('width * target', 'greatest(width, height)')}
            AS BIGINT) AS pad_x,
       CAST(target - {idiv('height * target', 'greatest(width, height)')}
            AS BIGINT) AS pad_y,
       (greatest(width, height) < target) AS is_upscale
FROM media
{expl_targets}
"""


@register(
    "multimodal_resolution_ladder",
    oracle=_ladder_sql(
        _duck_dialect(),
        ", UNNEST([224, 336, 448]) AS t(target)",
    ),
)
def multimodal_resolution_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize + letterbox plan per image and target
    resolution (224/336/448): exact integer out dims, pad amounts, and
    the upscale flag — the plan the crop/resize codec stage consumes.

    Map-only constant-3 explode; no shuffle at any SF.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(
        _ladder_sql(
            _spark_dialect(),
            "LATERAL VIEW explode(array(224, 336, 448)) t AS target",
        ),
    )


# ---------------------------------------------------------------------------
# Shard packing plan (running-total bin assignment, bucket-local)
# ---------------------------------------------------------------------------
# The storage layout step of a media export: pack blobs into
# ~64 KiB shards by running-total bucketing (the compaction-planner
# idiom — greedy prefix-sum packing overshoots the target by at most
# one blob). Packing runs WITHIN (modality, pack_bucket) partitions —
# doc_id DIV 4096 buckets the id space, so every packing window is
# ≤ 4096 rows no matter the corpus size (the two-level layout a real
# export uses: bucket directories, shard files within); a single
# modality-wide running total would be a corpus-sized single-partition
# window at 100 TB.

_SHARD_BYTES = 65_536
_PACK_BUCKET = 4_096


def _pack_sql(d: dict[str, object]) -> str:
    nbytes, idiv = d["nbytes"], d["idiv"]
    return f"""
WITH media AS (
    SELECT doc_id AS media_id,
           {_MODALITY} AS modality,
           CAST({idiv('doc_id', _PACK_BUCKET)} AS BIGINT) AS pack_bucket,
           CAST({nbytes('text')} AS BIGINT) AS n_bytes
    FROM documents
),
planned AS (
    SELECT media_id, modality, pack_bucket, n_bytes,
           CAST(coalesce(sum(n_bytes) OVER (
               PARTITION BY modality, pack_bucket
               ORDER BY media_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cum_before
    FROM media
)
SELECT media_id, modality, pack_bucket, n_bytes, cum_before,
       CAST({idiv('cum_before', _SHARD_BYTES)} AS BIGINT) AS shard_in_bucket,
       ({idiv('cum_before', _SHARD_BYTES)}
        <> {idiv('cum_before + n_bytes', _SHARD_BYTES)}) AS closes_shard
FROM planned
"""


@register("multimodal_shard_packing", oracle=_pack_sql(_duck_dialect()))
def multimodal_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-total shard packing of media blobs into ~64 KiB shards
    within (modality, id-bucket) partitions — the export layout plan,
    with the blob that crosses each shard boundary flagged.

    Scale: every packing window is ≤ 4096 rows by construction (the
    id-bucket bounds it), so the plan shuffles once on the bucket key
    and never builds a corpus-sized window partition.
    """
    register_views(spark, sf_dir, scaled=("documents",))
    return spark.sql(_pack_sql(_spark_dialect()))
