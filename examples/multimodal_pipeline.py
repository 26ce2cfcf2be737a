"""End-to-end multimodal curation: both multimodal families composed.

The pipeline a mixed media corpus runs before any codec spends a GPU
cycle, at test scale — every stage an oracle-checked catalog operator
over the stand-in media catalog (blob bytes/ids → deterministic media
attributes; no codec runs):

1. CARD     modality mix report (what is this corpus?)
2. DQ       bitrate Tukey fences per fps group (corrupt containers out)
3. PLAN     frame-sample schedule + audio window segmentation
4. DEDUP    frame-hash dedup rate (what does content-addressing save?)
5. SEGMENT  scene cuts per clip + VAD utterance profiles
6. EXPORT   bucket-local ~64 KiB shard packing

Run: ``python examples/multimodal_pipeline.py [sf_dir]``.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from automated_data_pipeline_python_spark.queries import QUERIES


def run(spark, sf_dir: str) -> dict:
    q = lambda name: QUERIES[name].fn(spark, sf_dir)  # noqa: E731

    # 1. CARD — the dataset card mixture design starts from
    mix = q("multimodal_modality_mix_report").collect()
    card = {r.modality: (r.n_items, r.total_bytes) for r in mix}

    # 2. DQ — clips outside the per-fps bitrate fences don't get decoded
    fences = q("multimodal_bitrate_outliers").collect()
    dq = {
        "groups": len(fences),
        "outliers": sum(r.n_outliers for r in fences),
        "clips": sum(r.n_clips for r in fences),
    }

    # 3. PLAN — the offset plans the codec stage consumes
    plan = {
        "frame_rows": q("multimodal_frame_sample_plan").count(),
        "audio_rows": q("multimodal_audio_segments").count(),
        "resize_rows": q("multimodal_resolution_ladder").count(),
    }

    # 4. DEDUP — corpus-wide frame redundancy before feature extraction
    fd = q("multimodal_frame_dedup_rate").collect()
    dedup = {
        "corpus_frames": fd[0].corpus_frames,
        "corpus_distinct": fd[0].corpus_distinct,
        "dup_rate": fd[0].corpus_dup_rate,
    }

    # 5. SEGMENT — temporal structure: scenes and voiced spans
    scenes = q("multimodal_scene_cut_spans")
    seg_scene = scenes.agg(
        F.count("*").alias("clips"),
        F.sum("n_scenes").alias("scenes"),
    ).collect()[0]
    vad = q("multimodal_vad_utterances")
    seg_vad = vad.agg(
        F.sum("n_utterances").alias("utterances"),
        F.sum("voiced_ms").alias("voiced_ms"),
    ).collect()[0]
    segment = {
        "clips": seg_scene.clips,
        "scenes": int(seg_scene.scenes),
        "utterances": int(seg_vad.utterances),
        "voiced_ms": int(seg_vad.voiced_ms),
    }

    # 6. EXPORT — shard layout (shards per modality, max overshoot-free)
    pack = q("multimodal_shard_packing")
    shards = (
        pack.groupBy("modality", "pack_bucket", "shard_in_bucket")
        .agg(F.sum("n_bytes").alias("b"))
        .groupBy("modality")
        .agg(F.count("*").alias("n_shards"))
        .collect()
    )
    export = {r.modality: r.n_shards for r in shards}

    return {
        "card": card,
        "dq": dq,
        "plan": plan,
        "dedup": dedup,
        "segment": segment,
        "export": export,
    }


if __name__ == "__main__":
    from automated_data_pipeline_python_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="multimodal-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    report = run(spark, sf)
    for section, vals in report.items():
        print(f"{section:>8}: {vals}")
    spark.stop()
