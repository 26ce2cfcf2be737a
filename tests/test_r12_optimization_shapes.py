"""Pin the r12 optimization-round plan shapes (OPTIMIZATION_r12.md).

Each assertion guards a specific shuffle/pass removal: if a refactor
reintroduces the old shape (a corpus window, a third lineitem scan, a
sort-merge join on the probe side), these fail before the bench does.
Plans are inspected via explain text — no execution beyond the
localCheckpoint materializations the query fns perform.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from automated_data_pipeline_python_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_kmeans_has_no_window_or_smj(spark):
    # r12: map-side argmin replaced the cross-join + row_number window;
    # the only joins left are the broadcast attach + the 8-row report join.
    plan = _plan(spark, "kmeans_lloyd_refine")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_top_term_is_an_aggregate_not_a_window(spark):
    plan = _plan(spark, "text_tfidf_top_terms")
    assert "Window" not in plan


def test_q21_scans_lineitem_once(spark):
    plan = _plan(spark, "q21_sole_late_shipper")
    assert plan.count("lineitem.parquet") == 1, (
        "q21 must not regress to the 3-scan EXISTS/NOT-EXISTS plan"
    )


def test_ann_ivf_probe_join_is_broadcast(spark):
    plan = _plan(spark, "ann_ivf_topk")
    assert "SortMergeJoin" not in plan, (
        "probes (query-count-bounded) must broadcast; the corpus-side "
        "cells must never be sorted for an 8-key merge join"
    )
    # assignment windows are gone too — only the final top-k window
    # (5 query partitions) remains ("(n) Window" nodes; the
    # WindowGroupLimit pushdown nodes it plans are not windows)
    import re

    assert len(re.findall(r"\(\d+\) Window\b", plan)) <= 1


def test_minhash_tail_has_no_aggregation_before_bands(spark):
    # r12: signatures are array_min folds off the checkpointed per-doc
    # hash arrays — the old GROUP BY doc_id pass (and the corpus-wide
    # DISTINCT before it) must not come back.
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "Window" not in plan
    # tail exchanges: bands-bucket agg, cand distinct, verify joins —
    # the old shape had 2 more (mins agg + arrs agg).
    assert plan.count("Exchange hashpartitioning") <= 6


def test_lsh_bucket_core_is_map_side(spark):
    # bucket ids are computed in the scan stage; the only exchanges in
    # the histogram are the tiny plane-table builds + the final
    # (t, bucket) aggregation — never a corpus×components join.
    plan = _plan(spark, "ann_lsh_bucket_histogram")
    assert "SortMergeJoin" not in plan
    assert "posexplode" not in plan.lower()


def test_simhash_signature_core_is_map_only(spark):
    # r12: the signature is one intra-row fold over occurrence hashes —
    # no (doc, token) count aggregation, no per-doc 32-sum exchange, no
    # token explode. The plan is scan → (fan-out) → project.
    plan = _plan(spark, "dedup_simhash_signatures")
    assert "HashAggregate" not in plan
    assert "Generate" not in plan


@pytest.mark.parametrize(
    "name", ["dedup_ngram_jaccard", "dedup_ngram_containment"]
)
def test_ngram_discovery_joins_on_hash_not_strings(spark, name):
    # r12: candidate discovery self-joins (doc_id, h) ints exploded from
    # the checkpointed per-doc hash arrays, and verification reads the
    # set ARRAYS — the tail never touches a shingle STRING column.
    plan = _plan(spark, name)
    assert "shingle#" not in plan


def test_estimator_accuracy_is_intra_row(spark):
    # r12: slot minima and slot agreement are intra-row folds evaluated
    # only for the sampled pairs — the exploded ×16 permutation cross
    # join and the corpus (doc_id, i) aggregation are gone.
    plan = _plan(spark, "dedup_minhash_estimate_accuracy")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "Generate" not in plan


def test_verify_side_reads_set_arrays_not_collect_list(spark):
    # r12: the verification arrays come from the checkpointed per-doc
    # sets — the collect_list re-aggregation exchange must not return.
    # (dedup_ngram_jaccard_capped deliberately keeps the exploded-
    # relation form: the sets variant measured slower at 10x/100x.)
    plan = _plan(spark, "dedup_incremental_minhash")
    assert "collect_list" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "contamination_ngram_overlap",
        "dedup_minhash_lsh",
        "dedup_minhash_lsh_uncapped",
    ],
)
def test_no_corpus_distinct_shingle_exchange(spark, name):
    # The per-doc distinct-shingle sets are intra-row (array_distinct,
    # inside the checkpoint); a corpus-wide `DISTINCT doc_id, shingle`
    # would reappear as an aggregate keyed by BOTH doc_id and shingle.
    plan = _plan(spark, name)
    offending = [
        line
        for line in plan.splitlines()
        if "Keys" in line and "doc_id" in line and "shingle" in line
    ]
    assert not offending, offending
