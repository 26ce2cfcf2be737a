"""Invariants for the training-data operators (queries/training.py).

Oracle parity is covered by tests/test_oracle_parity.py; these pin the
semantic guarantees a training loader would rely on.
"""

from __future__ import annotations

import pytest

from automated_data_pipeline_python_spark.queries import QUERIES
from automated_data_pipeline_python_spark.queries.training import _PACK_LEN
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def packed(spark):
    return QUERIES["pack_sequences_chunked"].fn(spark, SF_CORRECT).collect()


def test_packing_conserves_tokens(spark, packed):
    """Every document's tokens land somewhere: per-doc contributions sum
    to its token count (no token lost or duplicated by the chunking)."""
    from pyspark.sql import functions as F

    from automated_data_pipeline_python_spark.tables import load

    docs = (
        load(spark, SF_CORRECT, "documents")
        .select(
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
        )
        .collect()
    )
    expected = {r.doc_id: r.n_tok for r in docs if r.n_tok > 0}
    got: dict[int, int] = {}
    for r in packed:
        got[r.doc_id] = got.get(r.doc_id, 0) + r.tokens_in_pack
    assert got == expected


def test_packing_fills_budgets_exactly(packed):
    """Within each source stream every pack holds exactly _PACK_LEN
    tokens except the last (concat-and-chunk leaves no holes)."""
    per_pack: dict[tuple[str, int], int] = {}
    for r in packed:
        key = (r.source, r.pack_id)
        per_pack[key] = per_pack.get(key, 0) + r.tokens_in_pack
    last = {src: max(p for s, p in per_pack if s == src) for src, _ in per_pack}
    for (src, pack_id), total in per_pack.items():
        if pack_id == last[src]:
            assert 0 < total <= _PACK_LEN
        else:
            assert total == _PACK_LEN, (src, pack_id, total)


def test_packing_spans_are_contiguous(packed):
    """A doc's pack ids form a contiguous range (it is one token span)."""
    spans: dict[int, list[int]] = {}
    for r in packed:
        spans.setdefault(r.doc_id, []).append(r.pack_id)
    for doc_id, ids in spans.items():
        ids.sort()
        assert ids == list(range(ids[0], ids[-1] + 1)), doc_id


def test_stratified_sample_rates(spark):
    """Observed per-language rates sit near the configured quotas, and
    the sample is a deterministic function of doc_id (stable re-run)."""
    rows = QUERIES["sample_stratified_deterministic"].fn(spark, SF_CORRECT).collect()
    again = QUERIES["sample_stratified_deterministic"].fn(spark, SF_CORRECT).collect()
    assert {r.doc_id for r in rows} == {r.doc_id for r in again}
    assert all(r.bucket < 50 for r in rows if r.lang == "en")
    assert all(r.bucket < 30 for r in rows if r.lang == "de")
    assert all(
        r.bucket < 10 for r in rows if r.lang not in ("en", "de")
    )


def test_mixture_weights_equalize(spark):
    """weight × share ≈ target for every language; shares sum to ~1."""
    rows = QUERIES["mixture_domain_weights"].fn(spark, SF_CORRECT).collect()
    total_share = sum(r.token_share for r in rows)
    assert abs(total_share - 1.0) < 1e-3
    for r in rows:
        assert abs(r.resample_weight * r.token_share - r.target_share) < 1e-3


def test_contamination_flags_eval_overlap(spark):
    """Benchmark docs are excluded from the report; ratios are in [0,1]
    and docs sharing the benchmark's shared vocabulary score > 0."""
    rows = QUERIES["contamination_ngram_overlap"].fn(spark, SF_CORRECT).collect()
    assert all(r.doc_id % 19 != 0 for r in rows)
    assert all(0.0 <= r.contamination_ratio <= 1.0 for r in rows)
    assert all(r.n_contaminated <= r.n_shingles for r in rows)
