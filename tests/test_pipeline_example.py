"""End-to-end pipeline example: collect -> transform -> load -> query."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo/examples")

from nft_pipeline import demo_transport, run_pipeline  # noqa: E402


def test_pipeline_end_to_end(spark, tmp_path):
    inner = demo_transport(3, 50)
    calls: list[str] = []

    class Transport:
        closed = False

        async def __call__(self, url: str) -> dict:
            calls.append(url)
            return await inner(url)

        async def aclose(self) -> None:
            self.closed = True

    transport = Transport()
    result = run_pipeline(spark, str(tmp_path), transport=transport)
    assert transport.closed  # an async client is closed inside the loop
    # one request per page and one per distinct metadata URL
    assert sum(u.startswith("api://collection/page/") for u in calls) == 3
    assert sum(u.startswith("api://meta/") for u in calls) == 40
    assert result["n_records"] == 150
    assert result["enriched"] == 150
    top = result["top_traits"]
    assert len(top) == 9  # 4 colors + 5 tiers distinct (type, value) pairs
    # 40 metadata urls cycle 4 colors -> each color ~uniform; counts sane
    colors = {r.value: r["count"] for r in top if r.trait_type == "color"}
    assert sum(colors.values()) <= 150 and len(colors) >= 2
    # silver tables landed
    assert spark.read.parquet(str(tmp_path / "demo_nfts")).count() == 150


def test_tokenizer_report_sections(spark):
    from examples.tokenizer_report import run_report

    report = run_report(spark, "/root/testdata/sf0.001")
    assert set(report) == {
        "zipf_fit", "bigram_entropy", "bpe_merge_candidates",
        "substring_duplication", "pmi_collocations",
    }
    slope = report["zipf_fit"].collect()[0]
    assert slope.n_ranks > 0 and slope.zipf_slope < 0
    assert report["bpe_merge_candidates"].count() == 20


def test_drift_monitor_sections(spark):
    """Every monitoring section runs, reports row counts, and applies
    its alarm predicate without error."""
    from examples.drift_monitor import SECTIONS, run
    from tests.conftest import SF_SMOKE

    report = run(spark, SF_SMOKE)
    assert set(report) == {s for s, _, _ in SECTIONS}
    for section, body in report.items():
        assert body["rows"] > 0, section
        assert body["alarms"] >= 0, section
