"""Unit tests: connected components, logs, and composite operators."""

from __future__ import annotations

import logging

from pyspark.sql import functions as F

from automated_data_pipeline_python_spark.operators.clusters import (
    connected_components,
)
from automated_data_pipeline_python_spark.tables import load
from automated_data_pipeline_python_spark.utils.logs import setup_logging

SF = "/root/testdata/sf0.001"


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], ["src", "dst"]
        )
        got = {
            (r.node, r.component) for r in connected_components(edges).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20)}

    def test_two_merging_chains(self, spark):
        # Two chains that meet: 1-2-3 and 5-4-3 -> all one component.
        edges = spark.createDataFrame([(1, 2), (2, 3), (5, 4), (4, 3)], ["src", "dst"])
        comps = {r.node: r.component for r in connected_components(edges).collect()}
        assert set(comps.values()) == {1}


class TestLogs:
    def test_setup_logging_idempotent_and_rotating(self, tmp_path):
        logfile = str(tmp_path / "engine.log")
        root = setup_logging(logfile=logfile)
        n_handlers = len(root.handlers)
        setup_logging(logfile=logfile)  # idempotent
        assert len(root.handlers) == n_handlers
        logging.getLogger("engine.test").info("hello rotating file")
        root.handlers[-1].flush()
        assert "hello rotating file" in open(logfile).read()
        assert logging.getLogger("py4j").level == logging.WARNING


class TestPandasUdafParity:
    def test_grouped_slope_matches_jvm_regr_slope(self, spark):
        from automated_data_pipeline_python_spark.queries.relational4 import (
            grouped_slope_pandas,
        )

        got = {
            r.o_custkey: r.slope
            for r in grouped_slope_pandas(spark, SF).collect()
            if r.slope == r.slope  # drop NaN (single-order customers)
        }
        orders = load(spark, SF, "orders")
        want = {
            r.o_custkey: r.slope
            for r in orders.selectExpr(
                "o_custkey",
                "CAST(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01', o_orderdate) AS DOUBLE) / 86400 AS x",
                "o_totalprice",
            )
            .groupBy("o_custkey")
            .agg(F.expr("regr_slope(o_totalprice, x)").alias("slope"))
            .collect()
            if r.slope is not None
        }
        assert set(got) == set(want)
        for k in got:
            assert abs(got[k] - want[k]) < 1e-6 * max(1.0, abs(want[k])), k

    def test_sample_is_seed_deterministic(self, spark):
        from automated_data_pipeline_python_spark.queries.relational4 import (
            sample_reproducible,
        )

        a = sorted(map(tuple, sample_reproducible(spark, SF).collect()))
        b = sorted(map(tuple, sample_reproducible(spark, SF).collect()))
        assert a == b and len(a) > 0


class TestScd2Merge:
    def _state(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "cust_id long, segment string, balance double, "
            "valid_from timestamp_ntz, valid_to timestamp_ntz, is_current boolean",
        )

    def test_full_lifecycle(self, spark):
        from automated_data_pipeline_python_spark.operators.scd import scd2_merge
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        t_end = None  # NULL valid_to = open version (Arrow-safe sentinel)
        current = self._state(
            spark,
            [
                (1, "GOLD", 100.0, t0, t_end, True),     # unchanged
                (2, "SILVER", 50.0, t0, t_end, True),    # will change
                (3, "BRONZE", 10.0, t0, t_end, True),    # missing from snapshot
                (2, "BRONZE", 5.0, dt.datetime(2023, 1, 1), t0, False),  # history
            ],
        )
        snapshot = spark.createDataFrame(
            [(1, "GOLD", 100.0), (2, "GOLD", 75.0), (4, "SILVER", 20.0)],
            "cust_id long, segment string, balance double",
        )
        out = scd2_merge(
            current, snapshot, key="cust_id",
            tracked=["segment", "balance"], batch_ts="2024-06-01 00:00:00",
        )
        rows = {(r.cust_id, str(r.valid_from), r.is_current): r for r in out.collect()}
        assert len(rows) == 6  # 4 existing + 1 new version of 2 + new key 4

        # unchanged key 1: still current, original window
        assert rows[(1, "2024-01-01 00:00:00", True)].segment == "GOLD"
        # changed key 2: old version closed at batch ts
        closed = rows[(2, "2024-01-01 00:00:00", False)]
        assert str(closed.valid_to) == "2024-06-01 00:00:00"
        # ... and new version open (NULL valid_to)
        new2 = rows[(2, "2024-06-01 00:00:00", True)]
        assert (new2.segment, new2.balance) == ("GOLD", 75.0)
        assert new2.valid_to is None
        # missing key 3 stays open (close_missing=False)
        assert (3, "2024-01-01 00:00:00", True) in rows
        # brand-new key 4 opened
        assert rows[(4, "2024-06-01 00:00:00", True)].segment == "SILVER"
        # historical row untouched
        assert (2, "2023-01-01 00:00:00", False) in rows

    def test_close_missing_hard_deletes(self, spark):
        from automated_data_pipeline_python_spark.operators.scd import scd2_merge
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        t_end = None
        current = self._state(spark, [(1, "GOLD", 1.0, t0, t_end, True)])
        empty_snap = spark.createDataFrame(
            [], "cust_id long, segment string, balance double"
        )
        out = scd2_merge(
            current, empty_snap, key="cust_id",
            tracked=["segment", "balance"], batch_ts="2024-06-01 00:00:00",
            close_missing=True,
        ).collect()
        assert len(out) == 1
        assert out[0].is_current is False
        assert str(out[0].valid_to) == "2024-06-01 00:00:00"

    def test_merge_is_idempotent_on_same_snapshot(self, spark):
        from automated_data_pipeline_python_spark.operators.scd import scd2_merge
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        t_end = None
        current = self._state(spark, [(1, "GOLD", 1.0, t0, t_end, True)])
        snap = spark.createDataFrame(
            [(1, "GOLD", 1.0)], "cust_id long, segment string, balance double"
        )
        once = scd2_merge(current, snap, "cust_id", ["segment", "balance"], "2024-06-01 00:00:00")
        twice = scd2_merge(once, snap, "cust_id", ["segment", "balance"], "2024-07-01 00:00:00")
        assert sorted(map(tuple, once.collect())) == sorted(
            map(tuple, twice.collect())
        )


class TestAsofUnionWindow:
    def _sides(self, spark):
        import datetime as dt

        t = lambda m: dt.datetime(2024, 1, 1, 0, m)
        left = spark.createDataFrame(
            [(1, t(10), "a"), (1, t(20), "b"), (2, t(5), "c"), (3, t(9), "d")],
            "k long, ts timestamp_ntz, tag string",
        )
        right = spark.createDataFrame(
            [(1, t(10), 100.0), (1, t(15), 150.0), (2, t(7), 70.0)],
            "k long, ts timestamp_ntz, v double",
        )
        return left, right

    def test_backward_with_inclusive_ties_and_unmatched(self, spark):
        from automated_data_pipeline_python_spark.operators.joins import (
            asof_join_union_window,
        )

        left, right = self._sides(spark)
        out = asof_join_union_window(
            left, right, on="ts", by="k", right_cols=["ts", "v"]
        )
        rows = {r.tag: r for r in out.collect()}
        assert rows["a"].right_v == 100.0  # tie on ts is inclusive
        assert rows["b"].right_v == 150.0  # latest prior
        assert rows["c"].right_v is None  # right row is later → unmatched
        assert rows["d"].right_v is None  # key with no right rows
        assert len(rows) == 4  # left-join cardinality preserved

    def test_matches_cogroup_implementation(self, spark):
        from automated_data_pipeline_python_spark.operators.joins import (
            asof_join,
            asof_join_union_window,
        )

        purchases = load(spark, SF, "events").filter(F.col("event_type") == "purchase")
        clicks = load(spark, SF, "events").filter(F.col("event_type") == "click")
        a = asof_join_union_window(
            purchases, clicks, on="ts", by="user_id",
            right_prefix="click_", right_cols=["ts", "value"],
        ).select("event_id", "click_ts", "click_value")
        p2 = load(spark, SF, "events").filter(F.col("event_type") == "purchase")
        c2 = load(spark, SF, "events").filter(F.col("event_type") == "click")
        b = asof_join(
            p2, c2, on="ts", by="user_id",
            right_prefix="click_", right_cols=["ts", "value"],
        ).select("event_id", "click_ts", "click_value")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_forward_direction(self, spark):
        from automated_data_pipeline_python_spark.operators.joins import (
            asof_join_union_window,
        )

        left, right = self._sides(spark)
        out = asof_join_union_window(
            left, right, on="ts", by="k", right_cols=["v"], direction="forward"
        )
        rows = {r.tag: r for r in out.collect()}
        assert rows["c"].right_v == 70.0  # earliest right at/after ts
        assert rows["b"].right_v is None  # nothing at/after minute 20
        assert rows["a"].right_v == 100.0  # tie inclusive

    def test_tolerance_nulls_stale_matches(self, spark):
        from automated_data_pipeline_python_spark.operators.joins import (
            asof_join_union_window,
        )

        left, right = self._sides(spark)
        out = asof_join_union_window(
            left, right, on="ts", by="k",
            right_cols=["ts", "v"], tolerance="3 minutes",
        )
        rows = {r.tag: r for r in out.collect()}
        assert rows["a"].right_v == 100.0  # gap 0 ≤ 3 min
        assert rows["b"].right_v is None  # gap 5 min > 3 min → nulled

    def test_duplicate_right_ts_pick_is_deterministic(self, spark):
        from automated_data_pipeline_python_spark.operators.joins import (
            asof_join_union_window,
        )
        import datetime as dt

        t = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame([(1, t)], "k long, ts timestamp_ntz")
        right = spark.createDataFrame(
            [(1, t, x) for x in (5.0, 1.0, 9.0, 3.0)],
            "k long, ts timestamp_ntz, v double",
        )
        picks = {
            asof_join_union_window(
                left.repartition(n), right.repartition(7 - n),
                on="ts", by="k", right_cols=["v"],
            ).collect()[0].right_v
            for n in (1, 2, 3)
        }
        assert picks == {9.0}  # greatest under struct order, any partitioning


def test_prefix_filter_join_exact_recall(spark):
    """The PPJoin pigeonhole claim, black-box: prefix-filtered pairs at
    t=0.5 must equal the FULL shingle-join pairs (dedup_ngram_jaccard,
    discovered at t=0.2) filtered to jaccard >= 0.5."""
    from automated_data_pipeline_python_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    pf = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_prefix_filter_join"].fn(spark, sf).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"].fn(spark, sf).collect()
        if r.jaccard >= 0.5
    }
    assert pf == full
    assert full, "vacuous fixture: no pairs above threshold"


def test_bpe_double_replace_completes_greedy_merge(spark):
    """The two-pass plain-replace fuse is exact: alternate occurrences
    skipped by pass 1 (consumed boundary space) are all caught by pass
    2, because two skipped occurrences are never adjacent."""
    row = spark.sql(
        """
        SELECT trim(replace(replace(' ' || 'a b a b a b a b' || ' ',
                   ' a b ', ' a+b '), ' a b ', ' a+b ')) AS s,
               trim(replace(' ' || 'a b a b a b a b' || ' ',
                   ' a b ', ' a+b ')) AS one_pass
        """
    ).collect()[0]
    assert row.s == "a+b a+b a+b a+b"
    assert row.one_pass != row.s  # pass 1 alone genuinely under-merges


def test_skyline_is_exactly_the_nondominated_set(spark):
    """Direct dominance check of the window-pass skyline: every kept
    point is non-dominated and every dropped point is dominated
    (within its brand), verified in Python against the raw table."""
    from collections import defaultdict

    from automated_data_pipeline_python_spark.queries import QUERIES
    from automated_data_pipeline_python_spark.tables import load

    sf = "/root/testdata/sf0.001"
    kept = {
        (r.p_brand, r.p_partkey)
        for r in QUERIES["part_skyline_pareto"].fn(spark, sf).collect()
    }
    by_brand = defaultdict(list)
    for r in load(spark, sf, "part").collect():
        by_brand[r.p_brand].append((r.p_partkey, r.p_size, r.p_retailprice))
    for brand, pts in by_brand.items():
        for key, size, price in pts:
            dominated = any(
                (q_price <= price and q_size >= size)
                and (q_price < price or q_size > size)
                for _, q_size, q_price in pts
            )
            assert ((brand, key) in kept) == (not dominated), (brand, key)


def test_deletion_vector_bitmap_roundtrip_and_tail_word(spark):
    """The DV probe must recover exactly the predicate-deleted rows in
    every month — including months whose deletes land in the partial
    last 63-bit word."""
    from automated_data_pipeline_python_spark.queries import QUERIES

    rows = QUERIES["warehouse_deletion_vectors"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    assert any(r.n_deleted_predicate > 0 for r in rows)
    # partial tail word exercised: some month's row count is not a
    # multiple of 63 yet still has deletes
    assert any(
        r.n_rows % 63 != 0 and r.n_deleted_predicate > 0 for r in rows
    )
    for r in rows:
        assert r.n_deleted_bitmap == r.n_deleted_predicate, r


def test_quantile_normalize_is_monotone_and_near_identity_pooled(spark):
    """Rank-normalization invariants: within a source the mapping is
    monotone in the raw value, and the pooled distribution maps onto
    (approximately) itself — the permille grid allows only one bucket
    of slack."""
    from collections import defaultdict

    from automated_data_pipeline_python_spark.queries import QUERIES

    rows = QUERIES["feature_quantile_normalize"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append((r.n_chars, r.doc_id, r.qn_chars))
    for src, vals in by_src.items():
        vals.sort()
        qn = [v[2] for v in vals]
        assert qn == sorted(qn), src
    # pooled sanity: global min/max map to themselves
    all_rows = sorted((r.n_chars, r.qn_chars) for r in rows)
    assert all_rows[-1][1] == max(r.n_chars for r in rows)


def test_rrf_fuses_both_legs(spark):
    """RRF sanity: the fused ranking is non-empty, scores decrease,
    and a doc ranked #1 by BOTH legs would out-score any single-leg
    doc (1/61 + 1/61 > 1/61 + 0) — i.e. dual-leg hits dominate when
    present."""
    from automated_data_pipeline_python_spark.queries import QUERIES

    rows = QUERIES["rag_reciprocal_rank_fusion"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.lex_rank is not None or r.sem_rank is not None
        both = r.lex_rank is not None and r.sem_rank is not None
        expect = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (60 + r.sem_rank) if r.sem_rank else 0.0
        )
        assert abs(r.rrf_score - expect) < 2e-6, r
        if both and r is rows[0]:
            assert r.rrf_score > 1.0 / 61
