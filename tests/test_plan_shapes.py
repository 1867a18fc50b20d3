"""Physical-plan regression guards for the round-3 operators.

COVERAGE.md/BENCH.md claim specific 100 TB-safe plan shapes (broadcast
joins, map-side partial aggregation, no corpus-keyed windows, bounded
exchange counts). These tests pin those shapes in the EXECUTED plan so
a refactor that silently degrades one (e.g. a broadcast falling back to
sort-merge, a window sneaking onto a skewed key) fails in-suite rather
than at 100x the data.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def no_checkpoint(monkeypatch):
    """localCheckpoint truncates the visible plan (downstream sees an
    RDD scan, not the upstream aggregate). For plan INSPECTION, neuter
    it so the full lineage stays in one queryExecution."""
    # patch the CLASSIC class: the abstract pyspark.sql.DataFrame's
    # method is overridden there, so patching the parent is a no-op
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )


def test_scan_only_ops_have_single_exchange(spark):
    """mojibake_repair and line_dedup_in_doc are embarrassingly parallel
    scans: exactly one Exchange (the explicit round-robin spread), no
    aggregate, no join."""
    from pdf_parser_spark.datapipe import (
        q_line_dedup_in_doc,
        q_mojibake_repair,
    )

    for q in (q_mojibake_repair, q_line_dedup_in_doc):
        p = _plan(q(spark, SF_DIR))
        assert p.count("Exchange") == 1, q.__name__
        assert "Join" not in p and "Window" not in p, q.__name__


def test_hierarchical_rank_windows_stay_chunked(spark):
    """domain_cap's windows must be partitioned by the range chunk (the
    skew-safe decomposition) — a plain PARTITION BY source window (one
    task per hot domain) must never reappear."""
    from pdf_parser_spark.datapipe import q_domain_cap

    p = _plan(q_domain_cap(spark, SF_DIR))
    # every row_number window carries the _chunk key
    for ln in p.splitlines():
        if "row_number()" in ln:
            assert "_chunk" in ln, ln


def test_asof_join_single_exchange_no_rangejoin(spark):
    """The as-of join must stay the union+window device: exactly one
    data exchange (on user_id), no join operator at all — a range/theta
    join here would cross-product each user's purchase x view history."""
    from pdf_parser_spark.timeseries import q_asof_join_events

    p = _plan(q_asof_join_events(spark, SF_DIR))
    assert (
        p.count("Exchange hashpartitioning") + p.count("Exchange rangepartitioning")
        == 1
    )
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_rollup_expands_once_and_broadcasts_dims(spark):
    """ROLLUP must plan as ONE Expand + ONE grouped exchange (not three
    separate aggregations), with the customer/nation dims broadcast."""
    from pdf_parser_spark.timeseries import q_rollup_revenue

    p = _plan(q_rollup_revenue(spark, SF_DIR))
    assert p.count("Expand") == 1
    assert p.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p  # grouping-set partials combine map-side


def test_sliding_window_runs_on_preaggregated_frame(spark):
    """The RANGE-frame window must consume the daily aggregate (partial
    combine before the exchange), so the windowed frame is days x types
    regardless of raw event volume."""
    from pdf_parser_spark.timeseries import q_sliding_window_activity

    p = _plan(q_sliding_window_activity(spark, SF_DIR))
    assert "partial_count" in p or "partial_sum" in p
    assert "Window" in p
    # the window's sort must come after the aggregate, not over raw events
    agg_pos = p.index("HashAggregate")
    win_pos = p.index("Window")
    assert win_pos < agg_pos  # plan prints top-down: window consumes agg


def test_chunk_text_zero_shuffle(spark):
    """Chunking is a pure scan + in-row slice + explode: no Exchange, no
    Join, no Window anywhere in the plan."""
    from pdf_parser_spark.datapipe import q_chunk_text

    p = _plan(q_chunk_text(spark, SF_DIR))
    assert "Exchange" not in p
    assert "Join" not in p and "Window" not in p


def test_pps_sample_uses_chunked_prefix(spark, no_checkpoint):
    """The PPS draw must ride the two-phase prefix device: its local
    cumsum windows are keyed by the range chunk (never a corpus-wide
    window), and the offsets frame arrives as a broadcast."""
    from pdf_parser_spark.datapipe import q_pps_sample

    p = _plan(q_pps_sample(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    for ln in p.splitlines():
        if "Window" in ln and "windowspecdefinition" in ln and "_chunk" not in ln:
            # the only permitted non-chunk window is the <=parts-row
            # offsets frame (partition count), keyed by _chunk anyway
            raise AssertionError(ln)


def test_salted_join_sortmerge_on_salted_key(spark):
    """The salted join must take the sort-merge path (the device exists
    for the non-broadcastable dim) and its join key must include the
    salt — so the hottest source's rows split across SALT_N partitions."""
    from pdf_parser_spark.analytics.queries import q_salted_join

    p = _plan(q_salted_join(spark, SF_DIR))
    assert "SortMergeJoin" in p
    for ln in p.splitlines():
        if "SortMergeJoin" in ln:
            assert "salt" in ln, ln
    assert "CartesianProduct" not in p


def test_funnel_single_exchange(spark):
    """The ordered funnel's two chained running windows and the final
    per-user aggregate must all reuse ONE exchange on user_id — no
    per-stage self-joins, no second shuffle."""
    from pdf_parser_spark.timeseries import q_funnel_conversion

    p = _plan(q_funnel_conversion(spark, SF_DIR))
    assert p.count("Exchange") == 1
    assert "Join" not in p


def test_gap_fill_window_on_grid_not_events(spark):
    """gap_fill's forward-fill window must consume the joined grid, and
    the daily collapse must partially aggregate map-side — no window
    directly over raw events."""
    from pdf_parser_spark.timeseries import q_gap_fill_interpolate

    p = _plan(q_gap_fill_interpolate(spark, SF_DIR))
    assert "partial_count" in p  # daily aggregate combines map-side
    assert "Generate explode" in p  # the sequence() grid
    assert "CartesianProduct" not in p


def test_pivot_is_single_aggregate_no_discovery_scan(spark):
    """The explicit-values pivot must plan as ONE aggregate over the
    join (7 conditional sums) with the dims broadcast; an implicit
    pivot would add a distinct column-discovery pass (a separate
    collect job, invisible in this plan but its Expand/aggregate shape
    is not) — pin: no Expand, exactly one grouping aggregate pair."""
    from pdf_parser_spark.timeseries import q_pivot_revenue_years

    p = _plan(q_pivot_revenue_years(spark, SF_DIR))
    assert "Expand" not in p
    assert p.count("BroadcastHashJoin") >= 2  # customer + nation dims
    assert "partial_sum" in p


def test_interval_overlap_no_cartesian(spark):
    """The binned interval-overlap join must stay an equi-join on the
    bin — a CartesianProduct/NestedLoop anywhere means the overlap
    predicate degenerated to the n^2 theta join the device exists to
    avoid. (The oracle intentionally RUNS that theta join; the Spark
    side must never.)"""
    from pdf_parser_spark.timeseries import q_interval_overlap_join

    p = _plan(q_interval_overlap_join(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tpch_shapes_semi_broadcast_anti(spark):
    """Q4/Q18/Q22 shapes keep their load-bearing operators: the return
    probe is a real LeftSemi (one row per qualifying order, no distinct
    repair), the post-HAVING large-volume set broadcasts onto orders,
    and the dormant probe is a BroadcastHashJoin LeftAnti."""
    from pdf_parser_spark.analytics.queries import (
        q_dormant_customers,
        q_large_volume_orders,
        q_priority_return_rate,
    )

    p = _plan(q_priority_return_rate(spark, SF_DIR))
    assert "LeftSemi" in p
    p = _plan(q_large_volume_orders(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    p = _plan(q_dormant_customers(spark, SF_DIR))
    assert "LeftAnti" in p and "BroadcastHashJoin" in p


def test_volume_shipping_roles_broadcast_takeordered(spark):
    """Q7/Q10 shapes: every dimension role (supplier-nation,
    customer-nation, customer) attaches as a BroadcastHashJoin with no
    cartesian product anywhere; the top-20 is TakeOrderedAndProject
    (per-partition heaps), never a global Sort+Limit."""
    from pdf_parser_spark.analytics.queries import (
        q_returned_top_customers,
        q_volume_shipping,
    )

    p = _plan(q_volume_shipping(spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p
    p = _plan(q_returned_top_customers(spark, SF_DIR))
    assert "TakeOrdered" in p
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p


def test_selection_suite_plan_shapes(spark):
    """selection.py 100 TB claims: edit-distance blocking must be an
    equi-join (never a cartesian); the skyline join-back and OLS part
    join must broadcast; the OLS frame must partial-aggregate map-side;
    the TTL window must partition on the (user, type) key, not run
    unpartitioned."""
    from pdf_parser_spark.selection import (
        q_chi2_lang_source,
        q_edit_distance_dedup,
        q_grouped_ols,
        q_skyline_docs,
        q_ttl_dedup_events,
    )

    p = _plan(q_edit_distance_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    p = _plan(q_skyline_docs(spark, SF_DIR))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    p = _plan(q_grouped_ols(spark, SF_DIR))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert "partial_sum" in p  # sufficient statistics combine map-side
    p = _plan(q_ttl_dedup_events(spark, SF_DIR))
    assert "user_id" in p.split("Window")[1].split("\n")[0]  # keyed window
    p = _plan(q_chi2_lang_source(spark, SF_DIR))
    assert "CartesianProduct" not in p  # the N scalar ships as broadcast
    assert "partial_count" in p or "partial_sum" in p
