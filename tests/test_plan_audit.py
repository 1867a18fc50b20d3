"""Physical-plan audit: pin the scale-critical plan properties the
100 TB design relies on, so a regression that silently flips a join
strategy or drops a parquet pushdown fails CI instead of surfacing as a
cluster bill.

Audited properties:
  * no CartesianProduct / BroadcastNestedLoopJoin anywhere — every join
    in the engine is an equi-join (tolerance joins carry an equi key +
    range residual), so a nested-loop plan means a dropped join key;
  * dimension joins broadcast (BroadcastHashJoin), never shuffle the
    fact side on a dim key;
  * filters reach the parquet scan (PushedFilters non-empty on filtered
    scans);
  * hot scan paths stay inside whole-stage codegen.

The extraction-pipeline queries (extract_* / report_*) are not audited
here: building their frames materializes lineage (persist + collect of
bucket metadata), so their plan discipline is pinned by their own tests
and the admission-plan notes in BENCH.md instead.
"""

from __future__ import annotations

import re

import pytest

from pdf_parser_spark.analytics.queries import ANALYTIC_QUERIES
from pdf_parser_spark.datapipe import DATAPIPE_QUERIES

SF_DIR = "/root/testdata/sf0.001"

# Lazily-built queries only (no job execution at plan time).
AUDITED = [
    "pricing_summary",
    "shipping_priority",
    "revenue_by_nation",
    "user_daily_activity",
    "recent_top_events",
    "exact_dedup_md5",
    "anti_join_new_docs",
    "range_join_nearest",
    "layout_nearest_heat",
    "positional_zip_join",
    "simhash",
    "ngram_jaccard",
    "event_sessions",
    "stratified_sample",
    "pack_sequences",
    "dup_ngram_fraction",
    "gopher_quality",
    "gopher_repetition",
    "paragraph_dedup",
    "decontaminate",
    "exact_substring_dedup",
    "vocab_coverage",
]


def _registry():
    reg = dict(ANALYTIC_QUERIES)
    reg.update(DATAPIPE_QUERIES)
    return reg


def _plan(spark, name: str) -> str:
    df = _registry()[name][0](spark, SF_DIR)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("name", AUDITED)
def test_no_nested_loop_joins(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_dim_joins_broadcast(spark):
    """revenue_by_nation joins lineitem->orders->customer->nation->region;
    the dim side must broadcast, not shuffle the fact table."""
    plan = _plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan


def test_filters_reach_parquet_scan(spark):
    """Predicate pushdown: the scan node itself must carry the filter,
    not a post-scan Filter over a full read."""
    plan = _plan(spark, "shipping_priority")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("GreaterThan(l_shipdate" in p for p in pushed), pushed
    plan = _plan(spark, "anti_join_new_docs")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert sum(1 for p in pushed if "doc_id" in p) >= 2, pushed


def test_scan_paths_codegen(spark):
    """The regex/hash-heavy scan queries must run inside whole-stage
    codegen. An un-executed AdaptiveSparkPlan doesn't annotate codegen
    ids yet, so the probe plans with AQE off — codegen assignment
    itself is AQE-independent."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ["simhash", "gopher_quality"]:
            assert "codegen id" in _plan(spark, name), name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_projection_prunes_scan_columns(spark):
    """Column pruning: a two-column projection must not read the whole
    documents schema (ReadSchema on the scan shows only what's used)."""
    plan = _plan(spark, "exact_dedup_md5")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # uses only doc_id + text; lang/source/n_chars must be pruned
    assert schemas and all(
        "lang" not in s and "source" not in s and "n_chars" not in s
        for s in schemas
    ), schemas


def test_exact_substring_dedup_aggregates_partially(spark):
    """The corpus-global gram-frequency aggregate must partially combine
    map-side (partial_count before the exchange) and every join must be a
    hash equi-join — the dup-span design's scale story depends on both."""
    plan = _plan(spark, "exact_substring_dedup")
    assert "partial_count" in plan, plan[:2000]
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_joins_hash_with_single_row_broadcast_only(spark):
    """tfidf_top_terms: the token-keyed df join must be a hash equi-join
    (vocabulary frames, never nested-loop over them); the ONE permitted
    nested-loop is the 1-row corpus-total broadcast (a per-task 1-row
    concat), which is why this query gets a dedicated audit rather than
    the blanket no-BNLJ list."""
    plan = _plan(spark, "tfidf_top_terms")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # formatted plans print each node twice (tree line + detail header),
    # so count distinct node ids, not substring occurrences
    bnlj_nodes = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(bnlj_nodes) <= 1, plan[:2000]
    assert "Window" in plan  # the top-K cut runs on the vocab frame


def test_vocab_topk_never_single_partition_sorts(spark):
    """The vocabulary top-K must plan as TakeOrderedAndProject (per-task
    heap + K-row merge), not a global Sort — the difference between a
    K-row driver merge and sorting the whole vocabulary through one
    task at corpus scale."""
    plan = _plan(spark, "vocab_coverage")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
