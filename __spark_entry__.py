"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction pipeline end-to-end on a small
deterministic span corpus; ``queries``/``oracle_sql`` expose every
implemented operator (SURVEY.md §2) for the driver's DuckDB cross-check.

The pipeline queries (extract_* / report_*) are checked against the
pure-Python reference oracle's materialized outputs — a full-fidelity
span-sequence equality check on the whole engine; the analytic queries are
checked against hand-written DuckDB SQL over the driver's testdata tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pdf_parser_spark import driver_contract
from pdf_parser_spark.analytics import ANALYTIC_QUERIES
from pdf_parser_spark.datapipe import DATAPIPE_QUERIES
from pdf_parser_spark.selection import SELECTION_QUERIES
from pdf_parser_spark.timeseries import TIMESERIES_QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full extraction pipeline (admission → page assembly →
    Arrow-kernel extraction → fan-out/dedup → ordered span output) on the
    sf0.001-scale deterministic corpus."""
    return driver_contract.pipeline_outputs(spark, "/root/testdata/sf0.001")[
        "extracted_spans"
    ]


# The driver records only the FIRST 50 queries() entries, so iteration
# order decides which queries get a driver-verified row. _FRONT holds the
# names never driver-verified (plus the oldest-verified flagship pipeline
# and core kernel rows); _OVERFLOW_TAIL holds the names with the freshest
# driver rows. Every name past the cap is re-verified in-repo by the same
# check (scripts/check_correctness.py → CORRECTNESS_SUPPLEMENT_r05.json).
_FRONT = [
    # --- never driver-verified: round-3 backlog ---
    "interval_overlap_join",
    "json_props_stats",
    "rate_anomaly",
    "rate_trend",
    "revenue_share",
    "event_transitions",
    "rfm_segments",
    "score_auc",
    "attribution_linear",
    "ab_test_purchase",
    "copurchase_pairs",
    "revenue_pareto",
    "domain_cap",
    "chunk_text",
    "pps_sample",
    "corpus_length_stats",
    "mojibake_repair",
    "line_dedup_in_doc",
    # --- refresh the oldest driver rows (last seen r02): flagship
    # pipeline span-equality family ---
    "extract_quarantine",
    "extract_vendor_routing",
    "extract_orientation",
    "extract_multilingual_scan",
    "extract_master_log",
    "extract_extracted_spans",
    "extract_extracted",
    "extract_doc_stats",
    "extract_posco_multi_strategy",
    "report_vendor_rollup",
    "report_dashboard_counters",
    "report_first_value",
    "report_page_summary",
    # --- core kernel queries (last seen r02) ---
    "vendor_detection",
    "heat_correction",
    "exact_dedup_md5",
    "quality_score",
    "media_decode",
    "filename_sanitize",
]

_OVERFLOW_TAIL = [
    "volume_shipping",
    "returned_top_customers",
    "referential_integrity",
    "tfidf_top_terms",
    "bitmap_distinct_window",
    "bpe_token_count",
    "asof_join_events",
    "rollup_revenue",
    "group_median_exact",
    "sliding_window_activity",
    "cohort_retention",
    "funnel_conversion",
    "cusum_changepoint",
    "seasonality_grid",
    "gopher_quality",
    "gopher_line_rules",
    "gopher_repetition",
    "quality_funnel",
    "paragraph_dedup",
    "near_dup_components",
    "pack_sequences",
    "stratified_sample",
    "dup_ngram_fraction",
    "pii_redact",
    "session_window_builtin",
    "salted_join",
    "media_phash_dedup",
    "pivot_revenue_years",
    "large_volume_orders",
    "dormant_customers",
    "priority_return_rate",
]


# Every registry maps name -> (spark_fn, oracle SQL or a callable taking sf);
# queries() takes its natural order from this tuple.
_REGISTRIES = (
    driver_contract.PIPELINE_QUERIES,
    DATAPIPE_QUERIES,
    SELECTION_QUERIES,
    TIMESERIES_QUERIES,
    ANALYTIC_QUERIES,
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: fn for reg in _REGISTRIES for name, (fn, _sql) in reg.items()}
    tail = [n for n in _OVERFLOW_TAIL if n in out]
    front = [n for n in _FRONT if n in out]
    moved = set(tail) | set(front)
    ordered = {n: out[n] for n in front}
    ordered.update({n: f for n, f in out.items() if n not in moved})
    ordered.update({n: out[n] for n in tail})
    return ordered


def oracle_sql() -> dict[str, str]:
    """The driver's correctness pass runs at sf=0.01 (TESTDATA.md); lazy
    (callable) oracle entries are resolved with that sf here, at call time,
    so importing the analytics package stays side-effect-free."""
    correctness_sf = "0.01"
    return {
        name: sql if isinstance(sql, str) else sql(correctness_sf)
        for reg in _REGISTRIES
        for name, (_fn, sql) in reg.items()
    }
