"""Wiring for the driver contract (__spark_entry__.py).

Two query families:

1. **Pipeline queries** run the full extraction pipeline over a deterministic
   span corpus (pdf_parser_spark.corpus, seeded — cached as parquet under
   .cache/). Their DuckDB oracle reads the *pure-Python oracle's* expected
   outputs, materialized to parquet by ``ensure_corpus`` — i.e. the driver's
   hash compare becomes a full-fidelity Spark-vs-oracle equality check on the
   whole extraction engine.

2. **Analytic queries** (pdf_parser_spark.analytics) run over the driver's
   own testdata tables with hand-written DuckDB SQL oracles.
"""

from __future__ import annotations

import os
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, ShortType

from . import corpus, oracle
from .extraction import run_pipeline
from .extraction.reports import (
    dashboard_counters,
    first_value_per_field,
    page_summary,
    vendor_rollup,
)

CACHE_DIR = Path(__file__).resolve().parent.parent / ".cache"

# Bump when kernel/oracle/corpus semantics change: invalidates the
# materialized corpus + expected-output caches below.
# v4: vendor-detection router (R11) + quarantine (S10) + orientation
#     detect/correct (O6) + corpus fixtures (brand kits with extractable
#     content, mislabel slot, mismatch dup, rotated-scan pages + geometry
#     on media refs).
# v5: R10 multilingual-expansion scan + fragmented bilingual citic fixture.
KERNEL_VER = "v5"

PIPELINE_TABLES = (
    "extracted_spans",
    "extracted",
    "doc_stats",
    "master_log",
    "quarantine",
    "vendor_routing",
    "orientation",
)
STRATEGY_TABLES = ("posco_multi_strategy", "multilingual_scan")

# Explicit schemas for expected tables that may be empty at tiny sf (a
# column-less parquet would break the DuckDB side of the compare).
_TABLE_COLUMNS = {
    "quarantine": ["doc_id", "vendor_label", "detected", "confidence", "reason"],
    "vendor_routing": ["doc_id", "detected", "confidence", "routed_vendor"],
}
REPORT_TABLES = (
    "report_vendor_rollup",
    "report_first_value",
    "report_page_summary",
    "report_dashboard_counters",
)


def sf_of(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return base[2:] if base.startswith("sf") else "0.01"


def corpus_path(sf: str) -> str:
    return str(CACHE_DIR / f"corpus_{KERNEL_VER}_sf{sf}.parquet")


def expected_path(sf: str, name: str) -> str:
    return str(CACHE_DIR / f"expected_{KERNEL_VER}_sf{sf}_{name}.parquet")


def _expected_reports(extracted: list[dict]) -> dict[str, list[dict]]:
    """Pure-Python expected values for the report queries (independent of
    the Spark implementations in extraction/reports.py)."""
    rollup: dict[str, dict] = {}
    firsts: dict[tuple, tuple] = {}
    pages: dict[tuple, list] = {}
    for r in sorted(extracted, key=lambda r: (r["doc_id"], r["row_seq"])):
        v = rollup.setdefault(r["vendor"], {"docs": set(), "rows": 0})
        v["docs"].add(r["doc_id"])
        v["rows"] += 1
        k = (r["doc_id"], r["field_key"])
        if k not in firsts:
            firsts[k] = r["field_value"]
        pages.setdefault((r["doc_id"], r["page_number"]), []).append(
            f"{r['field_key']}: {r['field_value']}"
        )
    return {
        "report_vendor_rollup": [
            {"vendor": v, "pdf_count": len(d["docs"]), "row_count": d["rows"]}
            for v, d in rollup.items()
        ],
        "report_first_value": [
            {"doc_id": k[0], "field_key": k[1], "first_value": val}
            for k, val in firsts.items()
        ],
        "report_page_summary": [
            {
                "doc_id": k[0],
                "page_number": k[1],
                "field_count": len(vals),
                "fields_concat": ", ".join(vals),
            }
            for k, vals in pages.items()
        ],
        "report_dashboard_counters": [
            {
                "total_extracted_docs": len({r["doc_id"] for r in extracted}),
                "total_rows": len(extracted),
            }
        ],
    }


def ensure_corpus(sf: str, with_expected: bool = True) -> None:
    """Generate (once) the span corpus — and, unless ``with_expected=False``,
    the oracle's expected outputs. Callers that only read the corpus table
    (q_cjk_pages and its SQL) pass False: materializing the full pure-Python
    oracle inside a query's first run is a multi-second cache artifact that
    would be misread as query cost."""
    CACHE_DIR.mkdir(exist_ok=True)
    paths = [corpus_path(sf)]
    if with_expected:
        paths += [
            expected_path(sf, n) for n in PIPELINE_TABLES + REPORT_TABLES + STRATEGY_TABLES
        ]
    if all(os.path.exists(p) for p in paths):
        return
    n_docs = corpus.docs_for_sf(float(sf))
    docs = corpus.gen_corpus(n_docs)

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.exists(corpus_path(sf)):
        pq.write_table(
            pa.Table.from_pylist(docs, schema=corpus.arrow_schema()), corpus_path(sf)
        )
    if not with_expected:
        return

    out = oracle.corpus_outputs(docs)
    out.update(_expected_reports(out["extracted"]))

    from . import multilingual, posco_strategy

    out["posco_multi_strategy"] = posco_strategy.py_extract(docs)
    out["multilingual_scan"] = multilingual.py_scan(docs)
    for name in PIPELINE_TABLES + REPORT_TABLES + STRATEGY_TABLES:
        pd.DataFrame(out[name], columns=_TABLE_COLUMNS.get(name)).to_parquet(
            expected_path(sf, name), index=False
        )


def _longify(df: DataFrame) -> DataFrame:
    """Cast every sub-long integer column to long so Spark and the expected
    parquet (pandas int64) hash identically."""
    cols = [
        F.col(f.name).cast("long").alias(f.name)
        if isinstance(f.dataType, (IntegerType, ShortType, ByteType))
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)


_PIPELINE_CACHE: dict[tuple, dict] = {}


def pipeline_outputs(spark, sf_dir: str) -> dict[str, DataFrame]:
    """Run (once per session+sf) the full pipeline over the cached corpus."""
    sf = sf_of(sf_dir)
    key = (id(spark), sf)
    if key not in _PIPELINE_CACHE:
        ensure_corpus(sf)
        docs = spark.read.parquet(corpus_path(sf))
        out = run_pipeline(spark, docs)
        from .extraction.pipeline import (
            orientation_frame,
            quarantine_frame,
            vendor_routing_frame,
        )

        out["quarantine"] = quarantine_frame(docs)
        out["vendor_routing"] = vendor_routing_frame(docs)
        out["orientation"] = orientation_frame(docs)
        extracted = out["extracted"].cache()
        out["extracted"] = extracted
        out["report_vendor_rollup"] = vendor_rollup(extracted)
        out["report_first_value"] = first_value_per_field(extracted)
        out["report_page_summary"] = page_summary(extracted)
        out["report_dashboard_counters"] = dashboard_counters(extracted)

        from . import multilingual, posco_strategy

        out["posco_multi_strategy"] = posco_strategy.spark_extract(docs)
        out["multilingual_scan"] = multilingual.spark_scan(docs)
        _PIPELINE_CACHE[key] = {k: _longify(v) for k, v in out.items()}
    return _PIPELINE_CACHE[key]


def _pipeline_query(name: str) -> tuple:
    def fn(spark, sf_dir):
        return pipeline_outputs(spark, sf_dir)[name]

    def oracle_sql(sf: str) -> str:
        """DuckDB side: the pure-Python oracle's materialized expectations."""
        ensure_corpus(sf)
        return f"SELECT * FROM read_parquet('{expected_path(sf, name)}')"

    return fn, oracle_sql


# name -> (spark_fn, lazy oracle SQL), the shape of analytics.ANALYTIC_QUERIES.
PIPELINE_QUERIES = {
    n if n.startswith("report_") else f"extract_{n}": _pipeline_query(n)
    for n in PIPELINE_TABLES + REPORT_TABLES + STRATEGY_TABLES
}
