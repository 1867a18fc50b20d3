"""The pipeline's Python crossing.

A job crosses into Python once: ``route_and_extract`` is one ``mapInArrow``
stage that, per document, routes it (vendor_detect.route_doc) and, when
routing lets it through, finishes it with oracle.process_document and
oracle.doc_stats_row under its effective vendor's config: page assembly,
the per-page kernel (pdf_parser_spark.kernel), the entry hash, first-wins
intra-doc dedup, the artifact filename and the doc stats. These are the
spec functions the oracle itself calls, so each per-document semantic lives
once. What stays JVM-side is relational: first-wins admission across docs,
span sequencing, the unpivot and the bucketed writes, all over the stage's
slim output.

``extract_page_udf`` is the kernel alone as a scalar pandas UDF over page
rows; it is not on the job path (orientation and the benchmark's layer
sweep use it, through pipeline.page_entries_frame).

Python ``re`` inside the kernel is a fidelity requirement, not a shortcut:
the reference's first-non-None-capture-group selection over alternations and
its Unicode case folding are not expressible with JVM regexp built-ins
(SURVEY.md §7). Patterns are compiled once per executor process (kernel's
module-level cache) and reused across batches.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import kernel
from ..configs import VENDOR_CONFIGS
from ..oracle import doc_stats_row, process_document
from ..vendor_detect import route_doc

ENTRY_TYPE = StructType(
    [
        StructField("plate", StringType()),
        StructField("heat", StringType()),
        StructField("cert", StringType()),
        StructField("quality", StringType()),
    ]
)

PAGE_RESULT_TYPE = StructType(
    [
        StructField("entries", ArrayType(ENTRY_TYPE)),
        StructField("used_ocr", BooleanType()),
    ]
)

# One row per document: its routing decision plus, when routing lets it
# through (pre_reason NULL), its finished per-document result: the entries
# deduplicated on the entry hash in output order (page 1-based) and the doc
# stats. No span payload.
ROUTED_DOC_TYPE = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("vendor", StringType()),
        StructField("file_hash", StringType()),
        StructField("eff_vendor", StringType()),
        StructField("detected", StringType()),
        StructField("confidence", DoubleType()),
        StructField("pre_reason", StringType()),
        StructField(
            "entries",
            ArrayType(
                StructType(
                    [
                        StructField("page", IntegerType()),
                        StructField("plate", StringType()),
                        StructField("heat", StringType()),
                        StructField("cert", StringType()),
                        StructField("filename", StringType()),
                    ]
                )
            ),
        ),
        StructField(
            "stats",
            StructType(
                [
                    StructField("total_pages", IntegerType()),
                    StructField("successful_pages", IntegerType()),
                    StructField("ocr_fallback_pages", StringType()),
                    StructField("failed_pages", StringType()),
                    StructField("extraction_success", BooleanType()),
                    StructField("partial_extraction", BooleanType()),
                ]
            ),
        ),
    ]
)


def _entry_tuples(entries: list[dict]) -> list[tuple]:
    return [(e["PLATE_NO"], e["HEAT_NO"], e["TEST_CERT_NO"], e["quality"]) for e in entries]


def _route_and_extract_doc(doc: dict) -> dict:
    """One ``ROUTED_DOC_TYPE`` row for one document row."""
    doc = {**doc, "spans": doc["spans"] or []}
    r = route_doc(doc)
    entries = stats = None
    if r["pre_reason"] is None:
        admitted = {**doc, "vendor": r["eff_vendor"]}
        results, doc_stats = process_document(admitted)
        entries = [
            (e["Page"], e["PLATE_NO"], e["HEAT_NO"], e["TEST_CERT_NO"], e["Filename"])
            for e in results
        ]
        stats = doc_stats_row(admitted, doc_stats)
    return {
        "doc_id": doc["doc_id"],
        "vendor": doc["vendor"],
        "file_hash": doc["file_hash"],
        **r,
        "entries": entries,
        "stats": stats,
    }


def _route_and_extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    schema = to_arrow_schema(ROUTED_DOC_TYPE)
    for batch in batches:
        rows = [_route_and_extract_doc(d) for d in batch.to_pylist()]
        yield pa.RecordBatch.from_pylist(rows, schema=schema)


def route_and_extract(docs: DataFrame, width: int) -> DataFrame:
    """``ROUTED_DOC_TYPE`` for every row of ``docs``: one ``mapInArrow``
    stage of ``width`` tasks over the docs hash-partitioned by doc_id. That
    repartition is the one exchange that moves span bytes."""
    return (
        docs.select("doc_id", "vendor", "file_hash", "spans")
        .repartition(width, "doc_id")
        .mapInArrow(_route_and_extract_batches, ROUTED_DOC_TYPE)
    )


@pandas_udf(PAGE_RESULT_TYPE)
def extract_page_udf(
    vendor: pd.Series,
    table_blob: pd.Series,
    text_raw: pd.Series,
    media_blob: pd.Series,
    geom: pd.Series,
) -> pd.DataFrame:
    """(vendor_id, tables⊕\\x1d, raw page text, media⊕\\x1e, page geometry
    'WxH') → (entries, used_ocr). Not on the job path (see the module
    docstring).

    Mirrors the page body of extract_pdf_fields (extractor.py:162-195) plus
    the O6 orientation correction on the OCR path."""
    out_entries: list[list[tuple]] = []
    out_ocr: list[bool] = []
    for v, tb, tx, mb, gm in zip(vendor, table_blob, text_raw, media_blob, geom):
        cfg = VENDOR_CONFIGS[v]
        tables = tb.split(kernel.TABLE_SEP) if tb else []
        media = mb.split(kernel.MEDIA_SEP) if mb else []
        entries, used = kernel.extract_page_entries(cfg, tables, tx or "", media, gm or "")
        out_entries.append(_entry_tuples(entries))
        out_ocr.append(used)
    return pd.DataFrame({"entries": out_entries, "used_ocr": out_ocr})
