"""Arrow-vectorized extraction UDF.

The kernel's Python crossing: one scalar pandas UDF that runs the per-page
kernel (pdf_parser_spark.kernel) over Arrow batches of page rows. Everything
upstream (span explode, page grouping, ordering) and downstream (fan-out,
hashing, dedup, sequencing, unpivot, aggregation) is JVM-side DataFrame
algebra; the pipeline's only other crossing is routing
(vendor_detect.route_columns), in the same shape.

Python ``re`` inside the kernel is a fidelity requirement, not a shortcut:
the reference's first-non-None-capture-group selection over alternations and
its Unicode case folding are not expressible with JVM regexp built-ins
(SURVEY.md §7). Patterns are compiled once per executor process (kernel's
module-level cache) and reused across batches.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from .. import kernel
from ..configs import VENDOR_CONFIGS

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


@pandas_udf(PAGE_RESULT_TYPE)
def extract_page_udf(
    vendor: pd.Series,
    table_blob: pd.Series,
    text_raw: pd.Series,
    media_blob: pd.Series,
    geom: pd.Series,
) -> pd.DataFrame:
    """(vendor_id, tables⊕\\x1d, raw page text, media⊕\\x1e, page geometry
    'WxH') → (entries, used_ocr).

    Mirrors the page body of extract_pdf_fields (extractor.py:162-195) plus
    the O6 orientation correction on the OCR path."""
    out_entries: list[list[tuple]] = []
    out_ocr: list[bool] = []
    for v, tb, tx, mb, gm in zip(vendor, table_blob, text_raw, media_blob, geom):
        cfg = VENDOR_CONFIGS[v]
        tables = tb.split(kernel.TABLE_SEP) if tb else []
        media = mb.split(kernel.MEDIA_SEP) if mb else []
        entries, used = kernel.extract_page_entries(cfg, tables, tx or "", media, gm or "")
        out_entries.append(
            [(e["PLATE_NO"], e["HEAT_NO"], e["TEST_CERT_NO"], e["quality"]) for e in entries]
        )
        out_ocr.append(used)
    return pd.DataFrame({"entries": out_entries, "used_ocr": out_ocr})
