"""Sequential bin-packing compaction of a per-source file listing (one
"file" per source, sized by its total chars), driven by
``datapipe._global_prefix`` ordered on a string column: bin =
floor(exclusive prefix / target). The prefix must equal the pandas
cumulative sum in source order, and the bins it yields must be
contiguous and bounded."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pdf_parser_spark.datapipe import _global_prefix

SF_DIR = "/root/testdata/sf0.001"
COMPACT_TARGET = 20_000  # chars per compacted output file: ~8 bins at sf0.001


def test_compaction_bins_contiguous_and_bounded(spark):
    """Bins follow source order contiguously (a bin is an interval of the
    ordered listing) and no bin except possibly the last exceeds
    target + its own largest file — the sequential-packing guarantee."""
    files = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("size_chars"))
    )
    out = (
        _global_prefix(spark, files, "size_chars", order_col="source")
        .select(
            "source",
            "size_chars",
            "_pre",
            "_grand",
            F.floor(F.col("_pre") / COMPACT_TARGET).cast("long").alias("file_bin"),
        )
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    want = docs.groupby("source")["n_chars"].sum().sort_index()
    assert list(out["source"]) == list(want.index)
    assert list(out["_pre"]) == list(want.cumsum() - want)
    assert (out["_grand"] == want.sum()).all()
    assert out["file_bin"].nunique() > 1  # non-vacuous at this scale
    assert (out["file_bin"].diff().fillna(0) >= 0).all()  # monotone in order
    for _, grp in out.groupby("file_bin"):
        assert grp["size_chars"].sum() <= COMPACT_TARGET + grp["size_chars"].max()
