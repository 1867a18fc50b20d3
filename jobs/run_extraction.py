#!/usr/bin/env python
"""spark-submit entry point for the extraction job (north_rule: ships via
``spark-submit --py-files`` to a multi-executor cluster).

    spark-submit --py-files pdf_parser_spark.zip jobs/run_extraction.py \
        --input  /path/to/documents_parquet_or_iceberg \
        --output /path/to/output_root \
        --job-id run-2026-08-16 \
        --buckets 4096

Resumable: re-running with the same --output skips every bucket whose
lineage row is COMPLETED and rewrites the rest (see pdf_parser_spark.lineage).
On a cluster, omit --local-cores and let the session come from spark-submit
(master/executors configured externally); --buckets should be sized so one
bucket ≈ a few GB of input (e.g. 10^12 docs → 10^5-10^6 buckets).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents table (parquet dir)")
    ap.add_argument("--output", required=True, help="output root (bucketed parquet + lineage)")
    ap.add_argument("--job-id", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--local-cores", type=int, default=0,
                    help="build a local[k] session (sandbox); 0 = use spark-submit's session")
    args = ap.parse_args()

    if args.local_cores:
        from pdf_parser_spark.session import get_spark

        spark = get_spark(cores=args.local_cores, app_name=f"extract_{args.job_id}")
    else:
        from pyspark.sql import SparkSession

        from pdf_parser_spark.session import ENGINE_CONF

        spark = (
            SparkSession.builder.appName(f"extract_{args.job_id}")
            .config(map=ENGINE_CONF)
            .getOrCreate()
        )

    from pdf_parser_spark.lineage import run_with_lineage

    docs = spark.read.parquet(args.input)
    summary = run_with_lineage(spark, docs, args.output, args.job_id, args.buckets)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
