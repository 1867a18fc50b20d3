"""pdf_parser_spark — a PySpark-native reimplementation of the extraction
semantics of MayankNinaniya725/PDF_Parser (reference at /root/reference).

The engine reads an Iceberg/parquet table of interleaved text+media documents
``documents(doc_id string, vendor string, file_hash string,
spans array<struct<kind,text,media_ref,offset>>)`` and emits ordered span
sequences plus the reference's reporting tables, all as DataFrame ops +
Arrow-vectorized UDFs (zero per-row Python at the Spark API level).

Layout:
  configs         — the five vendor extraction "programs" (declarative regex configs)
  kernel          — pure-Python per-page extraction semantics (single source of
                    truth, shared by the job's Python stage and the pytest oracle)
  vendor_detect   — vendor routing: pure-Python spec, run in the job's Python stage
  corpus          — deterministic synthetic corpus generator (seeded)
  oracle          — pure-Python corpus-level reference implementation
  extraction/     — the Spark pipeline (route+pages+kernel in one mapInArrow → admission →
                    fan-out/dedup/unpivot/stats/master-log/reports)
  lineage, sink   — bucketed exactly-once batch job over parquet or catalog tables
  streaming       — per-upload micro-batch ingest, compaction, doc status machine,
                    streaming twins of some timeseries operators
  session         — local SparkSession factory
  multilingual, posco_strategy, multimodal, xlsx
                  — reference side paths: multilingual scan, POSCO alignment,
                    binary media stages, spreadsheet export
  analytics/      — analytic queries with DuckDB-checkable SQL oracles
  datapipe, lm_filter, curation, selection, snapshot, timeseries
                  — corpus-curation and OLAP operators registered for the
                    driver's cross-check (not called by either shipped job)
  driver_contract — the query registry behind __spark_entry__.py
"""

__version__ = "0.1.0"
