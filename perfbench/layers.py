"""The traced run's layer sweep: each layer's public function timed on its own
over a sample of the workload's input, plus the pure-Python kernel and
oracle in this process.  Spans are recorded here, around the calls; nothing
inside ``pdf_parser_spark`` is instrumented."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from pdf_parser_spark import kernel, oracle
from pdf_parser_spark.configs import VENDOR_CONFIGS
from pdf_parser_spark.extraction import pipeline, reports
from pdf_parser_spark.vendor_detect import route_columns

OUTPUTS = ("extracted_spans", "extracted", "doc_stats")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _unpersist(frames: list) -> None:
    # Most-derived first: see lineage.run_with_lineage on base-first unpersist.
    for f in reversed(frames):
        f.unpersist()


def kernel_metrics(tracer, admitted: list[dict]) -> dict:
    """Per-page kernel cost, in this process, over the admitted docs' pages."""
    total = ocr = 0.0
    n = n_ocr = 0
    with tracer.span("kernel"):
        for doc in admitted:
            cfg = VENDOR_CONFIGS[doc["vendor"]]
            for _p, tables, text_raw, media, geom in oracle.doc_pages(doc):
                t = time.perf_counter()
                _entries, used_ocr = kernel.extract_page_entries(cfg, tables, text_raw, media, geom)
                dt = time.perf_counter() - t
                total += dt
                n += 1
                if used_ocr:
                    ocr += dt
                    n_ocr += 1
    return {
        "kernel.ms_per_page": 1000.0 * total / n,
        "kernel.ocr_ms_per_page": 1000.0 * ocr / max(n_ocr, 1),
        "kernel.ocr_share": ocr / total,
    }


def sweep(spark, tracer, docs, py_docs: list[dict], read, resume) -> dict:
    """``docs``/``py_docs``: the sample as a DataFrame and as rows;
    ``read(name, track)``: the workload's read path over its output;
    ``resume()``: a lineage run over input whose buckets all completed."""
    m: dict = {}

    def timed(name: str, fn):
        with tracer.span(name) as s:
            out = fn()
        m[name] = s["end"] - s["start"]
        return out

    n_docs = docs.count()
    timed("vendor_detect.route_s", lambda: _noop(route_columns(docs)))

    track: list = []
    n_admitted = timed("admission.s", lambda: pipeline.admission_meta(docs, track=track).count())
    _unpersist(track)
    m["admission.admitted_ratio"] = n_admitted / n_docs
    m["admission.quarantined"] = pipeline.quarantine_frame(docs).count()

    admitted = pipeline.admit_documents(docs).persist()
    admitted.count()
    pages = pipeline.page_frame(admitted).persist()
    timed("pages.s", lambda: _noop(pages))
    m["pages.count"] = pages.count()
    m["pages.max_per_doc"] = (
        pages.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    )
    # pages is cached, so this is the kernel UDF stage's own time.
    page_entries = pipeline.page_entries_frame(pages).persist()
    timed("udfs.s", lambda: _noop(page_entries))
    entries = pipeline.entries_frame(page_entries)
    timed("entries.s", lambda: _noop(entries))
    fanned = page_entries.agg(F.sum(F.size("entries"))).collect()[0][0]
    m["entries.dedup_keep_ratio"] = entries.count() / fanned
    _unpersist([admitted, pages, page_entries])

    def plan():
        track: list = []
        out = pipeline.run_pipeline(spark, docs, track=track)
        for name in OUTPUTS:
            out[name]._jdf.queryExecution().executedPlan()
        _unpersist(track)

    timed("outputs.plan_s", plan)
    timed("lineage.noop_resume_s", resume)

    timed("sink.read_s", lambda: read("extracted", None).count())

    def master_log():
        track: list = []
        _noop(read("master_log", track))
        _unpersist(track)

    timed("reports.master_log_s", master_log)

    def rollups():
        extracted = read("extracted", None)
        for fn in (
            reports.vendor_rollup,
            reports.first_value_per_field,
            reports.page_summary,
            reports.dashboard_counters,
        ):
            _noop(fn(extracted))

    timed("reports.rollups_s", rollups)
    spark.catalog.clearCache()  # admit_documents/quarantine_frame caches have no handle

    py_admitted, _q = oracle.route_and_admit(py_docs)
    m.update(kernel_metrics(tracer, py_admitted))
    with tracer.span("baseline.oracle") as s:
        oracle.corpus_outputs(py_docs)
    m["baseline.oracle_docs_per_s"] = len(py_docs) / (s["end"] - s["start"])
    return m
