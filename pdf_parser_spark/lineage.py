"""Per-partition checkpointed lineage + exact resume (north_rule; the moral
equivalent of the reference's PENDING/PROCESSING/COMPLETED status machine,
/root/reference/extractor/models/__init__.py:22-27, and its
retry-on-incomplete path, /root/reference/extractor/views.py:263-283 —
done as a table instead of per-row ORM writes).

Model
-----
1. **One Python pass, then global admission.** Each doc crosses into
   Python once, in one stage that routes it, builds its pages and runs the
   kernel (extraction.udfs.route_and_extract) and emits a slim row
   (routing columns and extracted pages, no span payloads). Admission
   control (first-wins dedup on file_hash + vendor routing) is
   corpus-global: it aggregates those rows JVM-only, ONCE per job, and the
   persisted winner set feeds the outputs, the bucket listing and
   ``doc_meta``. Losing duplicates are extracted speculatively and dropped.
   A resume anti-joins the input against completed buckets' persisted
   winners first, so its cost is proportional to the remaining work, not
   the whole input.
2. **Bucketed incremental processing.** Admitted documents are assigned to
   ``n_buckets`` stable work partitions by ``pmod(xxhash64(doc_id), B)``.
   One run processes every bucket not yet COMPLETED in the lineage table,
   writes each *incremental* output table partitioned by bucket with
   dynamic partition overwrite (a re-run of a bucket replaces, never
   duplicates, its output; one file per bucket per table), and only then
   appends one COMPLETED lineage row per bucket with metrics. The metrics
   come from the frames the job already persisted, not from a read-back of
   what it wrote, so the bookkeeping is one small JVM-only write. Crash
   anywhere ⇒ un-lineaged buckets are rewritten wholesale on resume;
   lineaged buckets are skipped. Exactly-once per bucket, no transaction
   coordinator.
3. **Corpus-global reports derived on read.** ``master_log`` carries a
   corpus-global sr_no (update_excel.py:114-139) which is not
   bucket-decomposable; it (and the dashboard aggregates) are derived from
   the persisted incremental tables on demand — the reference's
   regenerate-per-document anti-pattern (tasks.py:174-179) replaced by a
   report job.

On a real cluster the layout maps 1:1 onto Iceberg
(``writeTo(...).overwritePartitions()`` + an append-only lineage table);
parquet is the in-sandbox stand-in.

Layout::

    <root>/extracted_spans/bucket=<b>/...   (incremental, per output table)
    <root>/extracted/bucket=<b>/...
    <root>/doc_stats/bucket=<b>/...
    <root>/doc_meta/bucket=<b>/...          (admitted doc_id, vendor, file_hash)
    <root>/lineage/...                      (append-only)
"""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sink
from .extraction.pipeline import admitted_pages, incremental_outputs, kernel_frames

INCREMENTAL_TABLES = ("extracted_spans", "extracted", "doc_stats", "doc_meta")
OUTPUT_TABLES = INCREMENTAL_TABLES + ("master_log",)

_LINEAGE_SCHEMA = (
    "job_id string, bucket int, n_docs long, n_entries long, n_spans long, "
    "status string, completed_ts double"
)

log = logging.getLogger(__name__)


def _bucket(doc_id_col, n_buckets: int):
    """Stable work-partition assignment; pure function of doc_id."""
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def lineage_path(root: str) -> str:
    return os.path.join(root, "lineage")


def completed_buckets(spark: SparkSession, root: str) -> set[int]:
    """Buckets already finished by any prior run (the resume anti-set).
    The lineage table is tiny (one row per bucket per run) — driver collect
    is O(n_buckets), never O(data)."""
    if not sink.exists(spark, root, "lineage"):
        return set()
    rows = (
        sink.read(spark, root, "lineage", schema=_LINEAGE_SCHEMA)
        .where(F.col("status") == "COMPLETED")
        .select("bucket")
        .distinct()
        .collect()
    )
    return {r["bucket"] for r in rows}



def run_with_lineage(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    job_id: str,
    n_buckets: int = 64,
) -> dict:
    """Run the extraction pipeline over every not-yet-completed bucket,
    writing bucket-partitioned outputs + lineage. Returns a summary dict.

    Exactly-once argument: output partitions are written (dynamic
    overwrite) *before* their lineage rows; a crash between the two leaves
    the bucket un-lineaged, so the next run redoes it and the overwrite
    discards the partial write.

    Resume path: doc_meta persists the admission *winners* of every
    completed bucket (written before their lineage rows), so a resume
    anti-joins the input against those hashes instead of re-running the
    corpus-global first-wins window over everything — at 100x corpus size
    a resume's admission cost is proportional to the remaining work, not
    the whole input. Equivalent by construction: a hash whose winner sits
    in a completed bucket is fully removed (every duplicate of it lost to
    that winner in the global window too); a hash absent from completed
    doc_meta keeps ALL its docs, so the window over the remainder picks
    the same winner."""
    done = completed_buckets(spark, root)
    if done:
        known_hashes = (
            sink.read(spark, root, "doc_meta", schema="file_hash string, bucket int")
            .where(F.col("bucket").isin(list(done)))
            .select("file_hash")
        )
        docs = docs.join(known_hashes, "file_hash", "left_anti")

    # Route, pages and kernel in one Python stage, then first-wins
    # admission over its slim output, computed ONCE. The winners (routing
    # decision and extracted pages, no span payloads) are cached clustered
    # by bucket, so neither the bucket listings, the doc_meta write nor the
    # outputs' explode shuffle them again. Every persisted frame is
    # released on the way out, whether the job finished or raised.
    cached: list = []
    bucket = _bucket(F.col("doc_id"), n_buckets)
    winners = admitted_pages(docs).withColumn("bucket", bucket)
    if done:
        winners = winners.where(~F.col("bucket").isin(list(done)))
    winners = winners.repartition("bucket").persist()
    cached.append(winners)
    try:
        ran = sorted(r["bucket"] for r in winners.select("bucket").distinct().collect())
        log.debug("job %s: %d buckets to run, %d done", job_id, len(ran), len(done))
        if not ran:
            return {"job_id": job_id, "buckets_run": 0, "buckets_skipped": len(done)}

        # Exactly-once is preserved with doc_meta leading: a crash after
        # this write but before a bucket's lineage row leaves the bucket
        # un-lineaged, so the next resume ignores its doc_meta rows (the
        # known-hash anti-set filters to COMPLETED buckets only) and the
        # dynamic overwrite rewrites them.
        sink.write_partitioned(
            winners.select("doc_id", F.col("eff_vendor").alias("vendor"), "file_hash", "bucket"),
            root,
            "doc_meta",
            "bucket",
        )
        log.debug("doc_meta written")
        # The entries are cached clustered by bucket as well, so the
        # extracted_spans/extracted writes and the metrics below shuffle no
        # further; doc_stats, grouped by doc_id, pays one bucket exchange.
        page_entries, entries = kernel_frames(winners, track=cached, cluster_by=bucket)
        for name, df in incremental_outputs(page_entries, entries).items():
            sink.write_partitioned(df.withColumn("bucket", bucket), root, name, "bucket")
            log.debug("%s written", name)

        # Metrics per bucket from the persisted entries the outputs were
        # written from: each entry is 4 extracted_spans rows and one
        # extracted row per non-empty field, and each doc with entries has
        # exactly one entry ranked 1. Listing the buckets from winners
        # completes buckets whose admitted docs yielded no entries. One
        # task writes the few rows.
        metrics = entries.groupBy(bucket.alias("bucket")).agg(
            F.count(F.when(F.col("entry_rank") == 1, 1)).alias("n_docs"),
            sum(F.count(F.when(F.col(c) != "", 1)) for c in ("plate", "heat", "cert")).alias(
                "n_entries"
            ),
            (F.count(F.lit(1)) * 4).alias("n_spans"),
        )
        now = time.time()
        sink.append(
            winners.select("bucket").distinct().join(metrics, "bucket", "left").select(
                F.lit(job_id).alias("job_id"),
                "bucket",
                F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
                F.coalesce("n_entries", F.lit(0)).cast("long").alias("n_entries"),
                F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
                F.lit("COMPLETED").alias("status"),
                F.lit(now).alias("completed_ts"),
            ).coalesce(1),
            root,
            "lineage",
        )
        log.debug("lineage appended")
        return {"job_id": job_id, "buckets_run": len(ran), "buckets_skipped": len(done)}
    finally:
        # Most-derived first, so no unpersist re-caches a dependent.
        for f in reversed(cached):
            f.unpersist()


def read_output(
    spark: SparkSession, root: str, name: str, track: list | None = None
) -> DataFrame:
    """Read one output table across all completed buckets; ``master_log``
    is derived corpus-globally from the incremental tables.

    ``track`` receives the load-bearing persisted handle master_log's
    global sequence pins (reports.global_seq) so long-lived sessions can
    unpersist it after materializing the report — without it every
    master_log derivation strands one cached frame until eviction."""
    if name == "master_log":
        from .extraction.reports import master_log_frame

        extracted = read_output(spark, root, "extracted")
        meta = read_output(spark, root, "doc_meta")
        return master_log_frame(extracted, meta, track=track)
    return sink.read(spark, root, name).drop("bucket")
