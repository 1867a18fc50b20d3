"""Structured Streaming wrapper over the batch extraction core.

The reference has no true streaming (SURVEY.md §2.12): documents are
processed on upload (Celery task per doc) and results appended. The moral
equivalent at scale is an incremental job over the input table:
``readStream`` on the documents directory, ``foreachBatch`` running the
same batch pipeline + lineage bookkeeping per micro-batch, with
``trigger(availableNow=True)`` for catch-up-and-stop semantics (the
upload-queue drain) or a processing-time trigger for continuous ingest.

Each micro-batch runs ``lineage.run_with_lineage`` under its **own
sub-root** (``<root>/batch=<id>/``): bucket-completion state is only
meaningful relative to a fixed input set, and a later batch's documents
must not be skipped because an earlier batch completed the same bucket
number (nor overwrite its partitions). A *retried* micro-batch reuses its
batch id, so the sub-root's lineage resumes it exactly where it failed —
Spark's checkpoint dedups source files across restarts, the sub-root
lineage dedups buckets within a partially-failed micro-batch.

Admission dedup inside a micro-batch is per-batch; cross-batch dedup of
re-uploaded content is an anti-join of each batch against the accumulated
doc_meta of every *prior* sub-root and the compacted layout (matching the
reference's upload-time hash check, views/core.py:622-644). The current
batch's own sub-root is excluded so a retried micro-batch is not
anti-joined against its own partial output.

Sub-roots proliferate one directory per micro-batch; ``compact_stream_
output`` periodically folds them into a single bucketed layout under
``<root>/compacted/`` (same layout as a lineage root, so reads and the
cross-batch anti-join keep working), after which reads union the compacted
layout with any sub-roots that arrived later.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import spark_schema
from .lineage import INCREMENTAL_TABLES, _bucket, read_output, run_with_lineage

COMPACTED_DIR = "compacted"


def _batch_dirs(root: str, name: str | None = None, exclude: str | None = None) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(
        d
        for d in os.listdir(root)
        if d.startswith("batch=")
        and d != exclude
        and os.path.isdir(os.path.join(root, d, name) if name else os.path.join(root, d))
    )


def _table_roots(root: str, name: str, exclude_batch: str | None = None) -> list[str]:
    """Every existing location of one output table: the compacted layout
    plus all micro-batch sub-roots (minus ``exclude_batch``)."""
    roots = []
    compacted = os.path.join(root, COMPACTED_DIR, name)
    if os.path.isdir(compacted):
        roots.append(os.path.join(root, COMPACTED_DIR))
    roots.extend(os.path.join(root, d) for d in _batch_dirs(root, name, exclude_batch))
    return roots


def accumulated_doc_meta(
    spark: SparkSession, root: str, exclude_batch: str | None = None
) -> DataFrame | None:
    """Union of doc_meta across the compacted layout + prior sub-roots —
    the known-content set the cross-batch anti-join runs against."""
    roots = _table_roots(root, "doc_meta", exclude_batch)
    if not roots:
        return None
    # Naming the one column read skips a schema-inference job per root.
    frames = [
        spark.read.schema("file_hash string").parquet(os.path.join(r, "doc_meta"))
        .select("file_hash")
        for r in roots
    ]
    return reduce(DataFrame.unionByName, frames)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_root: str,
    checkpoint_dir: str,
    job_id: str = "stream",
    n_buckets: int = 64,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and return) the streaming query. Callers own awaitTermination.

    ``available_now`` processes everything present then stops — the batch
    catch-up mode; with ``max_files_per_trigger`` it also bounds micro-batch
    size so one giant backlog drain cannot blow executor memory."""
    reader = spark.readStream.schema(spark_schema()).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.load(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        # An empty batch needs no guard: run_with_lineage writes nothing
        # when no bucket has admitted docs.
        session = batch_df.sparkSession
        known = accumulated_doc_meta(session, output_root, exclude_batch=f"batch={batch_id}")
        if known is not None:
            batch_df = batch_df.join(known, "file_hash", "left_anti")
        run_with_lineage(
            session,
            batch_df,
            os.path.join(output_root, f"batch={batch_id}"),
            f"{job_id}-b{batch_id}",
            n_buckets,
        )

    writer = (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"extract_{job_id}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_stream_output(spark: SparkSession, root: str, n_buckets: int = 64) -> int:
    """Fold every micro-batch sub-root (plus any previous compacted layout)
    into a single bucketed layout at ``<root>/compacted/<table>/bucket=*``,
    then remove the folded sub-roots. Returns the number of sub-roots
    folded (0 = nothing to do).

    Write-then-promote: the merged tables land under ``_compacting/``
    first; the swap to ``compacted/`` + sub-root removal happens only after
    every table wrote successfully, so a crash mid-compaction leaves the
    readable state untouched (the stale ``_compacting/`` is overwritten by
    the next attempt). On a real cluster this is an Iceberg
    rewrite_data_files / RewriteManifests action; directory moves are the
    parquet stand-in."""
    batches = _batch_dirs(root)
    if not batches:
        return 0
    tmp = os.path.join(root, "_compacting")
    final = os.path.join(root, COMPACTED_DIR)
    shutil.rmtree(tmp, ignore_errors=True)

    for name in INCREMENTAL_TABLES:
        roots = _table_roots(root, name)
        if not roots:
            continue
        frames = [
            spark.read.parquet(os.path.join(r, name)).drop("bucket") for r in roots
        ]
        merged = reduce(DataFrame.unionByName, frames).withColumn(
            "bucket", _bucket(F.col("doc_id"), n_buckets)
        )
        # One task, so one file, per bucket (as sink.write_partitioned).
        merged.repartition("bucket").write.partitionBy("bucket").mode("overwrite").parquet(
            os.path.join(tmp, name)
        )

    # Promote: everything is written; swap directories and drop the inputs.
    old = final + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(final):
        os.rename(final, old)
    os.rename(tmp, final)
    shutil.rmtree(old, ignore_errors=True)
    for d in batches:
        shutil.rmtree(os.path.join(root, d))
    return len(batches)


def read_stream_output(
    spark: SparkSession, root: str, name: str, track: list | None = None
) -> DataFrame:
    """One output table across the compacted layout + all remaining
    micro-batch sub-roots. ``master_log`` is derived corpus-globally over
    that union. ``track`` receives global_seq's load-bearing persisted
    handle (see lineage.read_output) for caller-side unpersist."""
    if name == "master_log":
        from .extraction.reports import master_log_frame

        return master_log_frame(
            read_stream_output(spark, root, "extracted"),
            read_stream_output(spark, root, "doc_meta"),
            track=track,
        )
    roots = _table_roots(root, name)
    frames = [read_output(spark, r, name) for r in roots]
    return reduce(DataFrame.unionByName, frames)


# --------------------------------------------------------------------------
# Stateful status tracking (applyInPandasWithState)
# --------------------------------------------------------------------------

# The reference's only cross-request state is the per-document status
# machine PENDING→PROCESSING→COMPLETED/ERROR (models/__init__.py:22-27,
# written at tasks.py:139,171,219) plus the stuck-document recovery path:
# tasks run under a 300 s hard limit and documents stuck in
# PENDING/PROCESSING are retried / surfaced as failed (views.py:263-283).
# Streamed over an upload-event log, that is exactly a keyed stateful
# operator: state per doc_id, terminal statuses close the key, and a
# processing-time timeout converts stalls into ERROR rows.

STATUS_RANK = {"PENDING": 0, "PROCESSING": 1, "COMPLETED": 2, "ERROR": 2}
_TERMINAL = ("COMPLETED", "ERROR")

_STATUS_OUT_SCHEMA = (
    "doc_id string, status string, reason string, n_events bigint, "
    "first_ts bigint, last_ts bigint"
)
_STATUS_STATE_SCHEMA = "status string, n_events bigint, first_ts bigint, last_ts bigint"


def _status_update(key, pdfs, state):
    """applyInPandasWithState update fn — module-level so the pure-Python
    transition/timeout logic is unit-testable without a streaming query.
    State tuple: (status, n_events, first_ts, last_ts); ts = epoch seconds.

    Transitions are rank-monotone (a late PENDING after PROCESSING does not
    regress the doc — event-time disorder across micro-batches is expected);
    a terminal status emits the final row and removes state; a processing-
    time timeout on a non-terminal doc emits ERROR('timeout'), the streaming
    analog of the reference's hard task limit."""
    import pandas as pd

    (doc_id,) = key
    if state.hasTimedOut:
        status, n, first_ts, last_ts = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "doc_id": doc_id,
                    "status": "ERROR",
                    "reason": "timeout",
                    "n_events": n,
                    "first_ts": first_ts,
                    "last_ts": last_ts,
                }
            ]
        )
        return

    status, n, first_ts, last_ts = state.get if state.exists else (None, 0, None, None)
    for pdf in pdfs:
        for r in pdf.sort_values("ts").itertuples():
            ts = int(r.ts)
            n += 1
            first_ts = ts if first_ts is None else min(first_ts, ts)
            last_ts = ts if last_ts is None else max(last_ts, ts)
            if status is None or STATUS_RANK.get(r.status, -1) >= STATUS_RANK.get(status, -1):
                status = r.status

    if status in _TERMINAL:
        state.remove()
    else:
        state.update((status, n, first_ts, last_ts))
        state.setTimeoutDuration(300_000)  # tasks.py hard task limit
    yield pd.DataFrame(
        [
            {
                "doc_id": doc_id,
                "status": status,
                "reason": None,
                "n_events": n,
                "first_ts": first_ts,
                "last_ts": last_ts,
            }
        ]
    )


def doc_status_stream(events: DataFrame) -> DataFrame:
    """Keyed stateful status rollup over a streaming event log with columns
    (doc_id string, status string, ts bigint). Returns the per-doc current
    status after each micro-batch (output mode ``update``); terminal docs
    close their state, stalled docs ERROR out via processing-time timeout.

    Scale shape: state is one tiny tuple per in-flight doc (completed docs
    leave the store), partitioned by doc_id hash — the same key the rest of
    the engine shuffles on."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("doc_id").applyInPandasWithState(
        _status_update,
        _STATUS_OUT_SCHEMA,
        _STATUS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
