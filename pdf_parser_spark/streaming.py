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


def windowed_event_counts(
    events: DataFrame, window_len: str = "10 minutes", late: str = "1 hour"
) -> DataFrame:
    """Event-time tumbling-window rollup with a late-data watermark over a
    stream of (ts timestamp, event_type, value): per (window, type) event
    count + value sum.

    Streaming semantics (append mode): a window emits exactly once, when
    the watermark — max observed event time minus ``late`` — passes its
    end; events arriving more than ``late`` behind the stream's frontier
    are dropped rather than mutating an already-emitted window. State per
    key is one partial aggregate, evicted at emission, so state size is
    bounded by (windows in the lateness horizon × types), independent of
    stream length. The same plan runs unchanged on a batch DataFrame
    (watermark is a no-op there), which is how the pytest pins expected
    values.

    Event-time tracking requires an instant (TIMESTAMP), so a
    TIMESTAMP_NTZ column — what parquet-from-pandas produces — is coerced
    via the session timezone first."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", window_len).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_event_counts(
    events: DataFrame, gap_s: int = 1800, late: str = "1 hour"
) -> DataFrame:
    """Streaming twin of the batch 30-min-gap sessionization
    (analytics.queries.q_event_sessions): per (user, session) the event
    count, first/last event time, and duration, over a stream of
    (user_id, ts).

    ``F.session_window`` keeps one mergeable [start, last+gap) interval
    per open session; in append mode a session emits exactly once, when
    the watermark — max event time minus ``late`` — passes its end, and
    an event arriving behind the watermark is dropped rather than
    reopening an emitted session. State per user is the open session's
    interval, evicted on emission: bounded by concurrently-open sessions,
    independent of stream length — the same one-timestamp-per-user state
    the batch lag-flag formulation implies.

    Boundary parity with the batch query: both merge two events when
    ``t - prev <= gap_s`` — session_window's merge interval is closed at
    ``last + gap`` (verified empirically on an exactly-1800 s gap in the
    driver events table; the lag-flag form splits strictly-greater gaps).
    The same plan runs unchanged on a batch DataFrame (watermark is a
    no-op there), which is how the pytest pins batch equivalence."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    start = F.unix_timestamp("first_ts")
    end = F.unix_timestamp("last_ts")
    return (
        ev.withWatermark("ts", late)
        .groupBy(F.session_window("ts", f"{gap_s} seconds").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            start.alias("start_et"),
            end.alias("end_et"),
            (end - start).alias("duration_s"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# Streaming as-of join (stateful per-user last-view attach)
# --------------------------------------------------------------------------

_ASOF_OUT_SCHEMA = (
    "user_id long, event_id long, purchase_et long, view_et long, "
    "view_value double, gap_us long"
)
_ASOF_STATE_SCHEMA = (
    "view_ets array<long>, view_ids array<long>, view_vals array<double>"
)


def _asof_update(key, pdfs, state):
    """applyInPandasWithState update fn for the streaming as-of join —
    module-level so the merge/tie-break logic is unit-testable without a
    streaming query.

    State per user: the sorted (et, event_id, value) view list. Each
    micro-batch is sorted by (et, views-first, event_id) — the exact
    ordering of the batch device (timeseries._asof_core) — then views
    merge into state and each purchase binds to the rightmost state view
    with et <= purchase_et (max et, then max event_id: the oracle's
    max_by tie-break). Within a batch, arbitrary disorder is absorbed by
    the sort; ACROSS batches the stream must be et-ordered per user (a
    purchase cannot see a view that arrives in a later batch) — the
    standard streaming-asof contract. A production run bounds the state
    list by watermark: every view older than the event-time watermark
    except the newest collapses to one entry (any future purchase is
    newer than the watermark); kept whole here since the fixture lists
    are small and eviction would be untestable noise."""
    import bisect

    import pandas as pd

    (user_id,) = key
    if state.exists:
        ets, ids, vals = (list(x) for x in state.get)
        views = sorted(zip(ets, ids, vals))
    else:
        views = []
    out = []
    for pdf in pdfs:
        pdf = pdf.copy()
        pdf["_side"] = (pdf["event_type"] == "purchase").astype(int)
        pdf = pdf.sort_values(["et", "_side", "event_id"])
        for r in pdf.itertuples():
            if r.event_type == "view":
                bisect.insort(views, (int(r.et), int(r.event_id), r.value))
            elif r.event_type == "purchase":
                pos = bisect.bisect_right(
                    views, (int(r.et), float("inf"), 0.0)
                )
                if pos:
                    v_et, _v_id, v_val = views[pos - 1]
                    out.append(
                        (user_id, int(r.event_id), int(r.et), v_et,
                         round(v_val, 2), int(r.et) - v_et)
                    )
                else:
                    out.append(
                        (user_id, int(r.event_id), int(r.et), None, None, None)
                    )
    state.update((
        [v[0] for v in views],
        [v[1] for v in views],
        [v[2] for v in views],
    ))
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "event_id", "purchase_et", "view_et",
                "view_value", "gap_us",
            ],
        )


def asof_event_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch as-of join (timeseries._asof_core):
    over a stream of (user_id, event_id, et, event_type, value), emit
    each purchase with the most recent view at-or-before it. Keyed state
    per user (the view list — see _asof_update for the watermark
    eviction story), output mode append; non-view/purchase events pass
    through the state fn and are ignored, exactly as the batch filters
    do."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _asof_update,
        _ASOF_OUT_SCHEMA,
        _ASOF_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Stream-stream interval join (purchase <- trailing views within a horizon)
# --------------------------------------------------------------------------


def view_purchase_interval_join(
    events: DataFrame, horizon_s: int = 3600, late: str = "1 hour"
) -> DataFrame:
    """Native stream-stream INNER join: each purchase paired with EVERY
    view by the same user in the trailing ``horizon_s`` window
    (purchase_ts - horizon <= view_ts <= purchase_ts) — the attribution
    fan-out the as-of join collapses to one row.

    Both sides carry event-time watermarks and the join condition has an
    explicit time range, which is what lets Spark bound state on BOTH
    sides: a buffered view is evicted once the purchase-side watermark
    passes view_ts + horizon, a buffered purchase once the view-side
    watermark passes purchase_ts — so state is (events within the
    lateness+horizon window), independent of stream length. Without the
    range condition the planner rejects the join (unbounded state) —
    the 100 TB failure mode is unplannable by construction, not merely
    slow. Self-join of one source stream (filtered twice) is the
    supported stream-stream self-join shape.

    The same plan runs unchanged on a batch frame (watermarks are
    no-ops), which is how the pytest pins equivalence; gap_s is computed
    from the raw instants so batch and stream agree bit-exactly."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("view_ts", late)
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", late)
    )
    joined = purch.join(
        views,
        F.expr(
            f"""p_user = v_user
            AND view_ts BETWEEN purchase_ts - INTERVAL {horizon_s} SECONDS
                            AND purchase_ts"""
        ),
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        F.unix_micros("purchase_ts").alias("purchase_et"),
        F.unix_micros("view_ts").alias("view_et"),
        F.round("view_value", 2).alias("view_value"),
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# Watermarked streaming exact dedup
# --------------------------------------------------------------------------


def dedup_events_within_watermark(events: DataFrame, late: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a seen-key entry only until
    the event-time watermark passes its timestamp + lateness, so state
    is (keys in the lateness horizon) rather than every key ever seen —
    the engine-native form of the Bloom/anti-join cross-batch dedup
    devices above, correct whenever a duplicate can only trail its
    first occurrence by less than the lateness bound (a crawl refetch
    burst, an at-least-once source replay). On a batch frame it
    degrades to plain dropDuplicates, which is how the pytest pins
    equivalence."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev.withWatermark("ts", late).dropDuplicatesWithinWatermark(["event_id"])


# --------------------------------------------------------------------------
# Exactly-once aggregate sink (idempotent foreachBatch commit protocol)
# --------------------------------------------------------------------------


def exactly_once_counts_writer(out_root: str):
    """foreachBatch writer implementing the idempotent-commit protocol
    that turns Structured Streaming's at-least-once batch replay into an
    exactly-once aggregate sink: each micro-batch's partial per-type
    aggregate lands at ``batch=<batchId>/`` and a REPLAYED batchId
    (post-crash re-delivery with the same id, the documented
    foreachBatch contract) is a NO-OP if the commit marker exists —
    re-running a batch can never double-count. This is the same
    batchId-keyed transactionality an Iceberg/Delta sink gets from
    recording batchId in the snapshot summary; plain parquet + the
    _SUCCESS marker expresses it engine-agnostically. Partial
    aggregates (not raw rows) are what lands, so the reader's merge is
    a sum over n_batches x n_types rows, never a rescan."""

    def write(df: DataFrame, batch_id: int) -> None:
        path = os.path.join(out_root, f"batch={batch_id}")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return  # replayed batch: already committed, exactly-once no-op
        (
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    return write


def read_exactly_once_counts(spark: SparkSession, out_root: str) -> DataFrame:
    """Merge the per-batch partial aggregates into the final per-type
    totals (count-sum partials are mergeable by construction)."""
    return (
        spark.read.parquet(f"{out_root}/batch=*")
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# Complete-mode streaming top-k
# --------------------------------------------------------------------------


def top_users_stream(events: DataFrame, k: int = 5) -> DataFrame:
    """Streaming leaderboard: the top-k users by event count (value sum
    as tie-audit), maintained in COMPLETE output mode — the one mode
    where a global sort+limit is a legal streaming plan, because the
    sink rewrites the whole (k-row) result each trigger. State is the
    per-user running aggregate (users, not events); the sort runs over
    that aggregate's output, so the per-trigger cost is state-size
    log k, never stream-length. The same plan on a batch frame is the
    plain grouped top-k, which is how the pytest pins equivalence.
    Deterministic tie-break on user_id keeps the k-row result stable
    across engines and triggers."""
    counts = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return counts.orderBy(
        F.col("n_events").desc(), F.col("user_id")
    ).limit(k)


# --------------------------------------------------------------------------
# Streaming funnel (stateful per-user stage machine)
# --------------------------------------------------------------------------

_FUNNEL_OUT_SCHEMA = (
    "user_id long, t_view long, t_click long, t_purchase long, "
    "reached int, seq int"
)
_FUNNEL_STATE_SCHEMA = (
    "t_view long, t_click long, t_purchase long, seq int"
)


def _funnel_update(key, pdfs, state):
    """applyInPandasWithState update fn for the streaming funnel —
    module-level so the stage logic is unit-testable. State per user is
    the three first-stage timestamps; each micro-batch is sorted by
    (et, event_id) — the batch device's exact window order — and folded
    through the view -> qualified click -> qualified purchase machine.
    A row is emitted only when the state ADVANCES (monotone `seq`), so
    the max-seq emission per user is the user's final funnel row.
    Across batches the stream must be et-ordered per user, the same
    contract as the as-of twin; state is three longs however long the
    stream runs."""
    import pandas as pd

    (user_id,) = key
    t_view, t_click, t_purch, seq = (
        state.get if state.exists else (None, None, None, 0)
    )
    out = []
    for pdf in pdfs:
        changed = False
        pdf = pdf.sort_values(["et", "event_id"])
        for r in pdf.itertuples():
            if r.event_type == "view" and t_view is None:
                t_view, changed = int(r.et), True
            elif (
                r.event_type == "click"
                and t_click is None
                and t_view is not None
                and r.et >= t_view
            ):
                t_click, changed = int(r.et), True
            elif (
                r.event_type == "purchase"
                and t_purch is None
                and t_click is not None
                and r.et >= t_click
            ):
                t_purch, changed = int(r.et), True
        if changed:
            seq += 1
            reached = sum(t is not None for t in (t_view, t_click, t_purch))
            out.append((user_id, t_view, t_click, t_purch, reached, seq))
    state.update((t_view, t_click, t_purch, seq))
    if out:
        yield pd.DataFrame(
            out,
            columns=["user_id", "t_view", "t_click", "t_purchase", "reached", "seq"],
        )


def funnel_event_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ordered funnel
    (timeseries._funnel_core): per user the first view, first click
    at-or-after it, first purchase at-or-after that, maintained in
    keyed state and re-emitted (with a monotone seq) whenever a stage
    completes. The max-seq row per user equals the batch device's row —
    the pytest pins that over an et-ordered micro-batch split."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _funnel_update,
        _FUNNEL_OUT_SCHEMA,
        _FUNNEL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
