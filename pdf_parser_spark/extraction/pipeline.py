"""The extraction pipeline — idiomatic-Spark restatement of the reference's
extract_pdf_fields + tasks.py persistence (/root/reference/extractor/).

Shape of the job (the span payload is shuffled once):

  documents(doc_id, vendor, file_hash, spans)
    → routing: vendor_detect.route_doc per doc (Python crossing 1; Arrow)
    → admission on a slim projection: min_by first-wins per file_hash
      (H3/J4), joined back to every routed doc
    → the payload, hash-partitioned by doc_id at one task per core, joined
      to the winners (the only exchange that moves span bytes)
    → in-row page assembly (higher-order functions over each doc's spans)
    → extract_page_udf (Python crossing 2; Arrow batches)
    → posexplode(entries) fan-out (R8)
    → groupBy(doc_id): md5 entry hash (H1), first-wins dedup (H2) and
      sequencing in one in-row fold
    → ordered output spans / unpivot / stats
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernel
from ..configs import FIELD_KEYS, VENDOR_CONFIGS
from ..oracle import JOB_TS
from .udfs import extract_page_udf


def _vendor_name_col(vendor_col):
    """vendor_id → vendor display name as a literal CASE chain (tiny dim —
    the reference's Vendor table; constant-folded by Catalyst, no join)."""
    mapping = [(vid, cfg["vendor_name"]) for vid, cfg in VENDOR_CONFIGS.items()]
    expr = F.lit(None).cast("string")
    for vid, name in mapping:
        expr = F.when(vendor_col == vid, F.lit(name)).otherwise(expr)
    return expr


def _routed_ranked(docs: DataFrame, track: list | None = None) -> DataFrame:
    """Shared admission-router plan: per-doc detection/routing columns
    (vendor_detect.route_columns — the routing spec through one Arrow UDF)
    + hash first-wins winner flag (`_rn` 1/2) and the slot winner's
    effective vendor.

    Two skew/scale properties:

    * The decision runs on a SLIM projection (no spans): admission is a
      pure function of (doc_id, file_hash, routing columns), so the span
      payloads — the overwhelming majority of the bytes — never enter
      this shuffle. At sf20 the full-row form was a ~20 s stage that
      barely sped up from 8 to 32 cores (shuffle-bound); slim it is
      megabytes.
    * The winner is a min_by AGGREGATE joined back by hash, not a
      row_number window: a window partition is one task, and the most
      duplicated content in a real crawl (empty pages, error pages) can
      share one hash across millions of rows — the aggregate absorbs a
      hot hash in map-side partial combine, and the join-back's hot key
      sits on the big side of an equi-join, which AQE skew-split handles.

    The slim frame is persist()ed before it branches into the aggregate
    and the join-back: without it, each join side would run the routing
    UDF over the docs again. With it, routing runs once and both branches
    read the InMemoryRelation (O(n_docs) routing columns, no span
    payloads). persist, not localCheckpoint: CacheManager entries are
    released deterministically via ``track``/clearCache, while a
    localCheckpoint RDD proved unreclaimable even after full GC
    (UI/listener references pin it), stranding one slim copy per job in
    executor memory. ``track`` (a list) receives the persisted handle;
    lineage.run_with_lineage additionally persists the filtered winner
    set across its derivations."""
    from ..vendor_detect import route_columns

    slim = route_columns(docs).select(
        "doc_id", "vendor", "file_hash", "detected", "confidence", "eff_vendor", "pre_reason"
    ).persist()
    if track is not None:
        track.append(slim)
    winners = (
        slim.groupBy("file_hash")
        .agg(F.min_by(F.struct("doc_id", "eff_vendor"), "doc_id").alias("_w"))
        .select(
            "file_hash",
            F.col("_w.doc_id").alias("_winner_id"),
            F.col("_w.eff_vendor").alias("_winner_vendor"),
        )
    )
    return (
        slim.join(winners, "file_hash")
        .withColumn(
            "_rn",
            F.when(F.col("doc_id") == F.col("_winner_id"), F.lit(1)).otherwise(
                F.lit(2)
            ),
        )
        .drop("_winner_id")
    )


def admission_meta(docs: DataFrame, track: list | None = None) -> DataFrame:
    """(doc_id, eff_vendor, file_hash) of every admitted doc — the winner
    set PLUS the doc-level metadata the master log needs, so report
    derivations never have to re-join the span payload just to recover
    three slim columns (the round-2 report_master_log 4.4x regression)."""
    return (
        _routed_ranked(docs, track=track)
        .where((F.col("_rn") == 1) & F.col("pre_reason").isNull())
        .select("doc_id", "eff_vendor", "file_hash")
    )


def admit_documents(docs: DataFrame, winners: DataFrame | None = None) -> DataFrame:
    """Admission control + router (views.py:154-240, views/core.py:622-668
    → SURVEY.md H3/J4/R11/S10): vendor detection routes unlabeled docs and
    blocks high-confidence label contradictions; first-wins dedup on the
    sha256 content hash rejects later duplicate uploads regardless of
    vendor; only configured (effective) vendors proceed. The exact
    per-doc decision order lives in oracle.route_and_admit — this is its
    DataFrame form; admitted docs carry their effective vendor.

    ``winners`` is the slim admission decision ``(doc_id, eff_vendor, ...)``
    (``admission_meta`` when omitted), joined back onto the span rows by
    doc_id. That join is the only exchange that moves span bytes: the
    PAYLOAD side is pinned to hash partitioning on doc_id at the kernel's
    width, so the page explode happens in place and the kernel UDF
    inherits it. Skew is bounded by pages per doc. The slim winner side is
    NOT manually repartitioned: the join plans its own exchange to match
    the payload's partitioning when it sort-merges, and skips it entirely
    when AQE broadcasts the winner set."""
    if winners is None:
        winners = admission_meta(docs)
    payload = docs.repartition(_kernel_width(docs.sparkSession), "doc_id")
    return payload.join(winners.select("doc_id", "eff_vendor"), "doc_id").select(
        "doc_id", F.col("eff_vendor").alias("vendor"), "file_hash", "spans"
    )


def quarantine_frame(docs: DataFrame) -> DataFrame:
    """Quarantine output (S10): every doc the router refuses to process,
    with why. Reasons (reference flow order — detection contradiction
    precedes the duplicate check, config lookup follows it):
    detection_mismatch / vendor_mismatch / no_vendor_config."""
    ranked = _routed_ranked(docs)  # slim: no span payloads in this plan
    reason = (
        F.when(F.col("pre_reason") == "detection_mismatch", F.lit("detection_mismatch"))
        .when(
            (F.col("_rn") > 1) & (F.col("eff_vendor") != F.col("_winner_vendor")),
            F.lit("vendor_mismatch"),
        )
        .when((F.col("_rn") == 1) & F.col("pre_reason").isNotNull(), F.col("pre_reason"))
    )
    return (
        ranked.withColumn("reason", reason)
        .where(F.col("reason").isNotNull())
        .select(
            "doc_id",
            F.col("vendor").alias("vendor_label"),
            F.coalesce("detected", F.lit("")).alias("detected"),
            "confidence",
            "reason",
        )
    )


def vendor_routing_frame(docs: DataFrame) -> DataFrame:
    """Detection evidence for unlabeled docs (R11): what the router
    detected and where each vendor=='' doc was sent."""
    from ..vendor_detect import route_columns

    return (
        route_columns(docs)
        .where(F.col("vendor") == "")
        .select(
            "doc_id",
            F.coalesce("detected", F.lit("")).alias("detected"),
            "confidence",
            F.col("eff_vendor").alias("routed_vendor"),
        )
    )


def page_frame(admitted: DataFrame) -> DataFrame:
    """Assemble ordered per-page inputs for the kernel UDF — shuffle-free.

    A document's spans are already co-located in its row, so per-page blobs
    are built entirely JVM-side with higher-order functions over the
    offset-sorted span list (no explode→groupBy round trip: that was a full
    shuffle + sort of every span payload). Separators are control chars
    outside the payload alphabet (kernel.TABLE_SEP / MEDIA_SEP). The page
    rows keep the admitted frame's partitioning."""
    sorted_spans = F.sort_array(
        F.transform(
            F.col("spans"),
            lambda s: F.struct(
                s["offset"].alias("offset"),
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        )
    )
    def _page_of(offset):
        return (offset / 1000).cast("int")

    with_pages = admitted.select(
        "doc_id",
        "vendor",
        sorted_spans.alias("sp"),
    ).select(
        "doc_id",
        "vendor",
        F.explode(
            F.array_distinct(F.transform(F.col("sp"), lambda s: _page_of(s["offset"])))
        ).alias("page"),
        "sp",
    )

    def _texts_of(kind: str) -> F.Column:
        return F.transform(
            F.filter(
                F.col("sp"),
                lambda x: (x["kind"] == kind) & (_page_of(x["offset"]) == F.col("page")),
            ),
            lambda x: x["text"],
        )

    # Page geometry travels on the media refs ('?w=..&h=..', O6); the first
    # media span's ref speaks for the page.
    first_media_ref = F.get(
        F.transform(
            F.filter(
                F.col("sp"),
                lambda x: (x["kind"] == "media") & (_page_of(x["offset"]) == F.col("page")),
            ),
            lambda x: x["media_ref"],
        ),
        0,  # F.get is NULL on empty arrays (element_at raises under ANSI)
    )
    gw = F.regexp_extract(first_media_ref, r"[?&]w=(\d+)", 1)
    gh = F.regexp_extract(first_media_ref, r"[?&]h=(\d+)", 1)
    geom = F.when((gw != "") & (gh != ""), F.concat(gw, F.lit("x"), gh)).otherwise(F.lit(""))

    return with_pages.select(
        "doc_id",
        "vendor",
        "page",
        F.array_join(_texts_of("table"), kernel.TABLE_SEP).alias("table_blob"),
        F.array_join(_texts_of("text"), " ").alias("text_raw"),
        F.array_join(_texts_of("media"), kernel.MEDIA_SEP).alias("media_blob"),
        F.coalesce(geom, F.lit("")).alias("geom"),
    )


def _kernel_width(spark) -> int:
    """Task count of the kernel UDF stage: one task per core. Each Python
    task pays a fixed set-up (~0.3 s measured on a 4-core host against
    8-23 ms for a JVM task): PySpark's worker calls
    ``importlib.invalidate_caches()`` per task, which on Python 3.11
    re-reads pyspark.zip's directory once per zipimporter. Per-doc kernel
    cost is bounded by pages per doc (at most 50 pages of ~0.2 ms), so
    further waves buy no skew headroom — only more set-ups."""
    return spark.sparkContext.defaultParallelism


def orientation_frame(docs: DataFrame) -> DataFrame:
    """O6 per-page orientation classification (document_preprocessor.py:
    32-137) over admitted docs — implemented INDEPENDENTLY of the kernel as
    JVM regex/when expressions, so the CORRECTNESS row is a true
    differential check against oracle.orientation_rows (Python re).

    Rules (elif chain preserved): portrait & table_matches>2 → rotate 90;
    landscape & table_matches<2 & posco_matches>0 → rotate −90; landscape &
    table_matches>=3 → no rotation, high confidence."""
    from .. import kernel as K

    pages = page_frame(admit_documents(docs))

    def _hits(patterns):
        out = None
        for p in patterns:
            hit = F.when(F.col("text_raw").rlike("(?i)" + p), 1).otherwise(0)
            out = hit if out is None else out + hit
        return out

    dw, dh = K.DEFAULT_GEOM
    w = F.when(F.col("geom") != "", F.split("geom", "x")[0].cast("int")).otherwise(F.lit(dw))
    h = F.when(F.col("geom") != "", F.split("geom", "x")[1].cast("int")).otherwise(F.lit(dh))
    d = pages.select(
        "doc_id",
        (F.col("page") + 1).cast("long").alias("page_number"),
        w.cast("long").alias("width"),
        h.cast("long").alias("height"),
        _hits(K._TABLE_INDICATOR_PATTERNS).alias("tm"),
        _hits(K._POSCO_ORIENT_PATTERNS).alias("pm"),
    )
    landscape = F.col("width") > F.col("height")
    rotation = (
        F.when(~landscape & (F.col("tm") > 2), F.lit(90))
        .when(landscape & (F.col("tm") < 2) & (F.col("pm") > 0), F.lit(-90))
        .otherwise(F.lit(0))
    )
    confidence = (
        F.when(~landscape & (F.col("tm") > 2), F.least(F.lit(0.8), F.col("tm") * 0.2))
        .when(
            landscape & (F.col("tm") < 2) & (F.col("pm") > 0),
            F.least(F.lit(0.6), F.col("pm") * 0.15),
        )
        .when(landscape & (F.col("tm") >= 3), F.least(F.lit(0.9), F.col("tm") * 0.25))
        .otherwise(F.lit(0.0))
    )
    return d.select(
        "doc_id",
        "page_number",
        "width",
        "height",
        rotation.cast("long").alias("rotation"),
        confidence.alias("confidence"),
        F.col("tm").cast("long").alias("table_matches"),
        F.col("pm").cast("long").alias("posco_matches"),
    )


def page_entries_frame(pages: DataFrame) -> DataFrame:
    # Select the struct result once, expand in a second projection: selecting
    # r["entries"] and r["used_ocr"] directly would plan the Python UDF twice
    # (one evaluation per referenced sub-field).
    return pages.select(
        "doc_id",
        "vendor",
        "page",
        extract_page_udf("vendor", "table_blob", "text_raw", "media_blob", "geom").alias("r"),
    ).select(
        "doc_id",
        "vendor",
        "page",
        F.col("r.entries").alias("entries"),
        F.col("r.used_ocr").alias("used_ocr"),
    )


def entries_frame(page_entries: DataFrame) -> DataFrame:
    """Fan-out (R8), entry hash (H1), first-wins intra-doc dedup (H2), doc
    sequencing, and the sanitized per-entry artifact name (H4).

    Dedup + rank need deterministic (page, entry_idx) order within each doc.
    Instead of two window shuffles (partitionBy (doc_id, hash) then doc_id),
    a single groupBy(doc_id) collects the doc's entries — a few rows of
    short strings per doc, tiny vs the input spans — and an in-row
    ``aggregate`` keeps the first occurrence of each hash in sorted order
    (O(n²) per doc with n = entries/doc, bounded by the per-page caps)."""
    fan = page_entries.select(
        "doc_id",
        "vendor",
        "page",
        "used_ocr",
        F.posexplode("entries").alias("entry_idx", "e"),
    ).select(
        "doc_id",
        "vendor",
        "page",
        "used_ocr",
        "entry_idx",
        F.col("e.plate").alias("plate"),
        F.col("e.heat").alias("heat"),
        F.col("e.cert").alias("cert"),
        F.col("e.quality").alias("quality"),
    )

    hashed = fan.withColumn(
        "entry_hash",
        F.md5(F.concat_ws("|", F.col("vendor"), F.col("plate"), F.col("heat"), F.col("cert"))),
    )

    per_doc = hashed.groupBy("doc_id", "vendor").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "page", "entry_idx", "used_ocr", "plate", "heat", "cert",
                    "quality", "entry_hash",
                )
            )
        ).alias("es")
    )
    # slice(es, 1, 0) = a correctly-typed empty accumulator for aggregate().
    deduped_arr = F.expr(
        "aggregate(es, slice(es, 1, 0), (acc, x) -> "
        "if(exists(acc, y -> y.entry_hash = x.entry_hash), acc, array_append(acc, x)))"
    )
    ordered = (
        per_doc.select(
            "doc_id",
            "vendor",
            F.posexplode(deduped_arr).alias("pos", "e"),
        )
        .select(
            "doc_id",
            "vendor",
            F.col("e.page").alias("page"),
            F.col("e.used_ocr").alias("used_ocr"),
            F.col("e.entry_idx").alias("entry_idx"),
            F.col("e.plate").alias("plate"),
            F.col("e.heat").alias("heat"),
            F.col("e.cert").alias("cert"),
            F.col("e.quality").alias("quality"),
            F.col("e.entry_hash").alias("entry_hash"),
            (F.col("pos") + 1).cast("int").alias("entry_rank"),
        )
    )

    def _part(c):
        # extractor.py:206-212: '/', '\' → '-'; '\n', '\r' → ' '; strip.
        return F.trim(F.translate(c, "/\\\n\r", "--  "))

    filename = F.concat(
        F.trim(
            F.regexp_replace(
                F.concat_ws("_", _part(F.col("plate")), _part(F.col("heat")), _part(F.col("cert"))),
                '[<>:"/\\\\|?*\n\r\t]+',
                " ",
            )
        ),
        F.lit(".pdf"),
    )

    return ordered.withColumn("filename", filename).withColumn(
        "vendor_name", _vendor_name_col(F.col("vendor"))
    )


def extracted_spans_frame(entries: DataFrame) -> DataFrame:
    """Ordered output span sequence (FIXTURES.md §5): 4 spans per entry,
    seq contiguous per doc, offset = source page base offset."""
    span_structs = F.array(
        F.struct(
            F.lit("field:PLATE_NO").alias("kind"),
            F.col("plate").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("fi"),
        ),
        F.struct(
            F.lit("field:HEAT_NO").alias("kind"),
            F.col("heat").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(1).alias("fi"),
        ),
        F.struct(
            F.lit("field:TEST_CERT_NO").alias("kind"),
            F.col("cert").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(2).alias("fi"),
        ),
        F.struct(
            F.lit("entry_ref").alias("kind"),
            F.lit("").alias("text"),
            F.col("filename").alias("media_ref"),
            F.lit(3).alias("fi"),
        ),
    )
    return (
        entries.withColumn("sp", F.explode(span_structs))
        .select(
            "doc_id",
            ((F.col("entry_rank") - 1) * 4 + F.col("sp.fi")).cast("long").alias("seq"),
            F.col("sp.kind").alias("kind"),
            F.col("sp.text").alias("text"),
            F.col("sp.media_ref").alias("media_ref"),
            (F.col("page") * 1000).cast("int").alias("offset"),
        )
    )


def extracted_frame(entries: DataFrame, job_ts: str = JOB_TS) -> DataFrame:
    """Unpivot (A2, tasks.py:158-169): one row per truthy field value."""
    field_structs = F.array(
        *[
            F.struct(
                F.lit(fk).alias("field_key"),
                F.col(c).alias("field_value"),
                F.lit(fi).alias("fi"),
            )
            for fi, (fk, c) in enumerate(zip(FIELD_KEYS, ("plate", "heat", "cert")))
        ]
    )
    return (
        entries.withColumn("f", F.explode(field_structs))
        .where(F.col("f.field_value") != "")
        .select(
            "doc_id",
            F.col("vendor_name").alias("vendor"),
            F.col("f.field_key").alias("field_key"),
            F.col("f.field_value").alias("field_value"),
            (F.col("page") + 1).cast("int").alias("page_number"),
            ((F.col("entry_rank") - 1) * 3 + F.col("f.fi")).cast("long").alias("row_seq"),
            F.lit(job_ts).alias("created"),
        )
    )


def doc_stats_frame(page_entries: DataFrame) -> DataFrame:
    """Per-doc stats (A1, extractor.py:128-136,180-195,257-259). List-valued
    stats are comma-joined sorted page numbers (stable scalar columns for the
    DuckDB cross-check)."""
    page_level = page_entries.select(
        "doc_id",
        "page",
        F.size("entries").alias("n_entries"),
        "used_ocr",
    )
    return page_level.groupBy("doc_id").agg(
        (F.max("page") + 1).cast("int").alias("total_pages"),
        F.sum(F.when(F.col("n_entries") > 0, 1).otherwise(0)).cast("int").alias("successful_pages"),
        F.concat_ws(
            ",", F.sort_array(F.collect_list(F.when(F.col("used_ocr"), F.col("page") + 1)))
        ).alias("ocr_fallback_pages"),
        F.concat_ws(
            ",", F.sort_array(F.collect_list(F.when(F.col("n_entries") == 0, F.col("page") + 1)))
        ).alias("failed_pages"),
        F.max(F.col("n_entries") > 0).alias("extraction_success"),
        (F.max(F.col("n_entries") > 0) & F.max(F.col("n_entries") == 0)).alias(
            "partial_extraction"
        ),
    )


def kernel_frames(
    docs: DataFrame,
    winners: DataFrame,
    track: list | None = None,
    cluster_by=None,
) -> tuple[DataFrame, DataFrame]:
    """``(page_entries, entries)``: the two persisted frames downstream of
    the Arrow kernel that every per-doc output derives from, over the docs
    ``winners`` admits (as in ``admit_documents``). ``track`` as in
    run_pipeline. ``cluster_by``, an expression of ``doc_id``,
    hash-partitions the entries before they are cached: outputs derived
    from them, and anything grouped by the same expression, then need no
    further shuffle on it."""
    page_entries = page_entries_frame(page_frame(admit_documents(docs, winners))).persist()
    entries = entries_frame(page_entries)
    if cluster_by is not None:
        entries = entries.repartition(cluster_by)
    entries = entries.persist()
    if track is not None:
        track.extend([page_entries, entries])
    return page_entries, entries


def incremental_outputs(
    page_entries: DataFrame, entries: DataFrame, job_ts: str = JOB_TS
) -> dict[str, DataFrame]:
    """The three per-doc outputs (extracted_spans, extracted, doc_stats) —
    everything a bucketed lineage job writes."""
    return {
        "extracted_spans": extracted_spans_frame(entries),
        "extracted": extracted_frame(entries, job_ts),
        "doc_stats": doc_stats_frame(page_entries),
    }


def run_pipeline(
    spark,
    docs: DataFrame,
    job_ts: str = JOB_TS,
    track: list | None = None,
) -> dict[str, DataFrame]:
    """Full job over ``docs`` (``spark`` is their session): admission →
    ``kernel_frames`` → ``incremental_outputs`` plus the corpus-global
    master log.
    Returns the four output DataFrames; callers persist with
    .write.partitionBy(...).parquet(...) (Iceberg writeTo on a real cluster).

    The two frames downstream of the Arrow kernel are persisted — all four
    outputs derive from them, and recomputing the kernel per output would
    quadruple the job's only expensive stage. ``track`` (a caller-owned
    list) receives the persisted handles so the caller can unpersist once
    its outputs are materialized — long-running sessions (streaming
    micro-batches, repeated report jobs) must not accumulate cached RDDs
    until eviction pressure.

    The slim winner set is persisted too: the master log's doc-level meta
    then reads three slim columns from cache instead of replaying the
    admission join over the span payload — at round 2 that replay made
    report_master_log 4.4x slower than the pipeline outputs that reused
    the persisted kernel frames."""
    from .reports import master_log_frame

    winners = admission_meta(docs, track=track).persist()
    if track is not None:
        track.append(winners)
    doc_meta = winners.select("doc_id", F.col("eff_vendor").alias("vendor"), "file_hash")
    out = incremental_outputs(*kernel_frames(docs, winners, track=track), job_ts)
    out["master_log"] = master_log_frame(out["extracted"], doc_meta, job_ts, track=track)
    return out
