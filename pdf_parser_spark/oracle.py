"""Pure-Python corpus oracle — the specification the Spark pipeline must match.

Implements the document/corpus-level semantics of the reference
(/root/reference/extractor/utils/extractor.py:124-262, tasks.py:158-169,
update_excel.py:12-172) directly over the ``(doc_id, spans)`` corpus, with no
Spark involvement. The pytest suite asserts span-sequence equality
``(kind, text, media_ref, order)`` per doc_id between this oracle and the
DataFrame pipeline, and the driver's DuckDB check reads this oracle's
materialized outputs as the expected side.

The per-document half is shared with the Spark pipeline: its one Python
stage (extraction.udfs.route_and_extract) calls vendor_detect.route_doc,
``doc_pages`` and the per-page kernel (pdf_parser_spark.kernel) as the oracle
does. Everything relational here — admission, first-wins dedup, span
sequencing, unpivot, stats, master-log zip-align — is implemented
independently (Python loops here, windows/aggregations there). The JVM page
assembly (extraction.pipeline.page_frame) stays checked against ``doc_pages``
through the orientation differential.

Determinism deviations from the reference, pinned on purpose (SURVEY.md §7):
wall-clock ``Created`` timestamps become a single ``job_ts`` parameter, and
the master log's corpus order is (doc_id, insertion order) instead of
auto-increment DB ids.
"""

from __future__ import annotations

from . import kernel
from .configs import FIELD_KEYS, VENDOR_CONFIGS

JOB_TS = "2026-01-01 00:00:00"


# --- admission control + router (views.py:154-240, views/core.py:622-668) -----


def route_and_admit(docs: list[dict]) -> tuple[list[dict], list[dict]]:
    """The full admission router: vendor detection/validation, hash
    first-wins dedup, quarantine. Returns (admitted, quarantine_rows);
    admitted docs carry their *effective* vendor (unlabeled docs routed by
    detection take the detected config vendor).

    Per-doc decision order mirrors the reference upload flow:
      1. detection contradiction at ≥0.7 confidence → quarantine
         ``detection_mismatch`` (views.py:182-211 — precedes the duplicate
         check, and the ERROR record still occupies its hash slot);
      2. hash already seen → quarantine ``vendor_mismatch`` if the
         effective vendor differs from the slot winner's
         (views/core.py:636-640), else silent duplicate drop (:641-644);
      3. no loadable vendor config → quarantine ``no_vendor_config``
         (views/core.py:664-668);
      4. otherwise admit."""
    from . import vendor_detect

    admitted: list[dict] = []
    quarantine: list[dict] = []
    winners: dict[str, str] = {}  # file_hash -> effective vendor of first doc

    def q_row(doc: dict, r: dict, reason: str) -> dict:
        return {
            "doc_id": doc["doc_id"],
            "vendor_label": doc["vendor"],
            "detected": r["detected"] or "",
            "confidence": r["confidence"],
            "reason": reason,
        }

    for doc in sorted(docs, key=lambda d: d["doc_id"]):
        r = vendor_detect.route_doc(doc)
        h = doc["file_hash"]
        first = h not in winners
        if first:
            winners[h] = r["eff_vendor"]
        if r["pre_reason"] == "detection_mismatch":
            quarantine.append(q_row(doc, r, "detection_mismatch"))
        elif not first:
            if r["eff_vendor"] != winners[h]:
                quarantine.append(q_row(doc, r, "vendor_mismatch"))
        elif r["pre_reason"]:
            quarantine.append(q_row(doc, r, r["pre_reason"]))
        else:
            admitted.append({**doc, "vendor": r["eff_vendor"]})
    return admitted, quarantine


def admit(docs: list[dict]) -> list[dict]:
    """Admitted docs only (effective vendors applied)."""
    return route_and_admit(docs)[0]


def vendor_routing_rows(docs: list[dict]) -> list[dict]:
    """Detection evidence for the unlabeled-upload slot (R11): per
    vendor=='' doc, what was detected and where it was routed."""
    from . import vendor_detect

    rows = []
    for doc in sorted(docs, key=lambda d: d["doc_id"]):
        if doc["vendor"] != "":
            continue
        r = vendor_detect.route_doc(doc)
        rows.append(
            {
                "doc_id": doc["doc_id"],
                "detected": r["detected"] or "",
                "confidence": r["confidence"],
                "routed_vendor": r["eff_vendor"],
            }
        )
    return rows


# --- per-document extraction (extractor.py:124-262) ---------------------------


def doc_pages(doc: dict) -> list[tuple[int, list[str], str, list[str], str]]:
    """Group spans into (page, table_texts, text_layer_raw, media_texts,
    geom), ordered by page; within a page, spans ordered by offset. geom is
    the page geometry ('WxH') carried on the first media span's ref ('' if
    the page has none)."""
    by_page: dict[int, list[dict]] = {}
    for s in doc["spans"]:
        by_page.setdefault(s["offset"] // 1000, []).append(s)
    out = []
    for p in sorted(by_page):
        spans = sorted(by_page[p], key=lambda s: s["offset"])
        tables = [s["text"] for s in spans if s["kind"] == "table"]
        texts = [s["text"] for s in spans if s["kind"] == "text"]
        media_spans = [s for s in spans if s["kind"] == "media"]
        media = [s["text"] for s in media_spans]
        geom = kernel.geom_of_media_ref(media_spans[0]["media_ref"]) if media_spans else ""
        out.append((p, tables, " ".join(texts), media, geom))
    return out


def process_document(doc: dict) -> tuple[list[dict], dict]:
    """Returns (results, stats). Each result entry carries
    PLATE_NO/HEAT_NO/TEST_CERT_NO/quality plus Hash, Page (1-based),
    Filename — the reference's enriched entry record (extractor.py:199-237)."""
    cfg = VENDOR_CONFIGS[doc["vendor"]]
    vendor_id = cfg["vendor_id"]
    pages = doc_pages(doc)

    results: list[dict] = []
    stats = {
        "total_pages": (pages[-1][0] + 1) if pages else 0,
        "successful_pages": 0,
        "ocr_fallback_pages": [],
        "failed_pages": [],
        "extraction_success": False,
        "partial_extraction": False,
    }

    for p, tables, text_raw, media, geom in pages:
        entries, used_ocr = kernel.extract_page_entries(cfg, tables, text_raw, media, geom)
        if used_ocr:
            stats["ocr_fallback_pages"].append(p + 1)
        if not entries:
            stats["failed_pages"].append(p + 1)
            continue
        stats["successful_pages"] += 1
        for entry in entries:
            h = kernel.entry_hash(entry, vendor_id)
            if any(r["Hash"] == h for r in results):  # first-wins dedup (extractor.py:200)
                continue
            results.append(
                {
                    **{k: entry[k] for k in FIELD_KEYS},
                    "quality": entry.get("quality", ""),
                    "Hash": h,
                    "Page": p + 1,
                    "Filename": kernel.sanitize_filename(entry),
                }
            )

    stats["extraction_success"] = len(results) > 0
    stats["partial_extraction"] = len(results) > 0 and len(stats["failed_pages"]) > 0
    return results, stats


# --- corpus-level outputs ------------------------------------------------------


def extracted_spans_rows(doc: dict, results: list[dict]) -> list[dict]:
    """Ordered output span sequence per doc (FIXTURES.md §5): per surviving
    entry, three field spans + one entry_ref span carrying the sanitized
    per-entry artifact name (the reference's saved page PDF,
    extractor.py:221-226). seq is contiguous per doc."""
    rows = []
    for i, r in enumerate(results):
        base_offset = (r["Page"] - 1) * 1000
        for fi, fk in enumerate(FIELD_KEYS):
            rows.append(
                {
                    "doc_id": doc["doc_id"],
                    "seq": i * 4 + fi,
                    "kind": f"field:{fk}",
                    "text": r[fk],
                    "media_ref": "",
                    "offset": base_offset,
                }
            )
        rows.append(
            {
                "doc_id": doc["doc_id"],
                "seq": i * 4 + 3,
                "kind": "entry_ref",
                "text": "",
                "media_ref": r["Filename"],
                "offset": base_offset,
            }
        )
    return rows


def extracted_rows(doc: dict, results: list[dict]) -> list[dict]:
    """Unpivoted persistence rows (tasks.py:158-169): one row per truthy
    field value ('NA' is truthy and kept; '' dropped)."""
    vendor_name = VENDOR_CONFIGS[doc["vendor"]]["vendor_name"]
    rows = []
    for i, r in enumerate(results):
        for fi, fk in enumerate(FIELD_KEYS):
            if r[fk]:
                rows.append(
                    {
                        "doc_id": doc["doc_id"],
                        "vendor": vendor_name,
                        "field_key": fk,
                        "field_value": r[fk],
                        "page_number": r["Page"],
                        "row_seq": i * 3 + fi,
                        "created": JOB_TS,
                    }
                )
    return rows


def orientation_rows(admitted: list[dict]) -> list[dict]:
    """O6 classification evidence per admitted (doc, page) — the pure-Python
    side of the orientation differential check (the Spark side is an
    independent JVM-regex implementation in pipeline.orientation_frame)."""
    rows = []
    for doc in admitted:
        for p, _tables, text_raw, _media, geom in doc_pages(doc):
            w, h = kernel.parse_geom(geom)
            rot, conf, tm, pm = kernel.classify_orientation(text_raw, w, h)
            rows.append(
                {
                    "doc_id": doc["doc_id"],
                    "page_number": p + 1,
                    "width": w,
                    "height": h,
                    "rotation": rot,
                    "confidence": conf,
                    "table_matches": tm,
                    "posco_matches": pm,
                }
            )
    return rows


def doc_stats_row(doc: dict, stats: dict) -> dict:
    return {
        "doc_id": doc["doc_id"],
        "total_pages": stats["total_pages"],
        "successful_pages": stats["successful_pages"],
        "ocr_fallback_pages": ",".join(str(p) for p in stats["ocr_fallback_pages"]),
        "failed_pages": ",".join(str(p) for p in stats["failed_pages"]),
        "extraction_success": stats["extraction_success"],
        "partial_extraction": stats["partial_extraction"],
    }


def master_log_rows(docs_by_id: dict[str, dict], extracted: list[dict]) -> list[dict]:
    """Master-log re-pivot (update_excel.py:29-128): per doc, per-field value
    lists in insertion order, positional zip-align to max_entries rows; page
    resolved via a last-write-wins (field_key, field_value) → page map with
    PLATE→HEAT→CERT priority; combination filename sanitizes '/' only."""
    per_doc: dict[str, dict] = {}
    for row in sorted(extracted, key=lambda r: (r["doc_id"], r["row_seq"])):
        d = per_doc.setdefault(
            row["doc_id"],
            {"PLATE_NO": [], "HEAT_NO": [], "TEST_CERT_NO": [], "page_numbers": {}},
        )
        d[row["field_key"]].append(row["field_value"])
        d["page_numbers"][f"{row['field_key']}_{row['field_value']}"] = row["page_number"]

    out = []
    sr_no = 1
    for doc_id in sorted(per_doc):
        doc = docs_by_id[doc_id]
        vendor_name = VENDOR_CONFIGS[doc["vendor"]]["vendor_name"]
        d = per_doc[doc_id]
        max_entries = max(len(d["PLATE_NO"]), len(d["HEAT_NO"]), len(d["TEST_CERT_NO"]))
        for i in range(max_entries):
            plate = d["PLATE_NO"][i] if i < len(d["PLATE_NO"]) else ""
            heat = d["HEAT_NO"][i] if i < len(d["HEAT_NO"]) else ""
            cert = d["TEST_CERT_NO"][i] if i < len(d["TEST_CERT_NO"]) else ""

            page = 1
            if plate and f"PLATE_NO_{plate}" in d["page_numbers"]:
                page = d["page_numbers"][f"PLATE_NO_{plate}"]
            elif heat and f"HEAT_NO_{heat}" in d["page_numbers"]:
                page = d["page_numbers"][f"HEAT_NO_{heat}"]
            elif cert and f"TEST_CERT_NO_{cert}" in d["page_numbers"]:
                page = d["page_numbers"][f"TEST_CERT_NO_{cert}"]

            plate_s = plate.replace("/", "-") if plate else ""
            heat_s = heat.replace("/", "-") if heat else ""
            cert_s = cert.replace("/", "-") if cert else ""
            if plate_s or heat_s or cert_s:
                filename = f"{plate_s}_{heat_s}_{cert_s}.pdf"
            else:
                filename = f"page_{page}.pdf"

            out.append(
                {
                    "sr_no": sr_no,
                    "vendor": vendor_name,
                    "plate_no": plate,
                    "heat_no": heat,
                    "test_cert_no": cert,
                    "filename": filename,
                    "page": page,
                    "source_pdf": f"uploads/{doc_id}.pdf",
                    "created": JOB_TS,
                    "file_hash": doc["file_hash"],
                    "remarks": "",
                    "doc_id": doc_id,
                }
            )
            sr_no += 1
    return out


def corpus_outputs(docs: list[dict]) -> dict[str, list[dict]]:
    """Run the full oracle over a corpus. Returns dict with keys
    extracted_spans / extracted / doc_stats / master_log / quarantine /
    vendor_routing."""
    admitted, quarantine = route_and_admit(docs)
    docs_by_id = {d["doc_id"]: d for d in admitted}

    spans_out: list[dict] = []
    extracted: list[dict] = []
    stats_out: list[dict] = []
    for doc in admitted:
        results, stats = process_document(doc)
        spans_out.extend(extracted_spans_rows(doc, results))
        extracted.extend(extracted_rows(doc, results))
        stats_out.append(doc_stats_row(doc, stats))

    master = master_log_rows(docs_by_id, extracted)
    return {
        "extracted_spans": spans_out,
        "extracted": extracted,
        "doc_stats": stats_out,
        "master_log": master,
        "quarantine": quarantine,
        "vendor_routing": vendor_routing_rows(docs),
        "orientation": orientation_rows(admitted),
    }
