"""Vendor detection + routing (SURVEY.md §2.3 R11, §2.1 S10).

Transcribes the reference's vendor-detection scoring
(/root/reference/extractor/utils/vendor_detection.py):

  * per-vendor weighted indicator patterns + negative patterns (:77-148);
  * score = Σ weight·matches − 0.5·neg_matches, ×1.2 multi-match bonus,
    ×min(1, 1000/len) length normalization for texts > 1000 chars, capped
    at 1.0 (:150-182);
  * argmax over vendors with ≥1 positive match, first-declared wins ties
    (dict insertion order, :186);
  * 0.4 minimum-confidence threshold (:190);
  * detection budget = the first 3 pages' text, framed per page
    (:21-52 — the OCR fallback for short text layers is not consulted
    here: media spans are OCR *candidates* in the span model).

One implementation: ``route_doc`` (pure Python) is the spec, the oracle
calls it directly, and ``route_columns`` runs it on Spark through one Arrow
``pandas_udf`` over each doc's label and text spans — the same shape as the
kernel UDF (extraction/udfs.py). Python ``re`` is the only regex dialect
routing is written in.

Routing semantics (the reference's upload flow, views.py:154-240 +
views/core.py:622-668, re-expressed for an unattended table-scale run):

  1. Docs labeled with a vendor keep it, but a high-confidence (≥ 0.7)
     detection that CONTRADICTS the label blocks processing
     (validate_vendor_selection:311-319 → UploadedPDF status ERROR) —
     quarantine reason ``detection_mismatch``.
  2. Unlabeled docs (vendor '') take the detected vendor when it maps to a
     known config (the reference requires a user selection; the table-scale
     analog auto-routes) — otherwise quarantine ``no_vendor_config``
     (views/core.py:664-668 config-not-found → ERROR).
  3. Hash-duplicate handling happens AFTER 1-2, first-wins by doc_id, and
     every doc occupies its hash slot (the reference records ERROR uploads
     too): a later doc with the same hash and a *different* effective
     vendor → quarantine ``vendor_mismatch`` (views/core.py:636-640);
     same-vendor duplicates are silently dropped (:641-644 warning path).

Documented deviations (determinism / span model): detected→config identity
uses the explicit ``DETECTED_TO_CONFIG`` map instead of the reference's
substring-in-display-name fallback (:296-300); the page framing joins
non-empty pages with a fixed separator instead of concat-then-strip, so the
detection text is a pure function of the span list.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

# vendor_detection.py:77-148, order preserved (ties resolve first-declared).
VENDOR_PATTERNS: dict[str, dict] = {
    "posco": {
        "patterns": [
            (r"posco\s+international", 0.9),
            (r"posco", 0.7),
            (r"pohang\s+iron\s+&?\s*steel", 0.8),
            (r"포스코", 0.9),
        ],
        "negative_patterns": [r"not\s+posco", r"ex-posco"],
    },
    "tata_steel": {
        "patterns": [
            (r"tata\s+steel", 0.9),
            (r"tata\s+group", 0.6),
            (r"jamshedpur", 0.7),
        ],
        "negative_patterns": [r"not\s+tata", r"ex-tata"],
    },
    "citic_steel": {
        "patterns": [
            (r"citic\s+steel", 0.9),
            (r"citic\s+group", 0.7),
            (r"中信钢铁", 0.9),
            (r"中信集团", 0.7),
        ],
        "negative_patterns": [r"not\s+citic"],
    },
    "jfe_steel": {
        "patterns": [
            (r"jfe\s+steel", 0.9),
            (r"jfe\s+holdings", 0.8),
            (r"japan\s+iron\s+&?\s*steel", 0.7),
            (r"川崎製鉄", 0.8),
            (r"JFE", 0.6),
        ],
        "negative_patterns": [r"not\s+jfe", r"ex-jfe"],
    },
    "nippon_steel": {
        "patterns": [
            (r"nippon\s+steel", 0.9),
            (r"新日本製鐵", 0.9),
            (r"新日鐵", 0.8),
        ],
        "negative_patterns": [r"not\s+nippon", r"ex-nippon"],
    },
    "baosteel": {
        "patterns": [
            (r"baosteel", 0.9),
            (r"bao\s+steel", 0.8),
            (r"宝钢", 0.9),
            (r"宝山钢铁", 0.9),
        ],
        "negative_patterns": [r"not\s+baosteel", r"ex-baosteel"],
    },
}

# Detected vendor id → this engine's config vendor id. Detections without a
# config cannot be processed (reference: Vendor row without a loadable
# config → ERROR, views/core.py:664-668).
DETECTED_TO_CONFIG = {"posco": "posco", "citic_steel": "citic"}

DETECTION_MAX_PAGES = 3          # extract_pdf_text default (:21)
MIN_CONFIDENCE = 0.4             # detect_vendor_from_text threshold (:190)
MISMATCH_CONFIDENCE = 0.7        # validate_vendor_selection block level (:311)


# --- pure-Python spec (the oracle) ---------------------------------------------


def detection_text(spans: list[dict]) -> str:
    """First-3-pages framed detection text over a span list."""
    by_page: dict[int, list[str]] = {}
    for s in sorted(spans, key=lambda s: s["offset"]):
        if s["kind"] == "text":
            by_page.setdefault(s["offset"] // 1000, []).append(s["text"])
    pieces = []
    for p in sorted(by_page)[:DETECTION_MAX_PAGES]:
        text = "\n".join(by_page[p])
        if text:
            pieces.append(f"--- Page {p + 1} ---\n{text}")
    return "\n\n".join(pieces)


def detect_vendor_from_text(text: str) -> tuple[str | None, float]:
    """vendor_detection.py:59-195, term-for-term."""
    if not text:
        return None, 0.0
    text_lower = text.lower()
    # Deviation: length normalization uses the LOWERED text's length. The
    # reference uses len(text); they differ only for case-folding-expanding
    # chars (e.g. İ → i̇), none of which occur in any indicator domain.
    tlen = len(text_lower)
    scores: dict[str, float] = {}
    for vendor_id, config in VENDOR_PATTERNS.items():
        score = 0.0
        match_count = 0
        for pattern, weight in config["patterns"]:
            n = len(re.findall(pattern, text_lower, re.IGNORECASE | re.MULTILINE))
            if n:
                score += weight * n
                match_count += n
        for neg in config["negative_patterns"]:
            n = len(re.findall(neg, text_lower, re.IGNORECASE | re.MULTILINE))
            if n:
                score -= 0.5 * n
        if match_count > 0:
            if match_count > 1:
                score *= 1.2
            if tlen > 1000:
                score *= min(1.0, 1000 / tlen)
            scores[vendor_id] = min(score, 1.0)
    if scores:
        vendor_id, confidence = max(scores.items(), key=lambda x: x[1])
        if confidence >= MIN_CONFIDENCE:
            return vendor_id, confidence
    return None, 0.0


def route_doc(doc: dict) -> dict:
    """Routing decision for one doc (pre-hash-dedup): effective vendor +
    detection evidence + quarantine pre-reason (None = processable so far)."""
    from .configs import VENDOR_CONFIGS

    detected, conf = detect_vendor_from_text(detection_text(doc["spans"]))
    label = doc["vendor"]
    eff = label
    if label == "" and detected is not None and DETECTED_TO_CONFIG.get(detected):
        eff = DETECTED_TO_CONFIG[detected]
    reason = None
    if (
        label != ""
        and detected is not None
        and conf >= MISMATCH_CONFIDENCE
        and DETECTED_TO_CONFIG.get(detected) != label
    ):
        reason = "detection_mismatch"
    elif eff not in VENDOR_CONFIGS:
        reason = "no_vendor_config"
    return {
        "eff_vendor": eff,
        "detected": detected,
        "confidence": conf,
        "pre_reason": reason,
    }


# --- Spark form: the spec through one Arrow UDF ------------------------------

ROUTE_TYPE = StructType(
    [
        StructField("eff_vendor", StringType()),
        StructField("detected", StringType()),
        StructField("confidence", DoubleType()),
        StructField("pre_reason", StringType()),
    ]
)


@pandas_udf(ROUTE_TYPE)
def _route_udf(vendor: pd.Series, text_spans: pd.Series) -> pd.DataFrame:
    """(vendor label, the doc's text spans) → ``route_doc``'s decision."""
    rows = [
        route_doc({"vendor": v, "spans": [] if sp is None else sp})
        for v, sp in zip(vendor, text_spans)
    ]
    return pd.DataFrame(rows, columns=ROUTE_TYPE.fieldNames())


def route_columns(docs: DataFrame) -> DataFrame:
    """Adds eff_vendor / detected / confidence / pre_reason — ``route_doc``
    per row. Only the text spans cross into Python (detection reads
    nothing else); the struct result is selected once and expanded in a
    second projection so the UDF is planned once, not once per field."""
    cols = docs.columns
    text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == "text")
    return docs.select(*cols, _route_udf("vendor", text_spans).alias("_r")).select(
        *cols, *(F.col(f"_r.{f}").alias(f) for f in ROUTE_TYPE.fieldNames())
    )
