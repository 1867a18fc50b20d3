"""Per-page extraction kernel — pure Python, zero Spark imports.

This module is the single source of truth for the reference's per-page
extraction semantics. It is executed in two places:

  * inside the Arrow-vectorized pandas UDF of the Spark pipeline
    (pdf_parser_spark.extraction.udfs) — one call per page row of a batch;
  * inside the pure-Python corpus oracle (pdf_parser_spark.oracle) that the
    pytest suite compares the Spark pipeline against.

Semantics are transcribed from the reference (file:line cites below refer to
/root/reference/). Python ``re`` is used deliberately: the reference's
alternation-group selection ("first non-None capture group else group(0)")
and Unicode case folding are not expressible with JVM regexp built-ins
(SURVEY.md §7). Compiled patterns are cached per process, so each Spark
executor compiles each vendor pattern exactly once.

Two reference *defects* are replicated on purpose, because output parity
depends on them (SURVEY.md §7 "reference defects"):

  * table mode resolves cell values with ``m.group(1) if m.lastindex else
    m.group(0)`` (extractor.py:106) — when an alternation matches a group
    other than 1, group(1) is None and ``.strip()`` raises, which the
    reference catches at whole-page-tables level (extractor.py:113-115),
    discarding every table entry of the page;
  * the heat fallback lookup does ``fields.get("HEAT_NO", {}).get(...)``
    (pattern_extractor.py:97) — for vendors whose field config is a bare
    string (citic, jsw) this raises AttributeError when no heat matched,
    which the reference catches in its page loop (extractor.py:241-243),
    failing the page.
"""

from __future__ import annotations

import hashlib
import os
import re

FIELD_KEYS = ("PLATE_NO", "HEAT_NO", "TEST_CERT_NO")

# Field names that table mode copies through verbatim instead of regex-matching
# (extractor.py:87-91,101).
_TABLE_VERBATIM = ("PART_NO", "PRODUCT_NO", "HEAT_NO", "CERTIFICATE_NO", "REPORT_NO")

# Separators used to ship per-page span groups into the Arrow UDF as flat
# strings (chosen outside any payload alphabet).
TABLE_SEP = "\x1d"
MEDIA_SEP = "\x1e"

_RX_CACHE: dict[str, re.Pattern] = {}


def _rx(pattern: str) -> re.Pattern:
    rx = _RX_CACHE.get(pattern)
    if rx is None:
        rx = re.compile(pattern, re.IGNORECASE)
        _RX_CACHE[pattern] = rx
    return rx


def field_pattern(field_info) -> str:
    """extractor.py:21-27."""
    if isinstance(field_info, str):
        return field_info
    if isinstance(field_info, dict):
        return field_info.get("pattern", "")
    return ""


def normalize_text(raw: str) -> str:
    """Page text-layer cleanup (extractor.py:29-39): collapse whitespace,
    drop zero-width spaces, strip. Order matters (collapse happens before the
    zero-width removal in the reference)."""
    if not raw:
        return ""
    text = re.sub(r"\s+", " ", raw)
    text = text.replace("\u200b", "")
    return text.strip()


def _first_group_value(m: re.Match):
    """First non-None capture group, else the full match
    (pattern_extractor.py:29-36,44-51)."""
    value = None
    for i in range(1, (m.lastindex or 0) + 1):
        if m.group(i) is not None:
            value = m.group(i)
            break
    if value is None:
        value = m.group(0)
    return value


def extract_patterns(text: str, cfg: dict) -> list[dict]:
    """Text-mode field extraction → entry fan-out
    (pattern_extractor.py:7-119). Entries carry a stable 4th key ``quality``
    ('' unless the poor-OCR fallback fired)."""
    entries: list[dict] = []
    if not text:
        return entries

    fields = cfg["fields"]
    matches: dict[str, list[str]] = {}
    shared: dict[str, str] = {}

    for fname, finfo in fields.items():
        is_obj = isinstance(finfo, dict)
        pattern = finfo.get("pattern", "") if is_obj else finfo
        match_type = finfo.get("match_type", "global") if is_obj else "global"
        share = finfo.get("share_value", False) if is_obj else False

        values: list[str] = []
        if match_type == "line_by_line":
            for line in text.split("\n"):
                for m in _rx(pattern).finditer(line):
                    v = _first_group_value(m)
                    if v:
                        values.append(v.strip())
        else:
            # "global" and "first" both take this branch; "first" semantics
            # come from values[0] selection below (pattern_extractor.py:20,100,105).
            for m in _rx(pattern).finditer(text):
                v = _first_group_value(m)
                if v:
                    values.append(v.strip())

        matches[fname] = values
        if share and values:
            shared[fname] = values[0]

    # Poor-OCR fallback strategy (pattern_extractor.py:63-82).
    fb = cfg.get("fallback_strategy", {})
    use_fallback = False
    plate_vals = matches.get("PLATE_NO", [])
    if fb.get("enabled", False) and not plate_vals:
        threshold = fb.get("conditions", {}).get("ocr_quality_threshold", 1000)
        has_certificate = bool(matches.get("TEST_CERT_NO", []))
        if len(text) < threshold or has_certificate:
            use_fallback = True
            for fb_entry in fb.get("fallback_entries", []):
                plate_vals.append(fb_entry["PLATE_NO"])

    # multi_match NA entry (pattern_extractor.py:85-88).
    if not plate_vals and cfg.get("multi_match", False):
        if any(matches.values()):
            plate_vals = ["NA"]

    for plate in plate_vals:
        heat = shared.get("HEAT_NO")
        if heat is None:
            heat_matches = matches.get("HEAT_NO", [])
            if not heat_matches:
                # Replicated defect: raises AttributeError for bare-string
                # field configs (pattern_extractor.py:97) → page fails.
                heat_fallback = fields.get("HEAT_NO", {}).get("fallback_value")
                heat = heat_fallback if heat_fallback else "NA"
            else:
                heat = heat_matches[0]

        cert = shared.get("TEST_CERT_NO")
        if cert is None:
            cert_matches = matches.get("TEST_CERT_NO", [])
            cert = cert_matches[0] if cert_matches else "NA"

        entries.append(
            {
                "PLATE_NO": str(plate).strip() if plate is not None else "NA",
                "HEAT_NO": str(heat).strip() if heat is not None else "NA",
                "TEST_CERT_NO": str(cert).strip() if cert is not None else "NA",
                "quality": "OCR_POOR_FALLBACK_USED" if use_fallback else "",
            }
        )

    return entries


def parse_table_text(table_text: str) -> list[list[str]]:
    """Deserialize a table span: rows separated by '\\n', cells by ' | '."""
    return [line.split(" | ") for line in table_text.split("\n")]


def extract_tables(table_texts: list[str], cfg: dict) -> list[dict]:
    """Table-mode extraction over all table spans of one page
    (extractor.py:41-117). A single try wraps every table of the page: any
    failure discards the page's entire table harvest (extractor.py:113-115)."""
    entries: list[dict] = []
    try:
        fields = cfg["fields"]
        for table_text in table_texts:
            table = parse_table_text(table_text)
            if not table or len(table) < 2:
                continue

            header_row = [str(h).strip() if h else "" for h in table[0]]
            field_columns: dict[str, int] = {}
            for fname, finfo in fields.items():
                pattern = field_pattern(finfo)
                column_name = finfo.get("table_column", "") if isinstance(finfo, dict) else ""
                for idx, header in enumerate(header_row):
                    if column_name and column_name.lower() in header.lower():
                        field_columns[fname] = idx
                        break
                    if _rx(pattern).search(header):
                        field_columns[fname] = idx
                        break

            for row in table[1:]:
                entry = {
                    "PLATE_NO": "NA",
                    "HEAT_NO": "NA",
                    "TEST_CERT_NO": "NA",
                    "quality": "",
                }
                plate_v = heat_v = cert_v = ""
                for fname, ci in field_columns.items():
                    value = str(row[ci]).strip() if ci < len(row) and row[ci] else ""
                    if value:
                        if fname in ("PART_NO", "PRODUCT_NO"):
                            plate_v = value
                        elif fname == "HEAT_NO":
                            heat_v = value
                        elif fname in ("CERTIFICATE_NO", "REPORT_NO"):
                            cert_v = value

                entry["PLATE_NO"] = plate_v
                entry["HEAT_NO"] = heat_v if heat_v else "NA"
                entry["TEST_CERT_NO"] = cert_v if cert_v else "NA"

                for fname, ci in field_columns.items():
                    if fname not in _TABLE_VERBATIM:
                        value = str(row[ci]).strip() if ci < len(row) and row[ci] else ""
                        m = _rx(field_pattern(fields[fname])).search(value)
                        if m:
                            mv = m.group(1) if m.lastindex else m.group(0)
                            # mv may be None (alternation matched a later
                            # group) → AttributeError → page tables discarded.
                            entry[fname] = mv.strip()

                if entry["PLATE_NO"] and entry["PLATE_NO"] != "NA":
                    entries.append(entry)
    except Exception:
        return []
    return entries


# --- OCR simulation path -----------------------------------------------------

_CERT_QUALITY_PATTERNS = (
    r"[A-Z]{2,3}[-\s]*\d{2,6}",
    r"\d{4,8}[-\s]*\d{2,4}",
    r"[A-Z]+\d+",
    r"\d+\.\d+",
    r"\b[A-Z]{2,}\b",
)
_QUALITY_OK_CHARS = set(" \n\r\t.,:-()[]{}/")


_CERT_QUALITY_RX = [re.compile(p) for p in _CERT_QUALITY_PATTERNS]


def text_quality_score(text: str) -> float:
    """OCR candidate quality score (ocr_helper.py:232-276). Counts use
    C-speed primitives but are term-for-term identical to the reference
    arithmetic: _QUALITY_OK_CHARS contains no alnum chars, so
    noise = len - alnum - ok_chars."""
    if not text or not text.strip():
        return 0.0
    alnum = sum(map(str.isalnum, text))
    score = len(text.strip()) * 0.1
    score += alnum * 0.5
    for rx in _CERT_QUALITY_RX:
        score += len(rx.findall(text)) * 2
    ok = sum(map(text.count, _QUALITY_OK_CHARS))
    score -= (len(text) - alnum - ok) * 0.1
    lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
    if 3 <= len(lines) <= 50:
        score += 5
    return max(0.0, score)


# The reference OCRs each scanned page up to 7 preprocessing pipelines x 5
# tesseract configs and keeps the best-scoring candidate (ocr_helper.py:
# 22-100 preprocess variants, 134-142 grid loop, 151-226 configs, 144-226
# argmax). The sim models each (preprocess, config) cell as a deterministic
# degradation of the page's base OCR text: cell (0,0) is the identity (the
# well-preprocessed read); other cells corrupt a cell-dependent slice of
# characters, as worse preprocessing does. Identity-first + strict-greater
# argmax replicates the reference's first-wins tie behavior.
_OCR_PREPROCESS_GRID = 7
_OCR_CONFIG_GRID = 5

_OCR_NOISE = "#~^`|"


def _ocr_candidate(text: str, pre: int, cfg: int) -> str:
    """Deterministic degraded OCR read for grid cell (pre, cfg)."""
    if pre == 0 and cfg == 0:
        return text
    stride = 2 + (pre * _OCR_CONFIG_GRID + cfg) % 7
    phase = (pre + cfg) % stride
    out = []
    for i, ch in enumerate(text):
        if ch.isalnum() and i % stride == phase:
            out.append(_OCR_NOISE[(i + pre + cfg) % len(_OCR_NOISE)])
        else:
            out.append(ch)
    return "".join(out)


def _alnum_mask(arr):
    """Vectorized ``str.isalnum`` over a uint32 codepoint array: ASCII
    ranges compared in bulk, non-ASCII codepoints classified once each."""
    import numpy as np

    m = (
        ((arr >= 48) & (arr <= 57))
        | ((arr >= 65) & (arr <= 90))
        | ((arr >= 97) & (arr <= 122))
    )
    nonascii = arr > 127
    if nonascii.any():
        for cp in np.unique(arr[nonascii]):
            if chr(int(cp)).isalnum():
                m |= arr == cp
    return m


_OCR_ENGINE = None


def resolve_ocr_engine():
    """OCR-engine injection seam (sandbox has no tesseract/PIL): returns
    the callable ``(media_texts: list[str]) -> str`` the extraction
    kernel uses on the OCR path. Default is :func:`best_ocr_text` (the
    deterministic best-of-grid sim replaying ocr_helper.py:144-226).
    Swap in a real engine WITHOUT an engine-code edit by setting
    ``SPARK_GRAFT_OCR_ENGINE="my_module:my_callable"`` before the
    SparkSession starts — each Python worker re-imports this module and
    resolves the spec itself, so the injected engine survives the
    worker boundary that a driver-side monkeypatch would not. Resolved
    once per process and cached."""
    global _OCR_ENGINE
    if _OCR_ENGINE is None:
        spec = os.environ.get("SPARK_GRAFT_OCR_ENGINE", "")
        if spec:
            import importlib

            mod, sep, attr = spec.partition(":")
            if not sep:
                raise ValueError(
                    f"SPARK_GRAFT_OCR_ENGINE={spec!r} is not 'module:callable'"
                )
            _OCR_ENGINE = getattr(importlib.import_module(mod), attr)
        else:
            _OCR_ENGINE = best_ocr_text
    return _OCR_ENGINE


def best_ocr_text(media_texts: list[str]) -> str:
    """Best-of-N selection over the full preprocess x config candidate grid
    per media span (ocr_helper.py:144-226): strict-greater argmax over the
    quality score, max initialized to 0 — a page whose every candidate
    scores 0 yields ''.

    Byte-identical vectorized form of the spec (``_ocr_candidate`` +
    ``text_quality_score`` per cell — kept above as the differential-test
    reference). Candidates are built with numpy writes into a shared
    codepoint array, and every score component except the five quality
    regexes is derived incrementally from base-text stats: noise chars
    replace alnum chars only, so len/strip-len/ok-count/line-bonus are
    invariant across the grid and the alnum/noise terms shift by exactly
    the replacement count r. The per-candidate work left is the regex
    findall counts, which genuinely depend on the mutated string. Cells
    whose stride hits no alnum char reproduce the identity candidate and
    can never win a strict-greater argmax, so they are skipped."""
    import numpy as np

    noise_codes = np.frombuffer(_OCR_NOISE.encode("utf-32-le"), dtype=np.uint32)
    best, best_score = "", 0.0
    for t in media_texts:
        if not t or not t.strip():
            continue  # every grid cell of an all-whitespace text scores 0
        n = len(t)
        arr = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
        mask = _alnum_mask(arr)
        length = n
        stripped_len = len(t.strip())
        alnum = int(mask.sum())
        ok = sum(map(t.count, _QUALITY_OK_CHARS))
        lines_bonus = 3 <= len([ln for ln in t.split("\n") if ln.strip()]) <= 50

        def score_of(cand: str, r: int) -> float:
            # text_quality_score term-for-term with alnum' = alnum - r.
            score = stripped_len * 0.1
            score += (alnum - r) * 0.5
            for rx in _CERT_QUALITY_RX:
                score += len(rx.findall(cand)) * 2
            score -= (length - (alnum - r) - ok) * 0.1
            if lines_bonus:
                score += 5
            return max(0.0, score)

        seen_cells: set[tuple] = set()
        for pre in range(_OCR_PREPROCESS_GRID):
            for cfg in range(_OCR_CONFIG_GRID):
                if pre == 0 and cfg == 0:
                    s = score_of(t, 0)
                    if s > best_score:
                        best, best_score = t, s
                    continue
                k = pre + cfg
                stride = 2 + (pre * _OCR_CONFIG_GRID + cfg) % 7
                # Cells sharing (stride, phase) replace the SAME positions;
                # noise glyphs differ by k%5 but are uniformly \W, non-space
                # and outside every scoring class, so match intervals — and
                # therefore scores — are identical. Under the strict-greater
                # first-wins argmax a later equal-score candidate can never
                # displace the earlier one: skip 9 of the 34 cells outright.
                cell = (stride, k % stride)
                if cell in seen_cells:
                    continue
                seen_cells.add(cell)
                idx = np.arange(k % stride, n, stride)
                hit = idx[mask[idx]]
                r = len(hit)
                if r == 0:
                    continue  # candidate == identity → can't beat it strictly
                out = arr.copy()
                out[hit] = noise_codes[(hit + k) % len(_OCR_NOISE)]
                cand = out.tobytes().decode("utf-32-le")
                s = score_of(cand, r)
                if s > best_score:
                    best, best_score = cand, s
    return best


# --- R10 multilingual pattern expansion + line scan ---------------------------
# Transcribed from the reference's inactive spec (extractor.py.bak:270-443).
# One correction to make the spec runnable: the .bak builds enhanced
# patterns from the raw field_info object (a dict for object-valued fields,
# which would AttributeError on .strip) — here the pattern STRING is used,
# the only reading under which the code executes.

_MULTILINGUAL_LABELS = {
    "PLATE_NO": [
        r"Part\s*No\.?",
        r"Plate\s*No\.?",
        r"Product\s*No\.?",
        r"钢板号",
        r"产品号",
        r"零件号",
    ],
    "HEAT_NO": [
        r"Heat\s*No\.?",
        r"Lot\s*No\.?",
        r"Batch\s*No\.?",
        r"炉号",
        r"批号",
    ],
    "TEST_CERT_NO": [
        r"Test\s*Certificate\s*No\.?",
        r"Report\s*No\.?",
        r"Certificate\s*No\.?",
        r"Cert\.?\s*No\.?",
        r"检测证书号",
        r"报告号",
    ],
}


def create_multilingual_patterns(base_pattern: str, field_name: str) -> list[str]:
    """extractor.py.bak:270-323 — base pattern first, then per bilingual
    label a labeled variant and a fragmentation-tolerant variant. Note
    ``strip(r'\\b')`` strips the *characters* '\\' and 'b' (the reference's
    own idiom), not the word-boundary token."""
    patterns = [base_pattern]
    if field_name in _MULTILINGUAL_LABELS:
        for label in _MULTILINGUAL_LABELS[field_name]:
            stripped_pattern = base_pattern.strip(r"\b")
            patterns.append(f"{label}\\s*[:：]?\\s*\\n?\\s*({stripped_pattern})")
            patterns.append(
                f"{label}\\s*[:：]?\\s*\\n?\\s*(.{{0,50}}?)\\s*({stripped_pattern})"
            )
    return patterns


_ML_FLAGS = re.IGNORECASE | re.DOTALL | re.MULTILINE

_ML_FIELD_NORMALIZE = {
    "PART_NO": "PLATE_NO",
    "PRODUCT_NO": "PLATE_NO",
    "CERTIFICATE_NO": "TEST_CERT_NO",
    "REPORT_NO": "TEST_CERT_NO",
}


def _ml_rx(pattern: str) -> re.Pattern:
    key = "\x00ml" + pattern
    rx = _RX_CACHE.get(key)
    if rx is None:
        rx = re.compile(pattern, _ML_FLAGS)
        _RX_CACHE[key] = rx
    return rx


def extract_line_by_line_scan(text: str, cfg: dict) -> list[dict]:
    """extract_with_line_by_line_scan (extractor.py.bak:324-443): per-line
    scan with the expanded pattern lists (last-participating-group value,
    length>2 filter, confidence=len), a 3-line context-block pass (dedup'd
    against line hits, confidence=len+1), best-per-field by confidence
    (stable sort → first-found wins ties), and the ≥2-non-NA-or-cert
    emission rule. Returns 0 or 1 entries."""
    fields = cfg["fields"]
    lines = text.split("\n")

    enhanced: dict[str, list[str]] = {}
    for field_name, field_info in fields.items():
        pattern = field_info["pattern"] if isinstance(field_info, dict) else field_info
        enhanced[field_name] = create_multilingual_patterns(pattern, field_name)

    potential: dict[str, list[dict]] = {"PLATE_NO": [], "HEAT_NO": [], "TEST_CERT_NO": []}

    def _scan(block: str, line_idx: int, context: bool) -> None:
        for field_name, pats in enhanced.items():
            norm = _ML_FIELD_NORMALIZE.get(field_name, field_name)
            if norm not in potential:
                continue
            for pattern in pats:
                try:
                    for m in _ml_rx(pattern).finditer(block):
                        value = m.group(m.lastindex) if m.lastindex else m.group(0)
                        value = (value or "").strip()
                        if value and len(value) > 2:
                            if context:
                                if value in (pv["value"] for pv in potential[norm]):
                                    continue
                                conf = len(value) + 1  # context-match bonus
                            else:
                                conf = len(value)
                            potential[norm].append(
                                {"value": value, "line": line_idx, "confidence": conf}
                            )
                except re.error:
                    continue

    for line_idx, line in enumerate(lines):
        clean_line = re.sub(r"\s+", " ", line.strip())
        if not clean_line:
            continue
        _scan(clean_line, line_idx, context=False)

    for i in range(len(lines) - 2):
        block = re.sub(r"\s+", " ", " ".join(lines[i : i + 3]))
        _scan(block, i, context=True)

    selected: dict[str, str] = {}
    for field_name, candidates in potential.items():
        if candidates:
            candidates.sort(key=lambda x: x["confidence"], reverse=True)  # stable
            selected[field_name] = candidates[0]["value"]

    if not selected:
        return []
    entry = {
        "PLATE_NO": selected.get("PLATE_NO", "NA"),
        "HEAT_NO": selected.get("HEAT_NO", "NA"),
        "TEST_CERT_NO": selected.get("TEST_CERT_NO", "NA"),
    }
    non_na = sum(1 for v in entry.values() if v != "NA")
    if non_na >= 2 or entry["TEST_CERT_NO"] != "NA":
        return [entry]
    return []


# --- orientation detect/correct (O6, document_preprocessor.py:32-175) --------

_TABLE_INDICATOR_PATTERNS = (
    r"Size\s+Product\s+No\.",
    r"Heat\s+No\.",
    r"Plate\s+No\.",
    r"Certificate\s+No\.",
    r"\|\s*Size\s*\|",
    r"\|\s*Product\s+No\.\s*\|",
    r"\|\s*Heat\s+No\.\s*\|",
)
_POSCO_ORIENT_PATTERNS = (
    r"POSCO\s+INTERNATIONAL",
    r"Mill\s+Test\s+Certificate",
    r"Chemical\s+Composition",
    r"Tensile\s+Test",
)

_GEOM_RX = re.compile(r"[?&]w=(\d+)&h=(\d+)")
DEFAULT_GEOM = (595, 842)  # A4 portrait points — pages without media geometry


def geom_of_media_ref(media_ref: str) -> str:
    """'img://…?w=595&h=842' → '595x842' ('' if no geometry present)."""
    m = _GEOM_RX.search(media_ref or "")
    return f"{m.group(1)}x{m.group(2)}" if m else ""


def parse_geom(geom: str) -> tuple[int, int]:
    if geom:
        w, h = geom.split("x")
        return int(w), int(h)
    return DEFAULT_GEOM


def classify_orientation(text: str, width: int, height: int) -> tuple[int, float, int, int]:
    """Per-page orientation heuristic, transcribed from
    DocumentPreprocessor._analyze_page_orientation
    (document_preprocessor.py:64-137): table-indicator / POSCO-indicator
    regex presence counts + the portrait/landscape elif chain. Returns
    (suggested_rotation, confidence, table_matches, posco_matches).

    The heuristic is noisy by design (a portrait text page listing
    'Certificate No. … Heat No. … Plate No. …' classifies as needs-rotation)
    — replicated as-is; rotation is only *consumed* on the OCR path, which
    mirrors the reference applying correction before rasterizing scans."""
    is_landscape = width > height
    tm = sum(1 for p in _TABLE_INDICATOR_PATTERNS if _rx(p).search(text or ""))
    pm = sum(1 for p in _POSCO_ORIENT_PATTERNS if _rx(p).search(text or ""))
    rotation, confidence = 0, 0.0
    if not is_landscape and tm > 2:
        rotation, confidence = 90, min(0.8, tm * 0.2)
    elif is_landscape and tm < 2 and pm > 0:
        rotation, confidence = -90, min(0.6, pm * 0.15)
    elif is_landscape and tm >= 3:
        confidence = min(0.9, tm * 0.25)
    return rotation, confidence, tm, pm


def _rot90_cw(text: str) -> str:
    lines = text.split("\n")
    h = len(lines)
    w = max(len(ln) for ln in lines)
    g = [ln.ljust(w) for ln in lines]
    return "\n".join(
        "".join(g[h - 1 - c][r] for c in range(h)).rstrip() for r in range(w)
    )


def _rot90_ccw(text: str) -> str:
    lines = text.split("\n")
    h = len(lines)
    w = max(len(ln) for ln in lines)
    g = [ln.ljust(w) for ln in lines]
    return "\n".join(
        "".join(g[c][w - 1 - r] for c in range(h)).rstrip() for r in range(w)
    )


def rotate_text(text: str, angle: int) -> str:
    """The span-model analog of PyPDF2 page.rotate(angle)
    (document_preprocessor.py:156-164): rotate the character grid. cw(+90)
    and ccw(−90) are exact inverses for texts without trailing spaces
    (output lines are rstripped)."""
    if not text or angle == 0:
        return text
    if angle == 90:
        return _rot90_cw(text)
    if angle == -90:
        return _rot90_ccw(text)
    return text


# --- POSCO heat corrections (posco_corrections.py:11-49) --------------------

_HEAT_CORRECTIONS = {
    "SU30682": "SU30882",
    "SU30082": "SU30882",
    "SU30692": "SU30892",
    "SU30602": "SU30802",
}


def correct_posco_heat_number(heat_no: str) -> str:
    if not heat_no or not heat_no.startswith("SU"):
        return heat_no
    if heat_no in _HEAT_CORRECTIONS:
        return _HEAT_CORRECTIONS[heat_no]
    if re.match(r"^SU30[0-9]{3}$", heat_no):
        if "682" in heat_no:
            return heat_no.replace("682", "882")
        if "082" in heat_no:
            return heat_no.replace("082", "882")
    return heat_no


def apply_posco_corrections(entry: dict) -> dict:
    """posco_corrections.py:51-70 (bookkeeping key _corrections_applied is
    dropped — it never reaches any reference output table)."""
    out = dict(entry)
    if "HEAT_NO" in out:
        out["HEAT_NO"] = correct_posco_heat_number(out["HEAT_NO"])
    return out


# --- page driver --------------------------------------------------------------


def extract_page_entries(
    cfg: dict,
    table_texts: list[str],
    text_layer_raw: str,
    media_texts: list[str],
    page_geom: str = "",
    ocr_engine=None,
) -> tuple[list[dict], bool]:
    """One page of extract_pdf_fields (extractor.py:162-195), preceded by
    the O6 orientation correction on the OCR path (the reference runs
    preprocess_pdf_for_extraction before extraction,
    document_preprocessor.py:177-193; in the span model only the scanned
    media candidates have an orientation to correct).

    Returns (entries, used_ocr). A page-level exception (the replicated
    defects above) yields no entries — the caller derives ``failed`` as
    ``not entries``, matching the reference's stats bookkeeping
    (extractor.py:190-193,241-243).
    """
    vendor_id = cfg["vendor_id"]
    used_ocr = False
    try:
        entries: list[dict] = []
        if cfg.get("extraction_mode") == "table":
            entries = extract_tables(table_texts, cfg)
            if vendor_id.lower() == "posco" and entries:
                entries = [apply_posco_corrections(e) for e in entries]

        if not entries:
            text = normalize_text(text_layer_raw)
            if not text or len(text.strip()) < 50:
                w, h = parse_geom(page_geom)
                rotation, _conf, _tm, _pm = classify_orientation(
                    text_layer_raw, w, h
                )
                if rotation != 0:
                    media_texts = [rotate_text(m, rotation) for m in media_texts]
                text = (ocr_engine or resolve_ocr_engine())(media_texts)
                used_ocr = True
            if text:
                entries = extract_patterns(text, cfg)
                if vendor_id.lower() == "posco":
                    entries = [apply_posco_corrections(e) for e in entries]
        return entries, used_ocr
    except Exception:
        return [], used_ocr


# --- identity / naming (extractor.py:119-122,205-219) ------------------------


def entry_hash(entry: dict, vendor_id: str) -> str:
    key = f"{vendor_id}|" + "|".join(
        str(entry.get(k, "")) for k in FIELD_KEYS
    )
    return hashlib.md5(key.encode("utf-8")).hexdigest()


_FILENAME_STRIP_RX = re.compile(r'[<>:"/\\|?*\n\r\t]+')


def sanitize_filename(entry: dict) -> str:
    parts = [
        str(entry.get(k, "NA"))
        .replace("/", "-")
        .replace("\\", "-")
        .replace("\n", " ")
        .replace("\r", " ")
        .strip()
        for k in FIELD_KEYS
    ]
    return _FILENAME_STRIP_RX.sub(" ", "_".join(parts)).strip() + ".pdf"
