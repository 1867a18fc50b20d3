"""Deterministic synthetic corpus generator for the interleaved-document table.

Emits ``documents(doc_id string, vendor string, file_hash string,
spans array<struct<kind string, text string, media_ref string, offset int>>)``
— the input contract from BASELINE.json. Every document is a pure function of
``(seed, index)``, so any process can generate any slice of a corpus.

Content templates are modeled on the reference's own fixtures
(/root/reference/test_posco_extraction.py:75-79,
test_hengrun_patterns.py:42-56, and the golden triples encoded in
media/extracted/<vendor>/ filenames — see FIXTURES.md §3), covering the
branch matrix of FIXTURES.md §4: text/table/media kinds, the <50-char OCR
gate, poor-OCR fallback, multi_match NA entries, duplicate entries and
duplicate documents, crash pages (replicated reference defects), failed
pages, and one ~50x skewed giant document per 500 docs.

Span offsets encode order: ``page * 1000 + slot`` with text spans at slot
0.., table spans at 100.., media spans at 500.. (page = offset // 1000).
"""

from __future__ import annotations

import hashlib
import random

from . import kernel

VENDOR_SLOTS = (
    (0, 18, "citic"),
    (18, 36, "jsw"),
    (36, 50, "iraeta"),
    (50, 70, "hengrun"),
    (70, 90, "posco"),
    (90, 95, ""),          # unlabeled docs → the vendor-detection router (R11)
    (95, 97, "edge"),      # all-failed-pages docs (rotating vendor)
    (97, 98, "mislabel"),  # posco-branded content labeled jsw → detection_mismatch
    (98, 99, "citic"),     # duplicate-source doc
    (99, 100, "dup"),      # byte-identical duplicate of the previous doc
)

GIANT_EVERY = 500          # every i % 500 == 250 becomes a giant skewed doc
GIANT_PAGES = 50

FILLER_WORDS = (
    "tensile yield elongation impact charpy thickness width length rolled "
    "normalized tempered quenched inspection dimension surface visual "
    "ultrasonic chemical composition carbon manganese silicon phosphorus "
    "sulfur chromium nickel copper certificate mill works standard grade"
).split()


def _digits(rnd: random.Random, n: int) -> str:
    return "".join(rnd.choice("0123456789") for _ in range(n))


def _upper(rnd: random.Random, n: int) -> str:
    return "".join(rnd.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(n))


def _filler(rnd: random.Random, n: int) -> str:
    return " ".join(rnd.choice(FILLER_WORDS) for _ in range(n))


# --- per-vendor page builders -------------------------------------------------
# Each builder returns a list of pages; a page is a dict with keys
# text (list[str]), table (list[str]), media (list[str]).


def _page(text=(), table=(), media=(), geom=None):
    """geom = (width, height) page geometry carried on media refs; None →
    the default A4 portrait (kernel.DEFAULT_GEOM)."""
    return {"text": list(text), "table": list(table), "media": list(media), "geom": geom}


def _citic_pages(rnd: random.Random) -> list[dict]:
    cert = "Z" + _digits(rnd, 16)
    heat = "S" + _digits(rnd, rnd.randint(6, 8))
    pages = []
    n_pages = rnd.randint(1, 4)
    prev_plates: list[str] = []
    for p in range(n_pages):
        roll = rnd.random()
        if roll < 0.10:
            # crash page: plates present, no heat anywhere → replicated
            # AttributeError (pattern_extractor.py:97) → failed page.
            plate = "T5" + _digits(rnd, 9)
            pages.append(_page(text=[f"CITIC certificate page plate {plate} {_filler(rnd, 8)}"]))
        elif roll < 0.20:
            # filler page, no matches at all → failed page.
            pages.append(_page(text=[_filler(rnd, 20)]))
        elif roll < 0.30:
            # short text layer → OCR gate; media candidates carry content.
            plate = "T5" + _digits(rnd, 9)
            good = (
                f"CITIC Pacific Special Steel\nQuality Certificate {cert}\n"
                f"Heat {heat}\nPlate {plate}\n{_filler(rnd, 6)}"
            )
            bad = "###@@@!!!"
            pages.append(_page(text=["scan p." + str(p + 1)], media=[good, bad]))
        elif roll < 0.38:
            # R10 fixture: fragmented bilingual page — CJK labels sit
            # ADJACENT to the values (CJK chars are \w, so the active
            # engine's \b-anchored patterns never fire → failed page); the
            # multilingual-expansion scan's labeled variants capture them.
            plate = "T5" + _digits(rnd, 9)
            pages.append(
                _page(
                    text=[
                        "中信泰富特钢 质量证明书",
                        f"钢板号{plate} 炉号{heat}",
                        f"检测证书号{cert} {_filler(rnd, 4)}",
                    ]
                )
            )
        else:
            k = rnd.randint(1, 3)
            plates = ["T5" + _digits(rnd, 9) for _ in range(k)]
            if prev_plates and rnd.random() < 0.35:
                plates.append(prev_plates[0])  # cross-page duplicate entry
            if rnd.random() < 0.20 and plates:
                plates.append(plates[0])  # intra-page duplicate entry
            body = " ".join(f"Plate No. {pl}" for pl in plates)
            pages.append(
                _page(
                    text=[
                        f"CITIC Pacific Special Steel Quality Certificate No. {cert} "
                        f"Heat No. {heat} {body} {_filler(rnd, 10)}"
                    ]
                )
            )
            prev_plates = plates
    return pages


def _jsw_pages(rnd: random.Random) -> list[dict]:
    cert = "JSW-PCMD-" + _digits(rnd, 9)
    heat = _upper(rnd, 1) + _digits(rnd, 6)
    pages = []
    for p in range(rnd.randint(1, 3)):
        roll = rnd.random()
        plates = [
            _digits(rnd, 2) + _upper(rnd, 2) + _digits(rnd, 4) + _upper(rnd, 1) + _digits(rnd, 1)
            for _ in range(rnd.randint(1, 3))
        ]
        body = " ".join(f"PLATE {pl}" for pl in plates)
        if roll < 0.12:
            # crash page: plates, no heat (pattern_extractor.py:97 defect).
            pages.append(_page(text=[f"JSW Steel {body} {_filler(rnd, 8)}"]))
        elif roll < 0.22:
            pages.append(_page(text=[_filler(rnd, 18)]))
        else:
            pages.append(
                _page(
                    text=[
                        f"JSW Steel TEST CERTIFICATE NO. : {cert} "
                        f"HEAT {heat} {body} {_filler(rnd, 8)}"
                    ]
                )
            )
    return pages


def _iraeta_pages(rnd: random.Random) -> list[dict]:
    cert = "2024-3765-0" + _digits(rnd, 2)
    pages = []
    for p in range(rnd.randint(1, 3)):
        roll = rnd.random()
        has_heat = rnd.random() < 0.7
        heat_txt = "Heat SI24-4260" if has_heat else ""
        if roll < 0.25:
            # multi_match page: heat/cert present, zero plates → one NA entry.
            pages.append(
                _page(text=[f"Iraeta Energy Equipment report {cert} {heat_txt} {_filler(rnd, 10)}"])
            )
        elif roll < 0.35:
            pages.append(_page(text=[_filler(rnd, 16)]))
        else:
            plates = rnd.sample(
                [f"24-3765-{s}" for s in (11, 12, 13, 14, 15, 16, 17, 18)],
                rnd.randint(1, 3),
            )
            body = " ".join(f"Flange {pl}" for pl in plates)
            pages.append(
                _page(
                    text=[f"Iraeta certificate {cert} {heat_txt} {body} {_filler(rnd, 6)}"]
                )
            )
    return pages


_HENGRUN_EN_HEADER = "Part No. | Description | Heat No. | Batch No. | Sample No. | Test No."
_HENGRUN_CJK_HEADER = "产品编号 | 产品规格(mm) | 炉号 | 热处理批号 | 样品编号 | 取样编号"


def _hengrun_table(rnd: random.Random, header: str, plates: list[str], heat: str) -> str:
    rows = [header]
    for pl in plates:
        rows.append(
            f"{pl} | φ3916*φ3608*160 | {heat} | 04-{_digits(rnd, 6)}-N-1 | "
            f"HR-{_digits(rnd, 6)}-06 | 6-0002"
        )
    return "\n".join(rows)


def _hengrun_pages(rnd: random.Random) -> list[dict]:
    cert = "HR" + _digits(rnd, 11)
    heat = "S" + _digits(rnd, 8) + "QX"
    pages = []
    for p in range(rnd.randint(1, 3)):
        roll = rnd.random()
        plates = [f"{rnd.choice('6789')}-{_digits(rnd, 4)}" for _ in range(rnd.randint(1, 3))]
        bilingual = (
            f"产品质量证明书 (EN10204-3.1) Certificate No.证书号: {cert} "
            f"Part No. 产品编号 {' '.join(plates)} Heat No. 熔炼号 {heat} {_filler(rnd, 6)}"
        )
        if roll < 0.30:
            # EN-header table page → table-mode entries (heat raw cell, cert NA).
            pages.append(_page(table=[_hengrun_table(rnd, _HENGRUN_EN_HEADER, plates, heat)]))
        elif roll < 0.40:
            # crash table: a '5-xxxx' plate matches alternation group 3 →
            # group(1) None → page tables discarded (extractor.py:106,113-115);
            # text span rescues the page via the text path.
            crash_plates = [f"5-{_digits(rnd, 4)}"] + plates
            pages.append(
                _page(
                    table=[_hengrun_table(rnd, _HENGRUN_EN_HEADER, crash_plates, heat)],
                    text=[bilingual],
                )
            )
        elif roll < 0.55:
            # CJK-header table → no column resolution → text path.
            pages.append(
                _page(table=[_hengrun_table(rnd, _HENGRUN_CJK_HEADER, plates, heat)], text=[bilingual])
            )
        elif roll < 0.70:
            # poor-OCR fallback page: cert present, no plates → fallback
            # entries 6-0003/6-0002 with quality tag (pattern_extractor.py:63-82).
            pages.append(
                _page(text=[f"质量证明书 Certificate No.证书号: {cert} degraded scan {_filler(rnd, 8)}"])
            )
        elif roll < 0.80:
            # short-text OCR page; best media candidate is short (<500) with
            # no plates → fallback via len(text) < threshold.
            good = f"Certificate No.证书号: {cert}\nHeat No. {heat}\nquality notes"
            pages.append(_page(text=["p" + str(p + 1)], media=[good, "###@@@!!!"]))
        else:
            pages.append(_page(text=[bilingual]))
    return pages


_POSCO_HEADER = "Size | Product No. | Quantity | Weight (kg) | Heat No."


def _posco_heat(rnd: random.Random) -> str:
    roll = rnd.random()
    if roll < 0.15:
        return rnd.choice(["SU30682", "SU30082", "SU30692", "SU30602"])  # noisy → corrected
    return "SU" + _digits(rnd, 5)


def _posco_table(rnd: random.Random, plates: list[str], heat: str) -> str:
    rows = [_POSCO_HEADER]
    for pl in plates:
        rows.append(
            f"34.8x200x4x1451 | {pl} | {rnd.randint(1, 9)} | "
            f"{rnd.randint(10, 99)}.{_digits(rnd, 3)} | {heat}"
        )
    return "\n".join(rows)


def _posco_pages(rnd: random.Random) -> list[dict]:
    cert = f"{_digits(rnd, 6)}-FP{_digits(rnd, 2)}{_upper(rnd, 2)}-{_digits(rnd, 4)}A1-{_digits(rnd, 4)}"
    heat = _posco_heat(rnd)
    pages = []
    for p in range(rnd.randint(1, 4)):
        roll = rnd.random()
        plates = ["PP" + _digits(rnd, 8) for _ in range(rnd.randint(1, 4))]
        text_line = (
            f"POSCO INTERNATIONAL CORPORATION Mill Test Certificate "
            f"Certificate No. {cert} "
            + " ".join(f"34.8x200x4x1451 {pl} 2 20.812 {heat} KOR" for pl in plates)
        )
        if roll < 0.30:
            # clean table page → table entries, heat corrected, cert NA.
            pages.append(_page(table=[_posco_table(rnd, plates, heat)]))
        elif roll < 0.42:
            # crash table: 'PP065420H=432'-style plates match alternation
            # group 5 → group(1) None → tables discarded → text path rescues.
            crash_plates = [f"PP{_digits(rnd, 6)}H={_digits(rnd, 3)}"]
            crash_text = (
                f"Certificate No. {cert} "
                + " ".join(f"34.8x200x4x1451 {pl} 2 20.812 {heat} KOR" for pl in crash_plates)
            )
            pages.append(_page(table=[_posco_table(rnd, crash_plates, heat)], text=[crash_text]))
        elif roll < 0.55:
            pages.append(_page(text=[text_line]))
        elif roll < 0.63:
            # short-text OCR page with multi-line candidates (line_by_line
            # match types run against real lines here).
            good = (
                f"POSCO INTERNATIONAL CORPORATION\nCertificate No. {cert}\n"
                + "\n".join(f"34.8x200x4x1451 {pl} 2 20.812 {heat} KOR" for pl in plates)
            )
            pages.append(_page(text=["pg"], media=[good, "###@@@!!!"]))
        elif roll < 0.68:
            # O6: portrait page scanned sideways — the text layer reads only
            # the table header words (3 table indicators, <50 chars → OCR
            # gate), the scan content is rotated; classifier says rotate 90
            # (portrait & table_matches>2) and the kernel un-rotates the
            # candidates before the OCR grid.
            good = (
                f"POSCO INTERNATIONAL CORPORATION\nCertificate No. {cert}\n"
                + "\n".join(f"34.8x200x4x1451 {pl} 2 20.812 {heat} KOR" for pl in plates)
            )
            pages.append(
                _page(
                    text=["Size Product No. Heat No. Plate No."],
                    media=[kernel._rot90_ccw(good), "###@@@!!!"],
                    geom=(595, 842),
                )
            )
        elif roll < 0.72:
            # O6: landscape page whose content is rotated −90 (landscape &
            # table_matches<2 & posco_matches>0 → rotate −90).
            good = (
                f"POSCO INTERNATIONAL CORPORATION\nCertificate No. {cert}\n"
                + "\n".join(f"34.8x200x4x1451 {pl} 2 20.812 {heat} KOR" for pl in plates)
            )
            pages.append(
                _page(
                    text=["POSCO INTERNATIONAL Mill Test Certificate"],
                    media=[kernel._rot90_cw(good), "###@@@!!!"],
                    geom=(842, 595),
                )
            )
        elif roll < 0.75:
            # O6: clean landscape scan — classifier high-confidence
            # no-rotation (landscape & table_matches>=3), candidates as-is.
            good = (
                f"POSCO INTERNATIONAL CORPORATION\nCertificate No. {cert}\n"
                + "\n".join(f"34.8x200x4x1451 {pl} 2 20.812 {heat} KOR" for pl in plates)
            )
            pages.append(
                _page(
                    text=["Size Product No. Heat No. Plate No."],
                    media=[good, "###@@@!!!"],
                    geom=(842, 595),
                )
            )
        elif roll < 0.85:
            # cert-only page → multi_match NA entry.
            pages.append(_page(text=[f"Mill Test Certificate Certificate No. {cert} {_filler(rnd, 10)}"]))
        else:
            pages.append(_page(text=[_filler(rnd, 18)]))
    return pages


def _giant_pages(rnd: random.Random) -> list[dict]:
    """A skewed document: GIANT_PAGES posco text pages."""
    cert = f"{_digits(rnd, 6)}-FP{_digits(rnd, 2)}{_upper(rnd, 2)}-{_digits(rnd, 4)}A1-{_digits(rnd, 4)}"
    pages = []
    for p in range(GIANT_PAGES):
        heat = _posco_heat(rnd)
        plates = ["PP" + _digits(rnd, 8) for _ in range(2)]
        pages.append(
            _page(
                text=[
                    f"Certificate No. {cert} "
                    + " ".join(f"34.8x200x4x1451 {pl} 2 20.812 {heat} KOR" for pl in plates)
                ]
            )
        )
    return pages


# (routable?, brand snippet) — one kit per unlabeled doc. posco/citic kits
# carry real extractable content so routed docs produce entries; the other
# brands are detected but have no config (quarantine no_vendor_config); the
# 'not posco' kit scores below the 0.4 threshold (negative indicators).
_BRAND_KITS = (
    ("posco", "POSCO INTERNATIONAL CORPORATION Mill Test Certificate"),
    ("posco", "posco gwangyang works pohang iron & steel"),
    (None, "tata steel limited jamshedpur works"),
    ("citic", "CITIC steel 中信钢铁 special materials"),
    (None, "jfe steel corporation JFE holdings"),
    (None, "nippon steel 新日本製鐵 quality assurance"),
    (None, "baosteel 宝钢 宝山钢铁 certificate"),
    (None, "not posco and not tata generic trading house"),
)


def _unknown_pages(rnd: random.Random) -> list[dict]:
    kind, snippet = rnd.choice(_BRAND_KITS)
    pages = []
    for _ in range(rnd.randint(1, 3)):
        if kind == "posco":
            cert = f"{_digits(rnd, 6)}-FP{_digits(rnd, 2)}{_upper(rnd, 2)}-{_digits(rnd, 4)}A1-{_digits(rnd, 4)}"
            heat = _posco_heat(rnd)
            plates = ["PP" + _digits(rnd, 8) for _ in range(rnd.randint(1, 2))]
            content = f"Certificate No. {cert} " + " ".join(
                f"34.8x200x4x1451 {pl} 2 20.812 {heat} KOR" for pl in plates
            )
            pages.append(_page(text=[f"{snippet} {content} {_filler(rnd, 6)}"]))
        elif kind == "citic":
            cert = "Z" + _digits(rnd, 16)
            heat = "S" + _digits(rnd, 7)
            plate = "T5" + _digits(rnd, 9)
            pages.append(
                _page(
                    text=[
                        f"{snippet} Quality Certificate No. {cert} "
                        f"Heat No. {heat} Plate No. {plate} {_filler(rnd, 6)}"
                    ]
                )
            )
        else:
            pages.append(_page(text=[f"{snippet} {_filler(rnd, 12)}"]))
    return pages


def _mislabel_pages(rnd: random.Random) -> list[dict]:
    """Posco-branded certificate content that will be *labeled* jsw: the
    router's detection contradicts the label at confidence 1.0 ≥ 0.7 →
    quarantined as detection_mismatch, never extracted."""
    cert = f"{_digits(rnd, 6)}-FP{_digits(rnd, 2)}{_upper(rnd, 2)}-{_digits(rnd, 4)}A1-{_digits(rnd, 4)}"
    heat = _posco_heat(rnd)
    plates = ["PP" + _digits(rnd, 8) for _ in range(2)]
    line = (
        f"POSCO INTERNATIONAL CORPORATION Mill Test Certificate "
        f"Certificate No. {cert} "
        + " ".join(f"34.8x200x4x1451 {pl} 2 20.812 {heat} KOR" for pl in plates)
    )
    return [_page(text=[line])]


def _edge_pages(rnd: random.Random) -> list[dict]:
    """Docs whose every page fails (no entries anywhere)."""
    return [_page(text=[_filler(rnd, 15)]) for _ in range(rnd.randint(1, 3))]


_EDGE_VENDORS = ("citic", "hengrun", "posco")


def _doc_content(i: int, seed: int) -> tuple[str, list[dict]]:
    """(vendor, pages) for document index i — pure function of (seed, i)."""
    if i % GIANT_EVERY == GIANT_EVERY // 2:
        return "posco", _giant_pages(random.Random(f"{seed}:giant:{i}"))
    c = i % 100
    if c == 99:  # byte-identical duplicate of doc i-1 (admission-control fixture)
        vendor, pages = _doc_content(i - 1, seed)
        if (i // 100) % 2 == 1:
            # every other century the re-upload carries a DIFFERENT vendor
            # label → the router's vendor_mismatch quarantine fixture
            # (views/core.py:636-640); content (and thus file_hash) is
            # untouched — the hash covers spans only.
            vendor = "posco" if vendor != "posco" else "citic"
        return vendor, pages
    rnd = random.Random(f"{seed}:{i}")
    for lo, hi, vendor in VENDOR_SLOTS:
        if lo <= c < hi:
            if vendor == "citic":
                return "citic", _citic_pages(rnd)
            if vendor == "jsw":
                return "jsw", _jsw_pages(rnd)
            if vendor == "iraeta":
                return "iraeta", _iraeta_pages(rnd)
            if vendor == "hengrun":
                return "hengrun", _hengrun_pages(rnd)
            if vendor == "posco":
                return "posco", _posco_pages(rnd)
            if vendor == "":
                return "", _unknown_pages(rnd)
            if vendor == "mislabel":
                return "jsw", _mislabel_pages(rnd)
            if vendor == "edge":
                return _EDGE_VENDORS[c % len(_EDGE_VENDORS)], _edge_pages(rnd)
    raise AssertionError("unreachable")


def gen_doc(i: int, seed: int = 42) -> dict:
    """Generate document row i: {doc_id, vendor, file_hash, spans}."""
    vendor, pages = _doc_content(i, seed)
    doc_id = f"d{i:07d}"
    spans = []
    for p, page in enumerate(pages):
        for j, t in enumerate(page["text"]):
            spans.append({"kind": "text", "text": t, "media_ref": "", "offset": p * 1000 + j})
        for j, t in enumerate(page["table"]):
            spans.append({"kind": "table", "text": t, "media_ref": "", "offset": p * 1000 + 100 + j})
        gw, gh = page.get("geom") or kernel.DEFAULT_GEOM
        for j, t in enumerate(page["media"]):
            spans.append(
                {
                    "kind": "media",
                    "text": t,
                    "media_ref": f"img://{doc_id}/{p}/{j}?w={gw}&h={gh}",
                    "offset": p * 1000 + 500 + j,
                }
            )
    # Content hash over spans only (media_ref embeds doc_id, so exclude it):
    # byte-identical content ⇒ identical hash regardless of doc_id.
    h = hashlib.sha256()
    for s in spans:
        h.update(f"{s['kind']}\x1e{s['text']}\x1e{s['offset']}\x1f".encode("utf-8"))
    return {"doc_id": doc_id, "vendor": vendor, "file_hash": h.hexdigest(), "spans": spans}


def docs_for_sf(sf: float) -> int:
    return max(80, int(round(sf * 80000)))


def gen_corpus(n_docs: int, seed: int = 42) -> list[dict]:
    return [gen_doc(i, seed) for i in range(n_docs)]


# --- writers ------------------------------------------------------------------

_ARROW_SCHEMA = None


def arrow_schema():
    import pyarrow as pa

    global _ARROW_SCHEMA
    if _ARROW_SCHEMA is None:
        _ARROW_SCHEMA = pa.schema(
            [
                pa.field("doc_id", pa.string()),
                pa.field("vendor", pa.string()),
                pa.field("file_hash", pa.string()),
                pa.field(
                    "spans",
                    pa.list_(
                        pa.struct(
                            [
                                pa.field("kind", pa.string()),
                                pa.field("text", pa.string()),
                                pa.field("media_ref", pa.string()),
                                pa.field("offset", pa.int32()),
                            ]
                        )
                    ),
                ),
            ]
        )
    return _ARROW_SCHEMA


def write_corpus_parquet(path: str, n_docs: int, seed: int = 42) -> str:
    """Driver-side writer (tests / small corpora)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_corpus(n_docs, seed)
    table = pa.Table.from_pylist(rows, schema=arrow_schema())
    pq.write_table(table, path)
    return path


def spark_schema():
    """The documents-table schema as a Spark StructType (input contract)."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("doc_id", StringType()),
            StructField("vendor", StringType()),
            StructField("file_hash", StringType()),
            StructField(
                "spans",
                ArrayType(
                    StructType(
                        [
                            StructField("kind", StringType()),
                            StructField("text", StringType()),
                            StructField("media_ref", StringType()),
                            StructField("offset", IntegerType()),
                        ]
                    )
                ),
            ),
        ]
    )
