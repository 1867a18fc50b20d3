"""Vendor extraction configs — the reference's declarative "query language".

These are data fixtures transcribed (in spirit) from the reference's
``extractor/vendor_configs/*.json`` (citic/hengrum/iraeta/jsw/posco_steel.json).
Each config is a per-vendor extraction program: regex per field plus modifiers
(match_type / share_value / fallback_value / table_column / multi_match /
fallback_strategy). Keys the reference engine never reads (extract_all,
required, ocr_alternatives, prefix, search_header, table_settings,
validation_rules, metadata, multilingual, document_quality) are omitted —
they are documentation-only in the reference (see SURVEY.md §1.3).

At runtime the whole dict is broadcast to executors and consumed inside the
Arrow extraction UDF (pdf_parser_spark.extraction.udfs).
"""

from __future__ import annotations

FIELD_KEYS = ("PLATE_NO", "HEAT_NO", "TEST_CERT_NO")

VENDOR_CONFIGS: dict[str, dict] = {
    # vendor_configs/citic_steel.json — bare-string patterns, text mode.
    "citic": {
        "vendor_id": "citic",
        "vendor_name": "CITIC Pacific Special Steel",
        "fields": {
            "PLATE_NO": "\\bT5\\d{9}\\b",
            "HEAT_NO": "\\bS\\d{6,10}\\b",
            "TEST_CERT_NO": "\\bZ\\d{15,18}\\b",
        },
    },
    # vendor_configs/jsw_steel.json — bare strings + one capture group.
    "jsw": {
        "vendor_id": "jsw",
        "vendor_name": "JSW Steel",
        "fields": {
            "PLATE_NO": "\\b\\d{2}[A-Z]{2}\\d{4}[A-Z]\\d\\b",
            "HEAT_NO": "\\b[A-Z]\\d{6}\\b",
            "TEST_CERT_NO": "TEST CERTIFICATE NO\\.\\s*:\\s*([A-Z0-9\\/\\-]+)",
        },
    },
    # vendor_configs/iraeta_steel.json — object fields, line_by_line/global,
    # share_value, multi_match.
    "iraeta": {
        "vendor_id": "iraeta",
        "vendor_name": "Iraeta Energy Equipment",
        "extraction_mode": "text",
        "multi_match": True,
        "fields": {
            "PLATE_NO": {
                "pattern": "\\b(24-3765-(?:11|12|13|14|15|16|17|18))\\b",
                "match_type": "line_by_line",
            },
            "HEAT_NO": {
                "pattern": "\\b(SI24-4260)\\b",
                "match_type": "global",
                "share_value": True,
            },
            "TEST_CERT_NO": {
                "pattern": "\\b(2024-3765-\\d{3})\\b",
                "match_type": "global",
                "share_value": True,
            },
        },
    },
    # vendor_configs/hengrum_steel.json — table mode, CJK alternations,
    # fallback_value, poor-OCR fallback_strategy, multi_match.
    "hengrun": {
        "vendor_id": "hengrun",
        "vendor_name": "Jiangyin Hengrun Ring Forging",
        "extraction_mode": "table",
        "multi_match": True,
        "fallback_strategy": {
            "enabled": True,
            "fallback_entries": [
                {"PLATE_NO": "6-0003"},
                {"PLATE_NO": "6-0002"},
            ],
            "conditions": {
                "min_extracted_entries": 0,
                "require_certificate": True,
                "ocr_quality_threshold": 500,
            },
        },
        "fields": {
            "PLATE_NO": {
                "pattern": "\\b([6-9]\\-\\d{4})\\b|(?:Part No\\.?|\u4ea7\u54c1\u7f16\u53f7)[\\s:\uff1a]*([6-9]\\-\\d{4})|\\b(\\d+\\-\\d{4})\\b",
                "table_column": "Part No.",
                "match_type": "line_by_line",
            },
            "HEAT_NO": {
                "pattern": "\\b(S\\d+[A-Z]*X?)\\b|\\b(SI\\d{2}-\\d{4})\\b|(?:Heat No\\.?|\u7194\u70bc\u53f7)[\\s:\uff1a]*(S[A-Z0-9-]+)",
                "table_column": "Heat No.",
                "match_type": "global",
                "share_value": True,
                "fallback_value": "S_UNKNOWN",
            },
            "TEST_CERT_NO": {
                "pattern": "\\b(HR\\d{11})\\b|(?:Certificate No\\.[^:]*:\\s*)([A-Z0-9\\-]+)",
                "table_column": "Certificate No.",
                "match_type": "first",
                "share_value": True,
            },
        },
    },
    # vendor_configs/posco_steel.json — table mode, alternation-heavy patterns,
    # OCR heat corrections (posco_corrections.py), multi_match.
    "posco": {
        "vendor_id": "posco",
        "vendor_name": "posco_steel",
        "extraction_mode": "table",
        "multi_match": True,
        "fields": {
            "PLATE_NO": {
                "pattern": (
                    "\\b(PP\\d{8})\\b|\\b(PP\\d{8}-\\d{4})\\b"
                    "|\\b(PP\\d{3}[A-Z]\\d{4}(?:-[A-Z]\\d{4})?)\\b"
                    "|\\b(PP\\d{6}[A-Z]=\\d{3})\\b|\\b(PP\\d{6}H=\\d{3})\\b"
                ),
                "table_column": "Product No.",
                "match_type": "line_by_line",
            },
            "HEAT_NO": {
                "pattern": "\\b(SU\\d{5})\\b|\\b(SU3[0-9][6-9][0-9]{2})\\b",
                "table_column": "Heat No.",
                "match_type": "line_by_line",
                "share_value": True,
            },
            "TEST_CERT_NO": {
                "pattern": (
                    "Certificate\\s+No\\.\\s*[:]*\\s*"
                    "(\\d{6}-FP\\d{2}[A-Z]{2}-\\d{4}[A-Z]\\d-\\d{4})"
                ),
                "match_type": "first",
                "share_value": True,
            },
        },
    },
}
