"""The query registry (pdf_extraction_ai_agent_spark/entry_registry.py):
one ``register`` line per query, names unique, and reading it stays light."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every query registered with a pinned-payload builder (q49-family real-PDF
# round trips, the scanned/rendered corpora and q97's annotated PDFs)
PINNED = {
    "q49_real_pdf_roundtrip", "q51_objstm_pdf_roundtrip",
    "q54_encrypted_pdf_roundtrip", "q55_cid_pdf_roundtrip",
    "q56_aes_pdf_roundtrip", "q57_differences_pdf_roundtrip",
    "q58_aes256_pdf_roundtrip", "q59_font_encodings_pdf_roundtrip",
    "q60_password_pdf_roundtrip", "q61_filtered_pdf_roundtrip",
    "q62_inline_image_pdf_roundtrip", "q63_incremental_pdf_roundtrip",
    "q64_form_xobject_pdf_roundtrip", "q65_encrypted_objstm_pdf_roundtrip",
    "q66_tagged_pdf_roundtrip", "q67_type3_pdf_roundtrip",
    "q68_hybrid_pdf_roundtrip", "q69_scanned_pdf_ocr_roundtrip",
    "q70_noisy_scan_ocr_roundtrip", "q71_render_pages_roundtrip",
    "q72_ctm_pdf_roundtrip", "q73_ctm_form_roundtrip",
    "q74_tm_matrix_roundtrip", "q75_inherited_resources_roundtrip",
    "q76_rotate_pdf_roundtrip", "q77_actualtext_pdf_roundtrip",
    "q78_tj_kern_pdf_roundtrip", "q97_annotations_ignored",
}

# engine and oracle modules a registry read must not pull in
HEAVY = [
    "pandas", "pyarrow", "duckdb", "cryptography",
    "pdf_extraction_ai_agent_spark.operators.extract",
    "pdf_extraction_ai_agent_spark.operators.pdftext",
    "pdf_extraction_ai_agent_spark.oracle.reference_extractor",
    "pdf_extraction_ai_agent_spark.fixtures.minipdf",
]


def _fresh(code: str):
    """Run ``code`` in a fresh interpreter at the repo root; it prints one
    JSON line, which is returned decoded."""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, check=True,
        capture_output=True, text=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_pinned_set_does_not_depend_on_import_order():
    got = _fresh(
        "import json, __spark_entry__ as e\n"
        "before = sorted(e.pinned_queries())\n"
        "e.queries()\n"
        "print(json.dumps([before, sorted(e.pinned_queries())]))\n"
    )
    before, after = got
    assert set(before) == PINNED
    assert set(after) == PINNED


def test_register_rejects_a_name_already_registered():
    from pdf_extraction_ai_agent_spark import entry_registry

    reg = entry_registry.entries()
    first = reg["q01_parse_fields"]
    with pytest.raises(ValueError, match="q01_parse_fields"):
        entry_registry.register(
            "q01_parse_fields", lambda spark, sf_dir: None, "SELECT 1"
        )
    assert entry_registry.entries()["q01_parse_fields"] is first


def test_registry_reads_import_no_engine_modules():
    loaded = _fresh(
        "import json, sys, __spark_entry__ as e\n"
        "e.queries(); e.oracle_sql(); e.pinned_queries()\n"
        f"print(json.dumps([m for m in {HEAVY!r} if m in sys.modules]))\n"
    )
    assert loaded == []
