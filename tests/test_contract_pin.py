"""Frozen driver contract: ``queries()`` names in order and every
``oracle_sql()`` text, byte for byte.  Code may move or go away behind the
queries; this hash may not change unless the contract itself is meant to."""

from __future__ import annotations

import hashlib

CONTRACT_SHA256 = "e7ad4878a98f2b0e6811f95ad97eb701717a2178ffb581bd285b68a34960c3f1"


def test_query_names_and_oracle_text_are_pinned():
    import __spark_entry__ as entry

    h = hashlib.sha256()
    for name in entry.queries():
        h.update(name.encode() + b"\0")
    for name, sql in entry.oracle_sql().items():
        h.update(name.encode() + b"\0" + sql.encode() + b"\0")
    assert h.hexdigest() == CONTRACT_SHA256
