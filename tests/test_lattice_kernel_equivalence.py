"""Oracle parity for the lattice kernel: texttables.lattice_cells_from_docs
(python line parse + per-page grid in one pass) must yield exactly the
cells of its DuckDB twin, q45's oracle SQL, over hand-built documents —
duplicate-coordinate pooling of the mutual-intersection counts, strict
band containment, the (x, txt) cell-text collation, page carry-forward
(one pinned divergence, on a page number that decreases) and
anchored-pattern rejection of near-miss lines.

The oracle text is never edited: the test slices q45's SQL at its
``rawlines`` CTE and feeds it a ``doc(doc_id, text)`` table of fixtures
in place of the lineitem-built documents."""

from __future__ import annotations

import duckdb
import pandas as pd

from pdf_extraction_ai_agent_spark.entry_queries_ext6 import _q45_sql
from pdf_extraction_ai_agent_spark.operators.texttables import lattice_cells_from_docs

GRID = "\n".join(
    [f"45 {y} m 495 {y} l S" for y in (258, 226, 194)]
    + [f"{x} 194 m {x} 258 l S" for x in (45, 270, 495)]
)


def _oracle_cells(docs) -> set:
    sql = _q45_sql()
    lattice_sql = "WITH " + sql[sql.index("rawlines AS (") :]
    con = duckdb.connect()
    try:
        con.register("doc", pd.DataFrame(docs, columns=["doc_id", "text"]))
        return {tuple(r) for r in con.execute(lattice_sql).fetchall()}
    finally:
        con.close()


def _kernel_cells(spark, docs) -> set:
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {tuple(r) for r in lattice_cells_from_docs(df).collect()}


def _doc(doc_id: int, body: str):
    return (doc_id, "%PDF-SIM 1.0\n%%PAGE 1\n" + body)


def test_fused_kernel_matches_oracle_grid_semantics(spark):
    docs = [
        # regular 2x2 grid with jittered text
        _doc(1, GRID + "\n" + "\n".join(
            ["BT 50 240 Td (a) Tj ET", "BT 300 240 Td (b) Tj ET",
             "BT 60 200 Td (z) Tj ET", "BT 60 200 Td (a) Tj ET",
             "BT 299 201 Td (q) Tj ET"]
        )),
        # duplicate-y h-rules (count pooling), an unvalidated stray rule,
        # and a run outside every band
        _doc(2, "\n".join(
            ["45 258 m 200 258 l S", "250 258 m 495 258 l S",
             "45 194 m 495 194 l S", "45 100 m 495 100 l S",
             "45 194 m 45 258 l S", "495 194 m 495 258 l S",
             "BT 100 230 Td (mid) Tj ET", "BT 100 50 Td (below) Tj ET"]
        )),
        # no grid at all (rules that never cross)
        _doc(3, "45 258 m 495 258 l S\nBT 50 240 Td (x) Tj ET"),
        # multi-page: grid only on page 2
        (4, "%PDF-SIM 1.0\n%%PAGE 1\nBT 10 10 Td (p1) Tj ET\n%%PAGE 2\n"
            + "\n".join(
                [f"45 {y} m 495 {y} l S" for y in (258, 194)]
                + [f"{x} 194 m {x} 258 l S" for x in (45, 495)]
                + ["BT 50 240 Td (only) Tj ET", "BT 51 240 Td (cell) Tj ET"])),
    ]
    kernel = _kernel_cells(spark, docs)
    assert kernel == _oracle_cells(docs)
    assert kernel, "fixture produced no cells — test would be vacuous"
    # the duplicate-y pooling case must actually produce doc 2's band
    assert any(r[0] == 2 for r in kernel)


def test_fused_kernel_matches_oracle_line_parse(spark):
    """Page carry-forward (elements before the first %%PAGE dropped,
    repeated markers pooled), anchored-pattern rejection of near-miss
    lines, and number-format edges the regex admits."""
    docs = [
        # pre-page elements dropped; near-miss lines (trailing space, extra
        # token after the page number, missing ET) must parse as NOTHING
        (1, "BT 50 240 Td (dropme) Tj ET\n10 194 m 10 258 l S\n"
            "%%PAGE 1 extra\n%%PAGE 1\n" + GRID
            + "\nBT 50 240 Td (kept) Tj ET \nBT 50 240 Td (kept) Tj ET"
            + "\nBT 60 200 Td (b) Tj\nBT 300. 240.5 Td (dot) Tj ET"),
        # a page number that comes back after a higher one: see below
        (2, "%%PAGE 1\n" + GRID + "\n%%PAGE 2\nBT 1 1 Td (p2) Tj ET\n"
            "%%PAGE 1\nBT 60 200 Td (late) Tj ET"),
        # a repeated marker pools its elements into the one page grid
        (6, "%%PAGE 1\n" + GRID + "\n%%PAGE 1\nBT 60 200 Td (again) Tj ET"),
        # parens content with regex-special chars; empty text run
        (3, "%%PAGE 1\n" + GRID
            + "\nBT 60 240 Td (a(b)c$^.*) Tj ET\nBT 70 240 Td () Tj ET"),
        # a [0-9.]+ number no double parses: the run is dropped
        (4, "%%PAGE 1\n" + GRID + "\nBT 1..2 240 Td (bad) Tj ET"
            "\nBT 80 240 Td (good) Tj ET"),
        (5, ""),  # empty doc
    ]
    kernel = _kernel_cells(spark, docs)
    oracle = _oracle_cells(docs)
    # Known twin divergence, pinned exactly: the kernel carries the latest
    # %%PAGE marker forward (the spec reading, as the reference extractor
    # and pdf_runs do), so doc 2's "late" run pools into page 1's grid; the
    # oracle's running MAX of markers files it under page 2, which has no
    # grid.  The two agree whenever page numbers never decrease, as in
    # every q45 document.
    assert kernel - oracle == {(2, 1, 1, 0, "late")}
    assert oracle <= kernel
    assert {r[0] for r in kernel} == {1, 2, 3, 4, 6}
    assert (6, 1, 1, 0, "again") in kernel


def test_fused_kernel_matches_oracle_across_arrow_batches(spark):
    """4000 docs span several Arrow batches (2048 rows each) per task;
    every doc's grid must come out exactly once."""
    body = (
        GRID
        + "\nBT 50 240 Td (a{i}) Tj ET\nBT 300 240 Td (b{i}) Tj ET"
        + "\nBT 60 200 Td (c{i}) Tj ET"
    )
    docs = [_doc(i, body.replace("{i}", str(i))) for i in range(4000)]
    kernel = _kernel_cells(spark, docs)
    assert kernel == _oracle_cells(docs)
    assert len(kernel) == 4000 * 3  # 2x2 grid, three occupied cells per doc
