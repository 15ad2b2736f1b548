"""C1/C2 — LOB classification as native Catalyst expressions (no UDF).

Reference:
- C1 single-label keyword scorer  claude_pdf_extractor.py:92-132
  (count occurrences of each LOB's keyword list in UPPER(text), argmax,
  'UNKNOWN' when all zero; ties resolved in dict order AUTO → GL → WC,
  matching Python's max() over insertion-ordered dicts)
- C2 multi-label membership       text_lob_llm_extractor.py:231-244
  (padded-token membership; ['AUTO'] fallback — the production path runs
  with use_llm=False, text_lob_llm_extractor.py:556)

Occurrence counting is `size(split(upper(text), kw)) - 1` — pure codegen;
at 100 TB this stays inside whole-stage codegen with zero Python cost.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import spec


def _count_occurrences(upper_text: Column, keyword: str) -> Column:
    # split() takes a regex — quote the literal keyword
    return F.size(F.split(upper_text, re.escape(keyword))) - 1


def lob_score_col(text: Column, lob: str) -> Column:
    up = F.upper(text)
    scores = [_count_occurrences(up, kw) for kw in spec.LOB_PATTERNS_C1[lob]]
    total = scores[0]
    for s in scores[1:]:
        total = total + s
    return total


def classify_lob_c1(text: Column) -> Column:
    """C1: argmax of keyword-occurrence scores; UNKNOWN if all zero."""
    scores = {lob: lob_score_col(text, lob) for lob in spec.LOB_C1_ORDER}
    # argmax with first-wins tiebreak (Python max() semantics): a LOB wins
    # iff its score is strictly greater than every *earlier* LOB's score and
    # >= every later LOB's score.
    best = F.lit("UNKNOWN")
    best_score = F.lit(0)
    # fold right-to-left so earlier LOBs win ties
    for lob in reversed(spec.LOB_C1_ORDER):
        s = scores[lob]
        take = (s >= best_score) & (s > 0)
        best = F.when(take, F.lit(lob)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return best


def classify_lobs_c2(text: Column) -> Column:
    """C2: array of LOB labels by padded-token membership; ['AUTO'] fallback.

    Matches the heuristic branch of classify_lobs_multi
    (text_lob_llm_extractor.py:231-244): labels appear in fixed order
    AUTO, GENERAL LIABILITY, WC.
    """
    up = F.upper(text)
    hits = []
    for lob in ["AUTO", "GENERAL LIABILITY", "WC"]:
        any_hit = None
        for token in spec.LOB_HITS_C2[lob]:
            cond = up.contains(token)
            any_hit = cond if any_hit is None else (any_hit | cond)
        hits.append(F.when(any_hit, F.lit(lob)))
    arr = F.array_compact(F.array(*hits))
    return F.when(F.size(arr) > 0, arr).otherwise(F.array(F.lit("AUTO")))

