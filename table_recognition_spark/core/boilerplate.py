"""Boilerplate-strip / main-content classifier for text spans.

The reference has no text path at all (it never reads OCR text content,
graph.py:55-59); the north rule requires an "HTML boilerplate strip / DOM
heuristics" classifier. Canonical spec, frozen here:

1. Remove container blocks whose tag is boilerplate:
   nav, header, footer, aside, script, style, form, noscript —
   including their content (non-greedy, case-insensitive, dot-matches-all).
   Applied repeatedly so sibling blocks all go; nesting of a boilerplate
   tag inside another boilerplate block is not supported (fixtures never
   nest them) — this keeps the rule expressible as a pure regex chain that
   is identical in Python `re`, java.util.regex (Spark `regexp_replace`)
   and DuckDB RE2.
2. Strip every remaining tag ``<[^>]*>`` → " ".
3. Collapse whitespace runs to a single space; trim.

The same three regexes run (a) in the numpy oracle via Python ``re``,
(b) JVM-side via chained ``F.regexp_replace`` (whole-stage codegen — the
pipeline's path), and (c) in DuckDB SQL for the oracle queries. Parity
across all three is pinned by tests.
"""

from __future__ import annotations

import re

BOILER_TAGS = "nav|header|footer|aside|script|style|form|noscript"

# (?i s) flags written inline so the identical pattern string works in
# Python re, Java regex, and RE2 (DuckDB).
BLOCK_PATTERN = rf"(?is)<({BOILER_TAGS})\b[^>]*>.*?</\1\s*>"
TAG_PATTERN = r"(?s)<[^>]*>"
WS_PATTERN = r"\s+"

_BLOCK_RE = re.compile(BLOCK_PATTERN)
_TAG_RE = re.compile(TAG_PATTERN)
_WS_RE = re.compile(WS_PATTERN)


def strip_boilerplate(text: str) -> str:
    """Single-string reference implementation."""
    t = _BLOCK_RE.sub(" ", text)
    t = _TAG_RE.sub(" ", t)
    t = _WS_RE.sub(" ", t)
    return t.strip()


def spark_strip_expr(col):
    """JVM-side column expression (chained regexp_replace; codegen'd)."""
    from pyspark.sql import functions as F

    t = F.regexp_replace(col, BLOCK_PATTERN, " ")
    t = F.regexp_replace(t, TAG_PATTERN, " ")
    t = F.regexp_replace(t, WS_PATTERN, " ")
    return F.trim(t)
