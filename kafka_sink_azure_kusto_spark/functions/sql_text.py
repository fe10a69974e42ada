"""Quoting for expressions built as SQL text.

Each Column operation in classic PySpark costs several py4j round-trips,
so expressions with many terms (the decode walks, the routing CASE, the
DLQ offset-range predicate) are assembled as one SQL string in Python
and parsed with a single ``F.expr``. Caller-supplied names and values go
into that text only through these two helpers.
"""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled) — safe for hyphens, spaces, quotes and reserved words, and
    also accepted by ``F.col``."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(text: str) -> str:
    """``text`` as a single-quoted SQL string literal (backslashes and
    quotes escaped)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"
