"""Quoting for expressions built as SQL text.

Each Column operation in classic PySpark costs several py4j round-trips,
so expressions with many terms (the decode walks, the routing CASE, the
DLQ offset-range predicate, the vector folds) are assembled as one SQL string in Python
and parsed with a single ``F.expr``. Caller-supplied names, values and
types go into that text only through these helpers.
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


def sql_type(dt) -> str:
    """``dt`` as SQL type text, every struct field name quoted at any
    depth (``simpleString()`` leaves them bare, which breaks a ``CAST``
    on a field named ``my-value`` or ``o'clock``)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, StructType):
        fields = ", ".join(f"{quote_ident(f.name)}: {sql_type(f.dataType)}" for f in dt.fields)
        return f"struct<{fields}>"
    if isinstance(dt, ArrayType):
        return f"array<{sql_type(dt.elementType)}>"
    if isinstance(dt, MapType):
        return f"map<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()
