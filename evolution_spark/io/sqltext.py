"""Quoting for SQL text that plan builders hand to ``F.expr``/``selectExpr``.

Builders emit one parsed SQL expression instead of chains of Column-API
calls because every Column call is a py4j round trip; these two helpers
make that safe for arbitrary column names and string values.
"""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """Backtick-quote a column name (backticks inside the name escape by
    doubling, per the SQL parser)."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """Single-quoted SQL string literal for ``value``. Backslash and quote
    are backslash-escaped, which is how Spark's parser unescapes literals
    under its default ``spark.sql.parser.escapedStringLiterals=false``;
    every other character stands for itself."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
