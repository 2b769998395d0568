"""Literal quoting for Spark SQL text built at plan time.

Plan-time constants (brand names, regexes, codes) are spliced into SQL
text instead of being built as ``F.lit`` trees: one ``F.expr`` parse is
one JVM round trip, where a Column tree costs one per node.
"""

from __future__ import annotations


def sql_string(value: str | None) -> str:
    """Spark SQL literal that the parser reads back as exactly ``value``.

    Spark unescapes backslash sequences inside string literals (``'\\d'``
    parses as ``d``), so backslashes are doubled and quotes escaped.
    """
    if value is None:
        return "CAST(NULL AS STRING)"
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
