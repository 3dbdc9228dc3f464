"""Column-name formatting: the reference's legacy escaping applied before
name comparison (AegisthusKeySortingComparator.legacyColumnNameFormat,
aegisthus-hadoop/.../AegisthusKeySortingComparator.java:30-32):
whitespace/control chars -> space, then backslash and quote escaped.

Cell-name ORDER under a comparator is ``functions.sortkeys``.
"""

from __future__ import annotations

from pyspark.sql import Column

from .sqltext import apply_sql, string_lit

#: Java ``[\\s\\p{Cntrl}]`` — whitespace or ASCII control characters
_CNTRL_OR_SPACE = "[\\s\\x00-\\x1f\\x7f]"


def legacy_name_sql(s: str) -> str:
    """SQL text: the legacy escaping of string ``s``."""
    backslash, quote = "\\", '"'
    spaced = f"regexp_replace({s}, {string_lit(_CNTRL_OR_SPACE)}, ' ')"
    escaped = f"replace({spaced}, {string_lit(backslash)}, {string_lit(backslash * 2)})"
    return f"replace({escaped}, {string_lit(quote)}, {string_lit(backslash + quote)})"


def legacy_column_name_format(col: str) -> Column:
    """The legacy escaping of the string column named ``col``."""
    return apply_sql(col, legacy_name_sql)
