"""SQL text as the one form of an expression template.

Every ``F.*`` call, Python lambda and Column operation is a separate py4j
round trip (plus a call-site capture), so a plan built from Column calls
costs thousands of driver round trips before any task runs. A template
written as SQL text reaches the JVM in one ``F.expr``/``selectExpr`` call.
Templates here are Python functions from operand SQL text to SQL text;
:func:`apply_sql` gives callers that hold a Column the same template.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def quote_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string_lit(s: str) -> str:
    """A Python string as a SQL string literal (backslash escapes are on
    by default in Spark's parser)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def apply_sql(col: str | Column, template: Callable[[str], str]) -> Column:
    """``template`` applied to a column name or a Column.

    A name enters the text quoted. SQL text cannot hold a Column, but a
    SQL lambda may read the variable of any lambda around it: the Column
    is bound as the variable of a one-element ``transform``, and the text
    reads that variable by its name inside a one-element SQL ``transform``.
    """
    if isinstance(col, str):
        return F.expr(template(quote_ident(col)))

    def body(v: Column) -> Column:
        var = quote_ident(v._jc.toString())
        return F.expr(f"element_at(transform(array(0), _ -> {template(var)}), 1)")

    return F.element_at(F.transform(F.array(col), body), 1)
