"""SQL text as the one form of an expression template.

Every ``F.*`` call, Python lambda and Column operation is a separate py4j
round trip (plus a call-site capture), so a plan built from Column calls
costs thousands of driver round trips before any task runs. A template
written as SQL text reaches the JVM in one ``F.expr``/``selectExpr`` call.
Templates here and in the sibling modules are Python functions from
operand SQL text to SQL text; :func:`apply_sql` applies one to a named
column.

Lambda variables inside templates come from :func:`lam` and :func:`let`,
named by their nesting depth (``__v0``, ``__w1``, ...): a variable bound
inside another binding's body gets a fresh name, so no template captures
an operand's variable, and callers' own lambda variables (plain names)
never clash with them.
"""

from __future__ import annotations

import re
import threading
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 'the rest of the string' as a substring length literal
REST = (1 << 31) - 1

#: ``depth``: how many :func:`lam` bodies this thread is building right
#: now — the next bound variables' suffix, so nested bindings never
#: shadow one another
_building = threading.local()

#: a column or lambda-variable reference, possibly with field accesses:
#: binding one with :func:`let` would only add a lambda
_REFERENCE = re.compile(r"(?:`[^`]*`|[A-Za-z_]\w*)(?:\.(?:`[^`]*`|[A-Za-z_]\w*))*")


def quote_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string_lit(s: str) -> str:
    """A Python string as a SQL string literal (backslash escapes are on
    by default in Spark's parser)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lam(body: Callable[..., str], arity: int = 1) -> str:
    """SQL text of a lambda ``(a, b) -> body(a, b)`` whose ``arity``
    variables are fresh at the current nesting depth."""
    depth = getattr(_building, "depth", 0)
    names = [f"__{c}{depth}" for c in "vwxyz"[:arity]]
    _building.depth = depth + 1
    try:
        inner = body(*names)
    finally:
        _building.depth = depth
    params = names[0] if arity == 1 else "(" + ", ".join(names) + ")"
    return f"{params} -> {inner}"


def let(value: str, body: Callable[[str], str]) -> str:
    """SQL text: ``body`` over ``value`` bound once as a lambda variable
    (SQL has no let), ``element_at(transform(array(value), v -> body), 1)``.

    Every reference inside the body is then a leaf instead of a copy of
    the value's text. Expression size is the binding design constraint:
    an unbound digit string was referenced ~6x inside the bignum decode,
    and under composite sort-key levels the compounding pushed
    sst_decode_varint's analysis+codegen from ~4 s to ~75 s (measured in
    round 9). A value that is already a plain reference is substituted
    as it is. ``value`` is evaluated eagerly, so it must not be an
    expression that can raise where the text it replaces was guarded by
    a CASE: bind inside the guarding branch.
    """
    if _REFERENCE.fullmatch(value):
        return body(value)
    return f"element_at(transform(array({value}), {lam(body)}), 1)"


def apply_sql(col: str, template: Callable[[str], str]) -> Column:
    """``template`` applied to the column named ``col``."""
    return F.expr(template(quote_ident(col)))
