"""JVM-side Spark expression library for the aegisthus type edges.

Every expression here is a SQL text template — a Python function from
operand SQL text to SQL text (``functions.sqltext``) — built from Spark's
built-in functions, so a plan reaches the JVM in one ``F.expr`` call per
projection and no Python UDF runs in any hot path. The public helpers
below apply a template to a named column and return a Column.
"""

from .casts import (  # noqa: F401
    hex_to_chararray,
    hex_to_double,
    hex_to_float,
    hex_to_int,
    hex_to_long,
)
from .naming import legacy_column_name_format  # noqa: F401
