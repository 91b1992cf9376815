"""SQL text for Column expressions.

Every PySpark Column operator (``F.col``, ``F.lit``, ``+``, ``F.when``, a
lambda) is one Py4J round trip to the JVM, and a list literal costs one
``lit`` per element.  An expression written as SQL text and parsed with
``F.expr`` costs a few round trips however large it is.  These helpers
render identifiers and literals so the parsed expression is the same
Catalyst tree the Column operators would have built.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def quote(name: str) -> str:
    """One back-quoted identifier: a column or struct field name taken
    whole, dots included."""
    return "`" + name.replace("`", "``") + "`"


def ident(name: str) -> str:
    """A column reference with ``F.col``'s name semantics: dots select
    struct fields, and a name the caller already back-quoted passes
    through unchanged."""
    if "`" in name:
        return name
    return ".".join(quote(part) for part in name.split("."))


def double(x: float) -> str:
    """A double literal that parses back to the same bits: ``repr`` is
    the shortest string that round-trips, and the ``D`` suffix keeps it
    a double instead of a decimal.  Non-finite values go through a cast
    from their string names, as SQL has no literal for them."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def double_array(values) -> str:
    """SQL for an ``array<double>`` literal; nested lists give nested
    arrays (IVF centroids, LSH planes)."""
    return "array({})".format(
        ", ".join(
            double_array(v) if isinstance(v, (list, tuple)) else double(v)
            for v in values
        )
    )


def double_array_lit(values) -> Column:
    """``F.lit(list_of_floats)`` in one round trip instead of one per
    element.  The values are bit-identical; an array holding a
    non-finite value is typed ``containsNull = true`` (the string cast
    is nullable), which changes no result."""
    return F.expr(double_array(values))


def string(s: str) -> str:
    """A single-quoted string literal."""
    return "'{}'".format(str(s).replace("\\", "\\\\").replace("'", "\\'"))


def string_array(values) -> str:
    """SQL for an ``array<string>`` literal."""
    return "array({})".format(", ".join(string(v) for v in values))


# the epoch millis of 0001-01-01 and of 9999-12-31 23:59:59.999
MILLIS_RANGE = "-62135596800000 AND 253402300799999"


def timestamp_millis(ms: str) -> str:
    """``timestamp_millis(ms)`` that is NULL outside years 1-9999: Spark's
    own raises ``long overflow`` for a large value and fails the job."""
    return f"CASE WHEN {ms} BETWEEN {MILLIS_RANGE} THEN timestamp_millis({ms}) END"


def timestamp_seconds(secs: str) -> str:
    """``timestamp_seconds(secs)`` that is NULL outside years 1-9999:
    Spark's own saturates at year 294247, a value Python cannot collect."""
    return f"CASE WHEN {secs} * 1000 BETWEEN {MILLIS_RANGE} THEN timestamp_seconds({secs}) END"


def iso_timestamp(text: str) -> str:
    """``try_to_timestamp(text)`` for text that starts with a 4-digit year,
    else NULL: ``try_to_timestamp('123456')`` is year 123456, a value
    Python cannot collect."""
    return rf"CASE WHEN {text} RLIKE '^\\s*\\d{{4}}(?!\\d)' THEN try_to_timestamp({text}) END"
