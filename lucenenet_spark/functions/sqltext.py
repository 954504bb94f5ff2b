"""Python values as Spark SQL literal text.

Query plans are built as SQL expression strings (one parse per plan node
instead of one gateway call per Column operator), so every value a plan
inlines goes through `lit`:

- strings are single-quoted with ``\\`` and ``'`` backslash-escaped, so
  any term (quotes, backslashes, ``%``/``_``, non-ASCII) is one literal
  and never SQL syntax (default parser settings:
  spark.sql.parser.escapedStringLiterals=false);
- floats are written ``repr(x) + "D"``: a DOUBLE literal that parses back
  to the same bits (a bare ``1.0`` would be a DECIMAL).  NaN and ±inf
  have no literal form (``repr`` gives ``inf``, which Spark would read as
  a column name) and raise ValueError;
- negative numbers are parenthesized, so ``x - -1`` never becomes a
  ``--`` comment.
"""

from __future__ import annotations

import math


def lit(value) -> str:
    """SQL literal text for a bool, int, float, str or None."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        s = str(value)
    elif isinstance(value, float):
        if not math.isfinite(value):
            raise ValueError(f"no SQL literal for the double {value!r}")
        s = repr(value) + "D"
    elif isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    else:
        raise TypeError(f"no SQL literal for {type(value).__name__}")
    return f"({s})" if s.startswith("-") else s
