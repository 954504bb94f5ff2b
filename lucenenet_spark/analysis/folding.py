"""ASCII folding — ISOLatin1AccentFilter / ASCIIFoldingFilter analogue
(src/Lucene.Net/Analysis/ASCIIFoldingFilter.cs:68,
ISOLatin1AccentFilter.cs).

An explicit char map (the Latin-1 Supplement + Latin Extended-A subset the
ISOLatin1 filter covers, single-char foldings) shared verbatim by three
implementations so they fold identically:

  1. pure-Python str.translate (query-side + invert kernels)
  2. SQL translate(...) text, the same in Spark SQL (the folded TermRange
     collation's term predicate) and DuckDB (oracle SQL)

Multi-char foldings of the reference (AE->AE ligature, ss for eszett,
TH/th for thorn, OE/oe) are folded to their FIRST letter here — a
documented single-char-map simplification that keeps the translate
primitive usable on every engine.  Folding runs BEFORE lower(), so both
cases are mapped.
"""

from __future__ import annotations

FOLD_SRC = (
    "ÀÁÂÃÄÅàáâãäåÇçÈÉÊËèéêëÌÍÎÏìíîïÑñÒÓÔÕÖØòóôõöøÙÚÛÜùúûüÝŸýÿ"
    "ÆæĐđŒœÞþßŠšŽžČčĆćĀāĒēĪīŌōŪūĂăĄąĖėĘęĞğİıŁłŃńŞşŢţŰűŻżŹź"
)
FOLD_DST = (
    "AAAAAAaaaaaaCcEEEEeeeeIIIIiiiiNnOOOOOOooooooUUUUuuuuYYyy"
    "AaDdOoTtsSsZzCcCcAaEeIiOoUuAaAaEeEeGgIiLlNnSsTtUuZzZz"
)
assert len(FOLD_SRC) == len(FOLD_DST)
assert not set("'\\") & set(FOLD_SRC + FOLD_DST)  # fold_sql quotes verbatim

_PY_TABLE = str.maketrans(FOLD_SRC, FOLD_DST)


def fold_ascii_py(text: str) -> str:
    """Pure-Python fold (invert kernels + query analysis)."""
    return text.translate(_PY_TABLE) if text is not None else text


def fold_sql(expr: str) -> str:
    """SQL fold of a SQL expression, valid in Spark SQL and DuckDB: the
    maps hold no quote or backslash, so both read them verbatim."""
    return f"translate({expr}, '{FOLD_SRC}', '{FOLD_DST}')"
