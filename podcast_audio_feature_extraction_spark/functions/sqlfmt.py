"""Formatting shared by the Spark operators and their DuckDB oracle twins."""

from __future__ import annotations

# float results are rounded to this many digits in BOTH dialects: the two
# engines accumulate in different orders, identical only to ~1e-12
ROUND_DIGITS = 6


def dlit(v) -> str:
    """A float literal DuckDB is guaranteed to type as DOUBLE: a bare
    integer-looking %.17g like '0' would make an enclosing list literal
    INTEGER[] and silently change every arithmetic result's type."""
    s = f"{float(v):.17g}"
    return s if any(c in s for c in ".eE") else s + ".0"
