"""Include/exclude glob compilation + query-argument validation (S2/S3/P5).

The reference compiles user-facing glob patterns into SQL predicates and
validates query arguments up front with actionable errors (reference:
src/cocosearch/search/filters.py:11-51 glob→SQL translation; query-time
validation throughout search/query.py). Spark re-expression: a glob
compiles to a LIKE pattern (with LIKE-metacharacter escaping), include
lists OR together, exclude lists AND-negate, and the resulting Column
predicate sits ahead of any ranking so Catalyst pushes it into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def glob_to_like(pattern: str) -> str:
    """Glob → LIKE pattern: ``*``→``%``, ``?``→``_``; literal ``%``/``_``
    in the glob are escaped so they match themselves. Raises ValueError on
    empty patterns (P5: bad arguments fail loudly at compile time, not as
    silently-empty results)."""
    if not isinstance(pattern, str) or pattern == "":
        raise ValueError(f"glob pattern must be a non-empty string, got {pattern!r}")
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def compile_glob_filter(
    col: Column,
    includes: tuple[str, ...] | list[str] = (),
    excludes: tuple[str, ...] | list[str] = (),
) -> Column:
    """(includes OR'd) AND NOT (excludes OR'd) as one pushdown-friendly
    predicate. Empty includes = match everything (exclude-only filters are
    the reference's default mode, S2); both empty raises — a filter that
    filters nothing is a caller bug."""
    if not includes and not excludes:
        raise ValueError("compile_glob_filter needs at least one include or exclude")
    cond = F.lit(True)
    if includes:
        inc = None
        for p in includes:
            c = col.like(glob_to_like(p))
            inc = c if inc is None else (inc | c)
        cond = cond & inc
    for p in excludes:
        cond = cond & ~col.like(glob_to_like(p))
    return cond


def require_positive(**kwargs: int) -> None:
    """P5 argument validation helper: every named argument must be a
    positive int. Collects ALL violations into one error (the reference's
    collect-then-raise preflight style)."""
    bad = [
        f"{name}={value!r}"
        for name, value in kwargs.items()
        if not isinstance(value, int) or isinstance(value, bool) or value <= 0
    ]
    if bad:
        raise ValueError(f"arguments must be positive integers: {', '.join(bad)}")


def require_fraction(**kwargs: float) -> None:
    """Every named argument must lie in [0, 1] (thresholds, fractions)."""
    bad = [
        f"{name}={value!r}"
        for name, value in kwargs.items()
        if not isinstance(value, (int, float)) or isinstance(value, bool)
        or not (0.0 <= float(value) <= 1.0)
    ]
    if bad:
        raise ValueError(f"arguments must be fractions in [0, 1]: {', '.join(bad)}")
