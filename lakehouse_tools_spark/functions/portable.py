"""Cross-engine-stable scalar helpers.

Formatting and hashing choices here exist so the same logical value
renders identically in Spark and in ANSI SQL engines (the correctness
oracle). ``md5`` is the portable hash everywhere — Spark's ``hash()``
(Murmur3) and other engines' ``hash()`` disagree by design, so any
operator whose *output* contains hash values uses md5 hex strings (or
integers derived from their prefixes) instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(name: str) -> Column:
    """The top-level column called exactly ``name``: backtick-quoted,
    with backticks doubled, so dots, quotes and backticks in the name
    are not parsed as SQL."""
    return F.col("`" + name.replace("`", "``") + "`")


def floor6(col: Column) -> Column:
    """Truncate a double to 6 decimals: ``floor(x*1e6)/1e6``.

    Unlike ``round``, this is a composition of exact IEEE ops, so two
    engines that computed the same binary double always produce the
    same result. ``round``'s half-way handling differs between engines
    (binary- vs decimal-repr-based) and *does* diverge on exact
    rational inputs like 0.7784315 — use this for any displayed ratio
    of integers. ANSI equivalent: ``floor(x * 1000000) / 1000000``.
    """
    return F.floor(col * F.lit(1000000.0)) / F.lit(1000000.0)
