"""PII redaction over text columns — regex scrub + audit counts.

Training corpora get a PII pass before anything else sees them. This
is pure ``regexp_replace``/``regexp_extract_all`` — whole-stage
codegen, no Python in the path, no shuffle (per-row projection).

The patterns are deliberately written in the common subset of Java
regex (Spark) and RE2 (DuckDB/Go scanners): no backreferences, no
lookaround — so the same scrub is reproducible across engines (the
driver oracle proves it). They are the standard precision-leaning
starter set, not an exhaustive PII model; swap in org-specific
patterns through the same API.

Replacement ORDER is part of the contract: SSN before phone (a
phone-shaped scan would otherwise eat the middle of an SSN), email
first (emails contain digit runs a phone pattern could clip).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (name, pattern, replacement) — applied in order.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
)


def redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, redacted, n_email, n_ssn, n_phone)`` — scrubbed text
    plus per-kind match counts (the audit trail: which docs carried
    PII and how much, without retaining the PII itself).

    Counts are taken on the SAME intermediate the replacement chain
    saw (email counted on raw text, ssn on the email-scrubbed text,
    …), so count_k is exactly the number of substitutions step k
    made.
    """
    stages = [F.col(text_col)]
    for _, pattern, repl in PII_PATTERNS:
        stages.append(F.regexp_replace(stages[-1], pattern, repl))
    counts = [
        F.size(F.regexp_extract_all(stages[i], F.lit(p), F.lit(0)))
        .cast("int")
        .alias(f"n_{name}")
        for i, (name, p, _) in enumerate(PII_PATTERNS)
    ]
    return df.select(
        F.col(id_col), stages[-1].alias("redacted"), *counts
    )
