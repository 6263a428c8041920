"""PII detection / redaction over text columns.

Training-data pipelines scrub personally identifiable information
before anything else sees the text. The workhorse is vectorized regex —
detect (count per class) and redact (replace with a typed placeholder).
Everything here is ``regexp_extract_all`` / ``regexp_replace`` — pure
JVM expressions inside whole-stage codegen, scan-speed at any scale, no
Python in the path.

Patterns stay inside the RE2-compatible subset of Java regex (character
classes, bounded quantifiers, word boundaries — no backrefs or
lookaround) so the same pattern runs identically in Spark, DuckDB, and
most warehouse engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Engine-portable detector patterns (RE2 ∩ Java subset).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "[EMAIL]"),
    "phone": (r"\b\d{3}-\d{4}\b", "[PHONE]"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
}


def pii_counts(text: Column) -> dict[str, Column]:
    """One count column per PII class — all classes in one projection
    (one pass over the text per pattern, fused by codegen)."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for name, (pat, _repl) in PII_PATTERNS.items()
    }


def redact_text(text: Column) -> Column:
    """Replace every PII match with its typed placeholder. Order
    matters: emails first (an email can embed digit runs), then phones,
    then IPs."""
    out = text
    for name in ("email", "phone", "ipv4"):
        pat, repl = PII_PATTERNS[name]
        out = F.regexp_replace(out, pat, repl)
    return out


def redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add per-class counts and a ``redacted`` text column."""
    text = F.col(text_col)
    counts = pii_counts(text)
    return df.select(
        "*",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        redact_text(text).alias("redacted"),
    )
