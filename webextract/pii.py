"""PII scrubbing for web-text training corpora: redact emails, IPv4
addresses and phone-like digit runs with typed placeholder tokens, and
count what was redacted — the standard pre-training hygiene pass
(CCNet/Dolma-style), absent from the reference (its corpus is one
uploaded PDF per request; ours is the open web).

Pure Catalyst ``regexp_replace``/``regexp_extract_all`` chains — zero
shuffle, rides the scan at any corpus size. Patterns are written for
Java-regex/RE2 parity (the fields.py discipline): explicit character
classes only — no ``\\w``/``\\b`` (ASCII-only in RE2), no lookarounds
(unsupported in RE2), no backreferences (dialect-divergent syntax).
The DuckDB oracle (`pii_scrub` in __spark_entry__) replays the same
chain with ``regexp_replace(..., 'g')`` — DuckDB replaces only the
first match without the global flag; Spark is always global.

Semantics spec (deterministic, oracle-pinned): labels apply in
``PII_PATTERNS`` order, each counted on the text as it stands JUST
BEFORE its own replacement — so an email's digits can never also be
counted as a phone number, and the chain is exactly replayable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# (label, pattern, replacement) — order is part of the spec: emails
# first (their digit runs must not feed the phone pattern), then IPv4
# (dotted runs are consumed whole before the phone pattern sees their
# digits), then phone-like digit runs.
#
# Boundary discipline (r4 verdict): both digit patterns redact FULL
# runs, never a prefix — lookaround-free (RE2 has none), relying on
# leftmost-match + greedy semantics instead:
# - ip: `{2,}` middle octets + unbounded final digit group swallow a
#   5-octet string or a digit tail whole ("1.2.3.4.5" and "1.2.3.45678"
#   are each ONE <IP>, never "<IP>.5"). Known residuals (documented, not
#   IPv4 shapes): a LEADING group longer than 3 digits matches from
#   its last 3 digits ("1234.5.6.7" → "1<IP>"), and an INTERIOR group
#   longer than 3 digits ends the match, whose final group then takes
#   that group's digits ("1.2.3.4567.8" → "<IP>.8").
# - phone: `{8,}` (9+ digits, single space/dot/dash separators) —
#   a 20-digit run is one <PHONE>, no digit tail; a leftmost scan
#   cannot start mid-run, and greed cannot stop mid-run.
PII_PATTERNS = [
    ("email",
     r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ip",
     r"[0-9]{1,3}(?:\.[0-9]{1,3}){2,}\.[0-9]+",
     "<IP>"),
    ("phone",
     r"\+?[0-9](?:[ .-]?[0-9]){8,}",
     "<PHONE>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text",
              patterns: list[tuple[str, str, str]] | None = None,
              out_col: str = "scrubbed_text") -> DataFrame:
    """Adds ``out_col`` (the text with every PII match replaced by its
    placeholder) and one ``n_{label}`` bigint count per pattern.
    Counts reflect the sequential-replacement spec above."""
    pats = PII_PATTERNS if patterns is None else patterns
    cur = F.coalesce(F.col(text_col), F.lit(""))
    out = df
    for label, pat, rep in pats:
        out = out.withColumn(
            f"n_{label}",
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
            .cast("bigint"))
        cur = F.regexp_replace(cur, pat, rep)
    return out.withColumn(out_col, cur)
