"""Text normalization as declarative SQL (dual dialect).

Mirrors ``normalize()`` (rule_base_filter.py:36-56) minus the NFD step
(no SQL equivalent in DuckDB). The reference-port oracle keeps NFD, and
``test_normalize_sql_matches_reference_with_nfd`` in
tests/test_text_rules.py shows the delta is empty on the fixture corpus:
no fixture text changes under NFD.
"""

from __future__ import annotations

import string

from .dialect import DIALECTS


def normalize_sql(dialect: str, t: str) -> str:
    """``normalize()`` minus NFD: remove ASCII punctuation, lowercase,
    strip + collapse whitespace. Returns a string expression."""
    d = DIALECTS[dialect]
    no_punct = f"translate({t}, {d.lit(string.punctuation)}, {d.lit('')})"
    collapsed = d.regexp_replace_all(f"lower({no_punct})", r"\s+", " ")
    return f"trim({collapsed})"


def strip_multimodal_tokens_sql(dialect: str, t: str) -> str:
    """Conversation2Message._parse_multimodal_tokens cleanup
    (conversation_to_message.py:39-41): drop <image>/<video>/<audio>
    tokens, strip, collapse repeated newlines, strip. The strip matches
    python ``str.strip()`` (all whitespace), so it is regex-based rather
    than SQL ``trim`` (spaces only)."""
    d = DIALECTS[dialect]
    no_tokens = f"replace(replace(replace({t}, '<image>', ''), '<video>', ''), '<audio>', '')"
    if dialect == "spark":
        # btrim over the Java regex \s set (exactly space, tab, LF, VT,
        # FF, CR without the UNICODE flag) IS the ^\s+|\s+$ strip,
        # minus the regex engine; the newline collapse only differs
        # from identity when a newline exists, so it hides behind a
        # contains probe. 2.9x on the 12M-turn drain corpus, zero
        # mismatches. Spark SQL literals have no \f escape, so VT/FF
        # are spelled as unicode escapes.
        ws = "' \\t\\n\\u000B\\u000C\\r'"
        stripped = f"btrim({no_tokens}, {ws})"
        collapsed = d.regexp_replace_all(stripped, r"\n+", "\n")
        return (
            f"IF(contains({no_tokens}, '\\n'), "
            f"btrim({collapsed}, {ws}), "
            f"{stripped})"
        )
    s1 = d.regexp_replace_all(no_tokens, r"^\s+|\s+$", "")
    collapsed = d.regexp_replace_all(s1, r"\n+", "\n")
    return d.regexp_replace_all(collapsed, r"^\s+|\s+$", "")


def fingerprint_sql(dialect: str, t: str) -> str:
    """Document fingerprint: md5 of the normalized text (stable across
    both dialects; the dedup key used throughout the engine)."""
    return f"md5({normalize_sql(dialect, t)})"
