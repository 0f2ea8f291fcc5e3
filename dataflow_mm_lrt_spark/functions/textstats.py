"""Text-analysis functions for large-scale pipelines (dual dialect).

Net-new vs the reference (which has no corpus analytics): language-ID
heuristic, quality scoring, token counting, fingerprinting — the
operations a 100 TB training-data pipeline runs over every document.
All pure SQL → JVM-side in Spark, oracle-checkable in DuckDB.
"""

from __future__ import annotations

from .dialect import DIALECTS, Dialect

# tiny per-language stopword lists for the n-gram-free language heuristic
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "que", "por"],
    "fr": ["le", "les", "et", "est", "un", "une", "que", "pour", "dans", "il"],
}


def _tokens_lower(d: Dialect, t: str) -> str:
    return d.filter(d.split(f"lower({t})", r"\s+"), "w", "w <> ''")


def token_count_sql(dialect: str, t: str) -> str:
    """Whitespace token count (python ``len(text.split())``)."""
    d = DIALECTS[dialect]
    return d.size(d.filter(d.split(t, r"\s+"), "w", "w <> ''"))


def bpe_ish_token_count_sql(dialect: str, t: str) -> str:
    """Sub-word-ish token count: split on whitespace AND on
    letter/digit/punct boundaries (a cheap BPE proxy: counts runs of
    word chars, digits, and individual punctuation)."""
    d = DIALECTS[dialect]
    runs = d.regexp_count(t, r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")
    return f"({runs})"


def stopword_hits_sql(dialect: str, t: str, lang: str) -> str:
    d = DIALECTS[dialect]
    toks = _tokens_lower(d, t)
    arr = "array(" + ", ".join(d.lit(w) for w in STOPWORDS[lang]) + ")"
    if d.name == "duckdb":
        arr = "[" + ", ".join(d.lit(w) for w in STOPWORDS[lang]) + "]"
    return d.size(d.filter(toks, "w", f"array_contains({arr}, w)"
                           if d.name == "spark" else f"list_contains({arr}, w)"))


def lang_id_sql(dialect: str, t: str) -> str:
    """Argmax of per-language stopword hits with a fixed tie order
    (en > de > es > fr), 'und' (undetermined) when no hits at all."""
    hits = {lang: stopword_hits_sql(dialect, t, lang) for lang in STOPWORDS}
    h = {k: f"h_{k}" for k in hits}
    # build as a single CASE over inline exprs (no lateral aliases needed)
    e = hits
    return (
        "CASE "
        f"WHEN {e['en']} = 0 AND {e['de']} = 0 AND {e['es']} = 0 AND {e['fr']} = 0 THEN 'und' "
        f"WHEN {e['en']} >= {e['de']} AND {e['en']} >= {e['es']} AND {e['en']} >= {e['fr']} THEN 'en' "
        f"WHEN {e['de']} >= {e['es']} AND {e['de']} >= {e['fr']} THEN 'de' "
        f"WHEN {e['es']} >= {e['fr']} THEN 'es' "
        "ELSE 'fr' END"
    )


def quality_score_sql(dialect: str, t: str) -> str:
    """Composite quality score in [0,1]: length sufficiency, lexical
    diversity, mean word length sanity. Rounded to 6 dp for stable
    cross-engine comparison. Spark's ``round(x, 6)`` rounds the double's
    decimal string half-up, DuckDB scales by 10⁶ and rounds the product,
    so the two disagree on decimal half-way values (0.5116875); the
    Spark rendering spells out DuckDB's scale-round-unscale."""
    d = DIALECTS[dialect]
    toks = _tokens_lower(d, t)
    nw = f"greatest({d.size(toks)}, 1)"
    uniq = d.size(d.array_distinct(toks))
    no_ws = d.regexp_replace_all(t, r"\s", "")
    mean_wl = f"(length({no_ws}) * 1e0 / {nw})"
    len_term = f"least({d.size(toks)} * 1e0 / 50, 1e0)"
    div_term = f"({uniq} * 1e0 / {nw})"
    wl_term = f"least({mean_wl} / 10, 1e0)"
    score = f"0.3 * {len_term} + 0.4 * {div_term} + 0.3 * {wl_term}"
    if dialect == "spark":
        return f"round(({score}) * 1000000, 0) / 1000000"
    return f"round({score}, 6)"
