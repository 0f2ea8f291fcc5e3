"""The reference's 15 heuristic text-quality rules as declarative SQL.

Faithful re-expression of ``RuleBaseFilter._apply_text_filters``
(/root/reference/dataflow/operators/core_vision/filter/rule_base_filter.py:243-354)
as *pure SQL expressions* in two dialects (Spark SQL for the engine,
DuckDB SQL for the oracle). The Spark side therefore runs entirely inside
whole-stage codegen — no Python in the hot path at any scale.

Each ``rule_*`` function returns a boolean *fail* expression (true → the
row fails that rule). ``keep_sql`` is the conjunction the engine uses;
a text is kept iff it is non-blank and no rule fires.

Known deliberate deltas from the reference Python (documented + covered
by the oracle-port tests in ``tests/test_text_rules.py``):

* ``\\s`` here is ASCII whitespace (Java/RE2 default) while python
  ``str.split()`` splits on unicode whitespace — fixtures are ASCII.
* rule 15 skips the NFD normalization step of ``normalize()``
  (rule_base_filter.py:53-54): NFD can neither create/destroy the
  substring ``javascript`` nor change line emptiness.
* ``str.isupper()`` is rendered as ``upper(w)=w AND lower(w)<>w`` (all
  cased chars upper + at least one cased char) — identical on ASCII.
"""

from __future__ import annotations

import string

from .dialect import DIALECTS, Dialect

# thresholds (reference defaults, rule_base_filter.py:72-84)
ELLIPSIS_THRESHOLD = 0.3
MEAN_WORD_LENGTH_MIN = 3
MEAN_WORD_LENGTH_MAX = 20
SYMBOL_WORD_RATIO_THRESHOLD = 0.4
ID_CARD_THRESHOLD = 3
NO_PUNC_THRESHOLD = 112
CURLY_BRACKET_THRESHOLD = 0.025
CAPITAL_WORDS_THRESHOLD = 0.2
LOREM_IPSUM_THRESHOLD = 3e-8
UNIQUE_WORDS_THRESHOLD = 0.1
BULLETPOINT_THRESHOLD = 0.9
JAVASCRIPT_THRESHOLD = 3
WATERMARKS = ["Copyright", "Watermark", "Confidential"]

# rule_base_filter.py:167-171 (verbatim, incl. the unescaped dots of I.D.)
ID_PATTERN = (
    r"(身\s{0,10}份|id\s{0,10}number\s{0,10}|identification|identity|"
    r"\s{0,10}ID\s{0,10}No\s{0,10}|id\s{0,10}card\s{0,10}|"
    r"NRIC\s{0,10}number\s{0,10}|IC\s{0,10}number\s{0,10}|"
    r"resident\s{0,10}registration\s{0,10}|I.D.\s{0,10}Number\s{0,10})"
)

# rule_base_filter.py:175-180
SPECIAL_CHAR_PATTERNS = [
    r"u200e",
    r"&#247;|\? :",
    "[�□]|\\{\\/U\\}",
    r"U\+26[0-F][0-D]|U\+273[3-4]|U\+1F[3-6][0-4][0-F]|U\+1F6[8-F][0-F]",
]

# rule_base_filter.py:183-190 — the ；/; suffixed variants are substrings
# of the plain '&entity' form, so checking the two prefixes suffices.
HTML_ENTITY_NAMES = [
    "nbsp", "lt", "gt", "amp", "quot", "apos", "hellip", "ndash",
    "mdash", "lsquo", "rsquo", "ldquo", "rdquo",
]

BULLET_CHARS = "•‣▶◀◦■□▪▫–"
SYMBOLS = ["#", "...", "…"]

_PUNCT = string.punctuation


def _gate(d: Dialect, cond: str, expr: str) -> str:
    """Spark-only short-circuit: skip ``expr`` when a provably NECESSARY
    condition for it is false (expr true ⟹ cond true, for non-null
    input). Catalyst's IF evaluates only the taken branch, so texts that
    cannot fire a rule skip its HOF/regex chain entirely — the r7
    measurement on the 12M-turn drain corpus put the gated rules at
    ~20 s of the 37.5 s keep_sql scan. NULL-exact: when ``cond`` is NULL
    (null text) the original expression is evaluated so its NULL
    propagation is preserved; rule flags are oracle-hashed columns, so
    false vs NULL matters. The DuckDB rendering is returned UNGATED and
    byte-identical — oracle_sql() text is fingerprinted by the driver
    and must not change."""
    if d.name != "spark":
        return expr
    return f"IF(coalesce({cond}, true), {expr}, false)"


def _tokens(d: Dialect, t: str, lowered: bool = False) -> str:
    """python ``text.split()`` — whitespace tokens, empties removed."""
    src = f"lower({t})" if lowered else t
    return d.filter(d.split(src, r"\s+"), "w", "w <> ''")


def _lines(d: Dialect, t: str) -> str:
    """split_paragraphs with identity normalizer (rule_base_filter.py:22-34):
    physical lines, blank (all-whitespace) lines removed."""
    blank_line = d.rlike("l", r"^\s*$")
    return d.filter(d.split(t, "\n"), "l", f"NOT {blank_line}")


def rule_blank(d: Dialect, t: str) -> str:
    """rule_base_filter.py:245-246 — null/empty/whitespace-only text."""
    if d.name == "spark":
        # all-whitespace ⟺ no \S match; the rlike search short-circuits
        # at the first non-ws char instead of rewriting the string
        # (1.5 → 0.25 s on the 12M-turn corpus, identical decisions)
        return f"({t} IS NULL OR NOT {t} rlike '\\\\S')"
    no_ws = d.regexp_replace_all(t, r"\s", "")
    return f"({t} IS NULL OR length({no_ws}) = 0)"


def rule_colon_end(d: Dialect, t: str) -> str:
    """rule 1 (:252)."""
    return f"({t} LIKE '%:')"


def rule_ellipsis_lines(d: Dialect, t: str) -> str:
    """rule 2 (:256-261): ≥30% of non-blank lines end (after rstrip) with
    ``...`` or ``…``."""
    lines = _lines(d, t)
    ell = d.filter(lines, "l", d.rlike("l", r"(\.\.\.|…)\s*$"))
    expr = (
        f"(({d.size(ell)} * 1e0) / greatest({d.size(lines)}, 1)"
        f" >= {ELLIPSIS_THRESHOLD})"
    )
    # necessary: a line ending with an ellipsis means the text contains
    # one; without it the ratio is 0/≥1 < 0.3
    return _gate(
        d, f"(contains({t}, '...') OR contains({t}, '…'))", expr
    )


def rule_mean_word_length(d: Dialect, t: str) -> str:
    """rule 3 (:264-268): mean token length outside [3, 20)."""
    # a regexp_count(\S+) token count was measured and REFUTED here:
    # in isolation it wins, but rules 3, 4 and 11 share ONE split-token
    # array via subexpression elimination, and dropping these rules out
    # of that sharing made the full conjunction SLOWER (21.1 → 26.3 s
    # on the 12M-turn corpus); the shared array is the floor
    no_ws = d.regexp_replace_all(t, r"\s", "")
    chars = f"length({no_ws})"
    nw = d.size(_tokens(d, t))
    mean = f"(({chars} * 1e0) / greatest({nw}, 1))"
    return f"({mean} < {MEAN_WORD_LENGTH_MIN} OR {mean} >= {MEAN_WORD_LENGTH_MAX})"


def rule_symbol_word_ratio(d: Dialect, t: str) -> str:
    """rule 4 (:271-275): (#count + '...'count + '…'count)/words ≥ 0.4."""
    syms = " + ".join(d.count_literal(t, s) for s in SYMBOLS)
    nw = d.size(_tokens(d, t))
    return f"((({syms}) * 1e0) / greatest({nw}, 1) >= {SYMBOL_WORD_RATIO_THRESHOLD})"


def rule_html_entity(d: Dialect, t: str) -> str:
    """rule 5 (:278-279)."""
    checks = []
    for e in HTML_ENTITY_NAMES:
        checks.append(f"contains({t}, {d.lit('&' + e)})")
        checks.append(f"contains({t}, {d.lit('＆' + e)})")
    expr = "(" + " OR ".join(checks) + ")"
    # necessary: every checked entity starts with & or ＆ — one ampersand
    # probe gates all 26 contains
    return _gate(
        d, f"(contains({t}, '&') OR contains({t}, '＆'))", expr
    )


def rule_id_card(d: Dialect, t: str) -> str:
    """rule 6 (:282-284): ≥3 case-insensitive ID-pattern matches."""
    expr = f"({d.regexp_count(t, '(?i)' + ID_PATTERN)} >= {ID_CARD_THRESHOLD})"
    # necessary: every alternative of ID_PATTERN contains a match of one
    # of these short stems — 身(份), 'id' (id number/card,
    # identification, identity, ID No), 'i.d' (the I.D. form, whose
    # unescaped dots are wildcards there too), 'ic' (NRIC/IC number),
    # 'resident' — so a text with no stem match cannot reach count ≥ 3.
    # rlike stops at the first stem hit; regexp_count walks every match
    # of the 10-alternative pattern
    return _gate(d, d.rlike(t, "(?i)(身|id|i.d|ic|resident)"), expr)


def rule_no_punc_run(d: Dialect, t: str) -> str:
    """rule 7 (:287-299): longest punctuation-free sentence > 112 words."""
    sent_wc = d.size(d.filter(d.split("s", r"\s+"), "w", "w <> ''"))
    per_para = d.transform(d.split("p", "[–.!?,;•/|…]"), "s", sent_wc)
    all_counts = f"flatten({d.transform(d.split(t, chr(10)), 'p', per_para)})"
    expr = f"({d.array_max(all_counts)} > {NO_PUNC_THRESHOLD})"
    # necessary: >112 words in one sentence means ≥113 non-ws chars plus
    # ≥112 separators in a substring of the text — length(t) ≥ 225
    return _gate(d, f"(length({t}) >= 225)", expr)


def rule_special_chars(d: Dialect, t: str) -> str:
    """rule 8 (:302-303)."""
    if d.name == "spark":
        # patterns 1-3 are pure literal alternations — contains() is
        # the same predicate without the regex engine; pattern 4 (the
        # emoji codepoint-notation classes) keeps the rlike behind a
        # 'U+' prefix probe every alternative starts with
        p4 = _gate(
            d,
            f"contains({t}, 'U+')",
            d.rlike(t, SPECIAL_CHAR_PATTERNS[3]),
        )
        return (
            f"(contains({t}, 'u200e')"
            f" OR contains({t}, '&#247;') OR contains({t}, '? :')"
            f" OR contains({t}, '�') OR contains({t}, '□')"
            f" OR contains({t}, '{{/U}}')"
            f" OR {p4})"
        )
    return "(" + " OR ".join(d.rlike(t, p) for p in SPECIAL_CHAR_PATTERNS) + ")"


def rule_watermark(d: Dialect, t: str) -> str:
    """rule 9 (:306-307) — case-sensitive."""
    if d.name == "spark":
        # literal alternation — three contains() instead of the regex
        return (
            "(" + " OR ".join(f"contains({t}, '{w}')" for w in WATERMARKS)
            + ")"
        )
    return d.rlike(t, "|".join(WATERMARKS))


def rule_curly_bracket(d: Dialect, t: str) -> str:
    """rule 10 (:310-313)."""
    cnt = f"({d.count_literal(t, '{')} + {d.count_literal(t, '}')})"
    return f"(({cnt} * 1e0) / greatest(length({t}), 1) >= {CURLY_BRACKET_THRESHOLD})"


def rule_capital_words(d: Dialect, t: str) -> str:
    """rule 11 (:316-319): fraction of all-caps tokens > 0.2 (strict)."""
    toks = _tokens(d, t)
    caps = d.filter(toks, "w", "(upper(w) = w AND lower(w) <> w)")
    # a lower(t)<>t gate was measured and REFUTED here: most rows have
    # at least one uppercase char, and hiding the token array inside
    # the gate branch broke its CSE sharing with rules 3/4 (the shared
    # ungated array is faster in the full conjunction)
    return (
        f"(({d.size(caps)} * 1e0) / greatest({d.size(toks)}, 1)"
        f" > {CAPITAL_WORDS_THRESHOLD})"
    )


def rule_lorem_ipsum(d: Dialect, t: str) -> str:
    """rule 12 (:323-326)."""
    cnt = d.regexp_count(f"lower({t})", "lorem ipsum")
    expr = f"(({cnt} * 1e0) / greatest(length({t}), 1) > {LOREM_IPSUM_THRESHOLD})"
    # necessary: count ≥ 1 requires the literal substring (the pattern
    # has no metacharacters)
    return _gate(d, f"contains(lower({t}), 'lorem ipsum')", expr)


def rule_unique_words(d: Dialect, t: str) -> str:
    """rule 13 (:330-334): distinct(lower tokens)/tokens ≤ 0.1."""
    toks = _tokens(d, t, lowered=True)
    # a token-count gate (≥10 or 0) was measured and REFUTED here: the
    # gate's size(toks) is not subexpression-eliminated against the
    # branch, so the lowered split ran twice (2.9 → 4.8 s on the
    # 12M-turn corpus); ungated is the floor
    return (
        f"(({d.size(d.array_distinct(toks))} * 1e0) / greatest({d.size(toks)}, 1)"
        f" <= {UNIQUE_WORDS_THRESHOLD})"
    )


def rule_bulletpoint_lines(d: Dialect, t: str) -> str:
    """rule 14 (:338-343): >90% of non-blank lines start (after lstrip)
    with a bullet char."""
    lines = _lines(d, t)
    bullets = d.filter(lines, "l", d.rlike("l", r"^\s*[" + BULLET_CHARS + "]"))
    return (
        f"(({d.size(bullets)} * 1e0) / greatest({d.size(lines)}, 1)"
        f" > {BULLETPOINT_THRESHOLD})"
    )


def rule_javascript_lines(d: Dialect, t: str) -> str:
    """rule 15 (:346-352): over normalized non-empty lines (punct removed,
    lowered, whitespace collapsed — rule_base_filter.py:36-56), fail unless
    ≤3 lines or ≥3 lines without 'javascript'."""
    inner = f"lower(translate(l, {d.lit(_PUNCT)}, {d.lit('')}))"
    collapsed = d.regexp_replace_all(inner, r"\s+", " ")
    norm = f"trim({collapsed})"
    nl = d.filter(d.transform(d.split(t, "\n"), "l", norm), "x", "x <> ''")
    n = d.size(nl)
    js = d.size(d.filter(nl, "x", "contains(x, 'javascript')"))
    expr = (
        f"({n} > 0 AND NOT ({n} <= 3 OR ({n} - {js}) >= {JAVASCRIPT_THRESHOLD}))"
    )
    # necessary: with js = 0 the rule reduces to NOT(n<=3 OR n>=3) ≡
    # false, so it can only fire when some normalized line contains
    # 'javascript'. Punctuation removal happens before the per-line
    # whitespace collapse and neither the line-splitting newline nor
    # other whitespace is removed by translate, so 'javascript' appears
    # in a normalized line iff it appears in the whole-text
    # translate+lower form — and THAT full-pass gate hides behind an
    # even cheaper probe: it requires a 'j'/'J' in the raw text
    # (translate only deletes characters)
    return _gate(
        d,
        f"(contains({t}, 'j') OR contains({t}, 'J'))",
        _gate(
            d,
            f"contains(lower(translate({t}, {d.lit(_PUNCT)}, {d.lit('')})), "
            "'javascript')",
            expr,
        ),
    )


# ordered rule registry: name -> builder(dialect, text_expr) -> fail-bool SQL
RULES = {
    "colon_end": rule_colon_end,
    "ellipsis_lines": rule_ellipsis_lines,
    "mean_word_length": rule_mean_word_length,
    "symbol_word_ratio": rule_symbol_word_ratio,
    "html_entity": rule_html_entity,
    "id_card": rule_id_card,
    "no_punc_run": rule_no_punc_run,
    "special_chars": rule_special_chars,
    "watermark": rule_watermark,
    "curly_bracket": rule_curly_bracket,
    "capital_words": rule_capital_words,
    "lorem_ipsum": rule_lorem_ipsum,
    "unique_words": rule_unique_words,
    "bulletpoint_lines": rule_bulletpoint_lines,
    "javascript_lines": rule_javascript_lines,
}


def keep_sql(dialect: str, t: str) -> str:
    """Boolean SQL: text passes all 15 rules (and is non-blank)."""
    d = DIALECTS[dialect]
    fails = " OR ".join(fn(d, t) for fn in RULES.values())
    return f"(NOT {rule_blank(d, t)} AND NOT ({fails}))"


def rule_flag_sql(dialect: str, rule: str, t: str) -> str:
    """Boolean SQL: the named rule *fires* (row would fail)."""
    d = DIALECTS[dialect]
    if rule == "blank":
        return rule_blank(d, t)
    return RULES[rule](d, t)
