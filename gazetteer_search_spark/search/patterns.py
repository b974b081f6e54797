"""Wildcard / regexp term queries — pattern expansion against the term
dictionary (beyond reference; the ES ``wildcard`` / ``regexp`` query analog,
and the grep-shaped entry point a code search genuinely needs).

Semantics mirror Lucene's MultiTermQuery rewrite: the pattern runs against
the TERM DICTIONARY (never the corpus), the matching terms become one
expansion TermGroup capped at the df-ranked top ``MAX_REGEX_EXPANSIONS``
(Lucene's ``top_terms_N`` rewrite), and the group scores dis_max like every
other expansion group (prefix P3 / fuzzy P15 share the shape — the reference
builds its prefix groups the same way, MainAddressQueryBuilder.java:115-168).

Portability contract: one anchored, case-insensitive pattern string drives
both implementations —

- engine  ``re`` over the term dictionary      (Python re, search/termdict.py)
- oracle  ``regexp_matches(term, anchored)``   (DuckDB RE2)

``anchored_ci`` builds ``(?i)^(?:pat)$`` — the inline flag and the anchors
mean FULL, case-folded term match in both (RE2 otherwise substring-searches).
Callers should stick to the common dialect subset (literals, ``.``, classes,
``*``/``+``/``?``, alternation, ``{m,n}``); backrefs/lookaround are
Python-only and rejected nowhere here — they simply make the oracle
diverge, so tests pin the portable subset.

Query syntax (extract_patterns): whitespace-delimited ``/regex/`` tokens and
glob tokens containing ``*``/``?`` lift out of the raw query before analysis;
the residue flows through the ordinary analyzer. A ``-``-prefixed token is
left for the must_not pass (extract_negations), and queries carrying quoted
phrases skip pattern extraction entirely (a ``/`` or ``*`` inside quotes is
literal text).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# regex metacharacters that terminate the free literal prefix of a pattern
_META = set(r"\.[]{}()*+?|^$")


@dataclass(frozen=True)
class PatternClause:
    """One extracted pattern clause: ``kind`` is 'regexp' or 'wildcard',
    ``raw`` the user-facing spelling (group/clause name), ``regex`` the
    portable regex body (glob already translated)."""

    kind: str
    raw: str
    regex: str


def wildcard_to_regex(glob: str) -> str:
    """Glob -> regex body: ``*`` -> ``.*``, ``?`` -> ``.``, everything else
    escaped literally (re.escape emits backslash-punctuation escapes that
    Java regex and RE2 both accept)."""
    out: list[str] = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "".join(out)


def anchored_ci(regex_body: str) -> str:
    """``(?i)^(?:body)$`` — full-match + case-fold in Java regex, Python re
    and RE2 alike. Validates via re.compile; raises ValueError on a bad
    pattern (the serving layer maps it to HTTP 400)."""
    anchored = f"(?i)^(?:{regex_body})$"
    try:
        re.compile(anchored)
    except re.error as e:
        raise ValueError(f"invalid pattern {regex_body!r}: {e}") from None
    return anchored


def literal_prefix(regex_body: str) -> str:
    """Longest leading literal run of the pattern — the dictionary-scan
    pruning predicate (Lucene extracts the same ``commonPrefix`` from its
    automaton). Stops at the first metacharacter; backs off one char when
    the run is followed by ``*``/``?``/``{`` (that char is optional /
    repeated, e.g. ``ab*`` must not prune to 'ab'). Lowercased to match the
    case-folded dictionary."""
    # a TOP-LEVEL alternation means the pattern's branches share no
    # guaranteed prefix — pruning by the first branch's literal would
    # silently drop every other branch's terms ('foo|bar' must scan the
    # whole dictionary, not just 'foo*'). Group-local alternations
    # ('merge(a|b)') are fine: the scan below stops at '(' first.
    depth, in_class, j = 0, False, 0
    while j < len(regex_body):
        c = regex_body[j]
        if c == "\\":
            j += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "|" and depth == 0:
            return ""
        j += 1
    lit: list[str] = []
    i = 0
    while i < len(regex_body):
        ch = regex_body[i]
        if ch in _META:
            break
        lit.append(ch)
        i += 1
    if i < len(regex_body) and regex_body[i] in "*?{" and lit:
        lit.pop()
    return "".join(lit).lower()


_TOKEN_SPLIT = re.compile(r"\s+")


def extract_patterns(q: str) -> tuple[str, list[PatternClause]]:
    """Lift ``/regex/`` and glob tokens out of a raw query string.

    Returns (residual query, clauses in appearance order). Rules:

    - ``/.../`` (len >= 3, closing slash) -> regexp clause, slashes stripped
    - a bare token containing ``*`` or ``?`` -> wildcard clause
    - a ``-``-prefixed token is NEVER a pattern here (must_not pass owns it)
    - invalid regexes raise ValueError immediately (fail the query up front,
      not deep inside a rung)
    """
    clauses: list[PatternClause] = []
    residue: list[str] = []
    for tok in _TOKEN_SPLIT.split(q.strip()):
        if not tok:
            continue
        if tok.startswith("-"):
            residue.append(tok)
            continue
        if len(tok) >= 3 and tok.startswith("/") and tok.endswith("/"):
            body = tok[1:-1]
            anchored_ci(body)  # validate now
            clauses.append(PatternClause("regexp", tok, body))
            continue
        if "*" in tok or "?" in tok:
            # natural-language punctuation guard: a token whose ONLY
            # pattern character is trailing '?' is a question mark, not a
            # wildcard ('work?' must match like 'work', not require a
            # 5-char dictionary term) — strip it and keep the plain token;
            # '*' anywhere or a NON-trailing '?' stays a real wildcard
            stripped = tok.rstrip("?")
            if "*" not in stripped and "?" not in stripped:
                if stripped:
                    residue.append(stripped)
                continue
            clauses.append(PatternClause("wildcard", tok, wildcard_to_regex(tok)))
            continue
        residue.append(tok)
    return " ".join(residue), clauses
