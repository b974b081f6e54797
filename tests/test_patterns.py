"""Wildcard / regexp term queries (search/patterns.py): the Spark and serving
engines' dictionary expansion against plain Python re over term_stats;
ladder integration of /regex/ and glob query syntax (FIXTURES.md §3 model)."""

from __future__ import annotations

import re

import pytest

from gazetteer_search_spark.index import builder
from gazetteer_search_spark.search.engine import (
    SearchEngine,
    SearchOptions,
    TermGroup,
)
from gazetteer_search_spark.search.patterns import (
    anchored_ci,
    extract_patterns,
    literal_prefix,
    wildcard_to_regex,
)
from gazetteer_search_spark.search.termdict import (
    MAX_FUZZY_EXPANSIONS,
    MAX_REGEX_EXPANSIONS,
)
from gazetteer_search_spark.sources import synthetic_corpus

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_corpus(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def engine(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_patterns"))
    idx = builder.build_index(spark, corpus, out, n_buckets=8, postings_per_group=128)
    return SearchEngine(spark, idx)


@pytest.fixture(scope="module")
def serving(spark, engine):
    return SearchEngine(spark, engine.index, serving=True)


def _grp(gid, terms, required=True, weight=1.0):
    return TermGroup(group_id=gid, terms=tuple(terms), required=required, weight=weight)


# ---- unit: pattern utilities ------------------------------------------------

def test_wildcard_to_regex():
    assert wildcard_to_regex("me*ge") == "me.*ge"
    assert wildcard_to_regex("m?rge") == "m.rge"
    # literals escape; '*'/'?' are the only metacharacters of the glob dialect
    assert re.fullmatch(wildcard_to_regex("a.b*"), "a.bxyz")
    assert not re.fullmatch(wildcard_to_regex("a.b*"), "aXbxyz")


def test_literal_prefix():
    assert literal_prefix("merge.*") == "merge"
    assert literal_prefix("me.*ge") == "me"
    # char before a quantifier is optional/repeated -> backs off one char
    assert literal_prefix("ab*") == "a"
    assert literal_prefix("ab?c") == "a"
    assert literal_prefix("ab{1,2}") == "a"
    assert literal_prefix("[mw]erge") == ""
    assert literal_prefix("MERGE.*") == "merge"  # folded to match the dict


def test_anchored_ci_validates():
    assert anchored_ci("a.b") == "(?i)^(?:a.b)$"
    with pytest.raises(ValueError):
        anchored_ci("a[unclosed")


def test_extract_patterns():
    residual, cl = extract_patterns("block /me.ge/ sor* plain -neg")
    assert residual == "block plain -neg"  # negation left for the must_not pass
    assert [(c.kind, c.raw) for c in cl] == [
        ("regexp", "/me.ge/"),
        ("wildcard", "sor*"),
    ]
    assert cl[0].regex == "me.ge"
    assert cl[1].regex == "sor.*"
    # no patterns -> untouched token stream
    residual, cl = extract_patterns("merge sort")
    assert cl == [] and residual == "merge sort"
    with pytest.raises(ValueError):
        extract_patterns("/bad[/")


# ---- expansion: Spark and serving engines vs Python re ----------------------

def _content_terms(engine):
    """term_stats rows of the content namespace, as pandas (term, df)."""
    m = engine.index.term_stats.select("term", "df").toPandas()
    return m[~m["term"].str.contains(":")]


def _brute_expand(engine, regex_body):
    """Reference expansion: Python re over the full collected dictionary,
    df-ranked, capped — what both engine paths must reproduce."""
    rx = re.compile(anchored_ci(regex_body))
    rows = _content_terms(engine).itertuples()
    hits = [(r.term, int(r.df)) for r in rows if rx.match(r.term)]
    hits.sort(key=lambda x: (-x[1], x[0]))
    return [t for t, _ in hits[:MAX_REGEX_EXPANSIONS]]


@pytest.mark.parametrize(
    "body",
    [
        "me.ge",  # '.' single char
        "mer.*",  # prefix + star (prunable literal prefix)
        "sco[re]+",  # class + plus
        "(merge|score)",  # alternation
        "MERGE",  # case-folded full literal
    ],
)
def test_expand_regexp_three_way(engine, serving, body):
    want = _brute_expand(engine, body)
    assert engine.expand_regexp(body) == want  # Spark engine
    assert serving.expand_regexp(body) == want  # serving engine
    assert want, f"pattern {body!r} should match something in the fixture vocab"


def test_expand_wildcard(engine, serving):
    want = _brute_expand(engine, "me.*ge")
    assert engine.expand_wildcard("me*ge") == want
    assert serving.expand_wildcard("me*ge") == want


def test_expand_regexp_invalid_raises(engine):
    with pytest.raises(ValueError):
        engine.expand_regexp("a[unclosed")


# ---- ladder integration ------------------------------------------------------

def test_regexp_query_syntax_matches_explicit_groups(engine):
    """search_hits('block /me.ge/') == explicit [block, expansion] groups."""
    opts = SearchOptions(prefix=False, fuzzy=False)
    got = engine.search_hits("block /me.ge/", opts)
    exp = engine.expand_regexp("me.ge")
    g = [_grp(0, ["block"]), _grp(1, exp)]
    want = engine.search_rung(g, 2, opts).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, pytest.approx(r.score)) for r in want
    ]
    assert got, "fixture vocabulary should produce hits"


def test_wildcard_query_syntax(engine):
    opts = SearchOptions(prefix=False, fuzzy=False)
    got = engine.search_hits("block me*ge", opts)
    exp = engine.expand_wildcard("me*ge")
    want = engine.search_rung(
        [_grp(0, ["block"]), _grp(1, exp)], 2, opts
    ).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]


def test_pattern_clause_name_in_response(engine):
    resp = engine.search_response("block /me.ge/", SearchOptions(prefix=False))
    assert resp["hits"], "expected hits"
    assert any("/me.ge/" in h["matched_queries"] for h in resp["hits"])
    assert resp["parsed_query"].get("patterns") == ["/me.ge/"]


def test_pattern_no_dictionary_match_is_empty(engine):
    got = engine.search_hits("block /zq9xv.*/", SearchOptions(prefix=False))
    assert got == []


def test_pattern_never_relaxes(engine):
    """A pattern clause must hold even on the relaxation rungs: a query whose
    non-pattern terms miss entirely still only matches docs satisfying the
    pattern AND enough other clauses — with an unmatchable second term the
    ladder returns empty rather than relaxing the pattern to optional."""
    got = engine.search_hits(
        "zzqqwwxyzzy /me.ge/", SearchOptions(prefix=False, fuzzy=False)
    )
    assert got == []


def test_serving_pattern_rank_identical(engine, serving):
    opts = SearchOptions(prefix=False, fuzzy=False)
    a = engine.search_hits("block /me.ge/", opts)
    b = serving.search_hits("block /me.ge/", opts)
    assert [(r.doc_id, round(r.score, 9)) for r in a] == [
        (r.doc_id, round(r.score, 9)) for r in b
    ]


def test_literal_prefix_top_level_alternation_returns_empty():
    """A top-level '|' means the branches share no guaranteed prefix —
    pruning by the first branch's literal would drop the others
    (regression: 'foo|bar' pruned the dictionary scan to 'foo*')."""
    from gazetteer_search_spark.search.patterns import literal_prefix

    assert literal_prefix("foo|bar") == ""
    assert literal_prefix("merge.*|x") == ""
    assert literal_prefix(r"a\|b") == "a"  # escaped pipe is literal
    assert literal_prefix("merge(a|b)") == "merge"  # group-local is fine
    assert literal_prefix("[a|b]x") == ""  # class stops the scan at '['
    assert literal_prefix("merge.*") == "merge"


def test_regexp_alternation_expands_both_branches(spark, serving):
    """/foo|bar/ must expand BOTH alternatives on every tier."""
    terms = set(serving.expand_regexp("block|cache"))
    assert {"block", "cache"} <= terms


def test_trailing_question_mark_is_punctuation(spark):
    """'work?' in a natural query is a question mark, not a 1-char
    wildcard (regression: it became a required 5-char wildcard clause and
    emptied the whole query); a NON-trailing '?' stays a wildcard."""
    from gazetteer_search_spark.search.patterns import extract_patterns

    residual, clauses = extract_patterns("how does alpha work?")
    assert residual == "how does alpha work" and clauses == []
    _, clauses = extract_patterns("wo?k")
    assert len(clauses) == 1 and clauses[0].kind == "wildcard"
    residual, clauses = extract_patterns("al*a work?")
    assert residual == "work" and len(clauses) == 1


# ---- property: prefix-pruned expansion == unpruned brute force ---------------

def _brute_expand_dict(m, body: str) -> list[str]:
    """Ground truth: anchored case-insensitive match over the WHOLE
    content-token dictionary ``m`` (no literal-prefix pruning), df-ranked
    and capped exactly like the production path."""
    from gazetteer_search_spark.search.patterns import anchored_ci

    rx = re.compile(anchored_ci(body))
    keep = [rx.match(t) is not None for t in m["term"].tolist()]
    m = m[keep] if len(m) else m
    m = m.sort_values(["df", "term"], ascending=[False, True])
    return m["term"].head(MAX_REGEX_EXPANSIONS).tolist()


def test_regexp_expansion_prefix_pruning_is_lossless(serving):
    """literal_prefix is a pure optimization: for every regex in a grammar
    covering the shapes users write (literal runs, '.', '.*', optional
    chars, classes, group-local and top-level alternation), the pruned
    serving expansion equals the unpruned brute-force scan. Pins the whole
    bug class the 'foo|bar' prefix-pruning regression belonged to."""
    from hypothesis import given, settings, strategies as st

    lit = st.text(alphabet="abcdemnoprst", min_size=1, max_size=3)
    atom = st.one_of(
        lit,
        st.just("."),
        st.just(".*"),
        lit.map(lambda s: s + "?"),
        st.just("[mp]"),
        st.tuples(lit, lit).map(lambda ab: f"({ab[0]}|{ab[1]})"),
    )
    branch = st.lists(atom, min_size=1, max_size=4).map("".join)
    body = st.one_of(
        branch,
        st.tuples(branch, branch).map(lambda bb: f"{bb[0]}|{bb[1]}"),
    )

    m = _content_terms(serving)

    @settings(max_examples=60, deadline=None)
    @given(body=body)
    def check(body):
        serving.termdict._memo.clear()  # property must not read a cached answer
        got = serving.expand_regexp(body)
        assert got == _brute_expand_dict(m, body), body

    check()


# ---- property: fuzzy expansion == independent-DP brute force -----------------

def _osa(a: str, b: str) -> int:
    """Independent optimal-string-alignment DP (NOT the engine's
    decomposition) — ground truth for fuzziness=1 semantics."""
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[la][lb]


def _dl(a: str, b: str) -> int:
    """Independent unrestricted Damerau-Levenshtein DP — ground truth for
    fuzziness=2 semantics (differs from OSA on e.g. 'ca' -> 'abc')."""
    la, lb = len(a), len(b)
    INF = la + lb
    da: dict[str, int] = {}
    d = [[INF] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = INF
    for i in range(la + 1):
        d[i + 1][1] = i
        d[i + 1][0] = INF
    for j in range(lb + 1):
        d[1][j + 1] = j
        d[0][j + 1] = INF
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def test_fuzzy_expansion_matches_independent_dp(serving):
    """The serving dictionary's fuzzy expansion (length-band pruning +
    Lev-or-transposition decomposition at 1, banded DL at 2) returns
    exactly the df-ranked terms an independent OSA / Damerau-Levenshtein
    DP selects over the WHOLE dictionary — pins the band and the
    decomposition, not just the distance function."""
    from hypothesis import given, settings, strategies as st

    ts = _content_terms(serving)
    vocab = ts["term"].tolist()
    alphabet = "abcdemnoprst"

    def mutate(t: str, seed: int) -> str:
        if not t:
            return "a"
        i = seed % len(t)
        op = seed % 4
        c = alphabet[seed % len(alphabet)]
        if op == 0:  # substitute
            return t[:i] + c + t[i + 1 :]
        if op == 1:  # insert
            return t[:i] + c + t[i:]
        if op == 2 and len(t) > 1:  # delete
            return t[:i] + t[i + 1 :]
        if len(t) > i + 1:  # transpose
            return t[:i] + t[i + 1] + t[i] + t[i + 2 :]
        return t

    probe = st.one_of(
        st.sampled_from(vocab).flatmap(
            lambda t: st.integers(0, 10_000).map(lambda s: mutate(t, s))
        ),
        st.text(alphabet=alphabet, min_size=2, max_size=7),
    )

    @settings(max_examples=25, deadline=None)
    @given(term=probe, edits=st.sampled_from([1, 2]))
    def check(term, edits):
        serving.termdict._memo.clear()
        got = serving.expand_fuzzy(term, edits)
        dist = _osa if edits == 1 else _dl
        m = ts[[(":" not in t) and dist(t, term) <= edits for t in ts["term"]]]
        m = m.sort_values(["df", "term"], ascending=[False, True])
        want = m["term"].head(MAX_FUZZY_EXPANSIONS).tolist()
        assert got == want, (term, edits)

    check()
