"""Query engine vs brute-force oracle: rank-identical top-k (FIXTURES.md §3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder
from gazetteer_search_spark.search.engine import (
    SearchEngine,
    SearchOptions,
    TermGroup,
    oracle_topk,
)
from gazetteer_search_spark.sources import synthetic_corpus

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_corpus(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def engine(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_engine"))
    idx = builder.build_index(spark, corpus, out, n_buckets=8, postings_per_group=128)
    return SearchEngine(spark, idx)


def assert_rank_identical(got_df, want_df):
    got = [(r.doc_id, r.score) for r in got_df.collect()]
    want = [(r.doc_id, r.score) for r in want_df.collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9), (gd, gs, ws)


def _grp(gid, terms, required=True, weight=1.0):
    return TermGroup(group_id=gid, terms=tuple(terms), required=required, weight=weight)


@pytest.mark.parametrize(
    "groups,msm",
    [
        # single-term ranked retrieval (search/single-term.sql analog)
        ([_grp(0, ["postings"])], 1),
        # multi-term AND (street-match.json analog)
        ([_grp(0, ["merge"]), _grp(1, ["postings"])], 2),
        # minimum_should_match=2 of 3 (city-street.json analog)
        ([_grp(0, ["merge"]), _grp(1, ["score"]), _grp(2, ["index"])], 2),
        # dis_max variant group (HousenumbersPart dis_max analog)
        ([_grp(0, ["merge", "mergepostings"]), _grp(1, ["block"])], 2),
        # optional demotion: keyword boosts but doesn't gate
        ([_grp(0, ["postings"]), _grp(1, ["def"], required=False, weight=0.5)], 1),
    ],
)
def test_index_matches_oracle(spark, corpus, engine, groups, msm):
    got = engine.search_rung(groups, msm, SearchOptions(k=20))
    want = oracle_topk(corpus, groups, msm, k=20)
    assert_rank_identical(got, want)


def test_search_end_to_end_and(engine):
    res = engine.search("mergePostings blockMax", SearchOptions(k=10, prefix=False))
    rows = res.collect()
    assert rows
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_prefix_expansion(engine):
    """Search-as-you-type: 'post' as prefix must reach posting-bearing docs
    via the term-dictionary range scan."""
    exp = engine.expand_prefix("post")
    assert "postings" in exp
    res = engine.search("merge post", SearchOptions(k=10))
    assert res.count() > 0


def test_fuzzy_expansion(engine):
    exp = engine.expand_fuzzy("postngs")  # deletion typo
    assert "postings" in exp


def test_fuzzy_transposition_one_edit(engine):
    """ES fuzziness=1 counts an adjacent transposition as ONE edit
    (MainAddressQueryBuilder.java:291-293 -> Damerau/OSA); plain Levenshtein
    would cost "emrge"->"merge" two and miss — the most common typo class
    (VERDICT r3 Missing #2)."""
    from gazetteer_search_spark.search.termdict import (
        damerau_levenshtein,
        transpositions,
    )

    assert "merge" in transpositions("emrge")
    exp = engine.expand_fuzzy("emrge")  # transposed typo
    assert "merge" in exp
    # brute force over term_stats: every term within one Damerau edit
    # (OSA and unrestricted agree at one edit), df-ranked, capped
    ts = sorted(
        ((r.term, int(r.df)) for r in engine.index.term_stats.collect()),
        key=lambda x: (-x[1], x[0]),
    )
    brute = [
        t for t, _ in ts
        if ":" not in t and damerau_levenshtein(t, "emrge", cap=1) <= 1
    ]
    assert exp == brute[:32]


def test_fuzziness_2_expansion_three_tiers(spark, engine):
    """fuzziness=2 (ES/Lucene max): unrestricted Damerau-Levenshtein <= 2.
    The Spark and serving engines' banded dictionary scan == brute-force
    recompute over term_stats; a distance-2 typo invisible at <=1."""
    from gazetteer_search_spark.search.termdict import damerau_levenshtein

    # unit: unrestricted form (OSA would give 3 for ca->abc), cap truncation
    assert damerau_levenshtein("ca", "abc") == 2
    assert damerau_levenshtein("teh", "the") == 1  # transposition = 1 edit
    assert damerau_levenshtein("merge", "mrg", cap=2) == 2
    assert damerau_levenshtein("abcdef", "fedcba", cap=2) == 3  # truncated

    typo = "mrg"  # two deletions from "merge"
    assert "merge" not in engine.expand_fuzzy(typo, 1)
    spark_exp = engine.expand_fuzzy(typo, 2)
    assert "merge" in spark_exp
    serve_exp = SearchEngine(spark, engine.index, serving=True).expand_fuzzy(
        typo, 2
    )
    # brute force over the full dictionary (df-ranked, capped like both)
    ts = [
        (r.term, int(r.df))
        for r in engine.index.term_stats.select("term", "df").collect()
        if ":" not in r.term
    ]
    brute = sorted(
        (t for t, _ in ts if damerau_levenshtein(t, typo, cap=2) <= 2),
        key=lambda t: (-dict(ts)[t], t),
    )[:32]
    assert spark_exp == brute
    assert serve_exp == brute
    # max_edits=0 expands nothing
    assert engine.expand_fuzzy(typo, 0) == []


def test_resolve_fuzziness_auto_ladder():
    from gazetteer_search_spark.search.engine import resolve_fuzziness

    assert resolve_fuzziness("auto", "ab") == 0
    assert resolve_fuzziness("auto", "abc") == 1
    assert resolve_fuzziness("auto", "abcde") == 1
    assert resolve_fuzziness("auto", "abcdef") == 2
    assert resolve_fuzziness(2, "ab") == 2
    with pytest.raises(ValueError, match="fuzziness"):
        resolve_fuzziness(3, "abc")
    with pytest.raises(ValueError, match="fuzziness"):
        resolve_fuzziness("AUTO?", "abc")


def test_fuzziness_option_reaches_the_ladder(engine):
    """SearchOptions.fuzziness threads into the fuzzy rung: a distance-2
    typo finds its docs at fuzziness=2 (and auto, term length 6+) but not
    at the default 1."""
    q = "mergexy"  # merge + two trailing insertions -> DL 2
    miss = engine.search_hits(q, SearchOptions(k=5, prefix=False))
    hit2 = engine.search_hits(
        q, SearchOptions(k=5, prefix=False, fuzziness=2)
    )
    hit_auto = engine.search_hits(
        q, SearchOptions(k=5, prefix=False, fuzziness="auto")
    )
    assert not miss
    assert hit2
    assert [(h.doc_id, h.score) for h in hit_auto] == [
        (h.doc_id, h.score) for h in hit2
    ]


def test_coalesce_ladder_falls_through(engine):
    """Strict AND on a nonsense+real pair yields nothing; the ladder's OR rung
    (msm capped) still returns the real term's docs (ESCoalesce.java:30-64)."""
    strict = engine.search(
        "zzzqqq postings", SearchOptions(k=10, prefix=False, coalesce=False)
    )
    assert strict.count() == 0
    relaxed = engine.search("zzzqqq postings", SearchOptions(k=10, prefix=False))
    assert relaxed.count() > 0


def test_lang_filter_and_boost(spark, corpus, engine):
    opts = SearchOptions(k=20, lang="python")
    groups = [_grp(0, ["postings"])]
    got = engine.search_rung(groups, 1, opts)
    rows = got.collect()
    assert rows and all(r.lang == "python" for r in rows)
    want = oracle_topk(corpus, groups, 1, k=20, options=opts)
    assert_rank_identical(got, want)

    boosted = engine.search_rung(
        groups, 1, SearchOptions(k=20, lang_boosts={"python": 3.0})
    )
    want_b = oracle_topk(
        corpus, groups, 1, k=20, options=SearchOptions(k=20, lang_boosts={"python": 3.0})
    )
    assert_rank_identical(boosted, want_b)


def test_match_all_with_filters(engine):
    res = engine.search("", SearchOptions(k=15, lang="go"))
    rows = res.collect()
    assert 0 < len(rows) <= 15
    assert all(r.lang == "go" for r in rows)


def test_repo_filter(spark, corpus, engine):
    opts = SearchOptions(k=20, repo="org1/repo1")
    got = engine.search_rung([_grp(0, ["postings"])], 1, opts)
    rows = got.collect()
    assert all(r.repo == "org1/repo1" for r in rows)


def test_two_phase_dim_demotion(spark, engine):
    """J1: dim-matched tokens demote to optional; single matched class becomes
    a filter; token-as-prefix of a dim term (len >= 4) also matches."""
    from gazetteer_search_spark.sources.dims import lang_class_dim

    dim = lang_class_dim(spark)
    q2, o2 = engine.two_phase_plan(
        "merge english", dim, SearchOptions(prefix=False)
    )
    by_text = {t.text: t for t in q2.tokens}
    assert by_text["english"].optional and not by_text["merge"].optional
    assert o2.lang == "en"

    # prefix-of-dimension-term match ("engli" -> "english")
    q3, o3 = engine.two_phase_plan("merge engli", dim, SearchOptions(prefix=False))
    assert {t.text: t.optional for t in q3.tokens} == {"merge": False, "engli": True}
    assert o3.lang == "en"

    # no dim hit -> query unchanged
    q4, o4 = engine.two_phase_plan("merge sort", dim, SearchOptions(prefix=False))
    assert all(not t.optional for t in q4.tokens) and o4.lang is None


def test_group_id_mask_bound():
    """matched_mask is 63 usable bits: group_id 63+ must fail loudly at
    construction (silent shiftleft wrap corrupts clause trim; numpy 1<<63
    overflows on the serving path) — ADVICE r2."""
    import pytest as _pytest

    from gazetteer_search_spark.search.engine import MAX_GROUP_ID

    TermGroup(group_id=MAX_GROUP_ID, terms=("ok",), required=True)  # boundary ok
    with _pytest.raises(ValueError, match="group_id"):
        TermGroup(group_id=MAX_GROUP_ID + 1, terms=("t",), required=True)


def test_long_query_caps_clause_count(engine):
    """A degenerate 100-token query must still answer (capped clauses), not
    crash the mask kernels."""
    q = " ".join(f"tok{i}" for i in range(100)) + " postings"
    rows = engine.search_hits(q, SearchOptions(k=5, prefix=False, fuzzy=False))
    assert isinstance(rows, list)


def test_distinct_by_name(spark, tmp_path_factory):
    """Query-time distinct-by-name (DistinctNameFilter analog, VERDICT r2
    next-round #3): duplicate-name hits collapse to the ordinal-0 doc, on the
    Spark path, the serving path, and the WAND path identically."""
    from gazetteer_search_spark.search.wand import wand_topk

    corpus = spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("org/r"), (F.col("id") % 3).cast("string")).alias("repo"),
        # 6 distinct basenames -> 20 docs share each name key
        F.format_string("src/p%d/file%d.py", F.col("id"), F.col("id") % 6).alias("path"),
        F.lit("c").alias("commit"),
        F.lit("python").alias("lang"),
        F.concat(
            F.lit("needle shared tokens row "), F.col("id").cast("string")
        ).alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_distinct"))
    idx = builder.build_index(spark, corpus, out, n_buckets=4)
    eng = SearchEngine(spark, idx)
    srv = SearchEngine(spark, idx, serving=True)
    assert srv._local is not None

    g = [TermGroup(group_id=0, terms=("needle",), required=True)]
    opts = SearchOptions(k=20, distinct=True)
    got = eng.search_rung(g, 1, opts).collect()
    # exactly one hit per name key, and it is that key's min doc_id
    assert len(got) == 6
    assert sorted(r.doc_id for r in got) == [0, 1, 2, 3, 4, 5]
    srv_rows = srv.search_rung(g, 1, opts).collect()
    assert [r.doc_id for r in srv_rows] == [r.doc_id for r in got]
    wand_rows = wand_topk(spark, idx, g, 1, k=20, options=opts, n_ranges=4).collect()
    assert [r.doc_id for r in wand_rows] == [r.doc_id for r in got]
    # without distinct all 120 match (k caps at 20)
    assert len(eng.search_rung(g, 1, SearchOptions(k=20)).collect()) == 20
    # match_all + distinct also collapses
    ma = srv.search_rung([], 0, SearchOptions(k=50, distinct=True)).collect()
    assert [r.doc_id for r in ma] == [0, 1, 2, 3, 4, 5]


def test_transliteration_search_recall(spark, tmp_path_factory):
    """A9 literal (IndexAnalyzer.java:60-78): a Cyrillic identifier is
    searchable by its Latin spelling AND verbatim, on both scorer paths."""
    corpus = spark.range(0, 30).select(
        F.col("id").alias("doc_id"),
        F.lit("r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("python").alias("lang"),
        F.when(F.col("id") == 5, F.lit("вернуть результат функции"))
        .otherwise(F.lit("plain latin tokens here"))
        .alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_translit"))
    idx = builder.build_index(spark, corpus, out, n_buckets=4)
    for eng in (SearchEngine(spark, idx), SearchEngine(spark, idx, serving=True)):
        for q in ("rezultat", "результат", "REZULTAT"):
            hits = eng.search_hits(q, SearchOptions(k=5, prefix=False, fuzzy=False))
            assert [h.doc_id for h in hits] == [5], q


def test_path_proximity_three_way_equivalence(spark):
    """near_path prox formula: Catalyst column == numpy serving twin ==
    DuckDB split_part SQL on randomized path shapes (the oracle-equivalence
    contract for the geo-distance-sort analog)."""
    import random

    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gazetteer_search_spark.search.engine import path_proximity_col
    from gazetteer_search_spark.search.fastpath import _path_proximity_np

    rng = random.Random(77)
    comps = ["src", "pkg1", "pkg2", "mod", "a", "deep", "x7", "zz", "end"]

    def rand_path():
        return "/".join(rng.choice(comps) for _ in range(rng.randint(1, 10)))

    for trial in range(6):
        near = rand_path()
        paths = [rand_path() for _ in range(40)]
        want = _path_proximity_np(np.array(paths, dtype=object), near)

        df = spark.createDataFrame([(p,) for p in paths], "path string")
        got_spark = [
            r.p
            for r in df.select(
                path_proximity_col(F.col("path"), near).alias("p")
            ).collect()
        ]
        assert got_spark == want.tolist(), (trial, near)

        prox_terms = []
        for i in range(1, 9):
            conj = " AND ".join(
                f"split_part(path, '/', {j}) = split_part('{near}', '/', {j})"
                for j in range(1, i + 1)
            )
            prox_terms.append(f"(CASE WHEN {conj} THEN 1 ELSE 0 END)")
        con = duckdb.connect()
        con.register("pths", pd.DataFrame({"path": paths}))
        got_duck = [
            r[0]
            for r in con.execute(
                f"SELECT {' + '.join(prox_terms)} FROM pths"
            ).fetchall()
        ]
        assert got_duck == want.tolist(), (trial, near)


def test_exclude_langs_filter(spark, corpus, engine):
    """Class-exclusion filter (the no_poi analog, SearchAPIAdapter.java:
    81-85): engine rank-identical to the oracle under exclude_langs, the
    excluded classes absent, and serving (LocalExecutor) identical to the
    Spark path; match_all honors it too."""
    from gazetteer_search_spark.search.fastpath import LocalExecutor

    groups = [_grp(0, ["postings"])]
    opts = SearchOptions(k=15, exclude_langs=("python", "go"))
    got = engine.search_rung(groups, 1, opts)
    want = oracle_topk(corpus, groups, 1, k=15, options=opts)
    assert_rank_identical(
        got.select("doc_id", "score"), want.select("doc_id", "score")
    )
    rows = got.collect()
    assert rows and all(r.lang not in ("python", "go") for r in rows)

    ex = LocalExecutor(engine.index)
    hits = ex.search_rung(groups, 1, opts)
    assert [(h.doc_id, round(h.score, 9)) for h in hits] == [
        (r.doc_id, round(r.score, 9)) for r in rows
    ]

    ma = ex._match_all(SearchOptions(k=30, exclude_langs=("java",)))
    assert ma and all(h.lang != "java" for h in ma)


def test_must_not_exclusion(spark, corpus, engine):
    """Term-level must_not (ES bool.must_not over a match clause — the
    reference's BooleanPart.java:36-37,72-77 shape, wired at
    MainAddressQueryBuilder.java:304-306): engine rank-identical to the
    oracle under exclude_terms, every excluded doc absent, surviving scores
    untouched (must_not contributes no score), serving (LocalExecutor)
    identical to the Spark path, the Lucene-style ``-token`` syntax equal to
    the explicit option, and match_all / pure-negation queries honored."""
    from gazetteer_search_spark.search import bm25
    from gazetteer_search_spark.search.fastpath import LocalExecutor

    groups = [_grp(0, ["postings"])]
    opts = SearchOptions(k=15, exclude_terms=("block",))
    got = engine.search_rung(groups, 1, opts)
    want = oracle_topk(corpus, groups, 1, k=15, options=opts)
    assert_rank_identical(
        got.select("doc_id", "score"), want.select("doc_id", "score")
    )
    rows = got.collect()
    assert rows

    block_ids = {
        r.doc_id
        for r in bm25.doc_table(corpus, "pandas")
        .select("doc_id", F.explode("tokens").alias("t"))
        .filter(F.col("t") == "block")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert block_ids  # the corpus genuinely contains the excluded term
    assert all(r.doc_id not in block_ids for r in rows)

    # surviving docs keep their unexcluded scores (no score contribution)
    base = {
        r.doc_id: r.score
        for r in engine.search_rung(groups, 1, SearchOptions(k=100)).collect()
    }
    for r in rows:
        if r.doc_id in base:
            assert r.score == pytest.approx(base[r.doc_id], rel=1e-9)

    # serving path identical (decode-all route: exclusion gates off the
    # pruned kernel, whose truncation would be rank-unsafe)
    ex = LocalExecutor(engine.index)
    hits = ex.search_rung(groups, 1, opts)
    assert [(h.doc_id, round(h.score, 9)) for h in hits] == [
        (r.doc_id, round(r.score, 9)) for r in rows
    ]

    # inline -token syntax == explicit option, through the full ladder
    lad = SearchOptions(k=15, prefix=False, fuzzy=False, coalesce=False)
    syn = engine.search_hits("postings -block", lad)
    expl = engine.search_hits(
        "postings",
        SearchOptions(
            k=15, prefix=False, fuzzy=False, coalesce=False,
            exclude_terms=("block",),
        ),
    )
    assert [(h.doc_id, round(h.score, 9)) for h in syn] == [
        (h.doc_id, round(h.score, 9)) for h in expl
    ]
    assert syn and all(h.doc_id not in block_ids for h in syn)

    # hyphenated identifiers are NOT negations
    residual_hits = engine.search_hits("foo-bar", lad)  # no crash, no negate
    del residual_hits

    # pure-negation query: match_all minus the excluded set, both tiers
    neg = engine.search_hits("-block", SearchOptions(k=30, prefix=False))
    assert neg and all(h.doc_id not in block_ids for h in neg)
    ma = ex._match_all(SearchOptions(k=30, exclude_terms=("block",)))
    assert ma and all(h.doc_id not in block_ids for h in ma)
    # camelCase negation excludes ANY analyzed subtoken (ES match-OR parity)
    from gazetteer_search_spark.analyzer.query_ir import extract_negations

    res, terms = extract_negations("postings -blockMax")
    assert res.strip() == "postings"
    assert set(terms) >= {"block", "max"}


def test_boosting_demote(spark, corpus, engine):
    """Negative boost (ES boosting-query analog): engine rank-identical to
    the oracle under demote_terms; member docs' scores are exactly
    factor x their undemoted score, non-members untouched, nobody dropped;
    serving (LocalExecutor, decode-all route) identical to the Spark path;
    a doc holding several demote terms demotes ONCE."""
    from gazetteer_search_spark.search import bm25
    from gazetteer_search_spark.search.fastpath import LocalExecutor

    groups = [_grp(0, ["postings"])]
    opts = SearchOptions(k=15, demote_terms=("block",), demote_factor=0.5)
    got = engine.search_rung(groups, 1, opts)
    want = oracle_topk(corpus, groups, 1, k=15, options=opts)
    assert_rank_identical(
        got.select("doc_id", "score"), want.select("doc_id", "score")
    )
    rows = got.collect()
    assert rows

    block_ids = {
        r.doc_id
        for r in bm25.doc_table(corpus, "pandas")
        .select("doc_id", F.explode("tokens").alias("t"))
        .filter(F.col("t") == "block")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert block_ids
    base = {
        r.doc_id: r.score
        for r in engine.search_rung(groups, 1, SearchOptions(k=400)).collect()
    }
    demoted_seen = 0
    for r in rows:
        assert r.doc_id in base
        if r.doc_id in block_ids:
            assert r.score == pytest.approx(base[r.doc_id] * 0.5, rel=1e-6)
            demoted_seen += 1
        else:
            assert r.score == pytest.approx(base[r.doc_id], rel=1e-9)

    # demotion keeps members in the set (vs must_not) — the full page holds
    # the same universe as the undemoted run at the same k
    full = engine.search_rung(groups, 1, SearchOptions(k=400, demote_terms=("block",))).collect()
    assert {r.doc_id for r in full} == set(base)

    # serving path identical (demote gates off the pruned kernel)
    ex = LocalExecutor(engine.index)
    hits = ex.search_rung(groups, 1, opts)
    assert [(h.doc_id, round(h.score, 9)) for h in hits] == [
        (r.doc_id, round(r.score, 9)) for r in rows
    ]

    # double-membership demotes once: both demote terms hit some doc that
    # contains both; its score is factor x base, not factor^2 x base
    opts2 = SearchOptions(k=400, demote_terms=("block", "max"), demote_factor=0.5)
    got2 = {r.doc_id: r.score for r in engine.search_rung(groups, 1, opts2).collect()}
    max_ids = {
        r.doc_id
        for r in bm25.doc_table(corpus, "pandas")
        .select("doc_id", F.explode("tokens").alias("t"))
        .filter(F.col("t") == "max")
        .select("doc_id")
        .distinct()
        .collect()
    }
    both = (block_ids & max_ids) & set(base)
    assert both, "corpus must contain docs holding both demote terms"
    for d in both:
        assert got2[d] == pytest.approx(base[d] * 0.5, rel=1e-6)


def test_dis_max_tie_breaker(spark, corpus, engine):
    """ES dis_max tie_breaker: a group's losing variants contribute a
    fraction — gscore = max + tb * (sum - max). Engine rank-identical to the
    no-index oracle; group scores formula-exact against singleton-term
    searches; tb=0 collapses to pure dis_max; serving (decode-all route) and
    the sharded-partials coordinator merge both identical to the Spark
    path."""
    from gazetteer_search_spark.search.fastpath import (
        LocalExecutor,
        sharded_search_rung,
    )

    groups = [_grp(0, ["merge", "postings"]), _grp(1, ["block"])]
    opts = SearchOptions(k=400, tie_breaker=0.3)
    got = engine.search_rung(groups, 2, opts)
    want = oracle_topk(corpus, groups, 2, k=400, options=opts)
    assert_rank_identical(
        got.select("doc_id", "score"), want.select("doc_id", "score")
    )
    rows = got.collect()
    assert rows

    def _single(term):
        return {
            r.doc_id: r.score
            for r in engine.search_rung(
                [_grp(0, [term])], 1, SearchOptions(k=400)
            ).collect()
        }

    m, p, b = _single("merge"), _single("postings"), _single("block")
    both = 0
    for r in rows:
        parts = [v for v in (m.get(r.doc_id), p.get(r.doc_id)) if v is not None]
        assert parts and r.doc_id in b
        g0 = max(parts) + 0.3 * (sum(parts) - max(parts))
        assert r.score == pytest.approx(g0 + b[r.doc_id], rel=1e-6), r.doc_id
        if len(parts) == 2:
            both += 1
    assert both, "corpus must contain docs holding both group-0 variants"

    # tb=0 is pure dis_max — and tb>0 actually changes some scores
    plain = {
        r.doc_id: r.score
        for r in engine.search_rung(groups, 2, SearchOptions(k=400)).collect()
    }
    assert set(plain) == {r.doc_id for r in rows}  # same match universe
    changed = sum(
        1 for r in rows if abs(plain[r.doc_id] - r.score) > 1e-9
    )
    assert changed, "tie_breaker must change double-variant docs' scores"

    # serving decode-all path identical
    ex = LocalExecutor(engine.index)
    hits = ex.search_rung(groups, 2, opts)
    assert [(h.doc_id, round(h.score, 9)) for h in hits] == [
        (r.doc_id, round(r.score, 9)) for r in rows
    ]

    # term-bucket-sharded partials merge max AND sum associatively
    n_b = engine.index.n_buckets
    tshards = [
        LocalExecutor(engine.index, buckets=list(range(n_b // 2))),
        LocalExecutor(engine.index, buckets=list(range(n_b // 2, n_b))),
    ]
    assert sharded_search_rung(tshards, groups, 2, opts) == hits


def test_collapse_field(spark, corpus, engine):
    """ES field collapsing: each key's best-scoring doc only (rank key
    (round(score,9) desc, doc_id)); universe = one hit per distinct key;
    serving decode-all route identical to the Spark path; collapse applies
    BEFORE the keyset cursor (stable pagination, no repeated keys across
    pages); match_all + collapse = first doc per key; unknown key raises."""
    from gazetteer_search_spark.search.fastpath import LocalExecutor

    groups = [_grp(0, ["postings"])]
    opts = SearchOptions(k=400, collapse="repo")
    rows = engine.search_rung(groups, 1, opts).collect()
    assert rows

    base = engine.search_rung(groups, 1, SearchOptions(k=400)).collect()
    best = {}
    meta = {r.doc_id: r.repo for r in base}
    for r in sorted(base, key=lambda r: (-round(r.score, 9), r.doc_id)):
        best.setdefault(r.repo, (r.doc_id, r.score))
    assert {r.doc_id for r in rows} == {d for d, _ in best.values()}
    assert len(rows) == len(best)  # one hit per distinct key
    for r in rows:
        assert r.score == pytest.approx(best[meta[r.doc_id]][1], rel=1e-9)

    # serving path identical
    ex = LocalExecutor(engine.index)
    hits = ex.search_rung(groups, 1, opts)
    assert [(h.doc_id, round(h.score, 9)) for h in hits] == [
        (r.doc_id, round(r.score, 9)) for r in rows
    ]

    # cursor composition: page 2 resumes the COLLAPSED order — no key from
    # page 1 reappears
    page1 = engine.search_rung(groups, 1, SearchOptions(k=3, collapse="repo")).collect()
    cur = (page1[-1].score, page1[-1].doc_id)
    page2 = engine.search_rung(
        groups, 1, SearchOptions(k=3, collapse="repo", after=cur)
    ).collect()
    assert [r.doc_id for r in rows][:6] == [
        r.doc_id for r in page1 + page2
    ]
    assert not ({r.repo for r in page1} & {r.repo for r in page2})

    # match_all + collapse: lowest doc_id per key, both tiers
    ma = engine.search_rung([], 0, SearchOptions(k=400, collapse="repo")).collect()
    all_docs = engine.search_rung([], 0, SearchOptions(k=100000)).collect()
    first = {}
    for r in sorted(all_docs, key=lambda r: r.doc_id):
        first.setdefault(r.repo, r.doc_id)
    assert {r.doc_id for r in ma} == set(first.values())
    ma_local = ex.search_rung([], 0, SearchOptions(k=400, collapse="repo"))
    assert [h.doc_id for h in ma_local] == [r.doc_id for r in ma]

    with pytest.raises(ValueError, match="collapse"):
        engine.search_rung(groups, 1, SearchOptions(k=5, collapse="nope")).collect()


def test_validate_query_plan_without_execution(engine):
    """ES _validate/query?explain=true analog: validate_query reports the
    strict-rung plan (clause dfs, msm, expansions, estimated cost) without
    running it, never raises, and its unsatisfiable verdict agrees with
    the engine's actual behavior on an all-out-of-vocabulary query."""
    noprefix = SearchOptions(prefix=False)
    v = engine.validate_query("merge postings", noprefix)
    assert v["valid"] is True and v["msm"] == 2
    by = {c["name"]: c for c in v["clauses"]}
    assert by["merge"]["required"] and by["merge"]["df"] > 0
    assert by["postings"]["df"] > 0
    assert v["estimated_postings"] == sum(c["df"] for c in v["clauses"])
    assert v["unsatisfiable"] is False

    # default options: the trailing token plans as the prefix group —
    # exactly what search() would run
    vpfx = engine.validate_query("merge postings")
    assert {c["name"] for c in vpfx["clauses"]} == {"merge", "prefix"}

    # negation syntax surfaces as must_not, not as a clause
    vn = engine.validate_query("merge -postings", noprefix)
    assert vn["valid"] is True and vn["must_not"]
    assert "postings" not in {c["name"] for c in vn["clauses"]}

    # quoted phrase: reported with its rarest-term df bound
    vp = engine.validate_query('"merge postings"', noprefix)
    assert vp["valid"] is True and vp["phrases"]
    ph = vp["phrases"][0]
    assert ph["terms"] and ph["df"] <= min(
        engine._df_for_terms(ph["terms"]).values()
    )

    # /regex/ pattern: dictionary expansion size, no execution
    vr = engine.validate_query("merge /post.*/", noprefix)
    assert vr["valid"] is True and vr["patterns"]
    assert vr["patterns"][0]["expanded_terms"] > 0

    # malformed regexp: ES 200-with-valid:false envelope, never a raise
    vb = engine.validate_query("/unclosed(/", noprefix)
    assert vb["valid"] is False and "error" in vb

    # out-of-vocabulary required clause: flagged unsatisfiable, and the
    # real search of an ALL-OOV query indeed returns nothing
    vu = engine.validate_query("zzzqqq merge", noprefix)
    assert vu["unsatisfiable"] is True
    assert engine.search_hits("zzzqqq wwwxxx", noprefix) == []
