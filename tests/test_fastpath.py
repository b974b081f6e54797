"""Serving fast path: rank-identical to the distributed engine on every query
shape, millisecond-class warm latency, zero Spark jobs per query."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder
from gazetteer_search_spark.search.engine import SearchEngine, SearchOptions, TermGroup
from gazetteer_search_spark.sources import synthetic_corpus

N_DOCS = 500


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_fast"))
    return builder.build_index(
        spark, synthetic_corpus(spark, N_DOCS), out, n_buckets=8,
        postings_per_group=128, extra_fields={"name": "path"},
    )


@pytest.fixture(scope="module")
def spark_eng(spark, index):
    return SearchEngine(spark, index)


@pytest.fixture(scope="module")
def local_eng(spark, index):
    eng = SearchEngine(spark, index, serving=True)
    assert eng._local is not None
    return eng


def _grp(gid, terms, required=True, weight=1.0, tw=None):
    return TermGroup(
        group_id=gid, terms=tuple(terms), required=required, weight=weight,
        term_weights=tw,
    )


CASES = [
    ([_grp(0, ["postings"])], 1, SearchOptions()),
    ([_grp(0, ["merge"]), _grp(1, ["postings"])], 2, SearchOptions()),
    ([_grp(0, ["merge"]), _grp(1, ["score"]), _grp(2, ["index"])], 2, SearchOptions()),
    ([_grp(0, ["merge", "mergepostings"]), _grp(1, ["block"])], 2, SearchOptions()),
    ([_grp(0, ["postings"]), _grp(1, ["def"], required=False, weight=0.5)], 1, SearchOptions()),
    ([_grp(0, ["postings"])], 1, SearchOptions(lang="python", lang_boosts={"python": 2.0})),
    ([_grp(0, ["postings"])], 1, SearchOptions(repo="org1/repo1")),
    ([_grp(0, ["name:mod7", "mod7"], tw=(5.0, 1.0))], 1, SearchOptions()),
    ([], 0, SearchOptions(lang="go")),
    ([], 0, SearchOptions(lang="go", after=(0.0, 50))),  # match_all + cursor
]


@pytest.mark.parametrize("groups,msm,opts", CASES)
def test_local_matches_spark_engine(spark_eng, local_eng, groups, msm, opts):
    want = spark_eng.search_rung(groups, msm, opts).collect()
    got = local_eng.search_rung(groups, msm, opts).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    for g, w in zip(got, want):
        assert g.score == pytest.approx(w.score, rel=1e-9)
        assert g.matched_required == w.matched_required
        assert (g.path, g.lang) == (w.path, w.lang)


def _content_dict(index) -> list[tuple[str, int]]:
    """Brute-force reference: the content-namespace (term, df) rows of
    term_stats in expansion order (df desc, term asc)."""
    rows = index.term_stats.filter(~F.col("term").contains(":")).collect()
    return sorted(((r.term, int(r.df)) for r in rows), key=lambda x: (-x[1], x[0]))


def test_local_expansions_match_brute_force(index, local_eng):
    from gazetteer_search_spark.search.termdict import (
        MAX_FUZZY_EXPANSIONS,
        MAX_PREFIX_EXPANSIONS,
        damerau_levenshtein,
    )

    ranked = _content_dict(index)
    want = [t for t, _ in ranked if t.startswith("merge")][:MAX_PREFIX_EXPANSIONS]
    assert local_eng.expand_prefix("merge") == want and want
    # Damerau <= 1 (OSA and unrestricted agree at one edit)
    want = [t for t, _ in ranked if damerau_levenshtein(t, "mergf", cap=1) <= 1]
    assert local_eng.expand_fuzzy("mergf") == want[:MAX_FUZZY_EXPANSIONS] and want


def test_local_ladder_and_trim(spark_eng, local_eng):
    opts = SearchOptions(k=10, prefix=False, fuzzy=False)
    want = spark_eng.search("zzzqqq postings", opts).collect()
    got = local_eng.search("zzzqqq postings", opts).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]


def test_local_warm_latency_under_100ms(local_eng):
    """The serving surface (rows, zero Spark jobs) — the VERDICT r1 target."""
    g = [_grp(0, ["postings"])]
    local_eng.search_rung_rows(g, 1, SearchOptions())  # warm caches
    t0 = time.perf_counter()
    rows = local_eng.search_rung_rows(g, 1, SearchOptions())
    dt = time.perf_counter() - t0
    assert rows and dt < 0.1, f"warm serving query took {dt * 1000:.0f} ms"

    # full ladder (analyze + up to 3 rungs + trim) also serves under budget
    local_eng.search_hits("merge postings", SearchOptions(k=10))
    t0 = time.perf_counter()
    hits = local_eng.search_hits("merge postings", SearchOptions(k=10))
    dt = time.perf_counter() - t0
    assert hits and dt < 0.1, f"warm ladder took {dt * 1000:.0f} ms"


def test_randomized_rank_identity_three_ways(spark, index, spark_eng, local_eng):
    """Seeded random sweep: arbitrary group structures (variants, optional
    weights, msm, cross-field boosts) must rank identically through the
    distributed engine, the serving executor, and the no-index oracle."""
    import random

    from gazetteer_search_spark.search.engine import oracle_topk
    from gazetteer_search_spark.sources import synthetic_corpus

    corpus = synthetic_corpus(spark, 500).cache()
    vocab = [
        "postings", "merge", "score", "index", "block", "def", "return",
        "buffer", "stream", "checkpoint", "mergepostings", "name:src",
        "name:mod7", "zzznope",
    ]
    rng = random.Random(1234)
    for trial in range(12):
        n_groups = rng.randint(1, 4)
        groups = []
        for gid in range(n_groups):
            terms = tuple(rng.sample(vocab, rng.randint(1, 3)))
            tw = (
                tuple(rng.choice([1.0, 2.0, 5.0]) for _ in terms)
                if rng.random() < 0.4
                else None
            )
            groups.append(
                TermGroup(
                    group_id=gid,
                    terms=terms,
                    required=rng.random() < 0.8,
                    weight=rng.choice([1.0, 0.5, 2.0]),
                    term_weights=tw,
                )
            )
        n_req = sum(1 for g in groups if g.required)
        msm = rng.randint(0, max(n_req, 1))
        opts = SearchOptions(k=rng.choice([5, 10, 20]))

        a = spark_eng.search_rung(groups, msm, opts).collect()
        b = local_eng.search_rung(groups, msm, opts).collect()
        assert [r.doc_id for r in a] == [r.doc_id for r in b], (trial, groups, msm)
        for x, y in zip(a, b):
            assert x.score == pytest.approx(y.score, rel=1e-9), (trial, x, y)
            assert x.matched_required == y.matched_required

        # the no-index oracle covers content-only groups (it has no fields)
        if all(":" not in t for g in groups for t in g.terms):
            c = oracle_topk(corpus, groups, msm, k=opts.k, options=opts)
            cc = c.collect()
            assert [r.doc_id for r in a] == [r.doc_id for r in cc], (trial, groups)


def test_search_after_pagination(spark_eng, local_eng):
    """T3 keyset pagination: page2 via cursor equals rows k+1..2k of a 2k
    query, identically on both paths; pages are disjoint."""
    g = [_grp(0, ["postings"])]
    for eng in (spark_eng, local_eng):
        full = eng.search_rung(g, 1, SearchOptions(k=20)).collect()
        p1 = eng.search_rung(g, 1, SearchOptions(k=10)).collect()
        cur = (p1[-1].score, p1[-1].doc_id)
        p2 = eng.search_rung(g, 1, SearchOptions(k=10, after=cur)).collect()
        assert [r.doc_id for r in p1 + p2] == [r.doc_id for r in full]
        assert not ({r.doc_id for r in p1} & {r.doc_id for r in p2})


def test_matched_clause_names(local_eng):
    from gazetteer_search_spark.search.engine import matched_clause_names

    groups = [
        TermGroup(0, ("postings",), True, name="body"),
        TermGroup(1, ("zzznope",), False, name="missing"),
    ]
    rows = local_eng.search_rung_rows(groups, 1, SearchOptions(k=3))
    assert rows and matched_clause_names(rows[0].matched_mask, groups) == ["body"]


def test_bucket_sharded_serving_matches_full(spark, index, local_eng):
    """Term-bucket sharding: two half-index shard executors, coordinator
    dis_max-merge — identical hits to the unsharded executor, including a
    cross-field group whose terms land in different shards."""
    from gazetteer_search_spark.search.fastpath import (
        LocalExecutor,
        sharded_search_rung,
    )

    n_b = index.n_buckets
    shard_a = LocalExecutor(index, buckets=list(range(n_b // 2)))
    shard_b = LocalExecutor(index, buckets=list(range(n_b // 2, n_b)))

    cases = [
        ([_grp(0, ["postings"])], 1, SearchOptions(k=10)),
        ([_grp(0, ["merge"]), _grp(1, ["postings"])], 2, SearchOptions(k=10)),
        (
            [_grp(0, ["name:mod7", "mod7", "merge"], tw=(5.0, 1.0, 1.0))],
            1,
            SearchOptions(k=10),
        ),
        (
            [_grp(0, ["postings"]), _grp(1, ["def"], required=False, weight=0.5)],
            1,
            SearchOptions(k=10, lang="python"),
        ),
    ]
    for groups, msm, opts in cases:
        want = local_eng._local.search_rung(groups, msm, opts)
        got = sharded_search_rung([shard_a, shard_b], groups, msm, opts)
        assert got == want, (groups, msm)


def test_null_metadata_preserved(spark, tmp_path_factory):
    """Nullable doc metadata must come back as SQL null on BOTH paths — the
    serving path used to str()-coerce None into the literal "None" (ADVICE
    r2); path_prefix filters must treat null as non-matching, not crash."""
    from pyspark.sql import functions as F

    corpus = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit("org/r")).alias("repo"),  # else null
        F.when(F.col("id") % 3 == 0, F.format_string("src/%d.py", "id")).alias("path"),
        F.lit("c").alias("commit"),
        F.when(F.col("id") % 2 == 1, F.lit("python")).alias("lang"),  # else null
        F.lit("shared nulldoc tokens").alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_nulls"))
    idx = builder.build_index(spark, corpus, out, n_buckets=4)
    spark_eng = SearchEngine(spark, idx)
    local_eng = SearchEngine(spark, idx, serving=True)
    assert local_eng._local is not None

    g = [_grp(0, ["nulldoc"])]
    for opts in (SearchOptions(k=10), SearchOptions(k=10, path_prefix="src/")):
        want = spark_eng.search_rung(g, 1, opts).collect()
        got = local_eng.search_rung(g, 1, opts).collect()
        assert [r.doc_id for r in got] == [r.doc_id for r in want]
        for gr, wr in zip(got, want):
            assert (gr.repo, gr.path, gr.lang) == (wr.repo, wr.path, wr.lang)
    # nulls really did flow through as None (doc 1: odd -> repo null)
    hits = local_eng.search_rung(g, 1, SearchOptions(k=10)).collect()
    assert any(r.repo is None for r in hits) and any(r.lang is None for r in hits)


def test_expansion_cache_bounded(index):
    """LRU bound: a long-lived serving node's expansion memo holds flat."""
    from gazetteer_search_spark.search.termdict import TermDict

    td = TermDict([index.paths.term_stats])
    td.memo_max = 16
    for i in range(200):
        td.expand_prefix(f"zz{i}x")
    assert len(td._memo) <= 16
    # repeat lookups still hit the memo (most-recent keys retained)
    td.expand_prefix("zz199x")
    assert ("p", "zz199x") in td._memo


def test_serving_blockmax_pruning_skips_blocks(spark, tmp_path_factory):
    """Serving-path dynamic pruning (VERDICT r2 next-round #1): on a hot-term
    OR rare-term query the LocalExecutor must leave the hot list's
    out-of-band blocks undecoded — and stay identical to the decode-all
    formulation."""
    from pyspark.sql import functions as F

    n = 6000
    corpus = (
        spark.range(0, n, 1, 8)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("r").alias("repo"),
            F.format_string("f/%d.py", "id").alias("path"),
            F.lit("c").alias("commit"),
            F.lit("python").alias("lang"),
            F.when(
                F.col("id").between(1000, 1009),
                F.lit("common filler tokens raregem here"),
            )
            .otherwise(F.lit("common filler tokens steady here"))
            .alias("content"),
        )
        .cache()
    )
    out = str(tmp_path_factory.mktemp("idx_servebmw"))
    idx = builder.build_index(spark, corpus, out, n_buckets=4, postings_per_group=1 << 20)
    eng = SearchEngine(spark, idx, serving=True)
    ex = eng._local
    assert ex is not None

    groups = [_grp(0, ["common"]), _grp(1, ["raregem"])]
    opts = SearchOptions(k=5)
    ex.counters.reset()
    got = ex.search_rung(groups, 1, opts)
    pruned_decoded = ex.counters.decoded.value
    assert ex.counters.skipped.value > 10, (
        ex.counters.decoded.value, ex.counters.skipped.value
    )
    # decode-all formulation (the sharded-partials path) agrees exactly
    want = ex.combine_parts(ex.group_parts(groups, opts), groups, 1, opts)
    assert got == want
    assert pruned_decoded < ex.counters.decoded.value - pruned_decoded, (
        "pruned path must decode strictly fewer blocks than decode-all"
    )

    # strict AND also prunes: candidate window from the rare list skips
    # out-of-window hot blocks
    ex.counters.reset()
    got_and = ex.search_rung(groups, 2, opts)
    want_and = ex.combine_parts(ex.group_parts(groups, opts), groups, 2, opts)
    assert got_and == want_and

    # sharded-vs-full identity holds at this bigger (6k-doc) size too, for
    # BOTH sharding shapes (term-bucket partials and doc-range kernels)
    from gazetteer_search_spark.search.fastpath import (
        LocalExecutor,
        doc_sharded_search_rung,
        sharded_search_rung,
    )

    n_b = idx.n_buckets
    tshards = [
        LocalExecutor(idx, buckets=list(range(n_b // 2))),
        LocalExecutor(idx, buckets=list(range(n_b // 2, n_b))),
    ]
    for msm in (1, 2):
        want = ex.combine_parts(ex.group_parts(groups, opts), groups, msm, opts)
        assert sharded_search_rung(tshards, groups, msm, opts) == want
        assert doc_sharded_search_rung(ex, groups, msm, opts, 4) == want


def test_serving_latency_df_independent(spark, tmp_path_factory):
    """Hot-term df grows 8x -> pruned-path latency must NOT grow with it
    (block decode work is bounded by the rare band, not the hot df)."""
    import time as _t

    from pyspark.sql import functions as F

    def _mk(n, tag):
        corpus = (
            spark.range(0, n, 1, 8)
            .select(
                F.col("id").alias("doc_id"),
                F.lit("r").alias("repo"),
                F.format_string("f/%d.py", "id").alias("path"),
                F.lit("c").alias("commit"),
                F.lit("python").alias("lang"),
                F.when(
                    F.col("id").between(100, 109),
                    F.lit("hotword filler raregem here"),
                )
                .otherwise(F.lit("hotword filler steady here"))
                .alias("content"),
            )
        )
        out = str(tmp_path_factory.mktemp(f"idx_dfind_{tag}"))
        idx = builder.build_index(spark, corpus, out, n_buckets=4, postings_per_group=1 << 20)
        return SearchEngine(spark, idx, serving=True)._local

    small, big = _mk(4000, "s"), _mk(32000, "b")
    groups = [_grp(0, ["hotword"]), _grp(1, ["raregem"])]
    opts = SearchOptions(k=5)

    def _best(ex):
        ex.search_rung(groups, 1, opts)  # warm
        best = 1e9
        for _ in range(5):
            t0 = _t.perf_counter()
            ex.search_rung(groups, 1, opts)
            best = min(best, _t.perf_counter() - t0)
        return best

    t_small, t_big = _best(small), _best(big)
    # decoded blocks stay bounded; allow generous noise but catch linear growth
    assert t_big < 4 * t_small + 0.01, (t_small, t_big)


def test_doc_sharded_serving_matches_full(spark, index, local_eng):
    """Doc-range sharding (the linear-qps serving tier shape): N range
    kernels + coordinator top-k == single-executor answer, across option
    shapes including filters and cursor (truncation auto-disables)."""
    from gazetteer_search_spark.search.fastpath import doc_sharded_search_rung

    ex = local_eng._local
    cases = [
        ([_grp(0, ["postings"])], 1, SearchOptions(k=10)),
        ([_grp(0, ["merge"]), _grp(1, ["postings"])], 2, SearchOptions(k=10)),
        ([_grp(0, ["merge"]), _grp(1, ["postings"])], 1, SearchOptions(k=10)),
        (
            [_grp(0, ["name:mod7", "mod7", "merge"], tw=(5.0, 1.0, 1.0))],
            1,
            SearchOptions(k=10),
        ),
        ([_grp(0, ["postings"])], 1, SearchOptions(k=10, lang="python")),
        ([], 0, SearchOptions(k=10, lang="go")),
    ]
    for n_shards in (2, 5):
        for groups, msm, opts in cases:
            want = ex.search_rung(groups, msm, opts)
            got = doc_sharded_search_rung(ex, groups, msm, opts, n_shards)
            assert got == want, (n_shards, groups, msm)
    # cursor: page2 via doc-sharded equals single-executor page2
    g = [_grp(0, ["postings"])]
    p1 = ex.search_rung(g, 1, SearchOptions(k=10))
    cur = (p1[-1].score, p1[-1].doc_id)
    want = ex.search_rung(g, 1, SearchOptions(k=10, after=cur))
    got = doc_sharded_search_rung(ex, g, 1, SearchOptions(k=10, after=cur), 3)
    assert got == want


def test_block_cache_hot_terms_resident(local_eng):
    """Term-LRU block cache: a repeated term is served from memory (no new
    cache entries), and the bytes bound evicts cold terms."""
    ex = local_eng._local
    ex._block_cache.clear()
    ex._block_cache_bytes = 0
    g = [_grp(0, ["postings"])]
    ex.search_rung(g, 1, SearchOptions(k=5))
    assert "postings" in ex._block_cache
    n_entries = len(ex._block_cache)
    ex.search_rung(g, 1, SearchOptions(k=5))  # hit: no growth
    assert len(ex._block_cache) == n_entries
    # force the bound: everything except the current query's terms evicts
    ex.block_cache_max_bytes = 0
    ex.search_rung([_grp(0, ["merge"])], 1, SearchOptions(k=5))
    assert "merge" in ex._block_cache and len(ex._block_cache) == 1
    ex.block_cache_max_bytes = 512 << 20


@pytest.fixture(scope="module")
def lazy_eng(spark, index):
    """Lazy serving engine: metadata-only block reads, per-block payload
    fetch, point-lookup doc hydration."""
    eng = SearchEngine(spark, index, serving=True, lazy_payloads=True)
    assert eng._local is not None and eng._local.lazy_payloads
    return eng


@pytest.mark.parametrize("groups,msm,opts", CASES)
def test_lazy_matches_eager(local_eng, lazy_eng, groups, msm, opts):
    """Lazy payload + doc hydration is invisible to results: every CASES
    shape (incl. doc-side filters and match_all, which fall back to full
    loads) returns identical rows."""
    want = local_eng._local.search_rung(groups, msm, opts)
    got = lazy_eng._local.search_rung(groups, msm, opts)
    assert got == want


def test_lazy_payload_io_bounded_by_decode(spark, tmp_path_factory):
    """Cold lazy query on a skewed index: payload IO blocks == decoded
    blocks << total hot-term blocks (the df-linear IO term the 10x serving
    experiment exposed — eager mode reads every matching block's payload)."""
    from gazetteer_search_spark.search.fastpath import LocalExecutor

    out = str(tmp_path_factory.mktemp("idx_lazyio"))
    idx = builder.build_index(
        spark, synthetic_corpus(spark, 6000), out, n_buckets=8,
        postings_per_group=128,
    )
    ex = LocalExecutor(idx, lazy_payloads=True)
    groups = [_grp(0, ["def"]), _grp(1, ["sym123"]), _grp(2, ["id77"])]
    got = ex.search_rung(groups, 1, SearchOptions(k=10))
    assert got  # non-empty
    assert ex.payload_io_blocks == ex.counters.decoded.value
    assert ex.counters.skipped.value > 0
    # the skipped blocks' payloads were never read
    assert ex.payload_io_blocks < (
        ex.counters.decoded.value + ex.counters.skipped.value
    )
    # identical to the eager executor on the same index
    want = LocalExecutor(idx).search_rung(groups, 1, SearchOptions(k=10))
    assert got == want


def test_sparkfree_engine_matches_spark_engine(spark_eng, index):
    """load_index_local + SearchEngine(spark=None): a serving node with no
    JVM at all answers rank-identically through the full search() lifecycle
    (analyzer, ladder, expansions, trim)."""
    from gazetteer_search_spark.index.builder import load_index_local

    idx = load_index_local(index.paths.root)
    assert (idx.n_docs, idx.n_buckets, idx.max_doc_id) == (
        index.n_docs, index.n_buckets, index.max_doc_id,
    )
    eng = SearchEngine(None, idx, serving=True, lazy_payloads=True)
    opts = SearchOptions(k=10)
    for q in ["merge postings", "Mod7 score", "zzzqqq postings"]:
        want = spark_eng.search(q, opts).collect()
        got = eng.search_hits(q, opts)
        assert [h.doc_id for h in got] == [r.doc_id for r in want]
        for h, w in zip(got, want):
            assert h.score == pytest.approx(w.score, rel=1e-9)
            assert (h.path, h.lang) == (w.path, w.lang)


def test_doc_meta_cache_bounded(lazy_eng):
    ex = lazy_eng._local
    ex._doc_meta_cache.clear()
    ex.doc_meta_cache_max = 8
    ex.search_rung([_grp(0, ["postings"])], 1, SearchOptions(k=20))
    assert 0 < len(ex._doc_meta_cache) <= 8
    ex.doc_meta_cache_max = 200_000


def test_near_path_proximity_sort(spark_eng, local_eng, lazy_eng, index):
    """near_path (the lat/lon geo-distance-sort analog): serving paths ==
    Spark path under the proximity tie-break, and a same-directory doc
    outranks an equal-scored doc from elsewhere."""
    from pyspark.sql import functions as F

    near = (
        index.docs.filter(F.col("doc_id") == 7).select("path").collect()[0][0]
    )
    g = [_grp(0, ["postings"])]
    opts = SearchOptions(k=15, near_path=near)
    want = spark_eng.search_rung(g, 1, opts).collect()
    got_local = local_eng._local.search_rung(g, 1, opts)
    got_lazy = lazy_eng._local.search_rung(g, 1, opts)
    assert [h.doc_id for h in got_local] == [r.doc_id for r in want]
    assert [h.doc_id for h in got_lazy] == [r.doc_id for r in want]
    # the anchor's own directory wins its tie group: the first hit sharing
    # the anchor's score must share more leading components than the last
    from gazetteer_search_spark.search.fastpath import _path_proximity_np
    import numpy as np

    paths = np.array([h.path for h in got_local], dtype=object)
    prox = _path_proximity_np(paths, near)
    scores = [round(h.score, 9) for h in got_local]
    for i in range(1, len(got_local)):
        if scores[i - 1] == scores[i]:
            assert prox[i - 1] >= prox[i]  # prox descending within ties


def test_near_path_with_cursor_rejected(local_eng):
    with pytest.raises(ValueError):
        local_eng._local.search_rung(
            [_grp(0, ["postings"])], 1,
            SearchOptions(k=5, near_path="a/b", after=(1.0, 2)),
        )


def test_decoded_block_cache_hits_and_bound(local_eng):
    """Decoded-block cache: second identical query hits raw decodes (no new
    entries), results identical; bytes bound evicts."""
    ex = local_eng._local
    ex.decoded_cache.clear()
    ex.decoded_cache.bytes = 0
    g = [_grp(0, ["postings"]), _grp(1, ["merge"])]
    first = ex.search_rung(g, 2, SearchOptions(k=10))
    n1, b1 = len(ex.decoded_cache), ex.decoded_cache.bytes
    assert n1 > 0 and b1 > 0
    second = ex.search_rung(g, 2, SearchOptions(k=10))
    assert second == first
    assert (len(ex.decoded_cache), ex.decoded_cache.bytes) == (n1, b1)
    # force the bound: everything evicts down to the budget
    ex.decoded_cache.max_bytes = 0
    ex.decoded_cache.trim()
    assert len(ex.decoded_cache) == 0 and ex.decoded_cache.bytes == 0
    ex.decoded_cache.max_bytes = 256 << 20
    # and a query still answers identically through an empty cache
    assert ex.search_rung(g, 2, SearchOptions(k=10)) == first


def test_serving_caches_bounded_under_churn(spark, index):
    """Long-lived serving node: the dictionary's expansion memo and the
    executor's caches (block cache, payload LRU, decoded-block cache,
    doc-meta LRU) hold their bounds across hundreds of distinct queries —
    memory stays flat."""
    from gazetteer_search_spark.search.fastpath import LocalExecutor
    from gazetteer_search_spark.search.termdict import TermDict

    ex = LocalExecutor(index, lazy_payloads=True)
    td = TermDict([index.paths.term_stats])
    td.memo_max = 64
    ex.block_cache_max_bytes = 1 << 20
    ex.decoded_cache.max_bytes = 1 << 20
    ex.doc_meta_cache_max = 500
    vocab = [
        "postings", "merge", "score", "index", "block", "def", "return",
        "buffer", "stream", "checkpoint", "public", "static", "class",
    ]
    import random

    rng = random.Random(9)
    for i in range(300):
        t1, t2 = rng.sample(vocab, 2)
        ex.search_rung(
            [_grp(0, [t1]), _grp(1, [t2])], rng.choice([1, 2]),
            SearchOptions(k=rng.choice([5, 10])),
        )
        td.expand_prefix(f"pfx{i}")
    assert len(td._memo) <= 64
    assert ex.decoded_cache.bytes <= ex.decoded_cache.max_bytes
    assert len(ex._doc_meta_cache) <= 500
    # block cache: bytes accounting may exceed transiently mid-query but the
    # steady state respects the bound (eviction keeps current-query terms)
    assert ex._block_cache_bytes <= ex.block_cache_max_bytes + (1 << 20)


def test_suggest_matches_brute_force(spark, index):
    """engine.suggest returns the ranked (term, df) list a brute-force scan
    of term_stats gives; field-namespace terms never appear."""
    from gazetteer_search_spark.search.engine import SearchEngine

    srv = SearchEngine(spark, index, serving=True)
    ranked = _content_dict(index)
    for pfx in ("me", "b", "s"):
        a = srv.suggest(pfx, 10)
        assert a == [(t, d) for t, d in ranked if t.startswith(pfx)][:10]
        assert all(t.startswith(pfx) and ":" not in t for t, _ in a)
        dfs = [d for _, d in a]
        assert dfs == sorted(dfs, reverse=True)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        srv.suggest("")


def test_termdict_byte_bound(spark, index, monkeypatch):
    """A dictionary above MAX_TERMDICT_BYTES (checked from the parquet
    footers before loading) makes every dictionary operation raise a
    ValueError naming the bound and the dictionary's size; a query whose
    ladder makes no dictionary call still answers."""
    from gazetteer_search_spark.search import termdict

    monkeypatch.setattr(termdict, "MAX_TERMDICT_BYTES", 64)
    size = termdict._footer_bytes(index.paths.term_stats)
    assert size > 64
    eng = SearchEngine(spark, index, serving=True)
    ops = [
        lambda: eng.expand_prefix("me"),
        lambda: eng.expand_fuzzy("mergf"),
        lambda: eng.expand_regexp("me.ge"),
        lambda: eng.expand_wildcard("me*ge"),
        lambda: eng.suggest("me"),
        lambda: eng._df_for_terms(["merge"]),
    ]
    for op in ops:
        with pytest.raises(ValueError) as e:
            op()
        assert f"{size} bytes" in str(e.value)
        assert "MAX_TERMDICT_BYTES bound of 64 bytes" in str(e.value)
    hits = eng.search_hits("merge postings", SearchOptions(prefix=False, fuzzy=False))
    assert hits
