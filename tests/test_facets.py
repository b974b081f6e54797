"""Facet aggregations over the FULL match set (ES aggregations-on-query
analog; beyond reference — the reference's ES queries attach aggs the same
way): Spark single-pass agg vs the serving executor's numpy twin vs the
multi-generation merge, plus the HTTP surface."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder
from gazetteer_search_spark.search.engine import (
    SearchEngine,
    SearchOptions,
    TermGroup,
)
from gazetteer_search_spark.server import make_server
from gazetteer_search_spark.sources import synthetic_corpus

N_DOCS = 400


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_facet"))
    return builder.build_index(
        spark, synthetic_corpus(spark, N_DOCS), out, n_buckets=4
    )


@pytest.fixture(scope="module")
def spark_eng(spark, index):
    return SearchEngine(spark, index)


@pytest.fixture(scope="module")
def local_eng(spark, index):
    return SearchEngine(spark, index, serving=True)


def _grp(gid, terms, required=True, weight=1.0):
    return TermGroup(
        group_id=gid, terms=tuple(terms), required=required, weight=weight
    )


CASES = [
    ([_grp(0, ["postings"])], 1, SearchOptions()),
    ([_grp(0, ["merge"]), _grp(1, ["postings"])], 2, SearchOptions()),
    ([_grp(0, ["merge"]), _grp(1, ["block"])], 1, SearchOptions()),
    ([_grp(0, ["postings"])], 1, SearchOptions(lang="python")),
    ([_grp(0, ["postings"])], 1, SearchOptions(repo="org1/repo1")),
    ([], 0, SearchOptions()),  # match_all facets = whole-corpus histogram
    ([], 0, SearchOptions(path_prefix="src/pkg1/")),
]


@pytest.mark.parametrize("groups,msm,opts", CASES)
def test_local_facets_match_spark(spark_eng, local_eng, groups, msm, opts):
    keys = ("lang", "repo")
    want = sorted(
        (r.facet, r.value, r.doc_count)
        for r in spark_eng.facets(groups, msm, opts, keys=keys, size=100).collect()
    )
    got = sorted(
        (r.facet, r.value, r.doc_count)
        for r in local_eng.facets(groups, msm, opts, keys=keys, size=100).collect()
    )
    assert got == want
    assert want, "facet case must produce buckets"


def test_facet_counts_match_exhaustive_search(spark_eng):
    """Bucket counts equal the real match-set partition: the match set's
    own groupBy, recomputed independently via match_set."""
    groups = [_grp(0, ["postings"])]
    m = spark_eng.match_set(groups, 1, SearchOptions())
    want = {
        (r["lang"], r["n"])
        for r in m.groupBy("lang").agg(F.count("*").alias("n")).collect()
        if r["lang"] is not None
    }
    got = {
        (r.value, r.doc_count)
        for r in spark_eng.facets(
            groups, 1, SearchOptions(), keys=("lang",), size=100
        ).collect()
    }
    assert got == want
    # and the total across buckets is the distinct match count (no nulls in
    # the synthetic lang column)
    assert sum(c for _, c in got) == m.count()


def test_facet_bucket_order_and_size(local_eng):
    rows = local_eng.facet_rows(
        [_grp(0, ["postings"])], 1, SearchOptions(), keys=("repo",), size=3
    )
    assert len(rows) <= 3
    counts = [c for _, _, c in rows]
    assert counts == sorted(counts, reverse=True)


def test_facet_unknown_key_raises(spark_eng, local_eng):
    """One allowed key set (repo, path, lang) on both tiers: internal docs
    columns never bucket, for facets, composite and cardinality alike."""
    g, o = [_grp(0, ["postings"])], SearchOptions()
    for eng in (spark_eng, local_eng):
        for bad in ("nope", "name_ordinal", "ids", "doc_id"):
            with pytest.raises(ValueError, match="facet"):
                eng.facets(g, 1, o, keys=("lang", bad))
            with pytest.raises(ValueError, match="unknown"):
                eng.composite_buckets(g, 1, o, keys=(bad,))
            with pytest.raises(ValueError, match="unknown"):
                eng.facet_cardinality(g, 1, o, key=bad, metric="repo")
            with pytest.raises(ValueError, match="unknown"):
                eng.facet_cardinality(g, 1, o, key="lang", metric=bad)


def test_facets_multigen(spark, index, tmp_path_factory):
    """Across generations: upserted docs count in exactly ONE generation
    (tombstones mask the superseded copies)."""
    import shutil

    from gazetteer_search_spark.index import segments as segs

    root = str(tmp_path_factory.mktemp("idx_facet_seg"))
    shutil.rmtree(root)
    shutil.copytree(index.paths.root, root)
    upd = (
        synthetic_corpus(spark, 30)
        .withColumn("lang", F.lit("zig"))
        .withColumn("commit", F.sha1(F.concat_ws("-", "path", F.lit("v2"))))
    )
    segs.add_segment(spark, upd, root, n_buckets=2)
    meng = segs.open_multi_search(root)
    rows = meng.facet_rows([], 0, SearchOptions(), keys=("lang",), size=100)
    by_val = {v: c for _, v, c in rows}
    assert by_val.get("zig") == 30
    # total live docs unchanged: 30 upserts tombstone their 30 old copies
    assert sum(by_val.values()) == N_DOCS

    # field sort across generations == a brute force over the live docs
    live = [
        (int(r.doc_id), r.repo, r.path, r.lang)
        for r in segs.live_docs(spark, root)
        .select("doc_id", "repo", "path", "lang")
        .collect()
    ]
    pre = "src/pkg1/"
    want_all = [r for r in live if r[2].startswith(pre)]
    for by, asc in (("path", True), ("path", False), ("doc_id", False)):
        col = {"doc_id": 0, "path": 2}[by]
        # (field in the asked direction, doc_id asc): stable sorts
        want = sorted(sorted(want_all), key=lambda r: r[col], reverse=not asc)
        opts = SearchOptions(k=7, path_prefix=pre)
        page1 = meng.search_sorted([], 0, opts, by=by, ascending=asc)
        assert len(want) > 14 and page1 == want[:7], (by, asc)
        last = page1[-1]
        page2 = meng.search_sorted(
            [], 0, opts, by=by, ascending=asc, after=(last[col], last[0])
        )
        assert page2 == want[7:14], (by, asc)


def test_http_facet_param(local_eng):
    srv = make_server(local_eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"
    try:
        with urllib.request.urlopen(
            f"{base}/search?q=postings&facet=lang&facet=repo&facet_size=3"
        ) as r:
            env = json.loads(r.read())
        assert set(env["facets"]) == {"lang", "repo"}
        assert env["facets"]["lang"], "lang buckets must exist"
        assert all(len(b) <= 3 for b in env["facets"].values())
        # facet counts cover the FULL match set, not the k=5 page
        assert sum(
            b["doc_count"] for b in env["facets"]["lang"]
        ) >= env["total_hits"]
        # no facet param -> no facets key
        with urllib.request.urlopen(f"{base}/search?q=postings") as r:
            env2 = json.loads(r.read())
        assert "facets" not in env2
    finally:
        srv.shutdown()


def test_significant_terms_shape_and_gates(spark_eng):
    """significant_terms (ES significant_terms analog): every returned term
    is genuinely over-represented (fg% > bg%), respects min_doc_count,
    excludes name-field postings, and an impossible query yields zero rows."""
    from gazetteer_search_spark.search.engine import SearchOptions, TermGroup

    g = [TermGroup(group_id=0, terms=("merge",), required=True)]
    rows = spark_eng.significant_terms(g, 1, SearchOptions(), size=20).collect()
    assert rows
    n = spark_eng.index.n_docs
    fg_total = spark_eng.count_matches(g, 1, SearchOptions())
    for r in rows:
        assert ":" not in r.term
        assert r.fg_count >= 2
        assert r.fg_count / fg_total > r.bg_count / n
        fgp, bgp = r.fg_count / fg_total, r.bg_count / n
        assert r.score == pytest.approx((fgp - bgp) * (fgp / bgp), abs=1e-5)
    # the query term itself is trivially most significant when fg == df
    assert rows[0].term in {rt.term for rt in rows}
    empty = spark_eng.significant_terms(
        [TermGroup(group_id=0, terms=("zzznotaword",), required=True)], 1
    )
    assert empty.count() == 0


@pytest.mark.parametrize("case", CASES[:5], ids=range(5))
def test_composite_buckets_spark_equals_serving(spark_eng, local_eng, case):
    """Composite-agg paging: Spark single-pass agg == serving numpy twin,
    for every page; pages tile the full bucket space without overlap."""
    groups, msm, opts = case
    full = [
        (r.facet, r.value, r.doc_count)
        for r in spark_eng.composite_buckets(
            groups, msm, opts, keys=("lang", "repo"), size=1 << 30
        ).collect()
    ]
    assert full == sorted(full)  # key order, the composite contract
    # page through with the after-cursor, both engines
    for eng in (spark_eng, local_eng):
        pages, after = [], None
        while True:
            page = [
                (r.facet, r.value, r.doc_count)
                for r in eng.composite_buckets(
                    groups, msm, opts, keys=("lang", "repo"), size=3,
                    after=after,
                ).collect()
            ]
            if not page:
                break
            pages.extend(page)
            after = (page[-1][0], page[-1][1])
        assert pages == full


def test_top_hits_spark_equals_serving(spark_eng, local_eng):
    """top_hits per bucket: Spark window over scored_matches == the serving
    decode-all twin; each bucket's hits are the bucket's best by the rank
    key and carry correct in-bucket ranks."""
    groups = [_grp(0, ["merge"]), _grp(1, ["postings"])]
    want = [
        (r.value, r.bucket_rank, r.doc_id, round(r.score, 9))
        for r in spark_eng.top_hits(
            groups, 1, SearchOptions(), key="lang", n=3
        ).collect()
    ]
    got = [
        (r.value, r.bucket_rank, r.doc_id, round(r.score, 9))
        for r in local_eng.top_hits(
            groups, 1, SearchOptions(), key="lang", n=3
        ).collect()
    ]
    assert want and got == want
    # per-bucket ranks are 1..n and scores non-increasing within a bucket
    by_bucket = {}
    for v, rk, d, sc in want:
        by_bucket.setdefault(v, []).append((rk, sc))
    for v, rows in by_bucket.items():
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))
        assert all(a[1] >= b[1] for a, b in zip(rows, rows[1:]))
    # n=1 is each bucket's single best — prefix of the n=3 result
    one = [
        (r.value, r.doc_id)
        for r in spark_eng.top_hits(
            groups, 1, SearchOptions(), key="lang", n=1
        ).collect()
    ]
    assert one == [(v, d) for v, rk, d, _ in want if rk == 1]


def test_composite_and_top_hits_multigen(spark, index, tmp_path_factory):
    """Multi-generation composite paging + top_hits: disjoint live docs sum
    per bucket; the key cursor and per-bucket cuts apply AFTER the merge
    (a compacted single-generation twin gives the same answer)."""
    import shutil

    from gazetteer_search_spark.index import segments as segs

    root = str(tmp_path_factory.mktemp("idx_comp_seg"))
    shutil.rmtree(root)
    shutil.copytree(index.paths.root, root)
    upd = (
        synthetic_corpus(spark, 30)
        .withColumn("lang", F.lit("zig"))
        .withColumn("commit", F.sha1(F.concat_ws("-", "path", F.lit("v2"))))
    )
    segs.add_segment(spark, upd, root, n_buckets=2)
    meng = segs.open_multi_search(root)

    rows = meng.composite_rows(
        [], 0, SearchOptions(), keys=("lang",), size=100
    )
    by_val = {v: c for _, v, c in rows}
    assert by_val.get("zig") == 30
    assert sum(by_val.values()) == N_DOCS
    assert [(f, v) for f, v, _ in rows] == sorted((f, v) for f, v, _ in rows)
    # cursor pages tile the merged bucket space
    page = meng.composite_rows(
        [], 0, SearchOptions(), keys=("lang",), size=2,
        after=(rows[1][0], rows[1][1]),
    )
    assert [(f, v, c) for f, v, c in page] == rows[2:4]

    g = [_grp(0, ["postings"])]
    th = meng.top_hits_rows(g, 1, SearchOptions(), key="lang", n=2)
    assert th
    # per-bucket ranks 1..n; within a bucket scores non-increasing and the
    # upserted generation's docs appear under their NEW lang only
    seen = {}
    for v, rk, d, sc in th:
        seen.setdefault(v, []).append((rk, sc))
    for v, rows2 in seen.items():
        assert [rk for rk, _ in rows2] == list(range(1, len(rows2) + 1))
        assert all(a[1] >= b[1] for a, b in zip(rows2, rows2[1:]))


def test_http_composite_and_tophits(local_eng):
    """/composite pages buckets by key with the after cursor; /tophits
    returns each bucket's best-n — both identical to the engine-level
    calls."""
    srv = make_server(local_eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"
    try:
        with urllib.request.urlopen(
            f"{base}/composite?q=postings&key=lang&key=repo&size=4"
        ) as r:
            p1 = json.loads(r.read())
        assert len(p1["buckets"]) == 4
        assert p1["after"] == {
            "facet": p1["buckets"][-1]["facet"],
            "value": p1["buckets"][-1]["value"],
        }
        with urllib.request.urlopen(
            f"{base}/composite?q=postings&key=lang&key=repo&size=4"
            f"&after_facet={p1['after']['facet']}"
            f"&after_value={urllib.parse.quote(p1['after']['value'])}"
        ) as r:
            p2 = json.loads(r.read())
        got = [
            (b["facet"], b["value"], b["doc_count"])
            for b in p1["buckets"] + p2["buckets"]
        ]
        from gazetteer_search_spark.analyzer.query_ir import analyze_query
        g = [_grp(0, ["postings"])]
        want = local_eng.composite_rows(
            g, 1, SearchOptions(prefix=False), keys=("lang", "repo"), size=8
        )
        assert got == [(f, v, int(c)) for f, v, c in want]
        assert got == sorted(got)  # key order across the page boundary

        with urllib.request.urlopen(
            f"{base}/tophits?q=postings&key=lang&n=2"
        ) as r:
            th = json.loads(r.read())
        assert th["key"] == "lang" and th["buckets"]
        want_th = local_eng.top_hits_rows(
            g, 1, SearchOptions(prefix=False), key="lang", n=2
        )
        got_th = [
            (v, b["bucket_rank"], b["doc_id"])
            for v in sorted(th["buckets"])
            for b in th["buckets"][v]
        ]
        assert got_th == [(v, rk, d) for v, rk, d, _ in want_th]

        # /composite filters its match set by path_prefix exactly as
        # /count does (the prefix keeps one package of thirteen)
        def _get(path):
            with urllib.request.urlopen(f"{base}{path}") as r:
                return json.loads(r.read())

        pre = "&path_prefix=src/pkg3/"
        n_pre = _get(f"/count?q=postings{pre}")["count"]
        assert 0 < n_pre < _get("/count?q=postings")["count"]
        comp = _get(f"/composite?q=postings&key=lang&size=100{pre}")
        assert sum(b["doc_count"] for b in comp["buckets"]) == n_pre
    finally:
        srv.shutdown()


def test_facet_cardinality_spark_equals_serving(spark_eng, local_eng):
    """terms+cardinality sub-agg: Spark one-pass agg == serving numpy twin;
    n_distinct is the true per-bucket distinct-repo count."""
    groups = [_grp(0, ["merge"]), _grp(1, ["sort"])]
    want = [
        (r.value, r.doc_count, r.n_distinct)
        for r in spark_eng.facet_cardinality(
            groups, 1, SearchOptions(), key="lang", metric="repo"
        ).collect()
    ]
    got = [
        (r.value, r.doc_count, r.n_distinct)
        for r in local_eng.facet_cardinality(
            groups, 1, SearchOptions(), key="lang", metric="repo"
        ).collect()
    ]
    assert want and got == want
    assert [v for v, _, _ in want] == sorted(v for v, _, _ in want)
    # brute-force recompute from the match set itself
    m = spark_eng.match_set(groups, 1, SearchOptions()).collect()
    by = {}
    for r in m:
        if r.lang is None:
            continue
        c, s = by.setdefault(r.lang, [0, set()])
        by[r.lang][0] += 1
        if r.repo is not None:
            s.add(r.repo)
    assert want == [
        (v, c, len(s)) for v, (c, s) in sorted(by.items())
    ]
    # HLL twin: within sketch tolerance of exact
    approx = {
        r.value: r.n_distinct
        for r in spark_eng.facet_cardinality(
            groups, 1, SearchOptions(), key="lang", metric="repo",
            exact=False,
        ).collect()
    }
    for v, _c, nd in want:
        assert abs(approx[v] - nd) <= max(2, int(0.1 * nd))


def test_facet_cardinality_multigen(spark, index, tmp_path_factory):
    """Across generations: doc counts sum (disjoint live docs) but distinct
    metric values dedup via pair-set union — a repo present in BOTH
    generations counts once."""
    import shutil

    from gazetteer_search_spark.index import segments as segs

    root = str(tmp_path_factory.mktemp("idx_card_seg"))
    shutil.rmtree(root)
    shutil.copytree(index.paths.root, root)
    # upsert 20 docs: same repos as base (no new repos), new lang
    upd = (
        synthetic_corpus(spark, 20)
        .withColumn("lang", F.lit("zig"))
        .withColumn("commit", F.sha1(F.concat_ws("-", "path", F.lit("v2"))))
    )
    segs.add_segment(spark, upd, root, n_buckets=2)
    meng = segs.open_multi_search(root)

    rows = meng.facet_cardinality_rows(
        [], 0, SearchOptions(), key="lang", metric="repo"
    )
    by = {v: (c, d) for v, c, d in rows}
    assert by["zig"][0] == 20
    assert sum(c for c, _ in by.values()) == N_DOCS  # disjoint counts sum
    # single-generation recompute twin: corpus with the upsert applied
    # must give identical buckets (union-not-sum of distinct repos)
    base = synthetic_corpus(spark, N_DOCS).collect()
    upd_paths = {r.path for r in upd.select("path").collect()}
    truth = {}
    for r in base:
        lang = "zig" if r.path in upd_paths else r.lang
        c, s = truth.setdefault(lang, [0, set()])
        truth[lang][0] += 1
        s.add(r.repo)
    assert rows == [
        (v, c, len(s)) for v, (c, s) in sorted(truth.items())
    ]


def test_http_facetcard(local_eng):
    """/facetcard returns per-bucket doc_count + n_distinct identical to
    the engine-level call."""
    srv = make_server(local_eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/facetcard?q=postings&key=lang&metric=repo"
        ) as r:
            resp = json.loads(r.read())
        g = [_grp(0, ["postings"])]
        want = local_eng.facet_cardinality_rows(
            g, 1, SearchOptions(prefix=False), key="lang", metric="repo"
        )
        assert [
            (b["value"], b["doc_count"], b["n_distinct"])
            for b in resp["buckets"]
        ] == [(v, c, d) for v, c, d in want]
        assert resp["key"] == "lang" and resp["metric"] == "repo"
    finally:
        srv.shutdown()
