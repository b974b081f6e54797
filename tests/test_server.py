"""Response-envelope parity (ResultsWrapper.java:10-151 analog) + HTTP front
(REServerRoutes.java:40-67 analog)."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder
from gazetteer_search_spark.search.engine import SearchEngine, SearchOptions
from gazetteer_search_spark.server import make_server


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    corpus = spark.range(0, 80).select(
        F.col("id").alias("doc_id"),
        F.lit("org/r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"),
        F.when(F.col("id") % 2 == 0, "python").otherwise("java").alias("lang"),
        F.when(F.col("id") < 10, F.lit("alpha beta gamma shared"))
        .otherwise(F.lit("alpha shared plain words"))
        .alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_srv"))
    idx = builder.build_index(spark, corpus, out, n_buckets=4)
    return SearchEngine(spark, idx, serving=True)


def test_search_response_envelope(eng):
    env = eng.search_response("alpha beta", SearchOptions(k=5, prefix=False))
    assert env["query"] == "alpha beta"
    toks = env["parsed_query"]["tokens"]
    assert [t["text"] for t in toks] == ["alpha", "beta"]
    assert env["parsed_query"]["prefix"] is None
    assert env["rung"] == 1
    assert env["total_hits"] == 5 and env["total_relation"] == "gte"  # full page
    assert env["trimmed"] is False
    assert env["answer_time_ms"] > 0
    h = env["hits"][0]
    assert set(h) == {"doc_id", "score", "repo", "path", "lang", "matched_queries"}
    # both clauses matched on the top hit, clause names are the query tokens
    assert sorted(h["matched_queries"]) == ["alpha", "beta"]
    # a page that exhausts its candidates reports an exact total
    env2 = eng.search_response("beta", SearchOptions(k=15, prefix=False))
    assert env2["total_hits"] == 10 and env2["total_relation"] == "eq"
    # removed pre-pass tokens are surfaced (A7)
    env3 = eng.search_response("the alpha", SearchOptions(k=5, prefix=False))
    assert "parsed_query" in env3  # removed list present (may be empty)
    assert isinstance(env3["parsed_query"]["removed"], list)


def test_http_search_route(eng):
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q=alpha+beta&size=3&lang=python"
        ) as r:
            env = json.loads(r.read())
        assert env["total_hits"] == 3
        assert all(h["lang"] == "python" for h in env["hits"])
        assert env["parsed_query"]["tokens"][0]["text"] == "alpha"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz") as r:
            assert json.loads(r.read()) == {"ok": True}
        # unknown route -> 404 json
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope")
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.shutdown()


def test_http_page_mark_verbose_sendq(eng):
    """Offset paging (PAGE_PARAM), mark echo, verbose hit detail, and the
    POST /sendq raw structured-query passthrough (SendQAPI analog)."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/search?q=alpha&size=6") as r:
            full = json.loads(r.read())["hits"]
        with urllib.request.urlopen(
            f"{base}/search?q=alpha&size=3&page=2&mark=tok9&verbose=true"
        ) as r:
            env = json.loads(r.read())
        assert env["page"] == 2 and env["mark"] == "tok9"
        assert [h["doc_id"] for h in env["hits"]] == [
            h["doc_id"] for h in full[3:6]
        ]
        assert all("content_sha256" in h for h in env["hits"])

        body = json.dumps(
            {
                "groups": [
                    {"group_id": 0, "terms": ["alpha"]},
                    {"group_id": 1, "terms": ["beta"]},
                ],
                "msm": 2,
                "k": 4,
            }
        ).encode()
        req = urllib.request.Request(
            f"{base}/sendq", data=body, method="POST"
        )
        with urllib.request.urlopen(req) as r:
            sq = json.loads(r.read())
        assert 0 < len(sq["hits"]) <= 4
        assert all("score" in h and "path" in h for h in sq["hits"])
    finally:
        srv.shutdown()


def test_http_hardening_and_stats(eng):
    """Basic auth (BasikAuthPreprocessor analog), CORS (AllowOriginPP),
    Last-Modified + conditional GET (LastModifiedHeaderPostprocessor), and
    the generic tag-statistics route (TagStatisticsAPI analog)."""
    import base64
    import urllib.error

    srv = make_server(
        eng, SearchOptions(k=5, prefix=False), port=0,
        auth="user:secret", cors_origin="*",
    )
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        # missing credentials -> 401 + WWW-Authenticate challenge
        try:
            urllib.request.urlopen(f"{base}/search?q=alpha")
            assert False, "expected 401"
        except urllib.error.HTTPError as e:
            assert e.code == 401
            assert e.headers["WWW-Authenticate"].startswith("Basic")
        # healthz stays open (liveness probes don't carry credentials)
        with urllib.request.urlopen(f"{base}/healthz") as r:
            assert json.loads(r.read()) == {"ok": True}

        tok = base64.b64encode(b"user:secret").decode()
        req = urllib.request.Request(
            f"{base}/search?q=alpha&size=2",
            headers={"Authorization": f"Basic {tok}"},
        )
        with urllib.request.urlopen(req) as r:
            assert r.headers["Access-Control-Allow-Origin"] == "*"
            last_mod = r.headers["Last-Modified"]
            assert last_mod  # index build time
            env = json.loads(r.read())
        assert env["total_hits"] == 2

        # conditional GET: unchanged index -> 304, no body
        req304 = urllib.request.Request(
            f"{base}/search?q=alpha&size=2",
            headers={
                "Authorization": f"Basic {tok}",
                "If-Modified-Since": last_mod,
            },
        )
        try:
            r = urllib.request.urlopen(req304)
            assert r.status == 304
        except urllib.error.HTTPError as e:
            assert e.code == 304

        # generic tag statistics over an arbitrary docs column
        req_st = urllib.request.Request(
            f"{base}/stats?key=lang&min_doc_count=1&size=5",
            headers={"Authorization": f"Basic {tok}"},
        )
        with urllib.request.urlopen(req_st) as r:
            st = json.loads(r.read())
        assert st["key"] == "lang"
        assert st["buckets"] == [
            {"value": "java", "doc_count": 40},
            {"value": "python", "doc_count": 40},
        ]
        # unknown column -> 400 with the available names
        req_bad = urllib.request.Request(
            f"{base}/stats?key=nope",
            headers={"Authorization": f"Basic {tok}"},
        )
        try:
            urllib.request.urlopen(req_bad)
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_http_class_filters_and_classify(eng):
    """Class-filter params (SearchAPIAdapter.java:48-55,81-85 analogs):
    ``class`` = poiclass[] (one value filters, several boost), ``no_class``
    = no_poi exclusion, ``classify=true`` = the two-phase class-dimension
    plan — each route result identical to the engine-level call."""
    from gazetteer_search_spark.sources.dims import LANG_CLASS_ROWS

    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"

        def hits(url):
            with urllib.request.urlopen(url) as r:
                return [
                    (h["doc_id"], h["score"])
                    for h in json.loads(r.read())["hits"]
                ]

        def eng_hits(q, opts):
            return [
                (h["doc_id"], h["score"])
                for h in eng.search_response(q, opts)["hits"]
            ]

        o = SearchOptions(k=5, prefix=False)
        # single class -> hard filter (== engine lang filter)
        got = hits(f"{base}/search?q=alpha&class=python")
        assert got and got == eng_hits("alpha", replace(o, lang="python"))
        # several classes -> boosts (the two-phase fold's own rule)
        got2 = hits(f"{base}/search?q=alpha&class=python&class=java")
        assert got2 == eng_hits(
            "alpha", replace(o, lang_boosts={"python": 1.5, "java": 1.5})
        )
        # class exclusion (no_poi analog)
        got3 = hits(f"{base}/search?q=alpha&no_class=python")
        assert got3 and got3 == eng_hits(
            "alpha", replace(o, exclude_langs=("python",))
        )
        assert not set(got3) & set(got)  # disjoint universes
        # classify=true: dimension token demoted + class folded into options
        q2, o2 = eng.two_phase_plan_rows("alpha english", LANG_CLASS_ROWS, o)
        assert o2.lang == "en" and [t2.optional for t2 in q2.tokens] == [
            False, True,
        ]
        with urllib.request.urlopen(
            f"{base}/search?q=alpha+english&classify=true"
        ) as r:
            env = json.loads(r.read())
        want = eng.search_response(q2, o2)
        assert [h["doc_id"] for h in env["hits"]] == [
            h["doc_id"] for h in want["hits"]
        ]
        # the demotion is visible in the echoed parsed query
        assert [t3["optional"] for t3 in env["parsed_query"]["tokens"]] == [
            False, True,
        ]
    finally:
        srv.shutdown()


def test_http_classes_browse(eng):
    """Dimension browse endpoints (REServerRoutes.java:52-62 /
    OSMDocAPI.java:12-40 analogs)."""
    import urllib.error

    from gazetteer_search_spark.sources.dims import LANG_CLASS_ROWS

    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/classes") as r:
            body = json.loads(r.read())
        assert {c["class"] for c in body["classes"]} == {
            cls for _t, cls in LANG_CLASS_ROWS
        }
        with urllib.request.urlopen(f"{base}/classes/en") as r:
            one = json.loads(r.read())
        assert one == {"class": "en", "terms": ["english"]}
        try:
            urllib.request.urlopen(f"{base}/classes/zz")
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.shutdown()


def test_http_ui_page(eng):
    """Server-rendered HTML results page (SearchHtml analog): 200 +
    rendered hit rows."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/ui?q=alpha&size=3") as r:
            assert r.status == 200
            assert r.headers["Content-Type"].startswith("text/html")
            page = r.read().decode()
        assert "<table" in page and "src/" in page  # rendered hit rows
        # bare page (no query) still renders the form
        with urllib.request.urlopen(f"{base}/ui") as r:
            assert b"<form" in r.read()
    finally:
        srv.shutdown()


@pytest.fixture(scope="module")
def peng(spark, tmp_path_factory):
    """Positions-built engine for the quoted-phrase route."""
    corpus = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.lit("org/r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("python").alias("lang"),
        F.when(F.col("id") < 15, F.lit("alpha beta gamma shared"))
        .otherwise(F.lit("beta alpha shared plain"))
        .alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_srv_pos"))
    idx = builder.build_index(spark, corpus, out, n_buckets=4, positions=True)
    return SearchEngine(spark, idx, serving=True)


def test_http_quoted_phrase_query(peng):
    """Quoted q= runs the phrase rung over HTTP: only docs with the exact
    in-order pair match, the envelope reports the parsed phrase clause, and
    the route result equals the engine-level call."""
    srv = make_server(peng, SearchOptions(k=30, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        q = urllib.parse.quote('"alpha beta"')
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q={q}&size=30"
        ) as r:
            env = json.loads(r.read())
        ids = [h["doc_id"] for h in env["hits"]]
        assert ids and all(i < 15 for i in ids)  # "beta alpha" docs excluded
        assert env["parsed_query"]["phrases"] == [
            {"terms": ["alpha", "beta"], "slop": 0}
        ]
        want = peng.search_response(
            '"alpha beta"', SearchOptions(k=30, prefix=False)
        )
        assert ids == [h["doc_id"] for h in want["hits"]]
        # sloppy form over HTTP supersets the exact hits
        q2 = urllib.parse.quote('"alpha beta"~1')
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q={q2}&size=60"
        ) as r:
            env2 = json.loads(r.read())
        assert set(ids) <= {h["doc_id"] for h in env2["hits"]}
    finally:
        srv.shutdown()


def test_http_suggest_route(eng):
    """GET /suggest returns ranked dictionary completions with df, equal to
    the engine-level call; missing q is a 400."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/suggest?q=al&size=5"
        ) as r:
            env = json.loads(r.read())
        assert env["prefix"] == "al"
        got = [(s["term"], s["df"]) for s in env["suggestions"]]
        assert got == eng.suggest("al", 5)
        assert got and got[0][0].startswith("al")
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/suggest")
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_http_must_not(eng):
    """``not=WORD`` route param and inline ``-token`` query syntax (ES
    bool.must_not over match — BooleanPart.java:36-37,72-77): the route is
    identical to the engine-level exclude_terms call, both syntaxes agree,
    and excluded docs are absent."""
    srv = make_server(eng, SearchOptions(k=20, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"

        def hits(url):
            with urllib.request.urlopen(url) as r:
                return [
                    (h["doc_id"], h["score"])
                    for h in json.loads(r.read())["hits"]
                ]

        o = SearchOptions(k=20, prefix=False)
        got = hits(f"{base}/search?q=alpha&not=beta")
        want = [
            (h["doc_id"], h["score"])
            for h in eng.search_response(
                "alpha", replace(o, exclude_terms=("beta",))
            )["hits"]
        ]
        assert got and got == want
        # docs 0-9 carry 'beta' in the fixture corpus — all excluded
        assert all(d >= 10 for d, _ in got)
        inline = hits(f"{base}/search?q=alpha+-beta")
        assert inline == got
    finally:
        srv.shutdown()


def test_http_boosting_demote(eng):
    """``demote=WORD`` + ``demote_factor=F`` route params (ES boosting-query
    analog): identical to the engine-level demote_terms call; members stay
    in the set with factor-scaled scores (vs not=, which drops them)."""
    srv = make_server(eng, SearchOptions(k=20, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"

        def hits(url):
            with urllib.request.urlopen(url) as r:
                return [
                    (h["doc_id"], h["score"])
                    for h in json.loads(r.read())["hits"]
                ]

        o = SearchOptions(k=20, prefix=False)
        got = hits(f"{base}/search?q=alpha&demote=beta&demote_factor=0.25")
        want = [
            (h["doc_id"], h["score"])
            for h in eng.search_response(
                "alpha",
                replace(o, demote_terms=("beta",), demote_factor=0.25),
            )["hits"]
        ]
        assert got and got == want
        # vs must_not: uncut, the demoted universe equals the unfiltered one
        got_all = hits(
            f"{base}/search?q=alpha&demote=beta&demote_factor=0.25&size=500"
        )
        plain = hits(f"{base}/search?q=alpha&size=500")
        assert {d for d, _ in got_all} == {d for d, _ in plain}
        # docs 0-9 carry 'beta' in the fixture corpus — scaled, not dropped
        plain_scores = dict(plain)
        demoted = [d for d, _ in got_all if d < 10]
        assert demoted
        got_scores = dict(got_all)
        for d in demoted:
            assert abs(got_scores[d] - round(plain_scores[d] * 0.25, 4)) < 2e-4
    finally:
        srv.shutdown()


def test_http_tie_breaker(eng):
    """``tie_breaker=F`` route param (ES dis_max tie_breaker): threaded into
    SearchOptions and identical to the engine-level call."""
    srv = make_server(eng, SearchOptions(k=20, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(
            f"{base}/search?q=alpha+beta&tie_breaker=0.5"
        ) as r:
            got = [
                (h["doc_id"], h["score"]) for h in json.loads(r.read())["hits"]
            ]
        o = SearchOptions(k=20, prefix=False)
        want = [
            (h["doc_id"], h["score"])
            for h in eng.search_response(
                "alpha beta", replace(o, tie_breaker=0.5)
            )["hits"]
        ]
        assert got and got == want
    finally:
        srv.shutdown()


def test_http_fuzziness(eng):
    """``fuzziness=`` route param (ES fuzziness): a distance-2 typo hits
    only at fuzziness=2; identical to the engine-level call."""
    srv = make_server(eng, SearchOptions(k=20, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/search?q=gam") as r:
            miss = json.loads(r.read())["hits"]
        with urllib.request.urlopen(f"{base}/search?q=gam&fuzziness=2") as r:
            got = [
                (h["doc_id"], h["score"]) for h in json.loads(r.read())["hits"]
            ]
        assert not miss and got
        o = SearchOptions(k=20, prefix=False)
        want = [
            (h["doc_id"], h["score"])
            for h in eng.search_response("gam", replace(o, fuzziness=2))["hits"]
        ]
        assert got == want
        with urllib.request.urlopen(f"{base}/search?q=gam&fuzziness=bogus") as r:
            assert json.loads(r.read())  # falls back to an error envelope
    except urllib.error.HTTPError as e:
        assert e.code == 400  # bogus fuzziness rejected is also acceptable
    finally:
        srv.shutdown()


def test_http_collapse(eng):
    """``collapse=KEY`` route param (ES field-collapsing): identical to the
    engine-level call; one hit per distinct key value."""
    srv = make_server(eng, SearchOptions(k=20, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(
            f"{base}/search?q=alpha&collapse=lang&size=10"
        ) as r:
            hits = json.loads(r.read())["hits"]
        o = SearchOptions(k=10, prefix=False)
        want = eng.search_response("alpha", replace(o, collapse="lang"))["hits"]
        assert [(h["doc_id"], h["score"]) for h in hits] == [
            (h["doc_id"], h["score"]) for h in want
        ]
        langs = [h["lang"] for h in hits]
        assert len(langs) == len(set(langs)) == 2  # python / java fixture
        # bad key -> 400, not a stack trace
        try:
            urllib.request.urlopen(f"{base}/search?q=alpha&collapse=nope")
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_http_explain(eng):
    """explain=true attaches per-hit per-term BM25 contributions, and the
    route result is identical to the engine-level explain_hits call."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q=alpha+beta&size=3&explain=true"
        ) as r:
            env = json.loads(r.read())
        assert env["hits"]
        for h in env["hits"]:
            terms = {e["term"] for e in h["explanation"]}
            assert terms == {"alpha", "beta"}
            # score reconstructs: sum over clauses of max(weighted)
            per_g = {}
            for e in h["explanation"]:
                per_g[e["group"]] = max(
                    per_g.get(e["group"], float("-inf")), e["weighted"]
                )
            assert sum(per_g.values()) == pytest.approx(h["score"], abs=2e-3)
        # explain omitted -> no explanation key
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q=alpha&size=1"
        ) as r:
            env2 = json.loads(r.read())
        assert "explanation" not in env2["hits"][0]
    finally:
        srv.shutdown()


def test_search_response_rescore(eng):
    """rescore_q re-ranks the winning rung's top-window (ES rescore-API
    analog): docs also matching the secondary query outrank equal-primary
    docs, the envelope records the rescore, and the hit scores equal the
    engine-level rescore_rows combination."""
    o = SearchOptions(k=10, prefix=False, fuzzy=False)
    env = eng.search_response(
        "alpha", o, rescore_q="plain", rescore_window=80, rescore_weight=2.0
    )
    assert env["rescore"] == {"query": "plain", "window": 80, "weight": 2.0}
    hits = env["hits"]
    assert len(hits) == 10
    # only docs >= 10 carry 'plain' -> they displace the tie-broken 0-9 page
    assert all(h["doc_id"] >= 10 for h in hits)
    base = eng.search_response("alpha", o)
    assert "rescore" not in base
    assert all(h["doc_id"] < 10 for h in base["hits"])
    # a secondary analyzing to nothing is a no-op (no rescore key)
    env2 = eng.search_response("alpha", o, rescore_q="the")
    assert "rescore" not in env2


def test_http_rescore(eng):
    """rescore_q/rescore_w/rescore_window route params == the engine-level
    search_response call."""
    srv = make_server(eng, SearchOptions(k=20, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = (
            f"http://127.0.0.1:{port}/search?q=alpha&size=10"
            "&rescore_q=beta&rescore_w=2.0&rescore_window=80"
        )
        with urllib.request.urlopen(url) as r:
            env = json.loads(r.read())
        o = SearchOptions(k=10, prefix=False)
        want = eng.search_response(
            "alpha", o, rescore_q="beta", rescore_window=80,
            rescore_weight=2.0,
        )
        assert [(h["doc_id"], h["score"]) for h in env["hits"]] == [
            (h["doc_id"], h["score"]) for h in want["hits"]
        ]
        assert env["rescore"]["window"] == 80
    finally:
        srv.shutdown()


@pytest.fixture(scope="module")
def ceng(spark, tmp_path_factory):
    """Stored-content engine for the term-vectors route."""
    corpus = spark.range(0, 30).select(
        F.col("id").alias("doc_id"),
        F.lit("org/r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("python").alias("lang"),
        F.when(F.col("id") == 0, F.lit("alpha beta alpha gamma"))
        .otherwise(F.lit("alpha plain words"))
        .alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_srv_tv"))
    idx = builder.build_index(spark, corpus, out, n_buckets=4, store_content=True)
    return SearchEngine(spark, idx, serving=True)


def test_http_termvectors(ceng):
    """GET /termvectors?doc_id=N == the engine-level term_vectors call:
    exact tf of the stored doc, corpus df from the dictionary; missing doc
    -> 404, missing param -> 400."""
    srv = make_server(ceng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/termvectors?doc_id=0") as r:
            env = json.loads(r.read())
        assert env["doc_id"] == 0
        got = {(t["term"], t["tf"], t["df"]) for t in env["terms"]}
        assert got == set(ceng.term_vectors(0))
        # tf counts THIS doc, df counts the corpus
        by_term = {t["term"]: t for t in env["terms"]}
        assert by_term["alpha"]["tf"] == 2 and by_term["alpha"]["df"] == 30
        assert by_term["beta"]["tf"] == 1 and by_term["beta"]["df"] == 1
        for bad, code in (("doc_id=999999", 404), ("", 400)):
            try:
                urllib.request.urlopen(f"{base}/termvectors?{bad}")
                raise AssertionError("expected HTTPError")
            except urllib.error.HTTPError as e:
                assert e.code == code
    finally:
        srv.shutdown()


def test_http_sigtext(ceng, eng):
    """GET /sigtext (ES sampler + significant_text analog): with the top-5
    'alpha' hits as the sample (doc 0 outranks the uniform tail on tf, then
    doc_id ties), only beta/gamma are over-represented vs the dictionary —
    fg 1/5 vs bg 1/30 gives JLH exactly 1.0 for both. alpha (fg%==bg%) and
    plain/words (under-represented) must NOT appear. A no-stored-content
    index 400s with the rebuild hint; missing q 400s."""
    from gazetteer_search_spark.search.engine import SearchEngine, TermGroup

    srv, port = _serve(ceng, SearchOptions(k=5, prefix=False))
    try:
        env = _get(
            port, "/sigtext?q=alpha&sample=5&size=10&min_doc_count=1"
        )
        assert env["sample"] == 5
        assert env["terms"] == [
            {"term": "beta", "fg_count": 1, "bg_count": 1, "score": 1.0},
            {"term": "gamma", "fg_count": 1, "bg_count": 1, "score": 1.0},
        ]
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/sigtext")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()

    # serving tier (local kernel) == Spark tier, row for row
    g = [TermGroup(group_id=0, terms=("alpha",), required=True)]
    kw = dict(sample_size=5, size=10, min_doc_count=1)
    local_rows = ceng.significant_text_rows(
        g, 1, SearchOptions(prefix=False), **kw
    )
    spark_eng = SearchEngine(ceng.spark, ceng.index)
    spark_rows = spark_eng.significant_text_rows(
        g, 1, SearchOptions(prefix=False), **kw
    )
    assert local_rows == spark_rows
    assert [(t, c, b, s) for t, c, b, s in local_rows] == [
        ("beta", 1, 1, 1.0), ("gamma", 1, 1, 1.0)
    ]

    # an index without stored content must 400, naming the rebuild flag
    srv2, port2 = _serve(eng, SearchOptions(k=5, prefix=False))
    try:
        urllib.request.urlopen(
            f"http://127.0.0.1:{port2}/sigtext?q=alpha&sample=5"
        )
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert "store_content" in json.loads(e.read())["error"]
    finally:
        srv2.shutdown()


def test_http_explain_doc(ceng):
    """GET /explain (ES GET _explain/{id} analog): explains an ARBITRARY
    document — doc 0 matches 'alpha beta' (both required clauses, tf(alpha)
    = 2) with matched: true; doc 5 carries only alpha so matched: false at
    msm 2 yet still shows its alpha contribution; a missing id 404s and
    missing params 400."""
    srv, port = _serve(ceng, SearchOptions(k=5, prefix=False))
    try:
        env = _get(port, "/explain?q=alpha+beta&doc_id=0")
        assert env["matched"] is True
        assert env["matched_required"] == 2 and env["msm"] == 2
        terms = {c["term"] for c in env["contributions"]}
        assert terms == {"alpha", "beta"}
        assert env["score"] == round(
            sum(
                max(
                    c["weighted"]
                    for c in env["contributions"]
                    if c["group"] == g
                )
                for g in {c["group"] for c in env["contributions"]}
            ),
            4,
        )

        env5 = _get(port, "/explain?q=alpha+beta&doc_id=5")
        assert env5["matched"] is False
        assert env5["matched_required"] == 1 and env5["msm"] == 2
        assert {c["term"] for c in env5["contributions"]} == {"alpha"}
        assert env5["score"] > 0  # the partial contribution is reported

        for bad, code in (
            ("q=alpha+beta&doc_id=999999", 404),
            ("q=alpha+beta", 400),
            ("doc_id=0", 400),
        ):
            try:
                urllib.request.urlopen(
                    f"http://127.0.0.1:{port}/explain?{bad}"
                )
                raise AssertionError("expected HTTPError")
            except urllib.error.HTTPError as e:
                assert e.code == code, bad
    finally:
        srv.shutdown()


def test_http_sigmeta(ceng):
    """GET /sigmeta (ES significant_terms on a keyword field): 'beta'
    matches only doc 0, so its unique path is maximally over-represented
    (fg 1/1 vs bg 1/30 -> JLH (1 - 1/30) * 30 = 29.0) while lang is NOT
    (every doc is python: fg% == bg% drops) — the route must return the
    positive and the correctly-empty case. Unknown column 400s naming the
    available ones; the serving tier equals the Spark tier row for row."""
    from gazetteer_search_spark.search.engine import SearchEngine, TermGroup

    srv, port = _serve(ceng, SearchOptions(k=5, prefix=False))
    try:
        env = _get(port, "/sigmeta?q=beta&key=path&min_doc_count=1")
        assert env["key"] == "path"
        assert env["values"] == [
            {"value": "src/0.py", "fg_count": 1, "bg_count": 1,
             "score": 29.0},
        ]
        assert _get(
            port, "/sigmeta?q=beta&key=lang&min_doc_count=1"
        )["values"] == []
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/sigmeta?q=beta&key=nosuchcol"
            )
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "nosuchcol" in json.loads(e.read())["error"]
    finally:
        srv.shutdown()

    g = [TermGroup(group_id=0, terms=("beta",), required=True)]
    kw = dict(key="path", size=10, min_doc_count=1)
    local_rows = ceng.significant_meta_rows(
        g, 1, SearchOptions(prefix=False), **kw
    )
    spark_rows = SearchEngine(ceng.spark, ceng.index).significant_meta_rows(
        g, 1, SearchOptions(prefix=False), **kw
    )
    assert local_rows == spark_rows == [("src/0.py", 1, 1, 29.0)]


def test_http_msearch(eng):
    """POST /msearch (ES _msearch analog): NDJSON of search requests, one
    envelope per line in order; a bad line yields a per-line error without
    failing the batch."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"
        body = "\n".join([
            json.dumps({"q": "alpha beta", "size": 3}),
            json.dumps({"q": "alpha", "size": 2, "lang": "python"}),
            json.dumps({"q": "alpha", "size": "notanint"}),
        ]).encode()
        req = urllib.request.Request(f"{base}/msearch", data=body, method="POST")
        with urllib.request.urlopen(req) as r:
            env = json.loads(r.read())
        rs = env["responses"]
        assert len(rs) == 3
        # line 1 == the equivalent GET /search
        with urllib.request.urlopen(f"{base}/search?q=alpha+beta&size=3") as r:
            single = json.loads(r.read())
        assert [h["doc_id"] for h in rs[0]["hits"]] == [
            h["doc_id"] for h in single["hits"]
        ]
        assert all(h["lang"] == "python" for h in rs[1]["hits"])
        assert "error" in rs[2] and "hits" not in rs[2]
    finally:
        srv.shutdown()


def test_http_bulk_ingest_and_refresh(spark, tmp_path_factory):
    """POST /bulk (ES _bulk analog): an NDJSON batch becomes one segment
    generation and the reopened engine serves it immediately; malformed
    docs 400 without touching the index; Spark-free servers 501."""
    corpus = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.lit("org/r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("python").alias("lang"),
        F.lit("alpha shared plain words").alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_srv_bulk"))
    from gazetteer_search_spark.index import builder as _b

    idx = _b.build_index(spark, corpus, out, n_buckets=4)
    eng0 = SearchEngine(spark, idx, serving=True)
    srv = make_server(eng0, SearchOptions(k=10, prefix=False), port=0, index_path=out)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"
        docs = [
            {"repo": "org/new", "path": f"src/new{i}.py", "commit": "d",
             "lang": "python", "content": "freshbulkmarker alpha"}
            for i in range(3)
        ]
        body = "\n".join(json.dumps(d) for d in docs).encode()
        req = urllib.request.Request(f"{base}/bulk", data=body, method="POST")
        with urllib.request.urlopen(req) as r:
            env = json.loads(r.read())
        assert env["indexed"] == 3 and env["generations"] == 2
        # refresh semantics: the docs are searchable on the SAME server
        with urllib.request.urlopen(
            f"{base}/search?q=freshbulkmarker&size=10&prefix=false"
        ) as r:
            hits = json.loads(r.read())["hits"]
        assert len(hits) == 3
        assert all(h["repo"] == "org/new" for h in hits)
        # malformed doc -> 400, nothing ingested
        bad = json.dumps({"repo": "x", "content": "no key fields"}).encode()
        req = urllib.request.Request(f"{base}/bulk", data=bad, method="POST")
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()
    # Spark-free server: 501
    srv2 = make_server(eng0, SearchOptions(k=5), port=0)  # no index_path
    port2 = srv2.server_address[1]
    threading.Thread(target=srv2.serve_forever, daemon=True).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port2}/bulk", data=b"{}", method="POST"
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 501")
        except urllib.error.HTTPError as e:
            assert e.code == 501
    finally:
        srv2.shutdown()


def test_http_bulk_action_lines(spark, tmp_path_factory):
    """POST /bulk with ES action lines: {"index":{}} + doc, bare docs, and
    {"delete":{repo,path}} mix in one body; last action per upsert key
    wins; malformed action lines 400 with the index untouched."""
    corpus = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.lit("org/r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("python").alias("lang"),
        F.lit("bulkmix shared plain words").alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_srv_bulkmix"))
    from gazetteer_search_spark.index import builder as _b

    idx = _b.build_index(spark, corpus, out, n_buckets=4)
    eng0 = SearchEngine(spark, idx, serving=True)
    srv = make_server(eng0, SearchOptions(k=20, prefix=False), port=0,
                      index_path=out)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"

        def _bulk(lines, expect_code=200):
            body = "\n".join(json.dumps(ln) for ln in lines).encode()
            req = urllib.request.Request(f"{base}/bulk", data=body,
                                         method="POST")
            try:
                with urllib.request.urlopen(req) as r:
                    return 200, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        doc = {"repo": "org/new", "path": "src/a.py", "commit": "d",
               "lang": "python", "content": "mixmarker alpha"}
        code, env = _bulk([
            {"index": {}},                                 # explicit action
            doc,
            {"repo": "org/new", "path": "src/b.py", "commit": "d",
             "lang": "python", "content": "mixmarker beta"},  # bare doc
            {"delete": {"repo": "org/r", "path": "src/3.py"}},
            # last-action-wins: indexed then deleted in the SAME body
            {**doc, "path": "src/gone.py"},
            {"delete": {"repo": "org/new", "path": "src/gone.py"}},
            # ...and deleted then re-indexed
            {"delete": {"repo": "org/new", "path": "src/back.py"}},
            {**doc, "path": "src/back.py",
             "content": "mixmarker resurrected"},
        ])
        assert code == 200
        assert env["indexed"] == 3 and env["seg_docs"] == 3
        assert env["deleted"] == 1  # src/3.py; gone.py/back.py never lived

        with urllib.request.urlopen(
            f"{base}/search?q=mixmarker&size=20&prefix=false"
        ) as r:
            paths = {h["path"] for h in json.loads(r.read())["hits"]}
        assert paths == {"src/a.py", "src/b.py", "src/back.py"}
        with urllib.request.urlopen(
            f"{base}/search?q=bulkmix&size=20&prefix=false"
        ) as r:
            hits = json.loads(r.read())["hits"]
        assert len(hits) == 19 and "src/3.py" not in {h["path"] for h in hits}

        # malformed bodies 400 and mutate nothing
        n_gens0 = json.loads(
            urllib.request.urlopen(f"{base}/segments").read()
        )["generations"]
        code, err = _bulk([{"delete": {"repo": "org/r"}}])  # missing path
        assert code == 400 and "delete action needs" in err["error"]
        code, err = _bulk([{"index": {}}])  # dangling action
        assert code == 400 and "needs a document" in err["error"]
        code, err = _bulk([{"index": {}}, {"delete": {"repo": "r",
                                                      "path": "p"}}])
        assert code == 400
        n_gens1 = json.loads(
            urllib.request.urlopen(f"{base}/segments").read()
        )["generations"]
        assert n_gens1 == n_gens0
    finally:
        srv.shutdown()


def _serve_bulk_index(spark, tmp_path_factory, name):
    """20 one-file docs under org/r, served Spark-backed with /bulk on.
    Returns (server, base url, index dir, base Index)."""
    corpus = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.lit("org/r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("python").alias("lang"),
        F.lit("bulkjob shared plain words").alias("content"),
    )
    out = str(tmp_path_factory.mktemp(name))
    idx = builder.build_index(spark, corpus, out, n_buckets=4)
    srv = make_server(SearchEngine(spark, idx, serving=True),
                      SearchOptions(k=20, prefix=False), port=0,
                      index_path=out)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}", out, idx


def _post_bulk(base, lines):
    body = "\n".join(json.dumps(ln) for ln in lines).encode()
    req = urllib.request.Request(f"{base}/bulk", data=body, method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            return 200, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_bulk_schedules_no_spark_job(spark, tmp_path_factory):
    """POST /bulk's mutation (delete resolution, batch derivation, segment
    build, tombstones, reopen) schedules no Spark job: pinned on the route
    (handler threads run outside any job group) and on the same library
    sequence under an explicit job group."""
    import pyarrow as pa

    from gazetteer_search_spark.index import segments

    srv, base, out, idx = _serve_bulk_index(
        spark, tmp_path_factory, "idx_srv_bulk_jobs"
    )
    sc = spark.sparkContext
    st = sc.statusTracker()
    try:
        before = set(st.getJobIdsForGroup(None))
        code, env = _post_bulk(base, [
            {"index": {}},
            {"repo": "org/new", "path": "src/a.py", "commit": "d",
             "lang": "python", "content": "zerojobmarker alpha"},
            {"delete": {"repo": "org/r", "path": "src/3.py"}},
        ])
        new_jobs = set(st.getJobIdsForGroup(None)) - before
        assert code == 200 and (env["indexed"], env["deleted"]) == (1, 1)
        assert new_jobs == set()
        with urllib.request.urlopen(
            f"{base}/search?q=zerojobmarker&size=10&prefix=false"
        ) as r:
            assert len(json.loads(r.read())["hits"]) == 1
    finally:
        srv.shutdown()

    sc.setJobGroup("bulk-zero-jobs", "bulk mutation sequence")
    try:
        segments.delete_by_keys(spark, out, [("org/r", "src/4.py")])
        segments.add_segment(spark, pa.table({
            "repo": ["org/new"], "path": ["src/b.py"], "commit": ["d"],
            "lang": ["python"], "content": ["zerojobmarker beta"],
        }), out)
        eng = segments.open_multi_search(out, spark, base=idx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert st.getJobIdsForGroup("bulk-zero-jobs") == []
    opts = SearchOptions(k=20, prefix=False)
    assert len(eng.search_hits("zerojobmarker", opts)) == 2
    assert len(eng.search_hits("bulkjob", opts)) == 18


def test_http_bulk_partial_failure_still_served(
    spark, tmp_path_factory, monkeypatch
):
    """A body whose delete commits but whose segment build then fails
    answers 500 (a server-side failure, not a malformed body), and the
    committed tombstones are served at once: the engine reopens and the
    request cache drops its pre-delete page."""
    from gazetteer_search_spark.index import segments

    srv, base, _, _ = _serve_bulk_index(
        spark, tmp_path_factory, "idx_srv_bulk_fail"
    )
    url = f"{base}/search?q=bulkjob&size=20&prefix=false"
    try:
        with urllib.request.urlopen(url) as r:  # cached pre-delete page
            assert len(json.loads(r.read())["hits"]) == 20

        def _fail(*a, **kw):
            raise RuntimeError("segment build failed")

        monkeypatch.setattr(segments, "add_segment", _fail)
        code, err = _post_bulk(base, [
            {"delete": {"repo": "org/r", "path": "src/3.py"}},
            {"repo": "org/new", "path": "src/a.py", "commit": "d",
             "lang": "python", "content": "bulkjob alpha"},
        ])
        assert code == 500 and "segment build failed" in err["error"]
        with urllib.request.urlopen(url) as r:
            assert r.headers["X-Cache"] == "MISS"
            paths = [h["path"] for h in json.loads(r.read())["hits"]]
        assert len(paths) == 19 and "src/3.py" not in paths
    finally:
        srv.shutdown()


def test_http_spell_did_you_mean(eng):
    """GET /spell (ES term-suggester analog): OOV tokens get OSA<=1
    dictionary suggestions ranked by df, in-vocabulary tokens stay
    untouched, and did_you_mean assembles the corrected query."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/spell?q=alpha+betta") as r:
            env = json.loads(r.read())
        toks = {t["token"]: t for t in env["tokens"]}
        assert toks["alpha"]["df"] > 0 and toks["alpha"]["suggestions"] == []
        assert toks["betta"]["df"] == 0
        assert toks["betta"]["suggestions"][0]["term"] == "beta"
        assert toks["betta"]["suggestions"][0]["df"] == 10
        assert env["did_you_mean"] == "alpha beta"
        # fully in-vocabulary query -> no correction
        with urllib.request.urlopen(f"{base}/spell?q=alpha+beta") as r:
            env2 = json.loads(r.read())
        assert env2["did_you_mean"] is None
        # missing q -> 400
        try:
            urllib.request.urlopen(f"{base}/spell")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_http_analyze(eng):
    """GET /analyze (ES _analyze API analog): index-side token stream +
    query-side IR under the index's persisted rules, and route == engine."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(
            f"{base}/analyze?text=getUserName+the+beta"
        ) as r:
            env = json.loads(r.read())
        assert env == eng.analyze("getUserName the beta", prefix=False)
        # camelCase splits on the index side, joined identifier doubled
        assert "user" in env["index_tokens"]
        assert "getusername" in env["index_tokens"]
        # removal pre-pass surfaces on the query side
        assert "the" in env["removed"]
        assert all(t["text"] != "the" for t in env["query_tokens"])
        assert env["analyzer_hash"]
        # prefix flag honored
        with urllib.request.urlopen(
            f"{base}/analyze?text=mergePost&prefix=true"
        ) as r:
            env2 = json.loads(r.read())
        assert env2["prefix"]
        # missing text -> 400
        try:
            urllib.request.urlopen(f"{base}/analyze")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_http_near_route(peng):
    """GET /near: unordered proximity — 'beta alpha' docs match alongside
    'alpha beta' docs at window 1 (ordered phrase matches only the first
    set), equal to the engine-level call; missing q is a 400."""
    srv = make_server(peng, SearchOptions(k=30, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        q = urllib.parse.quote("alpha beta")
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/near?q={q}&window=1&size=60"
        ) as r:
            env = json.loads(r.read())
        ids = {h["doc_id"] for h in env["hits"]}
        assert env["window"] == 1
        assert any(i < 15 for i in ids) and any(i >= 15 for i in ids)
        want = peng.search_near_unordered_rows(
            ["alpha", "beta"], 1, SearchOptions(k=60, prefix=False)
        )
        assert [h["doc_id"] for h in env["hits"]] == [
            h.doc_id for h in want
        ]
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/near")
        assert ei.value.code == 400
    finally:
        srv.shutdown()


def test_http_spell_phrase_mode(eng):
    """GET /spell?mode=phrase returns whole-query rewrites (ES
    phrase-suggester analog) ranked by the unigram LM, equal to the
    engine-level phrase_suggest call."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        q = urllib.parse.quote("alpa beta")
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/spell?q={q}&mode=phrase&size=5"
        ) as r:
            env = json.loads(r.read())
        texts = [s["text"] for s in env["suggestions"]]
        assert "alpha beta" in texts
        want = eng.phrase_suggest("alpa beta", k=5)
        assert texts == [p for p, _ in want]
        assert [s["score"] for s in env["suggestions"]] == [
            s for _, s in want
        ]
    finally:
        srv.shutdown()


def test_http_request_cache(eng):
    """ES request-cache analog: identical /search URLs serve from the
    response cache (X-Cache MISS then HIT, byte-identical bodies),
    validated against the index Last-Modified stamp."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{port}/search?q=alpha&size=5"
        with urllib.request.urlopen(url) as r1:
            b1 = r1.read()
            lm = r1.headers.get("Last-Modified")
            c1 = r1.headers.get("X-Cache")
        with urllib.request.urlopen(url) as r2:
            b2 = r2.read()
            c2 = r2.headers.get("X-Cache")
        if lm is None:
            pytest.skip("index carries no build-time stamp")
        assert c1 == "MISS" and c2 == "HIT"
        assert b1 == b2  # cached body identical, answer_time_ms included
        # a different query string is its own entry
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q=alpha&size=4"
        ) as r3:
            assert r3.headers.get("X-Cache") == "MISS"
    finally:
        srv.shutdown()


def test_http_sorted_route(eng):
    """GET /sorted: field-ordered match set with keyset paging over HTTP,
    equal to the engine-level search_sorted pages."""
    from gazetteer_search_spark.search.engine import TermGroup

    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/sorted?q=alpha&by=path&size=10"
        ) as r:
            env = json.loads(r.read())
        assert env["by"] == "path" and len(env["hits"]) == 10
        paths = [h["path"] for h in env["hits"]]
        assert paths == sorted(paths)
        g = [TermGroup(group_id=0, terms=("alpha",), required=True)]
        want = eng.search_sorted(
            g, 1, SearchOptions(k=10, prefix=False), by="path"
        ).collect()
        assert [h["doc_id"] for h in env["hits"]] == [
            r.doc_id for r in want
        ]
        # keyset page 2 continues without gaps or dups
        last = env["hits"][-1]
        q2 = (
            f"http://127.0.0.1:{port}/sorted?q=alpha&by=path&size=10"
            f"&after_value={urllib.parse.quote(last['path'])}"
            f"&after_id={last['doc_id']}"
        )
        with urllib.request.urlopen(q2) as r:
            env2 = json.loads(r.read())
        ids1 = {h["doc_id"] for h in env["hits"]}
        ids2 = {h["doc_id"] for h in env2["hits"]}
        assert not (ids1 & ids2) and len(env2["hits"]) == 10
    finally:
        srv.shutdown()


def test_search_response_profile(eng):
    """profile=true attaches the serving tier's block decode/skip deltas
    for THIS answer (ES profile-API analog)."""
    env = eng.search_response(
        "alpha beta", SearchOptions(k=5, prefix=False), profile=True
    )
    p = env["profile"]
    assert set(p) == {"decoded", "skipped", "attr_gated", "range_gated"}
    assert p["decoded"] >= 1  # the answer decoded at least one block
    env2 = eng.search_response("alpha beta", SearchOptions(k=5, prefix=False))
    assert "profile" not in env2


def test_http_profile_param(eng):
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q=alpha&profile=true"
        ) as r:
            env = json.loads(r.read())
        assert "profile" in env and env["profile"]["decoded"] >= 1
    finally:
        srv.shutdown()


def test_http_mapping_and_segments_routes(eng):
    """GET /mapping (index configuration) and /segments (generation
    listing) — the _mapping/_cat observability analogs."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/mapping"
        ) as r:
            m = json.loads(r.read())
        assert m["n_docs"] == 80
        assert "format" in m or "postings_codec" in m
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/segments"
        ) as r:
            s = json.loads(r.read())
        assert s["generations"] == 1 and s["base_docs"] == 80
        assert s["segments"] == []
    finally:
        srv.shutdown()


def test_http_rank_eval_route(eng):
    """POST /rank_eval: rated queries -> per-query RR/recall/NDCG + macro
    averages (ES _rank_eval analog). 'alpha beta' ranks the beta-bearing
    docs (ids < 10) first, so rating doc 0 relevant gives rr=1 when it
    tops and recall=1 with a single relevant doc."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        top = eng.search_hits("alpha beta", SearchOptions(k=1, prefix=False))[0]
        body = json.dumps({
            "k": 5,
            "queries": [
                {"id": "q1", "q": "alpha beta",
                 "relevant": [int(top.doc_id)]},
                {"id": "q2", "q": "alpha beta", "relevant": [9999]},
            ],
        }).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/rank_eval", data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            env = json.loads(r.read())
        byid = {m["query_id"]: m for m in env["queries"]}
        assert byid["q1"]["rr"] == 1.0 and byid["q1"]["recall"] == 1.0
        assert byid["q2"]["rr"] == 0.0 and byid["q2"]["ndcg"] == 0.0
        assert env["n_queries"] == 2 and env["mrr"] == 0.5
    finally:
        srv.shutdown()


def test_phrase_suggest_edges(eng):
    """Edge semantics: empty query -> no suggestions; all-in-vocab query
    -> identity excluded (no rewrites); collate prunes zero-df rewrites."""
    assert eng.phrase_suggest("") == []
    # every token in vocabulary -> the only candidate phrase is the
    # identity, which is excluded
    assert eng.phrase_suggest("alpha beta") == []
    # an OOV with corrections yields rewrites; collate keeps only
    # fully-in-vocab phrases
    got = eng.phrase_suggest("alpa beta", k=5)
    assert got and all("alpa" not in p for p, _ in got)
    collated = eng.phrase_suggest("alpa beta", k=5, collate=True)
    assert set(p for p, _ in collated) <= set(p for p, _ in got)


def test_http_dsl_route(eng):
    """POST /dsl executes ES query-DSL JSON (the reference's own query
    shape) and reports the translation notes."""
    srv = make_server(eng, SearchOptions(k=5, prefix=False), port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        body = json.dumps({
            "dsl": {
                "query": {
                    "bool": {
                        "must": [{"match": {"full_text": "alpha"}}],
                        "must_not": [{"match": {"full_text": "plain"}}],
                    }
                },
                "size": 20,
            },
            "field_map": {"full_text": "content"},
        }).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/dsl", data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            env = json.loads(r.read())
        assert env["groups"] == 1 and env["msm"] == 1
        ids = [h["doc_id"] for h in env["hits"]]
        assert ids and all(i < 10 for i in ids)  # 'plain' docs excluded
    finally:
        srv.shutdown()


def test_fsearch_federated_multi_index(spark, tmp_path):
    """GET /fsearch (ES multi-index GET /idx1,idx2/_search shape): the
    query runs on the primary and every federated index, each against its
    own BM25 stats, and the labeled pages merge by (score desc, index
    asc, doc_id asc)."""
    import threading
    import urllib.error
    import urllib.request

    from pyspark.sql import functions as F

    from gazetteer_search_spark.index import builder
    from gazetteer_search_spark.search.engine import SearchEngine, SearchOptions
    from gazetteer_search_spark.server import make_server

    def _mk(name, marker, n=20, boost=""):
        corpus = spark.range(0, n).select(
            F.col("id").alias("doc_id"), F.lit("org/r").alias("repo"),
            F.format_string("src/%d.py", "id").alias("path"),
            F.lit("c").alias("commit"), F.lit("python").alias("lang"),
            F.lit(f"alpha {boost} shared {marker} words").alias("content"),
        )
        out = str(tmp_path / name)
        builder.build_index(spark, corpus, out, n_buckets=2)
        return out

    p1 = _mk("main_idx", "uniqueone")
    # tf=2 for 'alpha' in the federated index: its per-index BM25 score is
    # strictly higher, so both labels must appear in a merged page
    p2 = _mk("other_idx", "uniquetwo", n=5, boost="alpha")

    def _open(t):
        return SearchEngine(spark, builder.load_index(spark, t), serving=True)

    srv = make_server(
        _open(p1), SearchOptions(k=5, prefix=False, fuzzy=False), port=0,
        index_path=p1, federated={"other": _open(p2)},
    )
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        def get(path):
            try:
                with urllib.request.urlopen(
                    f"http://127.0.0.1:{port}{path}"
                ) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        code, env = get("/fsearch?q=alpha&size=10")
        assert code == 200
        assert set(env["indices"]) == {"main_idx", "other"}
        labels = {h["index"] for h in env["hits"]}
        assert labels == {"main_idx", "other"}
        # deterministic merge: equal scores (same corpus shape) break by
        # index name then doc_id
        keys = [
            (-round(h["score"], 4), h["index"], h["doc_id"])
            for h in env["hits"]
        ]
        assert keys == sorted(keys)

        # a marker present only in the federated index
        code, env = get("/fsearch?q=uniquetwo&size=5")
        assert code == 200
        assert env["hits"] and all(h["index"] == "other" for h in env["hits"])

        # subset selection + unknown name
        code, env = get("/fsearch?q=alpha&size=5&index=other")
        assert code == 200 and {h["index"] for h in env["hits"]} == {"other"}
        assert get("/fsearch?q=alpha&index=nope")[0] == 400
        assert get("/fsearch?size=3")[0] == 400  # missing q
    finally:
        srv.shutdown()

    # without federated config the route answers 409, not a crash
    srv2 = make_server(
        _open(p1), SearchOptions(k=5, prefix=False, fuzzy=False), port=0,
        index_path=p1,
    )
    port2 = srv2.server_address[1]
    threading.Thread(target=srv2.serve_forever, daemon=True).start()
    try:
        import urllib.error as _ue
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port2}/fsearch?q=x")
            raise AssertionError("expected 409")
        except _ue.HTTPError as e:
            assert e.code == 409
    finally:
        srv2.shutdown()


def test_fsearch_primary_shadowing_and_duplicate_index_params(spark, tmp_path):
    """A federated name colliding with the primary's basename answers 500
    (it would silently shadow the live hot-swappable engine); repeated
    index= params dedupe instead of duplicating every hit."""
    import threading
    import urllib.error
    import urllib.request

    from pyspark.sql import functions as F

    from gazetteer_search_spark.index import builder
    from gazetteer_search_spark.search.engine import SearchEngine, SearchOptions
    from gazetteer_search_spark.server import make_server

    corpus = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.lit("org/r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"), F.lit("python").alias("lang"),
        F.lit("alpha words").alias("content"),
    )
    p1 = str(tmp_path / "same_name")
    builder.build_index(spark, corpus, p1, n_buckets=2)

    def _open(t):
        return SearchEngine(spark, builder.load_index(spark, t), serving=True)

    srv = make_server(
        _open(p1), SearchOptions(k=5, prefix=False, fuzzy=False), port=0,
        index_path=p1, federated={"same_name": _open(p1), "twin": _open(p1)},
    )
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        def get(path):
            try:
                with urllib.request.urlopen(
                    f"http://127.0.0.1:{port}{path}"
                ) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        assert get("/fsearch?q=alpha")[0] == 500  # shadowing rejected
        srv.shutdown()
    finally:
        pass

    srv = make_server(
        _open(p1), SearchOptions(k=5, prefix=False, fuzzy=False), port=0,
        index_path=p1, federated={"twin": _open(p1)},
    )
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/fsearch?q=alpha&size=20"
            "&index=twin&index=twin"
        ) as r:
            env = json.loads(r.read())
        keys = [(h["index"], h["doc_id"]) for h in env["hits"]]
        assert len(keys) == len(set(keys))  # no duplicated hits
        assert env["indices"] == ["twin"]
    finally:
        srv.shutdown()


# ---- round-5 review-fix regressions -----------------------------------------

def _serve(eng, opts):
    srv = make_server(eng, opts, port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, port


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return json.loads(r.read())


def test_tenant_scope_applies_to_count_and_agg_routes(eng):
    """A filtered alias installs its scope into the serving default opts;
    /count, /composite, /tophits, /facetcard and POST /sendq must FALL BACK
    to that scope when the request omits the param (regression: they
    replaced it with None, counting every tenant's documents)."""
    srv, port = _serve(eng, SearchOptions(k=5, prefix=False, lang="python"))
    try:
        # /search already scoped (the pre-existing rule)
        env = _get(port, "/search?q=alpha&size=50")
        assert env["hits"] and all(h["lang"] == "python" for h in env["hits"])
        # /count: scoped count == the python half (40), not all 80
        c = _get(port, "/count?q=alpha")
        assert c["count"] == 40, c
        # explicit param still overrides
        c = _get(port, "/count?q=alpha&lang=java")
        assert c["count"] == 40  # the java half
        # /composite buckets only the tenant's docs
        comp = _get(port, "/composite?q=alpha&key=lang&size=10")
        langs = {b["value"] for b in comp["buckets"]}
        assert langs == {"python"}, comp
        # /tophits buckets only the tenant's docs
        th = _get(port, "/tophits?q=alpha&key=lang&n=2")
        assert set(th["buckets"]) == {"python"}
        # /facetcard too
        fc = _get(port, "/facetcard?q=alpha&key=lang&metric=repo")
        assert {b["value"] for b in fc["buckets"]} == {"python"}
        # POST /sendq without lang inherits the scope
        body = json.dumps({
            "groups": [{"group_id": 0, "terms": ["alpha"]}],
            "k": 50, "msm": 1,
        }).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/sendq", data=body, method="POST"
        )
        with urllib.request.urlopen(req) as r:
            hits = json.loads(r.read())["hits"]
        assert hits and all(h["lang"] == "python" for h in hits)
    finally:
        srv.shutdown()


def test_search_result_window_bounded(eng):
    """size and size*page are bounded by the ES max_result_window rule —
    one request must not demand an arbitrarily large top-k (regression:
    size=10^8&page=1000 set opts.k = 10^11)."""
    srv, port = _serve(eng, SearchOptions(k=5, prefix=False))
    try:
        # big size alone: clamped, still answers
        env = _get(port, "/search?q=alpha&size=100000000")
        assert env["hits"]
        # size*page beyond the window: a 400, not an unbounded heap
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(port, "/search?q=alpha&size=1000&page=9999")
        assert ei.value.code == 400
        assert "result window" in json.loads(ei.value.read())["error"]
        # over-deep page with a SMALL size must 400 too, not get clamped
        # into silently serving the clamp page's data (regression: page
        # was min()'d to the window before the size*page check)
        with pytest.raises(urllib.error.HTTPError) as ei2:
            _get(port, "/search?q=alpha&size=1&page=20000")
        assert ei2.value.code == 400
        assert "result window" in json.loads(ei2.value.read())["error"]
        # negative size is clamped up, not accepted
        env = _get(port, "/search?q=alpha&size=-5")
        assert env["total_hits"] >= 1
    finally:
        srv.shutdown()


def test_mapping_reports_persisted_keys(spark, tmp_path_factory):
    """/mapping must read the keys the builder actually persists
    (clustered_by / stored_content / name_key_sql) — the old names were
    silently absent for every index (regression)."""
    corpus = spark.range(0, 30).select(
        F.col("id").alias("doc_id"),
        F.format_string("org/r%d", F.col("id") % 3).alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("python").alias("lang"),
        F.lit("alpha beta").alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_map"))
    idx = builder.build_index(
        spark, corpus, out, n_buckets=4, store_content=True,
        cluster_by=("repo", "path"),
    )
    eng2 = SearchEngine(spark, idx, serving=True)
    srv, port = _serve(eng2, SearchOptions(k=5, prefix=False))
    try:
        m = _get(port, "/mapping")
        assert m["stored_content"] is True
        assert m["clustered_by"] == ["repo", "path"]
        assert "name_key_sql" in m
    finally:
        srv.shutdown()


def test_http_api_endpoint_registry(eng):
    """GET /api: EndpointMeta/QueryParameter analog (EndpointMeta.java:13-31)
    — every served route self-describes as url + name + ordered parameter
    descriptions, and the registry covers exactly the routes the 404
    listing advertises (no phantom or undocumented endpoints)."""
    srv, port = _serve(eng, SearchOptions(k=5, prefix=False))
    try:
        eps = _get(port, "/api")["endpoints"]
        by_url = {e["url"]: e for e in eps}
        # the reference annotates q/lat/lon etc. per endpoint; ours must
        # document at least the /search core params
        s = by_url["/search"]
        assert s["method"] == "GET" and s["name"]
        for p in ("q", "size", "page", "lang", "fuzziness", "timeout_ms"):
            assert p in s["parameters"], p
        # registry <-> dispatch parity: every advertised GET route appears
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope")
            assert False, "expected 404"
        except urllib.error.HTTPError as e2:
            advertised = json.loads(e2.read())["routes"]
        for route in advertised:
            assert route in by_url, f"{route} missing from /api registry"
        # POST routes are present and marked
        assert by_url["/dsl"]["method"] == "POST"
        assert by_url["/bulk"]["method"] == "POST"
        # /api itself responds 200 through auth-less default config
        assert by_url["/api"]["url"] == "/api"
    finally:
        srv.shutdown()


def test_http_stats_numeric(ceng):
    """GET /stats?numeric=true (ES stats + percentiles agg at the serving
    tier): exact count/min/max/sum/mean and linear-interpolation p50/p95
    over a numeric docs column — ceng stores 30 docs, doc 0 with 4 tokens
    and 29 with 3. String columns 400 pointing at the terms form."""
    srv, port = _serve(ceng, SearchOptions(k=5, prefix=False))
    try:
        env = _get(port, "/stats?key=doc_len&numeric=true")
        s = env["stats"]
        assert s["count"] == 30 and s["min"] == 3 and s["max"] == 4
        assert s["sum"] == 29 * 3 + 4
        assert s["mean"] == round((29 * 3 + 4) / 30, 6)
        assert s["p50"] == 3.0
        # linear interpolation at p95 over [3]*29 + [4]: numpy's value
        import numpy as np

        assert s["p95"] == round(
            float(np.percentile([3] * 29 + [4], 95)), 6
        )
        for bad in ("key=lang&numeric=true", "key=nosuchcol&numeric=true"):
            try:
                urllib.request.urlopen(
                    f"http://127.0.0.1:{port}/stats?{bad}"
                )
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
        # the terms form is untouched
        assert _get(port, "/stats?key=lang")["buckets"][0]["value"] == "python"
    finally:
        srv.shutdown()


def test_http_slowlog(eng, tmp_path):
    """--slow-ms (ES search-slowlog analog): a zero threshold logs a SLOW
    line (elapsed ms + status + method + url) for every request; a huge
    threshold logs none; the access log's normal lines are unaffected."""
    log_path = tmp_path / "slow.log"
    srv = make_server(
        eng, SearchOptions(k=5, prefix=False), port=0,
        access_log=str(log_path), slow_ms=0.0,
    )
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/search?q=alpha&size=1"
        ) as r:
            assert r.status == 200
    finally:
        srv.shutdown()
    lines = log_path.read_text().splitlines()
    slow = [ln for ln in lines if ln.startswith("SLOW ")]
    assert len(slow) == 1
    assert "ms 200 GET /search?q=alpha&size=1" in slow[0]
    assert float(slow[0].split()[1].rstrip("ms")) >= 0.0
    # the normal access-log line still present alongside
    assert any(ln.startswith("HUMAN ") for ln in lines)

    log2 = tmp_path / "quiet.log"
    srv2 = make_server(
        eng, SearchOptions(k=5, prefix=False), port=0,
        access_log=str(log2), slow_ms=1e9,
    )
    port2 = srv2.server_address[1]
    threading.Thread(target=srv2.serve_forever, daemon=True).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port2}/search?q=alpha&size=1"
        ) as r:
            assert r.status == 200
    finally:
        srv2.shutdown()
    assert not [
        ln for ln in log2.read_text().splitlines()
        if ln.startswith("SLOW ")
    ]


def test_http_access_log(eng, tmp_path):
    """--access-log sink (HttpLogger.java:38-74 analog): one line per
    response with the UA-classified marker (HUMAN / BOT.GOOGLE / BOT.YANDEX
    / BOT.BING), X-Real-IP preferred over the socket peer, and an extra
    WARN line for non-200 responses."""
    log_path = tmp_path / "access.log"
    srv = make_server(
        eng, SearchOptions(k=5, prefix=False), port=0,
        access_log=str(log_path),
    )
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        with urllib.request.urlopen(f"{base}/search?q=alpha&size=1") as r:
            json.loads(r.read())
        req = urllib.request.Request(
            f"{base}/search?q=alpha&size=1",
            headers={
                "User-Agent": "Mozilla/5.0 (compatible; Googlebot/2.1)",
                "X-Real-IP": "203.0.113.9",
            },
        )
        with urllib.request.urlopen(req) as r:
            json.loads(r.read())
        req2 = urllib.request.Request(
            f"{base}/nope", headers={"User-Agent": "bingbot/2.0"}
        )
        try:
            urllib.request.urlopen(req2)
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
        lines = log_path.read_text().splitlines()
        # line 1: plain client -> HUMAN marker, socket ip
        assert lines[0].startswith("HUMAN 127.0.0.1 - 200 GET /search")
        # line 2: Googlebot UA + X-Real-IP override
        assert lines[1].startswith("BOT.GOOGLE 203.0.113.9 - 200 GET /search")
        assert "User-Agent: Mozilla/5.0 (compatible; Googlebot/2.1)" in lines[1]
        # 404: access line with the bing marker plus the WARN line
        assert lines[2].startswith("BOT.BING 127.0.0.1 - 404 GET /nope")
        assert lines[3] == "WARN GET /nope responded with 404"
        # 304 Not Modified is a HEALTHY cache validation: an access line,
        # but no WARN flood (regression: any non-200 warned)
        req3 = urllib.request.Request(
            f"{base}/search?q=alpha&size=1",
            headers={"If-Modified-Since": "Fri, 01 Jan 2100 00:00:00 GMT"},
        )
        try:
            urllib.request.urlopen(req3)
            code = 200
        except urllib.error.HTTPError as e:
            code = e.code
        assert code in (200, 304)
        tail = log_path.read_text().splitlines()[4:]
        if code == 304:
            assert tail and tail[-1].startswith("HUMAN 127.0.0.1 - 304")
            assert not any(ln.startswith("WARN") for ln in tail)
    finally:
        srv.shutdown()


def test_http_doc_and_mget(eng, spark, tmp_path_factory):
    """GET /doc (ES GET _doc/{id}) and GET /mget (_mget): stored fields of
    live docs, 404 + found:false for missing ids, request-order-preserving
    batch with per-doc found flags, content toggle on a store_content
    index, and the physical doc_part column never leaks."""
    srv, port = _serve(eng, SearchOptions(k=5, prefix=False))
    try:
        hit = _get(port, "/search?q=alpha&size=1")["hits"][0]
        d = _get(port, f"/doc?id={hit['doc_id']}")
        assert d["found"] is True and d["doc_id"] == hit["doc_id"]
        assert d["doc"]["path"] == hit["path"]
        assert d["doc"]["lang"] == hit["lang"]
        assert "doc_part" not in d["doc"]
        try:
            _get(port, "/doc?id=999999999")
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
            assert json.loads(e.read()) == {
                "doc_id": 999999999, "found": False,
            }
        m = _get(port, f"/mget?ids=999999999,{hit['doc_id']}")
        assert [x["found"] for x in m["docs"]] == [False, True]
        assert m["docs"][1]["repo"] == hit["repo"]
        # validation: no ids -> 400; over the cap -> 400
        for bad in ("/mget", "/mget?ids=" + ",".join(["1"] * 1001)):
            try:
                _get(port, bad)
                assert False, "expected 400"
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        srv.shutdown()

    # content toggle needs a store_content index
    corpus = spark.range(0, 10).select(
        F.col("id").alias("doc_id"),
        F.lit("org/r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("python").alias("lang"),
        F.lit("alpha beta").alias("content"),
    )
    out = str(tmp_path_factory.mktemp("idx_doc"))
    idx = builder.build_index(
        spark, corpus, out, n_buckets=4, store_content=True
    )
    eng2 = SearchEngine(spark, idx, serving=True)
    srv2, port2 = _serve(eng2, SearchOptions(k=5, prefix=False))
    try:
        d = _get(port2, "/doc?id=3")
        assert d["doc"]["content"] == "alpha beta"
        d2 = _get(port2, "/doc?id=3&content=false")
        assert "content" not in d2["doc"]
    finally:
        srv2.shutdown()


def test_doc_fetch_routes_to_federated_index(spark, tmp_path):
    """index=NAME on /doc and /mget (ES GET /{index}/_doc/{id} shape):
    the named federated engine answers; the primary's basename also
    addresses the live engine; an unknown name is a 404 listing the
    known names."""
    def _mk(name, marker, n):
        corpus = spark.range(0, n).select(
            F.col("id").alias("doc_id"), F.lit("org/r").alias("repo"),
            F.format_string("src/%d.py", "id").alias("path"),
            F.lit("c").alias("commit"), F.lit("python").alias("lang"),
            F.lit(f"alpha {marker}").alias("content"),
        )
        out = str(tmp_path / name)
        builder.build_index(spark, corpus, out, n_buckets=2)
        return out

    p1 = _mk("main_idx", "uniqueone", 20)
    p2 = _mk("other_idx", "uniquetwo", 5)

    def _open(t):
        return SearchEngine(spark, builder.load_index(spark, t), serving=True)

    srv = make_server(
        _open(p1), SearchOptions(k=5, prefix=False, fuzzy=False), port=0,
        index_path=p1, federated={"other": _open(p2)},
    )
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        # id 10 exists only in the primary (the federated index has 0..4)
        assert _get(port, "/doc?id=10")["found"] is True
        assert _get(port, "/doc?id=10&index=main_idx")["found"] is True
        with pytest.raises(urllib.error.HTTPError) as e1:
            _get(port, "/doc?id=10&index=other")
        assert e1.value.code == 404
        assert json.loads(e1.value.read())["found"] is False
        # id 2 exists in both; the federated row is the federated corpus's
        d = _get(port, "/mget?ids=2,10&index=other")["docs"]
        assert d[0]["found"] is True and d[1]["found"] is False
        # unknown index name: 404 naming the known indexes
        with pytest.raises(urllib.error.HTTPError) as e2:
            _get(port, "/doc?id=2&index=nope")
        assert e2.value.code == 404
        body = json.loads(e2.value.read())["error"]
        assert "main_idx" in body and "other" in body
    finally:
        srv.shutdown()


def test_doc_fetch_fields_projection(eng):
    """fields= (ES _source_includes): the point read projects down to the
    named stored fields at the parquet scan — doc_id always kept — on
    both /doc and /mget."""
    srv, port = _serve(eng, SearchOptions(k=5, prefix=False))
    try:
        d = _get(port, "/doc?id=2&fields=repo,lang")["doc"]
        assert set(d) == {"doc_id", "repo", "lang"}
        m = _get(port, "/mget?ids=2,3&fields=path")["docs"]
        assert all(set(x) == {"doc_id", "found", "path"} for x in m)
        # unknown field names are simply not present (ES behavior)
        d2 = _get(port, "/doc?id=2&fields=nope")["doc"]
        assert set(d2) == {"doc_id"}
    finally:
        srv.shutdown()


def test_doc_fetch_rejects_shadowed_primary(spark, tmp_path):
    """A federated entry named like the primary must error loudly on /doc
    (the /fsearch invariant) — never silently serve the primary's data
    under the federated index's name."""
    corpus = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), F.lit("org/r").alias("repo"),
        F.format_string("src/%d.py", "id").alias("path"),
        F.lit("c").alias("commit"), F.lit("python").alias("lang"),
        F.lit("alpha").alias("content"),
    )
    p1 = str(tmp_path / "same_name")
    idx = builder.build_index(spark, corpus, p1, n_buckets=2)
    e1 = SearchEngine(spark, idx, serving=True)
    srv = make_server(
        e1, SearchOptions(k=5, prefix=False), port=0, index_path=p1,
        federated={"same_name": e1},
    )
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(port, "/doc?id=2&index=same_name")
        assert "shadows the primary" in json.loads(e.value.read())["error"]
    finally:
        srv.shutdown()


def test_http_validate_routes(eng):
    """GET /validate (ES _validate/query?explain=true analog): the plan
    without execution — clause dfs, msm, unsatisfiable flag, always the
    200 valid:true/false envelope; POST /validate is the DSL-body twin
    (strict translation errors -> valid:false, not 4xx/5xx)."""
    srv, port = _serve(eng, SearchOptions(k=5, prefix=False))
    try:
        v = _get(port, "/validate?q=alpha+beta&prefix=false")
        assert v["valid"] is True and v["msm"] == 2
        by = {c["name"]: c for c in v["clauses"]}
        assert by["alpha"]["df"] == 80 and by["beta"]["df"] == 10
        assert v["estimated_postings"] == 90
        assert v["unsatisfiable"] is False
        # out-of-vocabulary required clause -> unsatisfiable, still valid
        v2 = _get(port, "/validate?q=alpha+zzznope&prefix=false")
        assert v2["valid"] is True and v2["unsatisfiable"] is True
        # malformed regexp -> valid:false with the error, HTTP 200
        v3 = _get(port, "/validate?q=/unclosed(/&prefix=false")
        assert v3["valid"] is False and "error" in v3
        # missing q -> 400 (the only non-200 shape)
        try:
            _get(port, "/validate")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # POST twin: bare DSL body
        body = json.dumps(
            {"query": {"match": {"content": "alpha"}}}
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/validate", data=body, method="POST"
        )
        with urllib.request.urlopen(req) as r:
            pv = json.loads(r.read())
        assert pv["valid"] is True and pv["clauses"][0]["df"] == 80
        assert pv["estimated_postings"] == 80 and pv["msm"] == 1
        # strict + untranslatable clause -> valid:false (ES envelope)
        bad = json.dumps(
            {"dsl": {"query": {"frobnicate": {}}}, "strict": True}
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/validate", data=bad, method="POST"
        )
        with urllib.request.urlopen(req) as r:
            pb = json.loads(r.read())
        assert pb["valid"] is False and "frobnicate" in pb["error"]
    finally:
        srv.shutdown()


def test_http_field_caps(eng):
    """GET /field_caps (ES _field_caps analog): term namespaces marked
    searchable, docs-store columns typed with filterable/aggregatable
    flags — schema-only, no data scan."""
    srv, port = _serve(eng, SearchOptions(k=5, prefix=False))
    try:
        fc = _get(port, "/field_caps")
        fields = fc["fields"]
        assert fields["full_text"]["searchable"] is True
        assert fields["repo"]["filterable"] is True
        assert fields["repo"]["aggregatable"] is True
        assert fields["lang"]["filterable"] is True
        assert "doc_id" in fields
        # this fixture builds WITHOUT store_content: the docs store has no
        # content column, so the caps listing must not invent one (the
        # full_text namespace above is how its tokens are searchable)
        assert "content" not in fields
        assert fc["n_fields"] == len(fields)
    finally:
        srv.shutdown()
