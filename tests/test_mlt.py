"""More-like-this (ES ``more_like_this`` analog; beyond reference — the
reference delegates MLT to ES): index-kernel re-analysis of the input, tf x
BM25-idf term selection against the index's own statistics, 30%
minimum_should_match search. Parity pinned serving-vs-Spark and through the
multi-generation executor; the HTTP and CLI fronts drop the seed doc."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder
from gazetteer_search_spark.search.engine import SearchEngine, SearchOptions
from gazetteer_search_spark.server import make_server
from gazetteer_search_spark.sources import synthetic_corpus

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_corpus(spark, N_DOCS)


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_mlt"))
    return builder.build_index(
        spark, corpus, out, n_buckets=4, store_content=True
    )


@pytest.fixture(scope="module")
def spark_eng(spark, index):
    return SearchEngine(spark, index)


@pytest.fixture(scope="module")
def local_eng(spark, index):
    return SearchEngine(spark, index, serving=True)


@pytest.fixture(scope="module")
def seed_text(corpus):
    return corpus.filter(F.col("doc_id") == 0).select("content").head()[0]


def test_mlt_groups_deterministic_and_capped(local_eng, seed_text):
    g1 = local_eng.mlt_groups(seed_text, max_terms=8)
    g2 = local_eng.mlt_groups(seed_text, max_terms=8)
    assert [g.terms for g in g1] == [g.terms for g in g2]
    assert 0 < len(g1) <= 8
    assert [g.group_id for g in g1] == list(range(len(g1)))
    # rarer terms outrank stopword-ish ones: selection is by tf x idf
    dfm = local_eng._df_for_terms([g.terms[0] for g in g1])
    assert all(df > 0 for df in dfm.values())


def test_mlt_local_matches_spark(spark_eng, local_eng, seed_text):
    gl = local_eng.mlt_groups(seed_text, max_terms=10)
    gs = spark_eng.mlt_groups(seed_text, max_terms=10)
    assert [g.terms for g in gl] == [g.terms for g in gs]
    want = spark_eng.search_mlt(seed_text, max_terms=10).collect()
    got = local_eng.search_mlt(seed_text, max_terms=10).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    for g, w in zip(got, want):
        assert g.score == pytest.approx(w.score, rel=1e-9)


def test_mlt_seed_ranks_first(local_eng, seed_text):
    rows = local_eng.search_mlt(
        seed_text, SearchOptions(k=5), max_terms=10
    ).collect()
    assert rows and rows[0].doc_id == 0  # the seed matches itself best


def test_mlt_no_selectable_terms(local_eng):
    assert local_eng.search_mlt("zzzzqqqqxxxx wwwwvvvvkkkk").collect() == []


def test_mlt_min_doc_freq_gate(local_eng, seed_text):
    all_g = local_eng.mlt_groups(seed_text, max_terms=63, min_doc_freq=1)
    gated = local_eng.mlt_groups(seed_text, max_terms=63, min_doc_freq=5)
    assert len(gated) <= len(all_g)
    dfm = local_eng._df_for_terms([g.terms[0] for g in gated])
    assert all(df >= 5 for df in dfm.values())


@pytest.fixture(scope="module")
def multi_eng(spark, index, tmp_path_factory):
    """Spark-free engine over the base plus one segment that re-upserts its
    first 20 docs with a marker token appended."""
    import shutil

    from gazetteer_search_spark.index import segments as segs
    from gazetteer_search_spark.sources import synthetic_corpus as sc

    root = str(tmp_path_factory.mktemp("idx_mlt_seg"))
    shutil.rmtree(root)
    shutil.copytree(index.paths.root, root)
    upd = (
        sc(spark, 20)
        .withColumn("content", F.concat(F.col("content"), F.lit(" mltmarker")))
        .withColumn("commit", F.sha1(F.concat_ws("-", "path", F.lit("v2"))))
    )
    segs.add_segment(spark, upd, root, n_buckets=2)
    return segs.open_multi_search(root)


def test_mlt_multigen_df(multi_eng):
    """df_for_terms over a multi-generation index sums per-generation df
    (df-with-deletes, like suggest)."""
    eng = multi_eng
    dfm = eng._df_for_terms(["mltmarker"])
    assert dfm.get("mltmarker") == 20
    # and MLT over the multi-gen engine finds the updated docs
    rows = eng.search_rung_rows(
        eng.mlt_groups("mltmarker mltmarker", max_terms=5), 1, SearchOptions()
    )
    assert rows and all(r.doc_id is not None for r in rows)


def test_multigen_stats_pair_summed_df_with_summed_n(multi_eng):
    """The summed df counts superseded copies, so the n it is divided by
    counts them too (Lucene's maxDoc): the generations' n_docs summed, not
    the base's alone. 'user' is in every synthetic doc, so its summed df
    exceeds the base's n_docs."""
    import math

    from gazetteer_search_spark.search.engine import TermGroup

    eng = multi_eng
    n = N_DOCS + 20  # base + segment docs
    df = eng._df_for_terms(["user", "name", "block"])
    assert df["user"] == df["name"] == n > eng.index.n_docs
    # MLT idf stays positive: of two equally common terms the one with the
    # higher tf ranks first
    got = [g.terms[0] for g in eng.mlt_groups("user user name")]
    assert got == ["user", "name"]
    # phrase suggester: a unigram probability never exceeds 1
    (score,) = [s for p, s in eng.phrase_suggest("usr", k=5) if p == "user"]
    assert score == round(math.log((df["user"] + 0.5) / (n + 1.0)), 6) <= 0
    # significant text: the background share is df / n
    rows = eng.significant_text_rows(
        [TermGroup(group_id=0, terms=("block",), required=True)], 1,
        SearchOptions(), sample_size=50,
    )
    by_term = {t: (c, bg, sc) for t, c, bg, sc in rows}
    c, bg, sc = by_term["block"]
    assert bg == df["block"]
    fgp, bgp = c / 50, bg / n
    assert sc == pytest.approx((fgp - bgp) * (fgp / bgp), abs=1e-6)
    assert sum(g.n_docs for g in eng._local.generations) == n


def test_http_mlt_route(local_eng):
    srv = make_server(local_eng, SearchOptions(k=10, prefix=False), port=0)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"
    try:
        # doc_id-seeded: seed 0 must be dropped from the page
        with urllib.request.urlopen(f"{base}/mlt?doc_id=0&size=5") as r:
            env = json.loads(r.read())
        assert env["selected_terms"]
        assert env["hits"] and all(h["doc_id"] != 0 for h in env["hits"])
        # free-text form keeps everything
        with urllib.request.urlopen(
            f"{base}/mlt?text=merge+postings+block&size=3"
        ) as r:
            env2 = json.loads(r.read())
        assert len(env2["hits"]) <= 3
        # neither text nor doc_id -> 400
        try:
            urllib.request.urlopen(f"{base}/mlt")
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()
