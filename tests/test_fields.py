"""Per-field postings + cross-field boosted search (P11).

The reference indexes name/full_text as separate ES text fields and boosts
name^5 in its main multi_match (ESMainMultyMatch.java:10-68,
MainAddressQueryBuilder.java:459-464). Here field postings share the content
pipeline under "field:term" keys with per-field BM25 statistics; a
cross-field query is one TermGroup spanning both field variants with
per-term weights, scored dis_max."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder
from gazetteer_search_spark.index.builder import decode_postings
from gazetteer_search_spark.search.engine import SearchEngine, SearchOptions, TermGroup
from gazetteer_search_spark.sources import synthetic_corpus

N_DOCS = 300


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_fields"))
    return builder.build_index(
        spark,
        synthetic_corpus(spark, N_DOCS),
        out,
        n_buckets=4,
        extra_fields={"name": "path"},
    )


def test_field_postings_share_layout(spark, index):
    """Field terms ride the same postings table, bucketed like content terms."""
    nm = index.postings.filter(F.col("term").startswith("name:"))
    assert nm.count() > 0
    # synthetic paths are "src/pkgN/ModM.ext": every doc has a name:src posting
    src = nm.filter(F.col("term") == "name:src").agg(F.sum("doc_count")).collect()[0][0]
    assert src == N_DOCS
    # field_stats lineage sidecar records the field's own avgdl
    fs = spark.read.parquet(index.paths.root + "/field_stats").collect()
    assert [r.field for r in fs] == ["name"] and fs[0].avg_len > 0


def test_field_bm25_uses_field_stats(spark, index):
    """name:src appears once in every doc -> its BM25 idf uses df=N over the
    FIELD's own avgdl, not the content field's."""
    import math

    from gazetteer_search_spark import BM25_B, BM25_K1

    rows = (
        decode_postings(index.postings.filter(F.col("term") == "name:src"), with_tf=True, ids_codec=index.ids_codec)
        .collect()
    )
    favg = spark.read.parquet(index.paths.root + "/field_stats").collect()[0].avg_len
    idf = math.log(1 + (index.n_docs - N_DOCS + 0.5) / (N_DOCS + 0.5))
    # spot-check one posting: recompute tf_norm from the name-field doc_len
    r = rows[0]
    # name tokens of "src/pkgN/ModM.ext" via the same kernel
    from gazetteer_search_spark.analyzer.tokenizer import tokenize_text

    path = index.docs.filter(F.col("doc_id") == r.doc_id).collect()[0].path
    ndl = len(tokenize_text(path))
    want = idf * (r.tf * (BM25_K1 + 1)) / (
        r.tf + BM25_K1 * (1 - BM25_B + BM25_B * ndl / favg)
    )
    assert r.score == pytest.approx(want, rel=1e-9)


def test_cross_field_boost_rank_identity(spark, index):
    """Engine cross-field dis_max == driver-recomputed max(5*name, 1*content)."""
    terms = ["name:merge", "merge"]
    dec = (
        decode_postings(index.postings.filter(F.col("term").isin(terms)), ids_codec=index.ids_codec)
        .toPandas()
    )
    w = {"name:merge": 5.0, "merge": 1.0}
    best: dict[int, float] = {}
    for t, d, s in zip(dec["term"], dec["doc_id"], dec["score"]):
        v = s * w[t]
        if d not in best or v > best[d]:
            best[d] = v
    k = 10
    order = sorted(best.items(), key=lambda kv: (-np.round(kv[1], 9), kv[0]))[:k]

    eng = SearchEngine(spark, index)
    g = TermGroup(group_id=0, terms=tuple(terms), required=True, term_weights=(5.0, 1.0))
    got = eng.search_rung([g], 1, SearchOptions(k=k)).collect()
    assert [r.doc_id for r in got] == [d for d, _ in order]
    for r, (_, s) in zip(got, order):
        assert r.score == pytest.approx(s, rel=1e-9)


def test_name_boost_promotes_path_match(spark, index):
    """A doc whose PATH carries the term must outrank content-only matches
    under name^5 (the name-boost behavior the reference's golden
    city-street.json fixtures assert)."""
    eng = SearchEngine(spark, index)
    g = TermGroup(
        group_id=0, terms=("name:mod7", "mod7"), required=True, term_weights=(5.0, 1.0)
    )
    top = eng.search_rung([g], 1, SearchOptions(k=3)).collect()
    assert top and "Mod7." in top[0].path


def test_prefix_expansion_namespace_parity(spark, index):
    """Bare prefixes expand in the content namespace ONLY on every tier
    (regression: the Spark-path dictionary scan leaked 'name:...' terms
    into bare expansions on field-bearing indexes, diverging from the
    serving tier); a 'field:' prefix explicitly targets that namespace.
    Both tiers equal a brute-force scan of term_stats."""
    spark_eng = SearchEngine(spark, index)
    serving = SearchEngine(spark, index, serving=True)
    ranked = sorted(
        ((r.term, int(r.df)) for r in index.term_stats.collect()),
        key=lambda x: (-x[1], x[0]),
    )
    content = [(t, d) for t, d in ranked if ":" not in t]
    # bare prefix: no field-namespace terms
    want = [t for t, _ in content if t.startswith("mer")][:128]
    assert want
    assert spark_eng.expand_prefix("mer") == want
    assert serving.expand_prefix("mer") == want
    # namespaced prefix: expands inside name:
    want = [t for t, _ in ranked if t.startswith("name:mod")][:128]
    assert want
    assert spark_eng.expand_prefix("name:mod") == want
    assert serving.expand_prefix("name:mod") == want
    # suggest shares the content-namespace rule across tiers
    want = [(t, d) for t, d in content if t.startswith("mer")][:5]
    assert spark_eng.suggest("mer", 5) == want
    assert serving.suggest("mer", 5) == want
