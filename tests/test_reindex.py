"""Reindex (ES _reindex analog): rebuild an index from its own stored docs.

The ES contract mirrored here: _reindex reads documents from the source
index's stored _source (refuses without it), writes into a target created
with (possibly new) settings, and the target is indistinguishable from an
index built fresh over the same documents. Reference context: the
reference's own answer to changed analyzer settings is a full re-import
(imp/addr/AddressesIndexer.java recreates the mapping)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.analyzer.config import AnalyzerRules
from gazetteer_search_spark.index import builder, segments
from gazetteer_search_spark.index.reindex import reindex
from gazetteer_search_spark.search.engine import SearchEngine, SearchOptions, TermGroup
from gazetteer_search_spark.sources import synthetic_corpus

N = 400


def _hid(df):
    return df.withColumn(
        "doc_id",
        F.xxhash64("repo", "path", "commit").bitwiseAND(F.lit((1 << 62) - 1)),
    )


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("reix_src"))
    corpus = _hid(synthetic_corpus(spark, N).drop("doc_id"))
    idx = builder.build_index(
        spark, corpus, root, n_buckets=4, postings_per_group=1 << 16,
        store_content=True,
    )
    return root, idx


def _hits(spark, idx, terms, k=10):
    eng = SearchEngine(spark, idx)
    groups = [
        TermGroup(group_id=i, terms=(t,), required=True, weight=1.0)
        for i, t in enumerate(terms)
    ]
    rows = eng.search_rung_rows(groups, len(groups), SearchOptions(k=k))
    return [(r.doc_id, round(r.score, 6)) for r in rows]


def test_reindex_same_settings_is_equivalent(spark, src, tmp_path):
    root, idx = src
    out = str(tmp_path / "same")
    idx2 = reindex(spark, root, out)
    assert idx2.n_docs == idx.n_docs
    assert idx2.avg_doc_len == pytest.approx(idx.avg_doc_len)
    # settings inherited: codec, buckets, attr dim, analyzer identity
    m1 = builder.read_index_meta(root)
    m2 = builder.read_index_meta(out)
    for key in ("postings_codec", "n_buckets", "attr_dim", "analyzer_hash"):
        assert m2.get(key) == m1.get(key), key
    assert m2.get("stored_content") is True
    # query parity: identical doc ids AND scores (_id is preserved — the
    # ES _reindex contract; stats re-derive from the same text)
    for terms in (["merge"], ["merge", "postings"], ["readbuffersize"]):
        assert _hits(spark, idx2, terms) == _hits(spark, idx, terms), terms


def test_pre08_index_is_refused_and_reindex_migrates_it(spark, src, tmp_path):
    """One on-disk format: every reader of postings refuses an index whose
    meta does not record the FOR codec, naming the way out; reindex, which
    reads only docs and tombstones, migrates it to an index that answers
    exactly like the original."""
    import shutil

    from gazetteer_search_spark.index.verify import verify_index

    root, idx = src
    legacy = str(tmp_path / "legacy")
    shutil.copytree(root, legacy)
    meta = builder.read_index_meta(legacy)
    del meta["postings_codec"]
    builder._write_index_meta(legacy, meta)

    for open_it in (
        lambda: builder.load_index(spark, legacy),
        lambda: builder.load_index_local(legacy),
        lambda: segments.open_multi_search(legacy),
        lambda: verify_index(spark, legacy),
    ):
        with pytest.raises(ValueError, match="pre-0.8 index.*reindex"):
            open_it()

    out = str(tmp_path / "migrated")
    idx2 = reindex(spark, legacy, out)
    assert builder.read_index_meta(out)["postings_codec"] == "for"
    for terms in (["merge"], ["merge", "postings"], ["readbuffersize"]):
        assert _hits(spark, idx2, terms) == _hits(spark, idx, terms), terms


def test_reindex_with_new_analyzer_rules(spark, src, tmp_path):
    root, idx = src
    out = str(tmp_path / "rules")
    # new rule set: a custom synonym chain — the changed-settings target;
    # this engine's analyzer is symmetric by construction (SURVEY A13), so
    # rules are query-side config PERSISTED IN the index, and "reindex with
    # new rules" = the target self-configures the new behavior while the
    # source keeps the old
    rules = AnalyzerRules.from_dict({"synonym_chains": [["zzsynzz", "merge"]]})
    idx2 = reindex(spark, root, out, analyzer_rules=rules)
    m1 = builder.read_index_meta(root)
    m2 = builder.read_index_meta(out)
    assert m2["analyzer_hash"] != m1["analyzer_hash"]
    # corpus-identical rebuild: only the analyzer config moved
    assert idx2.n_docs == idx.n_docs
    assert idx2.avg_doc_len == pytest.approx(idx.avg_doc_len)
    # target engine answers the synonym; a source engine does not
    eng_new = SearchEngine(spark, idx2)
    assert eng_new.rules.synonyms["zzsynzz"] == ("merge",)
    opts = SearchOptions(k=5, fuzzy=False, prefix=False)
    assert eng_new.search_hits("zzsynzz ", opts)
    eng_old = SearchEngine(spark, idx)
    assert "zzsynzz" not in eng_old.rules.synonyms
    assert not eng_old.search_hits("zzsynzz ", opts)


def test_reindex_collapses_generations(spark, src, tmp_path):
    root, idx = src
    lsm = str(tmp_path / "lsm")
    import shutil

    shutil.copytree(root, lsm)
    # upsert 30 docs with a marker token -> 2 generations + tombstones
    upd = (
        spark.read.parquet(os.path.join(root, "docs"))
        .orderBy("doc_id")
        .limit(30)
        .select("repo", "path", "lang", "content")
        .withColumn("commit", F.sha1(F.concat(F.col("path"), F.lit("v2"))))
        .withColumn("content", F.concat(F.col("content"), F.lit(" reindexmarker")))
    )
    segments.add_segment(spark, upd, lsm, n_buckets=4)
    assert len(segments.list_segments(lsm)) == 1
    out = str(tmp_path / "flat")
    idx2 = reindex(spark, lsm, out)
    # single generation, live-doc count preserved (upserts replaced, not added)
    assert not segments.list_segments(out)
    assert idx2.n_docs == idx.n_docs
    hits = _hits(spark, idx2, ["reindexmarker"], k=40)
    assert len(hits) == 30


def test_reindex_where_filter(spark, src, tmp_path):
    root, idx = src
    out = str(tmp_path / "sliced")
    idx2 = reindex(spark, root, out, where="lang = 'python'")
    n_py = (
        spark.read.parquet(os.path.join(root, "docs"))
        .filter("lang = 'python'")
        .count()
    )
    assert idx2.n_docs == n_py > 0


def test_reindex_requires_stored_content(spark, tmp_path):
    root = str(tmp_path / "nosrc")
    corpus = _hid(synthetic_corpus(spark, 80).drop("doc_id"))
    builder.build_index(spark, corpus, root, n_buckets=2, postings_per_group=1 << 16)
    with pytest.raises(ValueError, match="store_content"):
        reindex(spark, root, str(tmp_path / "out"))


def test_reindex_inherits_per_field_postings(spark, tmp_path):
    root = str(tmp_path / "fields_src")
    corpus = _hid(synthetic_corpus(spark, 120).drop("doc_id"))
    builder.build_index(
        spark, corpus, root, n_buckets=2, postings_per_group=1 << 16,
        store_content=True, extra_fields={"name": "path"},
    )
    # builder now persists the field map in index_meta (dsl.py reads it)
    assert builder.read_index_meta(root)["fields"] == {"name": "path"}
    out = str(tmp_path / "fields_out")
    reindex(spark, root, out)
    m2 = builder.read_index_meta(out)
    assert m2["fields"] == {"name": "path"}
    idx2 = builder.load_index(spark, out)
    assert idx2.term_stats.filter(F.col("term").startswith("name:")).count() > 0


def test_reindex_preserves_identity_from_clustered_source(spark, tmp_path):
    """A cluster_by source stores its dense layout id as doc_id and the
    identity as src_doc_id; reindex carries the IDENTITY (ES preserves
    _id), re-deriving any new layout."""
    root = str(tmp_path / "clu_src")
    corpus = _hid(synthetic_corpus(spark, 120).drop("doc_id"))
    builder.build_index(
        spark, corpus, root, n_buckets=2, postings_per_group=1 << 16,
        store_content=True, cluster_by=("repo", "path"),
    )
    ident = {r.doc_id for r in corpus.select("doc_id").collect()}
    # inherit clustering: target re-clusters, identity kept as src_doc_id
    out1 = str(tmp_path / "clu_keep")
    reindex(spark, root, out1)
    d1 = spark.read.parquet(os.path.join(out1, "docs"))
    assert builder.read_index_meta(out1)["clustered_by"] == ["repo", "path"]
    assert {r.src_doc_id for r in d1.select("src_doc_id").collect()} == ident
    # disable clustering: identity becomes doc_id directly
    out2 = str(tmp_path / "clu_off")
    reindex(spark, root, out2, cluster_by=None)
    d2 = spark.read.parquet(os.path.join(out2, "docs"))
    assert "clustered_by" not in builder.read_index_meta(out2)
    assert {r.doc_id for r in d2.select("doc_id").collect()} == ident
