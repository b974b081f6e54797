"""Index build: postings round-trip vs direct computation, block invariants,
salted skew handling, manifest metrics, checkpoint/resume (FIXTURES.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder
from gazetteer_search_spark.search import bm25
from gazetteer_search_spark.sources import synthetic_corpus

N_DOCS = 300
N_BUCKETS = 8


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_corpus(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    # tiny postings_per_group forces multi-salt packing for hot keyword terms
    return builder.build_index(
        spark, corpus, out, n_buckets=N_BUCKETS, postings_per_group=64
    )


def test_postings_roundtrip_matches_direct(spark, corpus, index):
    decoded = builder.decode_postings(index.postings, with_tf=True)
    direct = bm25.term_freqs(bm25.doc_table(corpus, "pandas")).select(
        "term", "doc_id", "tf"
    )
    got = {(r.term, r.doc_id): r.tf for r in decoded.collect()}
    want = {(r.term, r.doc_id): r.tf for r in direct.collect()}
    assert got == want


def _group_by_term(rows) -> dict:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r.term, []).append(r)
    return out


def test_block_invariants(index):
    rows = index.postings.collect()
    assert rows
    for r in rows:
        assert 0 < r.doc_count <= builder.codec.BLOCK_SIZE
        assert r.min_doc_id <= r.max_doc_id
        assert r.block_max_score > 0
        assert len(r.scores_f64) == 8 * r.doc_count
    # per (term, attr value): block doc ranges are disjoint and ordered —
    # the salted runs partition the docID space WITHIN one attribute value.
    # Across attr values ranges interleave by design (per-attr sub-runs,
    # index format 0.7); the postings themselves stay disjoint, which
    # test_postings_roundtrip_matches_direct pins exactly.
    by_key: dict[tuple, list] = {}
    for r in rows:
        by_key.setdefault((r.term, r.attr_bits), []).append(r)
    for (term, _ab), blocks in by_key.items():
        blocks.sort(key=lambda b: (b.min_doc_id, b.block_id))
        for a, b in zip(blocks, blocks[1:]):
            assert a.max_doc_id < b.min_doc_id, term
    # and block_ids never collide within a term (the decode-cache key)
    for term, blocks in _group_by_term(rows).items():
        bids = [b.block_id for b in blocks]
        assert len(bids) == len(set(bids)), term


def test_salting_splits_hot_terms(spark, index):
    """Hot keyword terms (df > postings_per_group) must be packed by multiple
    salts — bounded task size at any scale (SURVEY §7.4.2)."""
    fan = (
        index.postings.groupBy("term")
        .agg(
            F.countDistinct(F.shiftright("block_id", builder.SALT_SHIFT)).alias("nsalts"),
            F.sum("doc_count").alias("df"),
        )
        .collect()
    )
    hot = [r for r in fan if r.df > 64]
    assert hot, "synthetic corpus should contain hot keyword terms"
    assert all(r.nsalts > 1 for r in hot)
    cold = [r for r in fan if r.df <= 64]
    assert all(r.nsalts == 1 for r in cold)


def test_manifest_metrics(spark, index):
    m = spark.read.parquet(index.paths.manifest).collect()
    assert {r.partition_id for r in m} == set(range(N_BUCKETS))
    assert all(r.status == "done" for r in m)
    nonempty = [r for r in m if r.postings > 0]
    assert nonempty
    for r in nonempty:
        assert r.docs > 0 and r.bytes > 0 and r.merge_fan_in >= 1
        assert r.started is not None and r.finished is not None
    total_postings = sum(r.postings for r in m)
    assert total_postings == builder.decode_postings(index.postings).count()


def test_term_stats_consistency(spark, corpus, index):
    ts = {r.term: (r.df, r.cf) for r in index.term_stats.collect()}
    direct = {
        r.term: (r.df, r.cf)
        for r in bm25.term_stats(
            bm25.term_freqs(bm25.doc_table(corpus, "pandas"))
        ).collect()
    }
    assert ts == direct


def test_checkpoint_resume(spark, corpus, tmp_path_factory):
    """Kill after 3 committed partitions; resume; index identical to an
    uninterrupted build (north_rule resumability)."""
    out_a = str(tmp_path_factory.mktemp("idx_resume"))
    out_b = str(tmp_path_factory.mktemp("idx_full"))

    with pytest.raises(RuntimeError, match="fault injection"):
        builder.build_index(
            spark, corpus, out_a, n_buckets=N_BUCKETS, postings_per_group=64,
            max_buckets_per_commit=1, fail_after_commits=3,
        )
    m = spark.read.parquet(builder.IndexPaths(out_a).manifest).collect()
    assert len({r.partition_id for r in m}) == 3  # 3 committed, rest pending

    idx_a = builder.build_index(
        spark, corpus, out_a, n_buckets=N_BUCKETS, postings_per_group=64
    )
    idx_b = builder.build_index(
        spark, corpus, out_b, n_buckets=N_BUCKETS, postings_per_group=64
    )

    key = ["term", "block_id"]
    a = {tuple(r[k] for k in key): (r.doc_count, bytes(r.doc_ids_delta_varbyte),
                                    bytes(r.tfs_varbyte), r.min_doc_id, r.max_doc_id)
         for r in idx_a.postings.collect()}
    b = {tuple(r[k] for k in key): (r.doc_count, bytes(r.doc_ids_delta_varbyte),
                                    bytes(r.tfs_varbyte), r.min_doc_id, r.max_doc_id)
         for r in idx_b.postings.collect()}
    assert a == b  # byte-identical blocks

    # resumed manifest: 3 buckets from the first run + the rest from resume
    m2 = spark.read.parquet(builder.IndexPaths(out_a).manifest).collect()
    assert {r.partition_id for r in m2} == set(range(N_BUCKETS))


def test_empty_corpus_raises_clearly(spark, tmp_path):
    import pytest as _pytest

    from gazetteer_search_spark.sources import synthetic_corpus

    with _pytest.raises(ValueError, match="empty"):
        builder.build_index(
            spark, synthetic_corpus(spark, 0), str(tmp_path / "idx_empty"),
            n_buckets=2,
        )


def test_huge_hash_doc_ids_salted_build(spark, tmp_path):
    """Hash-assigned doc_ids near 2^62 (the CLI's xxhash64 path) must salt
    without int64 overflow: hot-term build + query stays rank-identical to
    the no-index oracle."""
    from pyspark.sql import functions as F

    from gazetteer_search_spark.search.engine import (
        SearchEngine,
        SearchOptions,
        TermGroup,
        oracle_topk,
    )
    from gazetteer_search_spark.sources import synthetic_corpus

    corpus = (
        synthetic_corpus(spark, 600)
        .withColumn("doc_id", F.col("doc_id") + F.lit((1 << 61) + 12345))
        .cache()
    )
    idx = builder.build_index(
        spark, corpus, str(tmp_path / "idx_huge"), n_buckets=4,
        # force multi-salt on the hot keyword terms
        postings_per_group=64,
    )
    # salts must be non-negative and blocks contiguous (decode succeeds)
    assert idx.postings.filter(F.col("block_id") < 0).count() == 0
    eng = SearchEngine(spark, idx)
    g = [TermGroup(0, ("def",), True), TermGroup(1, ("postings",), True)]
    got = eng.search_rung(g, 2, SearchOptions(k=10)).collect()
    want = oracle_topk(corpus, g, 2, k=10).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]
    for a, b in zip(got, want):
        assert abs(a.score - b.score) < 1e-9


def test_build_from_catalog_table(spark, tmp_path):
    """Catalog-table ingestion (the Iceberg-table input shape): same build,
    same stats as the path-based source."""
    from gazetteer_search_spark.sources import synthetic_corpus

    spark.sql("DROP TABLE IF EXISTS gss_corpus_t")
    synthetic_corpus(spark, 120).write.mode("overwrite").saveAsTable("gss_corpus_t")
    try:
        idx = builder.build_index(
            spark, spark.read.table("gss_corpus_t"), str(tmp_path / "idx_tbl"),
            n_buckets=2,
        )
        assert idx.n_docs == 120
        assert idx.term_stats.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS gss_corpus_t")


def test_resume_over_pre08_out_dir_raises(spark, corpus, index, tmp_path):
    """A resumed build never mixes formats: an out_dir holding a pre-0.8
    index (meta without the FOR codec) is refused before anything is
    written."""
    import shutil

    legacy = str(tmp_path / "legacy")
    shutil.copytree(index.paths.root, legacy)
    meta = builder.read_index_meta(legacy)
    del meta["postings_codec"]
    builder._write_index_meta(legacy, meta)
    with pytest.raises(ValueError, match="pre-0.8 index"):
        builder.build_index(
            spark, corpus, legacy, n_buckets=N_BUCKETS, postings_per_group=64
        )
    assert builder.read_index_meta(legacy) == meta


def test_build_index_accepts_only_the_pandas_tokenizer(spark, corpus, tmp_path):
    """The query side analyzes with the code-aware kernel, so an index
    built with any other tokenizer could not be matched."""
    with pytest.raises(ValueError, match="tokenizer 'native'"):
        builder.build_index(
            spark, corpus, str(tmp_path / "nat"), tokenizer="native"
        )
