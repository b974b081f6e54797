"""Multi-generation (segment) index: incremental upserts, tombstone masking,
frozen-stats scoring, exact compaction, streaming ingest.

Reference semantics mirrored: ImportMode.update deletes docs by id per batch
and re-inserts them into the live index (imp/ImportMode.java;
imp/addr/AddressesImporter.java:131-156,248-253); Lucene absorbs that as
segments + tombstones and compacts on merge."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder, segments
from gazetteer_search_spark.search.engine import SearchEngine, SearchOptions, TermGroup
from gazetteer_search_spark.sources import synthetic_corpus

N = 1500


def _hid(df):
    return df.withColumn(
        "doc_id",
        F.xxhash64("repo", "path", "commit").bitwiseAND(F.lit((1 << 62) - 1)),
    )


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """Base index over hash-assigned doc ids (the CLI/segment id form) plus
    the raw corpus for deriving upsert batches."""
    root = str(tmp_path_factory.mktemp("seg_base"))
    corpus0 = synthetic_corpus(spark, N)
    idx = builder.build_index(
        spark, _hid(corpus0.drop("doc_id")), root, n_buckets=8,
        postings_per_group=1 << 16,
    )
    return root, corpus0, idx


def _v(corpus0, lo, hi, tag, extra=""):
    """Version `tag` of docs [lo, hi): new commit, optionally new content."""
    out = (
        corpus0.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .withColumn(
            "commit",
            F.sha1(F.concat(F.col("doc_id").cast("string"), F.lit(tag))),
        )
        .drop("doc_id")
    )
    if extra:
        out = out.withColumn("content", F.concat(F.col("content"), F.lit(" " + extra)))
    return out


def test_upsert_supersedes_and_new_docs_visible(spark, base, tmp_path_factory):
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_up"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)

    batch = _v(corpus0, 0, 80, "v2", extra="zzznewtoken")
    seg = segments.add_segment(spark, batch, root, n_buckets=4)
    man = segments.list_segments(root)
    assert len(man) == 1 and man[0]["n_docs"] == seg.n_docs == 80
    assert man[0]["n_tombstones"] == 80

    eng = segments.open_multi_search(root)  # Spark-free
    opts = SearchOptions(k=200, prefix=False, fuzzy=False)
    hits = eng.search_hits("zzznewtoken", opts)
    assert len(hits) == 80
    # every replaced (repo, path) appears exactly once index-wide
    allhits = eng.search_hits("merge postings", SearchOptions(k=2 * N, prefix=False, fuzzy=False))
    paths = [h.path for h in allhits]
    assert len(paths) == len(set(paths))


def test_sparse_segment_lazy_hydration(spark, base, tmp_path_factory):
    """ADVICE r3 high: a tiny segment materializes only a few doc_part
    partition dirs (partitionBy skips empty ones), so the doc-metadata
    lookup modulus must come from the persisted index_meta.json — inferring
    it from the directory listing points the pushdown at the wrong partition
    and SILENTLY DROPS hits on the lazy multi-generation serving path."""
    import shutil

    root0, corpus0, _ = base
    root = str(tmp_path_factory.mktemp("seg_sparse"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)

    # 10 hashed doc ids cover at most 10 of the 16 doc_part residues
    segments.add_segment(
        spark, _v(corpus0, 0, 10, "v7", extra="zzsparse"), root, n_buckets=4
    )
    seg_dir = segments.list_segments(root)[0]["path"]
    assert builder.read_index_meta(seg_dir)["n_doc_parts"] == 16

    eng = segments.open_multi_search(root)  # lazy_payloads=True default
    hits = eng.search_hits(
        "zzsparse", SearchOptions(k=50, prefix=False, fuzzy=False)
    )
    assert len(hits) == 10
    assert all(h.path is not None and h.repo is not None for h in hits)


def test_name_key_persisted_across_generations(spark, tmp_path_factory):
    """ADVICE r3 medium: a base built with a custom name key must get
    segments (and compactions) whose name_ordinal is keyed IDENTICALLY —
    otherwise distinct=True collapses by a different key per generation."""
    root = str(tmp_path_factory.mktemp("seg_nk"))
    corpus = _hid(synthetic_corpus(spark, 60).drop("doc_id"))
    builder.build_index(
        spark, corpus, root, n_buckets=4, name_key="repo"  # custom key
    )
    assert builder.read_index_meta(root)["name_key_sql"] == "repo"

    batch = (
        synthetic_corpus(spark, 60)
        .filter(F.col("doc_id") < 8)
        .withColumn("commit", F.lit("v2"))
        .drop("doc_id")
    )
    segments.add_segment(spark, batch, root, n_buckets=4)
    seg_dir = segments.list_segments(root)[0]["path"]
    assert builder.read_index_meta(seg_dir)["name_key_sql"] == "repo"
    # keyed on repo, segment docs sharing a repo form one ordinal chain
    seg_docs = spark.read.parquet(builder.IndexPaths(seg_dir).docs)
    per_repo_max = (
        seg_docs.groupBy("repo").agg(F.max("name_ordinal").alias("mx"),
                                     F.count("*").alias("n")).collect()
    )
    assert all(r.mx == r.n - 1 for r in per_repo_max)

    cdir = str(tmp_path_factory.mktemp("seg_nk_cmp"))
    segments.compact(spark, root, cdir)
    assert builder.read_index_meta(cdir)["name_key_sql"] == "repo"


def test_frozen_stats_score_invariance(spark, base, tmp_path_factory):
    """A doc re-imported with UNCHANGED token content scores identically to
    its base-generation self on every query (FrozenStats: segment idf /
    length-norm use the base universe)."""
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_inv"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    segments.add_segment(spark, _v(corpus0, 0, 50, "v2"), root, n_buckets=4)

    base_eng = SearchEngine(
        None, builder.load_index_local(root0), serving=True, lazy_payloads=True
    )
    multi = segments.open_multi_search(root)
    opts = SearchOptions(k=2 * N, prefix=False, fuzzy=False)
    for q in ["merge postings", "vector window", "spark sort"]:
        want = {h.path: round(h.score, 9) for h in base_eng.search_hits(q, opts)}
        got = {h.path: round(h.score, 9) for h in multi.search_hits(q, opts)}
        assert got == want, q


def test_multiple_generations_latest_wins(spark, base, tmp_path_factory):
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_multi"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    segments.add_segment(spark, _v(corpus0, 0, 60, "v2", "markertwo"), root, n_buckets=4)
    segments.add_segment(spark, _v(corpus0, 0, 30, "v3", "markerthree"), root, n_buckets=4)

    eng = segments.open_multi_search(root)
    opts = SearchOptions(k=200, prefix=False, fuzzy=False)
    # docs 0..29: only v3 lives; docs 30..59: v2 lives
    assert len(eng.search_hits("markerthree", opts)) == 30
    assert len(eng.search_hits("markertwo", opts)) == 30
    allhits = eng.search_hits("merge postings", SearchOptions(k=2 * N, prefix=False, fuzzy=False))
    assert len([h.path for h in allhits]) == len({h.path for h in allhits})


def test_tombstone_masking_is_rank_safe_under_pruning(spark, base, tmp_path_factory):
    """denied_ids in the kernel: pruned path with tombstones == decode-all
    path with tombstones, and pruning still skips blocks."""
    from gazetteer_search_spark.search.fastpath import LocalExecutor

    root0, corpus0, idx = base
    ex_full = LocalExecutor(builder.load_index_local(root0))
    docs_ids = ex_full._load_docs()["ids"]
    denied = np.sort(np.asarray(docs_ids[:: 7], dtype=np.int64))  # kill 1/7th

    ex = LocalExecutor(builder.load_index_local(root0), denied_ids=denied)
    g = [
        TermGroup(group_id=0, terms=("merge",), required=True, weight=1.0),
        TermGroup(group_id=1, terms=("postings",), required=True, weight=1.0),
    ]
    opts = SearchOptions(k=10)
    got = ex.search_rung(g, 1, opts)
    assert got and all(h.doc_id not in set(denied.tolist()) for h in got)
    # decode-all formulation with the same tombstones agrees exactly
    want = ex.combine_parts(ex.group_parts(g, opts), g, 1, opts)
    assert got == want


def test_compaction_exact_vs_fresh_build(spark, base, tmp_path_factory):
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_cmp"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    segments.add_segment(spark, _v(corpus0, 0, 70, "v3", "zzznewtoken"), root, n_buckets=4)

    cdir = str(tmp_path_factory.mktemp("seg_cmp_out"))
    cidx = segments.compact(spark, root, cdir)

    v3 = (
        corpus0.filter(F.col("doc_id") < 70)
        .withColumn("commit", F.sha1(F.concat(F.col("doc_id").cast("string"), F.lit("v3"))))
        .withColumn("content", F.concat(F.col("content"), F.lit(" zzznewtoken")))
    )
    live = _hid(
        corpus0.filter(F.col("doc_id") >= 70).unionByName(v3).drop("doc_id")
    )
    fdir = str(tmp_path_factory.mktemp("seg_cmp_fresh"))
    fidx = builder.build_index(
        spark, live, fdir, n_buckets=8, postings_per_group=1 << 16
    )
    assert (cidx.n_docs, round(cidx.avg_doc_len, 9)) == (
        fidx.n_docs, round(fidx.avg_doc_len, 9),
    )
    ce = SearchEngine(None, builder.load_index_local(cdir), serving=True)
    fe = SearchEngine(None, builder.load_index_local(fdir), serving=True)
    opts = SearchOptions(k=25, prefix=False, fuzzy=False)
    for q in ["zzznewtoken", "merge postings", "vector window in"]:
        cw = [(h.doc_id, round(h.score, 9)) for h in ce.search_hits(q, opts)]
        fw = [(h.doc_id, round(h.score, 9)) for h in fe.search_hits(q, opts)]
        assert cw == fw, q


def test_streaming_ingest_segments(spark, base, tmp_path_factory):
    """foreachBatch stream ingest: each micro-batch becomes a generation;
    queries see the latest version after the stream drains."""
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_stream"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    src = str(tmp_path_factory.mktemp("seg_stream_src"))
    ckpt = str(tmp_path_factory.mktemp("seg_stream_ckpt"))

    batch = _v(corpus0, 0, 40, "vs", "streamedmarker")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = segments.stream_ingest(spark, stream, root, ckpt, n_buckets=4)
    q.awaitTermination(300)

    assert len(segments.list_segments(root)) >= 1
    eng = segments.open_multi_search(root)
    hits = eng.search_hits("streamedmarker", SearchOptions(k=100, prefix=False, fuzzy=False))
    assert len(hits) == 40


def test_segment_inherits_base_fields(spark, tmp_path_factory):
    """add_segment defaults extra_fields to the base's field mapping (from
    field_stats), with the FIELD BM25 universe frozen too: a doc re-imported
    unchanged keeps its cross-field (name^5) score."""
    root = str(tmp_path_factory.mktemp("seg_fields"))
    corpus0 = synthetic_corpus(spark, 600)
    builder.build_index(
        spark, _hid(corpus0.drop("doc_id")), root, n_buckets=8,
        postings_per_group=1 << 16, extra_fields={"name": "path"},
    )
    segments.add_segment(spark, _v(corpus0, 0, 40, "v2"), root, n_buckets=4)
    seg_dir = segments.list_segments(root)[0]["path"]
    # segment carries field postings (name: namespace) without being asked
    import pyarrow.dataset as ds_mod

    terms = ds_mod.dataset(
        segments.IndexPaths(seg_dir).term_stats, partitioning="hive"
    ).to_table(columns=["term"])["term"].to_pylist()
    assert any(t.startswith("name:") for t in terms)

    base_eng = SearchEngine(
        None, builder.load_index_local(root), serving=True, lazy_payloads=True
    )
    multi = segments.open_multi_search(root)
    g = [
        TermGroup(
            group_id=0, terms=("name:mod7", "mod7"), required=True,
            weight=1.0, term_weights=(5.0, 1.0),
        )
    ]
    opts = SearchOptions(k=1200, prefix=False, fuzzy=False)
    want = {h.path: round(h.score, 9) for h in base_eng._local.search_rung(g, 1, opts)}
    got = {h.path: round(h.score, 9) for h in multi._local.search_rung(g, 1, opts)}
    assert got == want


def test_promote_swaps_compacted_in_place(spark, base, tmp_path_factory):
    """ImportMode.swap analog: compact + promote leaves a single-generation
    index at the original path with identical query results; old tree
    preserved as backup."""
    root0, corpus0, _ = base
    import os
    import shutil

    work = str(tmp_path_factory.mktemp("seg_swap"))
    root = os.path.join(work, "idx")
    shutil.copytree(root0, root)
    segments.add_segment(spark, _v(corpus0, 0, 30, "v2", "swapmarker"), root, n_buckets=4)

    cdir = os.path.join(work, "compacted")
    segments.compact(spark, root, cdir)
    ce = SearchEngine(None, builder.load_index_local(cdir), serving=True)
    opts = SearchOptions(k=50, prefix=False, fuzzy=False)
    want = [(h.doc_id, round(h.score, 9)) for h in ce.search_hits("swapmarker", opts)]

    backup = segments.promote(root, cdir)
    assert os.path.isdir(backup) and not os.path.exists(cdir)
    assert segments.list_segments(root) == []  # single generation again
    eng = SearchEngine(None, builder.load_index_local(root), serving=True)
    got = [(h.doc_id, round(h.score, 9)) for h in eng.search_hits("swapmarker", opts)]
    assert got == want and len(got) == 30


def test_streaming_ingest_two_batches(spark, base, tmp_path_factory):
    """Two micro-batches -> two generations; the second supersedes the
    first's overlapping keys (latest wins through the stream)."""
    root0, corpus0, _ = base
    import os
    import shutil

    root = str(tmp_path_factory.mktemp("seg_stream2"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    src = str(tmp_path_factory.mktemp("seg_stream2_src"))
    ckpt = str(tmp_path_factory.mktemp("seg_stream2_ckpt"))

    b1 = _v(corpus0, 0, 50, "s1", "streamgenone")
    b1.write.mode("overwrite").parquet(os.path.join(src, "b1"))
    b2 = _v(corpus0, 25, 50, "s2", "streamgentwo")
    b2.write.mode("overwrite").parquet(os.path.join(src, "b2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = segments.stream_ingest(spark, stream, root, ckpt, n_buckets=4)
    q.awaitTermination(600)

    gens = segments.list_segments(root)
    assert len(gens) >= 2, gens
    eng = segments.open_multi_search(root)
    opts = SearchOptions(k=200, prefix=False, fuzzy=False)
    two = eng.search_hits("streamgentwo", opts)
    one = eng.search_hits("streamgenone", opts)
    assert len(two) == 25
    # gen-one versions of docs 25..49 are superseded by gen two
    assert len(one) == 25 and len({h.path for h in one + two}) == 50


def test_live_view_batch_analytics(spark, base, tmp_path_factory):
    """live_view: Spark-side batch analytics over a multi-generation index
    without compaction — each live doc exactly once, superseded postings
    absent, new-generation terms present."""
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_live"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    segments.add_segment(spark, _v(corpus0, 0, 40, "v2", "liveviewmarker"), root, n_buckets=4)

    docs, postings = segments.live_view(spark, root)
    assert docs.count() == N
    assert docs.select("doc_id").distinct().count() == N
    # superseded versions carry no postings; the new term does
    marker_docs = (
        postings.filter(F.col("term") == "liveviewmarker")
        .select("doc_id").distinct().count()
    )
    assert marker_docs == 40
    # per-term df over the live view matches a per-doc distinct count
    df_merge = (
        postings.filter(F.col("term") == "merge")
        .select("doc_id").distinct().count()
    )
    live_paths = {r.path for r in docs.select("path").collect()}
    assert len(live_paths) == N  # one live doc per (repo,path)
    assert df_merge > 0


def test_near_sort_across_generations(spark, base, tmp_path_factory):
    """near_path proximity merge over generations: per-sub hits interleave
    under the (score, prox, doc_id) key, identical to the same-corpus
    single-generation ordering contract (prox descending within ties)."""
    import numpy as np

    from gazetteer_search_spark.search.fastpath import _path_proximity_np

    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_near"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    segments.add_segment(spark, _v(corpus0, 0, 40, "v2"), root, n_buckets=4)

    multi = segments.open_multi_search(root)
    near = multi._local.subs[0]._load_docs()["path"][3]
    opts = SearchOptions(k=25, prefix=False, fuzzy=False, near_path=str(near))
    hits = multi.search_hits("merge postings", opts)
    assert hits
    prox = _path_proximity_np(
        np.array([h.path for h in hits], dtype=object), str(near)
    )
    scores = [round(h.score, 9) for h in hits]
    for i in range(1, len(hits)):
        if scores[i - 1] == scores[i]:
            assert prox[i - 1] >= prox[i], (i, hits[i - 1], hits[i])


def test_sharded_generation_inside_multi_tier(spark, base, tmp_path_factory):
    """Tier composition: generation 0 served by two term-bucket SHARDS
    (with tombstone masks), cross-generation merge on top — identical to
    the plain MultiExecutor answer. This is the full production shape:
    shards within a generation, generations within the tier."""
    from gazetteer_search_spark.search.fastpath import (
        LocalExecutor,
        sharded_search_rung,
    )

    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_shard"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    segments.add_segment(spark, _v(corpus0, 0, 50, "v2", "shardmarker"), root, n_buckets=4)

    multi = segments.MultiExecutor(root)
    gen0, gen1 = multi.subs
    n_b = gen0.index.n_buckets
    shards = [
        LocalExecutor(
            gen0.index, buckets=list(range(n_b // 2)),
            denied_ids=gen0.denied_ids,
        ),
        LocalExecutor(
            gen0.index, buckets=list(range(n_b // 2, n_b)),
            denied_ids=gen0.denied_ids,
        ),
    ]
    g = [
        TermGroup(group_id=0, terms=("merge",), required=True, weight=1.0),
        TermGroup(group_id=1, terms=("postings",), required=True, weight=1.0),
    ]
    for msm in (1, 2):
        opts = SearchOptions(k=15)
        want = multi.search_rung(g, msm, opts)
        hits0 = sharded_search_rung(shards, g, msm, opts)
        hits1 = gen1.search_rung(g, msm, opts)
        got = segments.MultiExecutor._merge([hits0, hits1], opts)
        assert got == want, msm


def test_multigen_suggest_df_semantics(spark, tmp_path_factory):
    """MultiExecutor.suggest sums per-generation df (Lucene
    df-with-deletes: superseded docs keep counting until a merge);
    compaction makes the counts exact."""
    root = str(tmp_path_factory.mktemp("seg_suggest"))
    corpus0 = synthetic_corpus(spark, 200)
    builder.build_index(spark, _hid(corpus0.drop("doc_id")), root, n_buckets=4)
    segments.add_segment(
        spark, _v(corpus0, 0, 40, "v2", "zsuggestmarker"), root, n_buckets=4
    )
    eng = segments.open_multi_search(root)
    got = dict(eng.suggest("zsuggest", 5))
    assert got == {"zsuggestmarker": 40}

    # a term from the SUPERSEDED docs' content still counts its dead copies:
    # multi-gen df >= exact live df, equality after compaction
    pfx = "merge"
    multi = dict(eng.suggest(pfx, 10))
    cdir = str(tmp_path_factory.mktemp("seg_suggest_c"))
    cidx = segments.compact(spark, root, cdir, n_buckets=4)
    ce = SearchEngine(None, builder.load_index_local(cdir), serving=True)
    exact = dict(ce.suggest(pfx, 10))
    assert exact and set(exact) <= set(multi)
    for t, df in exact.items():
        assert multi[t] >= df


def test_multigen_rescore_and_explain(spark, base, tmp_path_factory):
    """Rescore + explain over a MULTI-GENERATION engine: the secondary
    point-lookup and the explanation rows span generations (every live doc
    in exactly one), the rescore score invariant reconstructs, and a
    superseded doc's old copy never contributes."""
    import shutil

    from gazetteer_search_spark.search.engine import TermGroup

    root0, corpus0, _ = base
    root = str(tmp_path_factory.mktemp("seg_rescore"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    segments.add_segment(
        spark, _v(corpus0, 0, 40, "v2", extra="rescoremark"), root, n_buckets=4
    )
    eng = segments.open_multi_search(root)  # Spark-free multi-gen
    g = [TermGroup(group_id=0, terms=("merge",), required=True)]
    sec = [TermGroup(group_id=0, terms=("rescoremark",), required=True)]
    opts = SearchOptions(k=20, prefix=False, fuzzy=False)
    hits = eng.rescore_rows(g, 1, sec, window_size=60, rescore_weight=5.0,
                            options=opts)
    assert hits
    prim = {h.doc_id: h.score
            for h in eng._local.search_rung(g, 1, SearchOptions(k=60, prefix=False))}
    smap = eng._local.group_max_scores(list(prim), sec)
    assert smap  # segment-resident docs matched the secondary
    for h in hits:
        want = prim[h.doc_id] + 5.0 * smap.get(h.doc_id, 0.0)
        assert h.score == pytest.approx(want, abs=1e-9)
    # explain across generations: every primary-page hit's score
    # reconstructs as sum over clauses of max(weighted)
    page = eng._local.search_rung(g, 1, opts)[:5]
    exp = eng._local.explain_hits([h.doc_id for h in page], g)
    per: dict[tuple, float] = {}
    for d, _t, gid, _c, w in exp:
        per[(d, gid)] = max(per.get((d, gid), float("-inf")), w)
    for h in page:
        got = sum(v for (d, _), v in per.items() if d == h.doc_id)
        assert got == pytest.approx(round(h.score, 4), abs=2e-3)


def test_delete_by_query_tombstone_only_segment(spark, base, tmp_path_factory):
    """ES _delete_by_query analog: matched LIVE docs get a TOMBSTONE-ONLY
    segment (n_docs=0) — no index rewrite, readers mask at decode, a later
    upsert generation resurrects the key, compaction purges physically."""
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_dbq"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)

    n_py = N // 5  # LANGS round-robin over doc_id

    # pre-delete baseline: not every synthetic doc contains the query terms,
    # so expectations derive from the matched set, not from N
    opts = SearchOptions(k=2 * N, prefix=False, fuzzy=False)
    hits0 = segments.open_multi_search(root).search_hits("merge postings", opts)
    n_match_py = sum(1 for h in hits0 if h.lang == "python")
    n_match_other = len(hits0) - n_match_py
    assert n_match_py and n_match_other

    res = segments.delete_by_query(spark, root, where="lang = 'python'")
    assert res["n_tombstones"] == n_py
    man = segments.list_segments(root)
    assert len(man) == 1 and man[0]["n_docs"] == 0
    assert man[0]["n_tombstones"] == n_py

    # serving tier: no python doc survives, other langs untouched
    eng = segments.open_multi_search(root)
    hits = eng.search_hits("merge postings", opts)
    assert hits and not any(h.lang == "python" for h in hits)
    assert len(hits) == n_match_other
    # batch view sees ALL live docs, matched or not
    assert segments.live_docs(spark, root).count() == N - n_py

    # idempotence: nothing left to match -> no new segment (ES deleted=0)
    res2 = segments.delete_by_query(spark, root, where="lang = 'python'")
    assert res2 == {"seg_id": None, "n_tombstones": 0}
    assert len(segments.list_segments(root)) == 1

    # a LATER upsert resurrects deleted keys (tombstones only mask OLDER
    # generations)
    batch = _v(corpus0.filter(F.col("lang") == "python"), 0, 10, "v2")
    n_back = batch.count()
    resurrected_paths = {r.path for r in batch.select("path").collect()}
    assert n_back == 2  # doc_ids 0, 5 are python under the round-robin
    expect_back = sum(1 for h in hits0 if h.path in resurrected_paths)
    segments.add_segment(spark, batch, root, n_buckets=4)
    eng2 = segments.open_multi_search(root)
    back = eng2.search_hits("merge postings", opts)
    assert sum(1 for h in back if h.lang == "python") == expect_back
    assert len(back) == n_match_other + expect_back

    # compaction physically purges: compacted count == live count
    out = str(tmp_path_factory.mktemp("seg_dbq_c"))
    shutil.rmtree(out)
    cidx = segments.compact(spark, root, out)
    assert cidx.n_docs == N - n_py + n_back


def test_delete_by_query_docids_spark_free(spark, base, tmp_path_factory):
    """Explicit-id micro-delete: pure pyarrow (no Spark job), the localbuild
    twin for deletes; MultiExecutor masks the ids immediately."""
    root0, _, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_dbq_ids"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)

    eng = segments.open_multi_search(root)
    all_opts = SearchOptions(k=2 * N, prefix=False, fuzzy=False)
    n_match0 = len(eng.search_hits("merge postings", all_opts))
    opts = SearchOptions(k=5, prefix=False, fuzzy=False)
    victims = [h.doc_id for h in eng.search_hits("merge postings", opts)]
    res = segments.delete_by_query(None, root, doc_ids=victims)
    assert res["n_tombstones"] == 5 and res["seg_id"] == 1

    eng2 = segments.open_multi_search(root)
    survivors = {h.doc_id for h in eng2.search_hits("merge postings",
                 all_opts)}
    assert not (set(victims) & survivors)
    assert len(survivors) == n_match0 - 5
    with pytest.raises(ValueError, match="exactly one"):
        segments.delete_by_query(spark, root)
    with pytest.raises(ValueError, match="SparkSession"):
        segments.delete_by_query(None, root, where="lang = 'go'")


def test_delete_by_keys_upsert_identity(spark, base, tmp_path_factory):
    """ES _bulk delete-action analog: tombstone by (repo, path) — the same
    key add_segment supersedes on. Unknown keys match nothing; an all-
    unknown batch creates NO segment (ES deleted=0); key arity errors."""
    root0, _, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_dbk"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)

    victims = segments.live_docs(spark, root).select(
        "repo", "path", "doc_id"
    ).orderBy("doc_id").limit(3).collect()
    keys = [(r.repo, r.path) for r in victims]
    res = segments.delete_by_keys(
        spark, root, keys + [("org/nowhere", "src/none.py")]
    )
    assert res["n_tombstones"] == 3
    live = {
        (r.repo, r.path)
        for r in segments.live_docs(spark, root).select("repo", "path").collect()
    }
    assert not (set(keys) & live)
    assert len(live) == N - 3

    # nothing-matched and empty batches leave the index untouched
    n_gens = len(segments.list_segments(root))
    assert segments.delete_by_keys(spark, root, [("org/x", "no.py")]) == {
        "seg_id": None, "n_tombstones": 0,
    }
    assert segments.delete_by_keys(spark, root, []) == {
        "seg_id": None, "n_tombstones": 0,
    }
    assert len(segments.list_segments(root)) == n_gens

    with pytest.raises(ValueError, match="exactly 2"):
        segments.delete_by_keys(spark, root, [("only-repo",)])


def test_delete_by_keys_resolution_matches_live_semijoin(
    spark, base, tmp_path_factory, monkeypatch
):
    """delete_by_keys' Spark-free resolution (pyarrow key-pruned docs scan,
    newer tombstones masked) equals the live_docs + left-semi-join answer
    on a multi-generation index, and so does the above-gate Spark branch
    (forced at small scale): an already-superseded key resolves to its
    live segment version only, an already-deleted and an unknown key to
    nothing (deleted=0, no segment)."""
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_dbk_res"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    sup, gone, plain = [
        (r.repo, r.path)
        for r in segments.live_docs(spark, root)
        .orderBy("doc_id").limit(3).collect()
    ]
    # generation 1 supersedes `sup`; generation 2 deletes `gone`
    segments.add_segment(
        spark,
        corpus0.filter((F.col("repo") == sup[0]) & (F.col("path") == sup[1]))
        .drop("doc_id").withColumn("commit", F.lit("v2")),
        root, n_buckets=4,
    )
    assert segments.delete_by_keys(spark, root, [gone])["n_tombstones"] == 1

    unknown = ("org/nowhere", "src/none.py")
    keys = [sup, gone, plain, unknown]
    want = sorted(
        r.doc_id
        for r in segments.live_docs(spark, root)
        .join(spark.createDataFrame(keys, "repo string, path string"),
              ["repo", "path"], "left_semi")
        .select("doc_id").collect()
    )
    assert len(want) == 2  # sup's segment version + plain

    got = {}
    for branch in ("pyarrow", "spark"):
        if branch == "spark":
            monkeypatch.setattr(segments, "LOCAL_MAX_BASE_DOCS", 0)
        r = str(tmp_path_factory.mktemp(f"seg_dbk_{branch}"))
        shutil.rmtree(r)
        shutil.copytree(root, r)
        res = segments.delete_by_keys(spark, r, keys)
        seg = segments.list_segments(r)[-1]
        assert res == {"seg_id": seg["seg_id"], "n_tombstones": 2}
        got[branch] = sorted(segments._tombstones_local(seg["path"]).tolist())
        n_gens = len(segments.list_segments(r))
        assert segments.delete_by_keys(spark, r, [gone, unknown]) == {
            "seg_id": None, "n_tombstones": 0,
        }
        assert len(segments.list_segments(r)) == n_gens
    assert got["pyarrow"] == got["spark"] == want


def test_update_by_query_with_source(spark, base, tmp_path_factory):
    """ES _update_by_query analog (source-corpus form): matched live docs
    re-index as a new generation with the SQL 'script' applied; their old
    versions tombstone via the upsert key; unmatched docs untouched."""
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_ubq"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)

    opts = SearchOptions(k=2 * N, prefix=False, fuzzy=False)
    n_match0 = len(
        segments.open_multi_search(root).search_hits("merge postings", opts)
    )

    idx, n = segments.update_by_query(
        spark, root, "lang = 'go'",
        {"content": "concat(content, ' zzzubqmarker')"},
        source=corpus0.drop("doc_id"), n_buckets=4,
    )
    assert n == N // 5 and idx.n_docs == n

    eng = segments.open_multi_search(root)
    marked = eng.search_hits("zzzubqmarker", opts)
    assert len(marked) == n and all(h.lang == "go" for h in marked)
    # old versions superseded: every (repo, path) appears exactly once and
    # the matched set is unchanged (content only gained a marker token)
    allh = eng.search_hits("merge postings", opts)
    paths = [h.path for h in allh]
    assert len(paths) == len(set(paths)) == n_match0

    # zero-match update creates no segment
    idx2, n2 = segments.update_by_query(
        spark, root, "lang = 'zz'", {"content": "content"},
        source=corpus0.drop("doc_id"),
    )
    assert idx2 is None and n2 == 0
    assert len(segments.list_segments(root)) == 1


def test_update_by_query_stored_content(spark, tmp_path_factory):
    """store_content=True indexes update from their own docs store — no
    source corpus needed (the ES shape: scroll hits carry _source)."""
    root = str(tmp_path_factory.mktemp("seg_ubq_sc"))
    corpus = synthetic_corpus(spark, 200)
    builder.build_index(
        spark, _hid(corpus.drop("doc_id")), root, n_buckets=4,
        postings_per_group=1 << 16, store_content=True,
    )
    idx, n = segments.update_by_query(
        spark, root, "lang = 'java'",
        {"content": "concat(content, ' zzzscmarker')"}, n_buckets=4,
    )
    assert n == 40 and idx.n_docs == 40
    eng = segments.open_multi_search(root)
    hits = eng.search_hits(
        "zzzscmarker", SearchOptions(k=500, prefix=False, fuzzy=False)
    )
    assert len(hits) == 40

    # content-less index without a source corpus is an explicit error
    root2 = str(tmp_path_factory.mktemp("seg_ubq_nosc"))
    builder.build_index(
        spark, _hid(corpus.drop("doc_id")), root2, n_buckets=4,
        postings_per_group=1 << 16,
    )
    with pytest.raises(ValueError, match="store_content"):
        segments.update_by_query(
            spark, root2, "lang = 'java'", {"content": "content"}
        )


def test_multigen_pattern_queries_work(spark, base, tmp_path_factory):
    """Wildcard/regexp queries on a multi-generation engine (regression:
    MultiExecutor had no expand_regexp — every pattern query crashed with
    AttributeError after the first add_segment); expansions union across
    generations (a segment-only token expands too)."""
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_rx"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    batch = _v(corpus0, 0, 40, "v2", extra="zzzregexonly")
    segments.add_segment(spark, batch, root, n_buckets=4)

    eng = segments.open_multi_search(root)
    opts = SearchOptions(k=100, prefix=False, fuzzy=False)
    # wildcard over a base-resident token family
    hits = eng.search_hits("merge*", opts)
    assert hits
    # regexp matching a SEGMENT-only token: the union expansion finds it
    hits = eng.search_hits("/zzzregex.*/", opts)
    assert len(hits) == 40
    assert set(eng.expand_regexp("zzzregex.*")) == {"zzzregexonly"}


def test_multigen_expansions_rank_by_summed_df(
    spark, base, tmp_path_factory, monkeypatch
):
    """Multi-generation prefix / fuzzy / regexp expansions are the
    (df desc, term asc) cut over the generations' SUMMED term_stats — what
    compaction would serve (regression: each generation's capped list was
    concatenated base first, so once the base alone filled the cap a
    segment-only term that outranks every base term by df was dropped)."""
    import re
    import shutil

    from gazetteer_search_spark.search import termdict
    from gazetteer_search_spark.search.patterns import anchored_ci

    root0, corpus0, _ = base
    root = str(tmp_path_factory.mktemp("seg_dfrank"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    # 'sym12q' (df 40, segment only) shares prefix and one-edit neighborhood
    # with dozens of df-1/df-2 base identifiers (sym12, sym120, sym1, ...)
    segments.add_segment(spark, _v(corpus0, 0, 40, "v2", "sym12q"), root, n_buckets=4)
    for cap in ("PREFIX", "FUZZY", "REGEX"):
        monkeypatch.setattr(termdict, f"MAX_{cap}_EXPANSIONS", 3)

    gens = [root] + [
        s["path"] for s in segments.list_segments(root) if s["n_docs"] > 0
    ]
    assert len(gens) == 2
    ts = None
    for g in gens:
        d = spark.read.parquet(builder.IndexPaths(g).term_stats).select("term", "df")
        ts = d if ts is None else ts.unionByName(d)
    summed = {
        r.term: int(r.df)
        for r in ts.groupBy("term").agg(F.sum("df").alias("df")).collect()
        if ":" not in r.term
    }

    def brute(keep):
        return sorted(
            (t for t in summed if keep(t)), key=lambda t: (-summed[t], t)
        )[:3]

    eng = segments.open_multi_search(root)
    want = brute(lambda t: t.startswith("sym12"))
    assert want[0] == "sym12q"
    assert eng.expand_prefix("sym12") == want
    for edits in (1, 2):
        want = brute(
            lambda t: termdict.damerau_levenshtein(t, "sym12", cap=edits) <= edits
        )
        assert "sym12q" in want  # 2 edits also reach the df-1540 'sym'
        assert eng.expand_fuzzy("sym12", edits) == want
    rx = re.compile(anchored_ci("sym1.*q?"))
    want = brute(lambda t: rx.match(t) is not None)
    assert want[0] == "sym12q"
    assert eng.expand_regexp("sym1.*q?") == want


def test_multigen_search_phrase_rows_sees_segment_hits(spark, tmp_path_factory):
    """search_phrase_rows on a multi-generation engine verifies EVERY
    generation's positions sidecar (regression: base-only verification
    silently dropped segment-resident phrase matches)."""
    root = str(tmp_path_factory.mktemp("seg_ph"))
    corpus = synthetic_corpus(spark, 60)
    builder.build_index(
        spark, _hid(corpus.drop("doc_id")), root, n_buckets=4,
        positions=True,
    )
    batch = (
        corpus.filter(F.col("doc_id") < 10)
        .withColumn(
            "commit",
            F.sha1(F.concat(F.col("doc_id").cast("string"), F.lit("v2"))),
        )
        .withColumn(
            "content",
            F.concat(F.lit("uniqueph pairword "), F.col("content")),
        )
        .drop("doc_id")
    )
    segments.add_segment(spark, batch, root, n_buckets=4)
    eng = segments.open_multi_search(root)
    rows = eng.search_phrase_rows(
        ["uniqueph", "pairword"],
        SearchOptions(k=50, prefix=False, fuzzy=False),
    )
    assert len(rows) == 10  # all segment-resident, in order
    # reversed order: no phrase match anywhere
    assert eng.search_phrase_rows(
        ["pairword", "uniqueph"],
        SearchOptions(k=50, prefix=False, fuzzy=False),
    ) == []


def test_fetch_docs_across_generations(spark, base, tmp_path_factory):
    """ES _doc/_mget analog (segments.fetch_docs): a segment-resident
    upsert is fetchable, its superseded base version reports missing
    (tombstoned), an untouched base doc stays live, and a bogus id is
    absent — all via partition-pruned point reads, no Spark."""
    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_fetch"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    segments.add_segment(
        spark, _v(corpus0, 0, 40, "v2", extra="fetchmarker"), root,
        n_buckets=4,
    )

    eng = segments.open_multi_search(root)  # Spark-free
    hit = eng.search_hits(
        "fetchmarker", SearchOptions(k=1, prefix=False, fuzzy=False)
    )[0]
    # the new version is live with its stored fields
    got = segments.fetch_docs(root, [hit.doc_id])
    assert got[hit.doc_id]["path"] == hit.path
    assert got[hit.doc_id]["repo"] == hit.repo
    assert "doc_part" not in got[hit.doc_id]
    # the superseded base id for the same (repo, path) is tombstoned
    old_id = int(
        _hid(corpus0.drop("doc_id"))
        .filter(F.col("path") == hit.path)
        .head()["doc_id"]
    )
    assert old_id != hit.doc_id
    assert segments.fetch_docs(root, [old_id]) == {}
    # an untouched base doc is still live; a bogus id is absent
    untouched = int(
        _hid(corpus0.filter(F.col("doc_id") >= 40).drop("doc_id"))
        .head()["doc_id"]
    )
    got2 = segments.fetch_docs(root, [untouched, 12345])
    assert untouched in got2 and 12345 not in got2
    # per-index state cache invalidation: fetch_docs has now cached this
    # index's (tombstones, generations); a SECOND segment must invalidate
    # via the manifest signature, or its docs would be invisible forever
    segments.add_segment(
        spark, _v(corpus0, 0, 5, "v3", extra="fetchmarker3"), root,
        n_buckets=4,
    )
    eng2 = segments.open_multi_search(root)
    hit3 = eng2.search_hits(
        "fetchmarker3", SearchOptions(k=1, prefix=False, fuzzy=False)
    )[0]
    assert segments.fetch_docs(root, [hit3.doc_id])[hit3.doc_id][
        "path"
    ] == hit3.path


def test_cli_doc_command(spark, base, tmp_path_factory, capsys):
    """`cli doc` (GET _doc/_mget CLI form): one JSON line per requested id
    in request order with found flags, Spark-free, exit 1 when any id is
    missing — driven over a multi-generation index."""
    import json as _json

    import pytest as _pytest

    from gazetteer_search_spark.cli import main

    root0, corpus0, _ = base
    import shutil

    root = str(tmp_path_factory.mktemp("seg_clidoc"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)
    segments.add_segment(
        spark, _v(corpus0, 0, 20, "v2", extra="clidocmarker"), root,
        n_buckets=4,
    )
    eng = segments.open_multi_search(root)
    hit = eng.search_hits(
        "clidocmarker", SearchOptions(k=1, prefix=False, fuzzy=False)
    )[0]
    old_id = int(
        _hid(corpus0.drop("doc_id"))
        .filter(F.col("path") == hit.path)
        .head()["doc_id"]
    )
    with _pytest.raises(SystemExit) as exc:
        main(["doc", "--index", root, "--id", str(hit.doc_id), "--id",
              str(old_id)])
    assert exc.value.code == 1  # the superseded id is missing
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    assert lines[0]["found"] is True and lines[0]["path"] == hit.path
    assert lines[1] == {"doc_id": old_id, "found": False}


def test_cli_doc_bad_id_exits_2(base, capsys):
    """Bad-usage exit code: a non-integer --id reports a clean error with
    exit 2 (argparse convention), distinct from exit 1 = id not found."""
    import pytest as _pytest

    from gazetteer_search_spark.cli import main

    root0, _, _ = base
    with _pytest.raises(SystemExit) as exc:
        main(["doc", "--index", root0, "--id", "abc"])
    assert exc.value.code == 2


def test_fetch_docs_agrees_with_live_docs_truth(spark, base, tmp_path_factory):
    """Randomized upsert sequence (seeded): fetch_docs' found-set and
    stored fields must agree EXACTLY with live_docs — the established
    batch-analytics truth (per-generation anti-join against the union of
    newer tombstones) — for every id that ever existed in any generation."""
    import random
    import shutil

    root0, corpus0, _ = base
    root = str(tmp_path_factory.mktemp("seg_fdprop"))
    shutil.rmtree(root)
    shutil.copytree(root0, root)

    rng = random.Random(20260819)
    for tag in ("p1", "p2", "p3"):
        lo = rng.randrange(0, N - 30)
        segments.add_segment(
            spark,
            _v(corpus0, lo, lo + rng.randrange(5, 30), tag,
               extra=f"prop{tag}"),
            root, n_buckets=4,
        )

    live = {
        int(r["doc_id"]): (r["repo"], r["path"], r["commit"])
        for r in segments.live_docs(spark, root)
        .select("doc_id", "repo", "path", "commit").collect()
    }
    # every id that ever existed: union of all generations' docs tables
    import pyarrow.dataset as ds_mod

    all_ids = set()
    for _gid, gdir, _np in segments._fetch_state(root)[1]:
        t = ds_mod.dataset(
            builder.IndexPaths(gdir).docs, partitioning="hive"
        ).to_table(columns=["doc_id"])
        all_ids.update(int(x) for x in t["doc_id"].to_pylist())

    got = segments.fetch_docs(root, sorted(all_ids), include_content=False)
    assert set(got) == set(live)
    for did, row in got.items():
        assert (row["repo"], row["path"], row["commit"]) == live[did], did
