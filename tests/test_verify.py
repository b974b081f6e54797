"""Index integrity verification (Lucene CheckIndex analog) — index/verify.py.

Each corruption test tampers with REAL on-disk bytes the way an actual
fault would (bit rot in a payload, a stale lookup table, an orphan
tombstone) and asserts the verifier names the failed invariant; the
clean-index tests pin zero false positives across every index flavor
(clustered, positional, multi-generation, vectorized).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gazetteer_search_spark.index import builder, segments
from gazetteer_search_spark.index.verify import verify_index
from gazetteer_search_spark.sources import synthetic_corpus


def _corpus(spark, n=400):
    return synthetic_corpus(spark, n).drop("doc_id").withColumn(
        "doc_id",
        F.xxhash64("repo", "path", "commit").bitwiseAND(F.lit((1 << 62) - 1)),
    )


@pytest.fixture(scope="module")
def clean_idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("verify") / "idx")
    builder.build_index(
        spark, _corpus(spark), root, n_buckets=4, store_content=True,
        cluster_by=("repo", "path"), positions=True,
    )
    return root


def _one_postings_file(root: str) -> str:
    files = sorted(
        glob.glob(os.path.join(root, "postings", "term_bucket=*", "*.parquet"))
    )
    assert files
    return files[0]


def _rewrite(path: str, table: pa.Table) -> None:
    """Tamper a parquet file in place, dropping Hadoop's local-FS .crc
    sidecar so the corruption reaches the verifier instead of tripping
    the filesystem checksum first (object stores have no such sidecar —
    the verifier IS the integrity layer there)."""
    pq.write_table(table, path)
    crc = os.path.join(
        os.path.dirname(path), "." + os.path.basename(path) + ".crc"
    )
    if os.path.exists(crc):
        os.remove(crc)


def test_clean_index_verifies_ok(spark, clean_idx):
    rep = verify_index(spark, clean_idx)
    assert rep["ok"], rep
    g = rep["generations"][0]
    assert g["bad_blocks"] == 0 and g["term_stat_mismatches"] == 0
    assert g["sha_checked"] is True
    assert g["n_blocks"] > 0
    assert g.get("cluster_range_mismatches") == 0
    assert g.get("unsorted_position_lists") == 0


def _copy_index(src: str, tmp_path, name: str) -> str:
    dst = str(tmp_path / name)
    shutil.copytree(src, dst)
    return dst


def test_detects_corrupt_block_payload(spark, clean_idx, tmp_path):
    """Flip the docID payload of one block: the decode either fails or
    lands off the min/max metadata — either way the block is reported."""
    root = _copy_index(clean_idx, tmp_path, "bitrot")
    f = _one_postings_file(root)
    t = pq.read_table(f)
    col = t.column("doc_ids_delta_varbyte").to_pylist()
    # pick a block with a multi-byte payload and truncate it
    victim = max(range(len(col)), key=lambda i: len(col[i]))
    col[victim] = col[victim][:-1] if len(col[victim]) > 1 else b"\x00"
    t = t.set_column(
        t.schema.get_field_index("doc_ids_delta_varbyte"),
        "doc_ids_delta_varbyte",
        pa.array(col, type=pa.binary()),
    )
    _rewrite(f, t)
    rep = verify_index(spark, root)
    assert not rep["ok"]
    assert rep["generations"][0]["bad_blocks"] >= 1
    assert any("block" in e for e in rep["generations"][0]["errors"])


def test_detects_wrong_block_max_score(spark, clean_idx, tmp_path):
    """A silently-too-low block max is the worst corruption class (WAND
    would prune real hits); the verifier recomputes max(scores) per block."""
    root = _copy_index(clean_idx, tmp_path, "badmax")
    f = _one_postings_file(root)
    t = pq.read_table(f)
    col = t.column("block_max_score").to_pylist()
    col[0] = col[0] / 2.0
    t = t.set_column(
        t.schema.get_field_index("block_max_score"),
        "block_max_score",
        pa.array(col, type=pa.float32()),
    )
    _rewrite(f, t)
    rep = verify_index(spark, root)
    assert not rep["ok"]
    assert any(
        "block_max_score" in e for e in rep["generations"][0]["errors"]
    )


def test_detects_term_stats_drift(spark, clean_idx, tmp_path):
    """Postings and the term dictionary must agree on df/cf — drop a
    term_stats row and the cross-check flags the orphan postings."""
    root = _copy_index(clean_idx, tmp_path, "statsdrift")
    files = sorted(
        glob.glob(os.path.join(root, "term_stats", "**", "*.parquet"),
                  recursive=True)
    )
    t = pq.read_table(files[0])
    _rewrite(files[0], t.slice(1))  # drop one dictionary row
    rep = verify_index(spark, root)
    assert not rep["ok"]
    assert rep["generations"][0]["term_stat_mismatches"] >= 1


def test_detects_content_sha_mismatch(spark, clean_idx, tmp_path):
    """The per-row build contract: sha2(content) == content_sha256."""
    root = _copy_index(clean_idx, tmp_path, "shadrift")
    files = sorted(
        glob.glob(os.path.join(root, "docs", "doc_part=*", "*.parquet"))
    )
    t = pq.read_table(files[0])
    col = t.column("content").to_pylist()
    col[0] = (col[0] or "") + " tampered"
    t = t.set_column(
        t.schema.get_field_index("content"), "content",
        pa.array(col, type=pa.string()),
    )
    _rewrite(files[0], t)
    rep = verify_index(spark, root)
    assert not rep["ok"]
    assert any("sha" in e for e in rep["generations"][0]["errors"])


def test_detects_stale_cluster_ranges(spark, clean_idx, tmp_path):
    """Stale per-repo id ranges silently break repo-filter range pruning —
    the verifier re-derives them from the docs table."""
    root = _copy_index(clean_idx, tmp_path, "stalerange")
    files = sorted(
        glob.glob(os.path.join(root, "cluster_ranges", "*.parquet"))
    )
    t = pq.read_table(files[0])
    col = t.column("max_doc_id").to_pylist()
    col[0] = col[0] - 1
    t = t.set_column(
        t.schema.get_field_index("max_doc_id"), "max_doc_id",
        pa.array(col, type=pa.int64()),
    )
    _rewrite(files[0], t)
    rep = verify_index(spark, root)
    assert not rep["ok"]
    assert rep["generations"][0]["cluster_range_mismatches"] >= 1


def test_multigen_verifies_and_catches_orphan_tombstone(spark, tmp_path):
    """A multi-generation index verifies generation by generation; a
    tombstone pointing at a doc_id no older generation holds is flagged."""
    root = str(tmp_path / "multigen")
    corpus = _corpus(spark, 300)
    builder.build_index(
        spark, corpus, root, n_buckets=4, store_content=True,
    )
    batch = (
        corpus.limit(40)
        .withColumn("commit", F.sha1(F.concat("path", F.lit("v2"))))
        .withColumn("content", F.concat("content", F.lit(" upserted")))
    )
    segments.add_segment(spark, batch, root, n_buckets=4)
    rep = verify_index(spark, root)
    assert rep["ok"], rep
    assert len(rep["generations"]) == 2
    assert rep["tombstone_errors"] == []
    # inject an orphan tombstone into the segment
    seg = segments.list_segments(root)[0]
    tdir = os.path.join(seg["path"], "tombstones")
    tfile = sorted(glob.glob(os.path.join(tdir, "*.parquet")))[0]
    t = pq.read_table(tfile)
    ids = t.column("doc_id").to_pylist() + [999_999_999_999]
    _rewrite(tfile, pa.table({"doc_id": pa.array(ids, type=pa.int64())}))
    rep = verify_index(spark, root)
    assert not rep["ok"]
    assert any("tombstone" in e for e in rep["tombstone_errors"])


def test_vector_sidecar_checked(spark, clean_idx, tmp_path):
    """Vector sidecar: row count must match the stats record."""
    from gazetteer_search_spark.index import vectors

    root = _copy_index(clean_idx, tmp_path, "vecdrift")
    vectors.build_vectors(spark, root, dim=16)
    assert verify_index(spark, root)["ok"]
    stats = json.load(open(os.path.join(root, vectors.STATS_FILE)))
    stats["n_docs"] += 1
    with open(os.path.join(root, vectors.STATS_FILE), "w") as f:
        json.dump(stats, f)
    rep = verify_index(spark, root)
    assert not rep["ok"]
    assert any("vector rows" in e for e in rep["vector_errors"])


def test_cli_verify_index_exit_codes(spark, clean_idx, tmp_path, capsys):
    """verify-index prints one JSON report line; exit 0 clean, 1 corrupt."""
    from gazetteer_search_spark.cli import main

    main(["verify-index", "--index", clean_idx])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ok"] is True

    root = _copy_index(clean_idx, tmp_path, "cli_bad")
    f = _one_postings_file(root)
    t = pq.read_table(f)
    col = t.column("doc_count").to_pylist()
    col[0] = col[0] + 1
    t = t.set_column(
        t.schema.get_field_index("doc_count"), "doc_count",
        pa.array(col, type=pa.int32()),
    )
    _rewrite(f, t)
    with pytest.raises(SystemExit) as ei:
        main(["verify-index", "--index", root])
    assert ei.value.code == 1
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["ok"] is False


def test_clean_minimal_layout_verifies_ok(spark, tmp_path):
    """Layout matrix: the verifier holds on the OTHER config corner too —
    no attribute dimension, no clustering, no positions, no stored content
    (sha check skipped and reported as such)."""
    root = str(tmp_path / "minimal")
    builder.build_index(
        spark, _corpus(spark, 250), root, n_buckets=2, attr_dim=None,
    )
    rep = verify_index(spark, root)
    assert rep["ok"], rep
    g = rep["generations"][0]
    assert g["sha_checked"] is False
    assert "cluster_range_mismatches" not in g
    assert g["n_blocks"] > 0 and g["bad_blocks"] == 0


def test_detects_inflated_corpus_stats_max_doc_id(spark, clean_idx, tmp_path):
    """corpus_stats.max_doc_id must EQUAL max(docs.doc_id) — an inflated
    stats value is drift too (it skews the salt-partitioning formula), not
    just an under-reporting one (regression: only '>' was checked)."""
    root = _copy_index(clean_idx, tmp_path, "maxdrift")
    files = sorted(
        glob.glob(os.path.join(root, "corpus_stats", "*.parquet"))
    )
    t = pq.read_table(files[0])
    col = t.column("max_doc_id").to_pylist()
    col[0] = int(col[0]) + 1000  # inflate past the true max
    t = t.set_column(
        t.schema.get_field_index("max_doc_id"), "max_doc_id",
        pa.array(col, type=t.schema.field("max_doc_id").type),
    )
    _rewrite(files[0], t)
    rep = verify_index(spark, root)
    assert not rep["ok"]
    assert any("max doc_id" in e for e in rep["generations"][0]["errors"])
