"""Index integrity verification — the Lucene CheckIndex analog.

The reference trusts ES/Lucene for physical index health (Lucene's
CheckIndex walks every segment, decodes every posting, and cross-checks
the term dictionary; ES surfaces it as `index.shard.check_on_startup`).
This engine's index is a parquet tree, so verification is a Spark job
over the same block rows the query path reads:

Per posting block (mapInPandas kernel — Arrow-batched numpy, the
decode_postings idiom):
- docID payload decodes to exactly ``doc_count`` ids, strictly
  increasing, first == ``min_doc_id``, last == ``max_doc_id``
- tf payload decodes to ``doc_count`` values, all >= 1
- score payload decodes to ``doc_count`` values; their max equals the
  block-max WAND metadata (``block_max_score``, float32-exact — a wrong
  block max silently breaks top-k pruning, the worst failure class)
- ``block_bytes`` equals the actual payload byte length
- mixed-attr blocks: one attr byte per posting, ids < 64, and the OR of
  their bits equals ``attr_bits`` (a wrong mask breaks filter pruning)
- ``term_bucket`` equals the crc32 bucket of the term (a misplaced block
  is invisible to bucket-pruned query scans — it would silently drop
  hits, so it must fail verification loudly)

Cross-component (native DataFrame aggregations, no UDF):
- per term: sum of block doc_counts == term_stats.df and sum of decoded
  tfs == term_stats.cf (this also catches duplicate postings — a doc
  appearing twice pushes the sum past df); no orphan terms either way
- (term, block_id) unique — the pair is the payload-cache key
- docs: row count / distinct doc_id / max doc_id vs corpus_stats;
  doc_part == pmod(doc_id, n_doc_parts); with stored content, per-row
  ``sha2(content, 256) == content_sha256`` (the per-row invariant the
  build contract pins against the source table)
- cluster_ranges (clustered layouts): per-major min/max/count re-derived
  from the docs table must match the persisted lookup table (stale
  ranges silently break repo/path range pruning)
- vector sidecar (if built): row count == stats n_docs, vector length ==
  dim, norms <= 1 + eps
- positions sidecar (if built): position arrays sorted ascending
- every segment generation gets the same treatment (its own meta/stats),
  and segment tombstones must reference doc_ids that exist in strictly
  older generations

100-TB shape: one pass over postings (block rows stay blocks — nothing
is exploded per posting), one shuffle on term for the stats join, one
pass over docs; error samples are limit-collected, never full sets.
"""

from __future__ import annotations

import os
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from gazetteer_search_spark.index import codec
from gazetteer_search_spark.index.builder import (
    IndexPaths,
    attr_bit_value,
    read_current_meta,
    term_bucket_py,
)

MAX_ERR_SAMPLES = 20

_KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.LongType(), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("err", T.StringType(), True),
    ]
)


def _make_block_kernel(n_buckets: int):
    """Per-block structural checks; emits one row per block with the
    decoded doc_count / sum(tf) (for the term_stats cross-check) and the
    FIRST failed invariant (None when the block is clean)."""

    def _check(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = {
                "term": [], "block_id": [], "doc_count": [],
                "sum_tf": [], "err": [],
            }
            for row in pdf.itertuples(index=False):
                n = int(row.doc_count)
                err = None
                sum_tf = 0
                try:
                    ids = codec.ids_decode(
                        row.doc_ids_delta_varbyte, n, int(row.min_doc_id)
                    )
                    tfs = codec.tfs_decode(row.tfs_varbyte, n)
                    scores = codec.f64_decode(row.scores_f64, n)
                    if len(ids) != n or len(tfs) != n or len(scores) != n:
                        err = "payload length != doc_count"
                    elif n > 0 and int(ids[0]) != int(row.min_doc_id):
                        err = "first docID != min_doc_id"
                    elif n > 0 and int(ids[-1]) != int(row.max_doc_id):
                        err = "last docID != max_doc_id"
                    elif n > 1 and not bool(np.all(np.diff(ids) > 0)):
                        err = "docIDs not strictly increasing"
                    elif bool(np.any(tfs < 1)):
                        err = "tf < 1"
                    elif n > 0 and np.float32(scores.max()) != np.float32(
                        row.block_max_score
                    ):
                        err = "block_max_score != max(scores)"
                    elif int(row.block_bytes) != (
                        len(row.doc_ids_delta_varbyte)
                        + len(row.tfs_varbyte)
                        + len(row.scores_f64)
                    ):
                        err = "block_bytes != payload bytes"
                    elif row.attr_ids is not None:
                        ab = np.frombuffer(row.attr_ids, dtype=np.uint8)
                        if len(ab) != n:
                            err = "attr_ids length != doc_count"
                        elif bool(np.any(ab >= 64)):
                            err = "attr id >= 64"
                        else:
                            # attr_bits is the OR over the whole (term,
                            # salt) RUN; a single block may hold a SUBSET
                            # of those values, so containment — not
                            # equality — is the invariant. A posting bit
                            # MISSING from attr_bits is the dangerous
                            # direction: filter pruning would skip the
                            # block and silently drop its hits.
                            mask = 0
                            for v in np.unique(ab):
                                mask |= attr_bit_value(int(v))
                            u64 = (1 << 64) - 1
                            if (mask & u64) & ~(int(row.attr_bits) & u64):
                                err = "attr_ids carry bits outside attr_bits"
                    if err is None and term_bucket_py(
                        str(row.term), n_buckets
                    ) != int(row.term_bucket):
                        err = "block in wrong term_bucket partition"
                    sum_tf = int(tfs.sum()) if err is None else 0
                except Exception as exc:  # corrupt payload: undecodable
                    err = f"decode failed: {type(exc).__name__}: {exc}"
                out["term"].append(row.term)
                out["block_id"].append(int(row.block_id))
                out["doc_count"].append(n)
                out["sum_tf"].append(sum_tf)
                out["err"].append(err)
            yield pd.DataFrame(out)

    return _check


def _err_summary(df: DataFrame, label_cols: list[str]) -> tuple[int, list]:
    """(count, bounded samples) for an error frame — never a full collect."""
    n = df.count()
    if n == 0:
        return 0, []
    rows = df.limit(MAX_ERR_SAMPLES).collect()
    return int(n), [{c: r[c] for c in label_cols} for r in rows]


def _verify_generation(
    spark: SparkSession, root: str, report: dict
) -> None:
    """Run every single-generation check over one index root; mutates
    ``report`` (per-generation entry + global error roll-up)."""
    meta = read_current_meta(root)
    paths = IndexPaths(root)
    n_buckets = int(meta["n_buckets"])
    gen: dict = {"root": root, "errors": []}

    # ---- block kernel over postings -----------------------------------
    postings = spark.read.parquet(paths.postings)
    kern = postings.mapInPandas(
        _make_block_kernel(n_buckets), schema=_KERNEL_SCHEMA
    ).persist()
    n_blocks = kern.count()  # materializes the persist
    bad_blocks, samples = _err_summary(
        kern.filter(F.col("err").isNotNull()).select("term", "block_id", "err"),
        ["term", "block_id", "err"],
    )
    gen["n_blocks"] = int(n_blocks)
    gen["bad_blocks"] = bad_blocks
    gen["errors"] += [f"block {s['term']}/{s['block_id']}: {s['err']}" for s in samples]

    # ---- (term, block_id) payload-cache key uniqueness -----------------
    dup_keys, samples = _err_summary(
        kern.groupBy("term", "block_id").count().filter(F.col("count") > 1),
        ["term", "block_id"],
    )
    gen["dup_block_keys"] = dup_keys
    gen["errors"] += [
        f"duplicate (term, block_id): {s['term']}/{s['block_id']}" for s in samples
    ]

    # ---- per-term postings vs the term dictionary ----------------------
    per_term = kern.groupBy("term").agg(
        F.sum("doc_count").alias("posted_df"),
        F.sum("sum_tf").alias("posted_cf"),
    )
    stats = spark.read.parquet(paths.term_stats)
    joined = per_term.join(stats, "term", "full_outer")
    mism = joined.filter(
        F.coalesce(F.col("posted_df"), F.lit(0)) != F.coalesce(F.col("df"), F.lit(0))
    )
    # cf only checkable for clean blocks (sum_tf is zeroed on block errors)
    if bad_blocks == 0:
        mism = mism.unionByName(
            joined.filter(
                F.coalesce(F.col("posted_cf"), F.lit(0))
                != F.coalesce(F.col("cf"), F.lit(0))
            )
        ).distinct()
    term_mismatches, samples = _err_summary(
        mism.select("term", "posted_df", "df", "posted_cf", "cf"),
        ["term", "posted_df", "df", "posted_cf", "cf"],
    )
    gen["term_stat_mismatches"] = term_mismatches
    gen["errors"] += [
        f"term {s['term']!r}: postings df/cf {s['posted_df']}/{s['posted_cf']} "
        f"vs term_stats {s['df']}/{s['cf']}"
        for s in samples
    ]
    kern.unpersist()

    # ---- docs table vs corpus stats ------------------------------------
    import pyarrow.dataset as ds_mod

    cs = ds_mod.dataset(paths.corpus_stats).to_table().to_pylist()[0]
    docs = spark.read.parquet(paths.docs)
    checks = [
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("n_distinct"),
        F.max("doc_id").alias("max_id"),
        F.sum((F.col("doc_len") < 0).cast("long")).alias("neg_len"),
    ]
    n_doc_parts = meta.get("n_doc_parts")
    if n_doc_parts and "doc_part" in docs.columns:
        checks.append(
            F.sum(
                (
                    F.col("doc_part")
                    != F.pmod(F.col("doc_id"), F.lit(int(n_doc_parts)))
                ).cast("long")
            ).alias("bad_part")
        )
    if meta.get("stored_content") and "content" in docs.columns:
        checks.append(
            F.sum(
                (F.sha2(F.col("content"), 256) != F.col("content_sha256")).cast(
                    "long"
                )
            ).alias("sha_mismatch")
        )
    agg = docs.agg(*checks).collect()[0]
    gen["n_docs"] = int(agg["n"])
    if int(agg["n"]) != int(cs["n_docs"]):
        gen["errors"].append(
            f"docs rows {agg['n']} != corpus_stats.n_docs {cs['n_docs']}"
        )
    if int(agg["n_distinct"]) != int(agg["n"]):
        gen["errors"].append("duplicate doc_id in docs table")
    # exact equality both ways: the builder writes max_doc_id = max(docs)
    # (builder.py:809), so an INFLATED stats value is just as much drift as
    # an under-reporting one (it skews the salt partitioning formula)
    if agg["max_id"] is not None and int(agg["max_id"]) != int(cs["max_doc_id"]):
        gen["errors"].append(
            f"max doc_id {agg['max_id']} != corpus_stats.max_doc_id "
            f"{cs['max_doc_id']}"
        )
    if int(agg["neg_len"] or 0):
        gen["errors"].append(f"{agg['neg_len']} docs with negative doc_len")
    if "bad_part" in agg.asDict() and int(agg["bad_part"] or 0):
        gen["errors"].append(
            f"{agg['bad_part']} docs in the wrong doc_part partition"
        )
    gen["sha_checked"] = "sha_mismatch" in agg.asDict()
    if gen["sha_checked"] and int(agg["sha_mismatch"] or 0):
        gen["errors"].append(
            f"{agg['sha_mismatch']} docs where sha2(content) != content_sha256"
        )

    # ---- clustered-layout range table -----------------------------------
    cb = meta.get("clustered_by")
    if cb and os.path.exists(paths.cluster_ranges):
        major = cb[0]
        derived = docs.groupBy(major).agg(
            F.min("doc_id").alias("d_min"),
            F.max("doc_id").alias("d_max"),
            F.count("*").alias("d_n"),
        )
        persisted = spark.read.parquet(paths.cluster_ranges)
        bad = derived.join(persisted, major, "full_outer").filter(
            (F.col("d_min") != F.col("min_doc_id"))
            | (F.col("d_max") != F.col("max_doc_id"))
            | (F.col("d_n") != F.col("n_docs"))
            | F.col("d_min").isNull()
            | F.col("min_doc_id").isNull()
        )
        n_bad, samples = _err_summary(bad.select(major), [major])
        gen["cluster_range_mismatches"] = n_bad
        gen["errors"] += [
            f"cluster_ranges stale for {major}={s[major]!r}" for s in samples
        ]

    # ---- positions sidecar ----------------------------------------------
    if os.path.isdir(paths.positions):
        pos = spark.read.parquet(paths.positions)
        unsorted = pos.filter(
            F.col("positions") != F.sort_array(F.col("positions"))
        )
        n_bad, _ = _err_summary(unsorted.select("term"), ["term"])
        gen["unsorted_position_lists"] = n_bad
        if n_bad:
            gen["errors"].append(f"{n_bad} unsorted position lists")

    report["generations"].append(gen)


def verify_index(spark: SparkSession, index_dir: str) -> dict:
    """Full structural verification; returns a JSON-able report with
    ``ok`` plus per-generation counts and bounded error samples."""
    from gazetteer_search_spark.index import segments as segs
    from gazetteer_search_spark.index.alias import resolve_index

    index_dir = resolve_index(index_dir)
    report: dict = {"index": index_dir, "generations": []}

    gens = segs._gen_entries(index_dir)
    for _ord, root in gens:
        _verify_generation(spark, root, report)

    # ---- tombstones reference docs in strictly older generations --------
    # walk the FULL lineage (tombstone-only delete_by_query segments carry
    # tombstones too but are absent from the payload-gen list), folding in
    # each payload generation's doc ids as it passes
    tomb_errors = []
    lineage = [(0, index_dir, True)] + [
        (int(s["seg_id"]), s["path"], s["n_docs"] > 0)
        for s in segs.list_segments(index_dir)
    ]
    seen_docs = None
    for ordinal, root, has_payload in lineage:
        tpath = os.path.join(root, "tombstones")
        if ordinal > 0 and os.path.exists(tpath):
            tombs = spark.read.parquet(tpath)
            if seen_docs is None:
                n_bad = tombs.count()
                samples = [{"doc_id": None}]
            else:
                orphan = tombs.join(seen_docs, "doc_id", "left_anti")
                n_bad, samples = _err_summary(orphan, ["doc_id"])
            if n_bad:
                tomb_errors.append(
                    f"segment {ordinal}: {n_bad} tombstones reference no "
                    f"older-generation doc (e.g. {samples[0]['doc_id']})"
                )
        if has_payload:
            gdocs = spark.read.parquet(IndexPaths(root).docs).select("doc_id")
            seen_docs = (
                gdocs if seen_docs is None else seen_docs.unionByName(gdocs)
            )
    report["tombstone_errors"] = tomb_errors

    # ---- vector sidecar --------------------------------------------------
    from gazetteer_search_spark.index.vectors import STATS_FILE, VECTORS_DIR

    vstats_path = os.path.join(index_dir, STATS_FILE)
    if os.path.exists(vstats_path):
        import json as _json

        with open(vstats_path) as f:
            vstats = _json.load(f)
        vec = spark.read.parquet(os.path.join(index_dir, VECTORS_DIR))
        va = vec.agg(
            F.count("*").alias("n"),
            F.sum((F.size("vector") != int(vstats["dim"])).cast("long")).alias(
                "bad_dim"
            ),
            F.max(
                F.aggregate(
                    "vector", F.lit(0.0), lambda a, x: a + x * x
                )
            ).alias("max_sq_norm"),
        ).collect()[0]
        verrs = []
        if int(va["n"]) != int(vstats["n_docs"]):
            verrs.append(
                f"vector rows {va['n']} != vector_stats.n_docs "
                f"{vstats['n_docs']}"
            )
        if int(va["bad_dim"] or 0):
            verrs.append(f"{va['bad_dim']} vectors with wrong dim")
        if va["max_sq_norm"] is not None and float(va["max_sq_norm"]) > 1.0 + 1e-6:
            verrs.append(f"vector norm > 1 ({va['max_sq_norm']})")
        report["vector_errors"] = verrs

    all_errors = [e for g in report["generations"] for e in g["errors"]]
    all_errors += tomb_errors + report.get("vector_errors", [])
    report["ok"] = not all_errors
    report["n_errors"] = len(all_errors)
    return report
