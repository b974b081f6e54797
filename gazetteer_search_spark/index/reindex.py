"""Reindex: rebuild an index from its own stored documents (ES _reindex).

The reference's operational story for an analyzer change is ES's: you
cannot retokenize in place — you `_reindex` from the source index's stored
`_source` into a new index created with the new settings (the reference
rebuilds its ES index from scratch on import for the same reason —
`/root/reference/src/main/java/me/osm/gazetteer/search/imp/addr/
AddressesIndexer.java` recreates the type mapping). This module is that
surface for this engine:

- the SOURCE is the index's own stored-content docs table (requires
  ``store_content=True`` — exactly ES's "no ``_source``, no ``_reindex``"
  contract), read tombstone-resolved across ALL generations
  (:func:`segments.live_docs`), so a multi-generation LSM index reindexes
  to a clean single generation;
- document identity (doc_id, ES ``_id``) is PRESERVED; every derived
  column (sha, doc_len, name_ordinal, ref_count) and all physical layout
  is recomputed by the ordinary builder — the output is the index a fresh
  :func:`builder.build_index` over the equivalent corpus would produce
  (pinned by tests), so nothing downstream distinguishes a reindexed
  index from a built one;
- settings default to INHERIT from the source's ``index_meta.json`` /
  persisted analyzer rules, each individually overridable (new analyzer
  rules, bucket count, attr dim, clustering, positions) — the
  "create the target with new settings" half of ES `_reindex`;
- ``where`` is an optional SQL predicate over the stored doc columns (ES
  `_reindex` body ``"query"``), letting a slice of the corpus fork into
  its own index.

Scale shape: one distributed pass — the docs store scans (partition-pruned
by nothing, it IS the input), the builder's salted shuffle does the rest;
no collect of anything corpus-sized, and resume/lineage come from the
builder's own manifest (interrupt + rerun continues at bucket
granularity).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gazetteer_search_spark.analyzer import config as _acfg
from gazetteer_search_spark.index import segments as _segs
from gazetteer_search_spark.index.builder import Index, build_index

_INHERIT = object()

#: builder-derived docs columns that must be recomputed, never copied.
#: doc_id is NOT here: _reindex preserves _id (the ES contract) — the
#: target keeps the source's document identity, only derived state and
#: physical layout rebuild. A cluster_by target still reassigns dense ids
#: (keeping the identity as src_doc_id), exactly as a fresh build would.
DERIVED_COLS = {
    "src_doc_id",
    "content_sha256",
    "doc_len",
    "ref_count",
    "name_ordinal",
    "doc_part",
}


def _identity_ids(docs: DataFrame) -> DataFrame:
    """Restore the SEMANTIC document id: a cluster_by source stores its
    dense layout id as doc_id and the original identity as src_doc_id —
    reindex carries the identity, never the old layout."""
    if "src_doc_id" in docs.columns:
        docs = docs.withColumn("doc_id", F.col("src_doc_id"))
    return docs


def reindex(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    *,
    where: str | None = None,
    n_buckets=_INHERIT,
    postings_per_group: int = 1 << 20,
    analyzer_rules=_INHERIT,
    attr_dim=_INHERIT,
    cluster_by=_INHERIT,
    positions=_INHERIT,
    name_key=_INHERIT,
    store_content: bool = True,
    extra_fields: dict[str, str] | None = None,
) -> Index:
    """Rebuild ``src_dir``'s live documents into a fresh index at
    ``out_dir``. Keyword settings default to the source index's own
    configuration; pass a value (including ``None`` where meaningful, e.g.
    ``attr_dim=None`` / ``cluster_by=None``) to change it.

    The source's postings are never read, only its docs and tombstones, so
    this is also the migration path for a store_content index older than
    the one supported on-disk format (0.8): the target is written in it."""
    meta_path = os.path.join(src_dir, "index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    if not meta.get("stored_content"):
        raise ValueError(
            "reindex requires a source index built with store_content=True "
            "(the ES _source contract: _reindex reads documents from stored "
            "fields); rebuild from the original corpus instead"
        )
    if os.path.abspath(src_dir) == os.path.abspath(out_dir):
        raise ValueError("reindex target must be a different directory")

    docs = _identity_ids(_segs.live_docs(spark, src_dir))
    if where:
        docs = docs.filter(where)
    corpus = docs.select(*[c for c in docs.columns if c not in DERIVED_COLS])

    if n_buckets is _INHERIT:
        n_buckets = int(meta["n_buckets"])
    if attr_dim is _INHERIT:
        attr_dim = meta.get("attr_dim")
    if cluster_by is _INHERIT:
        cb = meta.get("clustered_by")
        cluster_by = tuple(cb) if cb else None
    if positions is _INHERIT:
        positions = bool(meta.get("positions"))
    if name_key is _INHERIT:
        name_key = meta.get("name_key_sql")
    if analyzer_rules is _INHERIT:
        analyzer_rules = _acfg.load_index_rules(src_dir)
    if extra_fields is None and meta.get("fields"):
        # inherit per-field postings when their source columns survived
        # (they do: field sources are stored doc columns by construction)
        inherited = dict(meta["fields"])
        missing = [c for c in inherited.values() if c not in corpus.columns]
        if not missing:
            extra_fields = inherited

    return build_index(
        spark,
        corpus,
        out_dir,
        n_buckets=n_buckets,
        postings_per_group=postings_per_group,
        analyzer_rules=analyzer_rules,
        attr_dim=attr_dim,
        cluster_by=cluster_by,
        positions=bool(positions),
        name_key=name_key,
        store_content=store_content,
        extra_fields=extra_fields,
    )
