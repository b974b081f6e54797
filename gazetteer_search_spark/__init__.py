"""gazetteer_search_spark — a from-scratch PySpark-native inverted-index +
BM25 top-k engine with the query and data-processing capabilities of
kiselev-dv/gazetteer-search (reference at /root/reference, read-only).

The reference delegates posting-list construction, compression, TF/IDF-BM25
scoring and top-k retrieval to ElasticSearch/Lucene over a transport socket
(reference: src/main/java/me/osm/gazetteer/search/esclient/ESServer.java:26-35).
This package owns those parts natively on Spark:

- ``analyzer``   code-aware tokenizer (vectorized pandas/Arrow UDF) + query IR
                 (analog of reference IndexAnalyzer/QueryAnalyzerImpl)
- ``index``      posting-list build: delta+FOR blocks, block-max metadata,
                 salted hot-term shuffle, partition-granular manifest resume
                 (analog of the delegated Lucene index build + ImportMeta)
- ``search``     BM25 (k1=1.2, b=0.75) scoring, AND / min_should_match /
                 prefix / fuzzy / dis_max / coalesce-ladder query engine,
                 block-max WAND top-k (analog of MainAddressQueryBuilder +
                 ESCoalesce + Lucene WAND)
- ``operators``  large-scale training-data pipeline ops: dedup (exact, MinHash
                 LSH, SimHash, n-gram Jaccard), embedding similarity search,
                 text analysis, multimodal column plumbing
- ``sources``    corpus readers/generators (Iceberg-shaped source-code table)
"""

__version__ = "0.8.0"  # bump on index-format changes: __spark_entry__ keys its
# cached /tmp index dirs by this, so stale-format indexes are never resumed

BM25_K1 = 1.2
BM25_B = 0.75
