"""solr_spark — a PySpark-native full-text indexing + BM25 retrieval engine.

A from-scratch re-expression of the query/data-processing capabilities of
Apache Solr (reference checkout at /root/reference) in idiomatic Spark:

- ``solr_spark.analysis``  — tokenizer/filter chains (Solr analysis chains,
  e.g. text_general / text_en_splitting) as JVM-side column expressions and
  Arrow-vectorized pandas UDFs.
- ``solr_spark.index``     — inverted-index build: postings, term dictionary,
  posting blocks as Parquet int arrays (format v3: doc-id offsets, tf,
  doc length, positions, payloads) with stats-independent pruning
  metadata (per-block max_tf / min_dl — impact bounds derived at query time),
  hot-term salting, per-partition lineage manifests, checkpoint/resume.
- ``solr_spark.query``     — query parsing/compilation (boolean, phrase,
  dismax, MLT, ...), BM25 top-k scoring (k1=1.2, b=0.75, matching Solr's
  BM25SimilarityFactory defaults), block-max pruning.
- ``solr_spark.operators`` — the relational-dataflow surface (Solr streaming
  expressions: rollup/join/merge/unique/top/...), facets, stats, collapse/
  expand, grouping, RRF — expressed as stock DataFrame/SQL plans.
- ``solr_spark.functions`` — scalar function-query library (recip, scale,
  strdist, ms, ...) and relevance accessors (docfreq, idf, termfreq, norm).
- ``solr_spark.streaming`` — incremental index maintenance (topic/daemon
  analogs) via Structured Streaming / foreachBatch.
"""

__version__ = "0.1.0"
