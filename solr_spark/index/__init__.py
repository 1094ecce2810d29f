from solr_spark.index.build import IndexConfig, InvertedIndex, build_index  # noqa: F401
