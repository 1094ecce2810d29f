from solr_spark.query.engine import SearchEngine  # noqa: F401
