"""Driver contract for the spark-graft builder (PySpark target).

Engine queries come from ``solr_spark`` (the PySpark-native inverted-index
+ BM25 engine, SURVEY.md §2); each has an exact DuckDB oracle in
``oracle_sql()`` sharing the same frozen analyzer definition.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from solr_spark import dedup, multimodal, similarity, textops
from solr_spark.analysis import CODE_CHAIN
from solr_spark.index.build import IndexConfig, build_index
from solr_spark.operators import (
    collapse,
    facet_field,
    facet_range,
    fetch,
    group_topn,
    rollup,
    stats_numeric,
    timeseries,
)
from solr_spark.operators.relational import (
    atomic_update,
    cartesian_product,
    complement_keys,
    cursor_page,
    export_sorted,
    facet_heatmap,
    facet_pivot,
    frange_filter,
    gather_nodes,
    graph_traverse,
    having,
    intersect_keys,
    join_filter,
    merge_sorted,
    realtime_get,
    score_nodes,
    shortest_path,
)
from solr_spark.oracle_sql import (
    ann_ivf_sql,
    ann_topk_sql,
    bm25_mm_sql,
    bm25_topk_sql,
    boost_expr_sql,
    bm25_topk_numfound_sql,
    boost_recip_nchars_sql,
    dismax_sql,
    embedding_lsh_sql,
    embedding_neardup_sql,
    exact_dedup_sql,
    fuzzy_topk_sql,
    highlight_sql,
    minhash_lsh_sql,
    mlt_topk_sql,
    ngram_jaccard_sql,
    prefix_topk_sql,
    rank_boost_log_sql,
    rerank_sql,
    rrf_sql,
    significant_terms_sql,
    simhash_pairs_sql,
    spellcheck_sql,
    suggest_sql,
    term_dict_sql,
    tfidf_matrix_sql,
    vector_similarity_sql,
)
from solr_spark.oracle_sql import phrase_topk_sql
from solr_spark.plans import execute_query
from solr_spark.query import extras as qx
from solr_spark.query.engine import SearchEngine
from solr_spark.query.phrase import phrase_topk
from solr_spark.streaming import IncrementalIndexer

# ---------------------------------------------------------------------------
# shared index over the driver's `documents` table (built once per sf_dir,
# resumable: repeated calls skip completed stages via manifests)
# ---------------------------------------------------------------------------

_ENTRY_CONFIG = IndexConfig(
    block_size=64, hot_df_threshold=1000, n_salts=4, n_term_buckets=8
)
_engines: dict[str, SearchEngine] = {}


def _engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    if sf_dir not in _engines:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        out = f"/tmp/solr_spark_entry_{os.path.basename(os.path.normpath(sf_dir))}"
        idx = build_index(
            spark, docs, out, _ENTRY_CONFIG, resume=True, text_col="text", id_col="doc_id"
        )
        _engines[sf_dir] = SearchEngine(idx)
    return _engines[sf_dir]


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


_STEM_CONFIG = IndexConfig(
    block_size=64, hot_df_threshold=1000, n_salts=4, n_term_buckets=8,
    analyzer="code_stem",
)
_stem_engines: dict[str, SearchEngine] = {}


def _engine_stem(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Index over documents analyzed by the stemmed chain
    (EnglishMinimalStemFilter analog — plural-folding postings)."""
    if sf_dir not in _stem_engines:
        docs = _read(spark, sf_dir, "documents")
        out = f"/tmp/solr_spark_entry_stem_{os.path.basename(os.path.normpath(sf_dir))}"
        idx = build_index(
            spark, docs, out, _STEM_CONFIG, resume=True, text_col="text", id_col="doc_id"
        )
        _stem_engines[sf_dir] = SearchEngine(idx)
    return _stem_engines[sf_dir]


_PAYLOAD_CONFIG = IndexConfig(
    block_size=64, hot_df_threshold=1000, n_salts=4, n_term_buckets=8,
    with_payloads=True,
)
_payload_engines: dict[str, SearchEngine] = {}


def _engine_payload(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Index with the per-occurrence payload stream enabled (frozen
    payload function (len(token)+position) mod 8 — see
    IndexConfig.with_payloads / query/payload.py)."""
    if sf_dir not in _payload_engines:
        docs = _read(spark, sf_dir, "documents")
        out = f"/tmp/solr_spark_entry_payload_{os.path.basename(os.path.normpath(sf_dir))}"
        idx = build_index(
            spark, docs, out, _PAYLOAD_CONFIG, resume=True, text_col="text", id_col="doc_id"
        )
        _payload_engines[sf_dir] = SearchEngine(idx)
    return _payload_engines[sf_dir]


# frozen synonyms.txt analog for the query-time synonym entry
_SYNONYMS = {"merge": ["merge", "join"], "table": ["table", "row"]}

_field_engines: dict[tuple[str, str], SearchEngine] = {}


def _engine_field(spark: SparkSession, sf_dir: str, field: str) -> SearchEngine:
    """Per-field index over documents (Lucene's per-field postings model);
    used by the multi-field dismax entry."""
    key = (sf_dir, field)
    if key not in _field_engines:
        docs = _read(spark, sf_dir, "documents")
        out = (
            f"/tmp/solr_spark_entry_{os.path.basename(os.path.normpath(sf_dir))}_f_{field}"
        )
        idx = build_index(
            spark, docs, out, _ENTRY_CONFIG, resume=True, text_col=field, id_col="doc_id"
        )
        _field_engines[key] = SearchEngine(idx)
    return _field_engines[key]


_sorted_projs: dict[str, object] = {}


def _sorted_proj(spark: SparkSession, sf_dir: str):
    """Index-time-sorted docs projection (segmentTerminateEarly analog):
    documents range-partitioned + sorted by (n_chars, doc_id) with a
    per-range bounds manifest, cached per sf like the engines."""
    if sf_dir not in _sorted_projs:
        from solr_spark.index.sorted import SortedProjection, build_sorted_projection

        out = f"/tmp/solr_spark_entry_sorted_{os.path.basename(os.path.normpath(sf_dir))}"
        if os.path.exists(os.path.join(out, "sorted_manifest.json")):
            _sorted_projs[sf_dir] = SortedProjection(spark, out)
        else:
            docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
            _sorted_projs[sf_dir] = build_sorted_projection(
                docs, out, key="n_chars", tiebreak="doc_id", num_ranges=8
            )
    return _sorted_projs[sf_dir]


def _rounded(df: DataFrame, col: str = "score") -> DataFrame:
    return df.withColumn(col, F.round(F.col(col).cast("double"), 4))


def _bm25(spark: SparkSession, sf_dir: str, query: str, mode: str, k: int = 10) -> DataFrame:
    hits = _engine(spark, sf_dir).topk(query, k=k, mode=mode)
    # round the f32 score (same on the oracle side) for hash-stable values
    return hits.select(
        "doc_id", F.round(F.col("score").cast("double"), 4).alias("score")
    )


def _bm25_engine(eng: SearchEngine, query: str, mode: str = "OR", k: int = 10) -> DataFrame:
    hits = eng.topk(query, k=k, mode=mode)
    return hits.select(
        "doc_id", F.round(F.col("score").cast("double"), 4).alias("score")
    )


# query texts for the BM25 entries (analyzed by the same chain both sides)
_Q_OR = "spark merge data"
_Q_AND = "vector customer"
_Q_HOT = "table"


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 with display fields on sf0.001 documents."""
    eng = _engine(spark, "/root/testdata/sf0.001")
    return eng.topk_with_fields(_Q_OR, k=10, mode="OR")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- full-text engine (index build + BM25 top-k) ---
    q["bm25_top10_or"] = lambda s, d: _bm25(s, d, _Q_OR, "OR")

    def numfound_q(s, d):
        """numFound/numFoundExact on the response (minExactCount unset
        -> exact hit count, QueryComponent.java:448): top-10 rows each
        carrying the exact matching-doc count. The bounded
        (numFoundExact=false) path is pytest-gated -- its count depends
        on the pruning threshold, which SQL cannot replay."""
        return _engine(s, d).search_with_numfound(_Q_OR, k=10, mode="OR").select(
            "doc_id", F.round(F.col("score").cast("double"), 4).alias("score"),
            "num_found", "num_found_exact"
        )

    q["numfound_exact_topk"] = numfound_q
    q["bm25_top10_and"] = lambda s, d: _bm25(s, d, _Q_AND, "AND")
    q["bm25_hot_term"] = lambda s, d: _bm25(s, d, _Q_HOT, "OR")

    def term_dict_top(s, d):
        td = _engine(s, d).index.term_dict
        return (
            td.select("term", "df", "cf")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(20)
        )

    q["term_dict_top20"] = term_dict_top

    def terms_prefix(s, d):
        td = _engine(s, d).index.term_dict
        return (
            td.where(F.col("term").startswith("s"))
            .select("term", "df", "cf")
            .orderBy(F.asc("term"))
            .limit(20)
        )

    q["terms_component_prefix"] = terms_prefix

    def token_count(s, d):
        # analyzer parity check: per-doc token counts from the doc registry
        docs = _engine(s, d).index.docs
        return (
            docs.where(F.col("doc_id") < 20)
            .select("doc_id", F.col("doc_len").alias("n_tokens"))
            .orderBy("doc_id")
        )

    q["token_count_docs"] = token_count

    # --- facets / components over documents ---
    q["facet_lang"] = lambda s, d: facet_field(_read(s, d, "documents"), "lang")
    q["facet_range_nchars"] = lambda s, d: facet_range(
        _read(s, d, "documents"), "n_chars", 0.0, 1000.0, 100.0
    ).select(F.col("bucket_start").cast("double").alias("bucket_start"), "count")
    q["stats_nchars"] = lambda s, d: stats_numeric(
        _read(s, d, "documents"), "n_chars"
    ).select(
        # frozen output types both sides: BIGINT for the integral stats,
        # DOUBLE for mean/stddev (DuckDB sum(BIGINT) is HUGEINT otherwise)
        F.col("count").cast("long").alias("count"),
        F.col("missing").cast("long").alias("missing"),
        F.col("min").cast("long").alias("min"),
        F.col("max").cast("long").alias("max"),
        F.col("sum").cast("long").alias("sum"),
        F.round(F.col("mean").cast("double"), 4).alias("mean"),
        F.round(F.col("stddev").cast("double"), 4).alias("stddev"),
    )

    def collapse_source(s, d):
        docs = _read(s, d, "documents")
        return (
            collapse(docs, "source", [F.desc("n_chars"), F.asc("doc_id")])
            .select("source", "doc_id", "n_chars")
            .orderBy("source")
        )

    q["collapse_by_source"] = collapse_source

    def group_top2(s, d):
        docs = _read(s, d, "documents")
        return (
            group_topn(docs, "lang", [F.desc("n_chars"), F.asc("doc_id")], n=2)
            .select("lang", "group_rank", "doc_id", "n_chars")
            .orderBy("lang", "group_rank")
        )

    q["grouping_top2_per_lang"] = group_top2

    def group_ngroups(s, d):
        """Grouping with group.ngroups=true (Grouping.java:73 +
        GroupingSpecification): group heads over a filtered domain, each
        row carrying matches (domain doc count) and ngroups (distinct
        group count) — the totals are a broadcast 1-row aggregate, no
        driver collect."""
        docs = _read(s, d, "documents").where(F.col("n_chars") >= 100)
        heads = group_topn(
            docs, "source", [F.desc("n_chars"), F.asc("doc_id")], n=1
        ).select("source", "doc_id", "n_chars")
        totals = docs.agg(
            F.count(F.lit(1)).cast("long").alias("matches"),
            F.countDistinct("source").cast("long").alias("ngroups"),
        )
        return heads.crossJoin(F.broadcast(totals)).orderBy("source")

    q["grouping_ngroups"] = group_ngroups

    # --- streaming-expression analogs over TPC-H-ish tables ---
    q["rollup_orders_priority"] = lambda s, d: rollup(
        _read(s, d, "orders"),
        ["o_orderpriority"],
        {
            "n_orders": F.count("*"),
            "total_price": F.round(F.sum("o_totalprice"), 2),
        },
    ).orderBy("o_orderpriority")

    def join_cust_orders(s, d):
        orders = _read(s, d, "orders")
        cust = _read(s, d, "customer")
        return (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .orderBy("c_mktsegment")
        )

    q["hashjoin_customer_orders"] = join_cust_orders

    def ts_events(s, d):
        ev = _read(s, d, "events")
        return timeseries(
            ev, "ts", "day",
            {"n": F.count("*"), "total_value": F.round(F.sum("value"), 3)},
        ).select(F.col("bucket").cast("date").alias("day"), "n", "total_value")

    q["timeseries_events_daily"] = ts_events

    def time_routed_q(s, d):
        """TimeRoutedAlias analog: events routed into day-window parquet
        partitions on write; a time-ranged read prunes to the covering
        route_window directories (Catalyst PartitionFilters) before the
        exact ts range trims edge rows."""
        import hashlib
        import shutil
        import tempfile
        import os as _os

        from solr_spark.index.time_routed import read_time_range, write_time_routed

        tag = hashlib.md5(d.encode()).hexdigest()[:8]
        path = _os.path.join(tempfile.gettempdir(), f"solr_spark_troute_{tag}")
        # Reuse only a COMPLETE cached write (Spark's _SUCCESS marker);
        # build into a unique temp dir and atomically rename so a crashed
        # or concurrent writer can never leave a half-written dir that a
        # later run trusts.
        if not _os.path.isfile(_os.path.join(path, "_SUCCESS")):
            tmp = tempfile.mkdtemp(prefix=f"solr_spark_troute_{tag}_",
                                   dir=tempfile.gettempdir())
            staged = _os.path.join(tmp, "data")
            write_time_routed(_read(s, d, "events"), staged, ts_col="ts")
            shutil.rmtree(path, ignore_errors=True)
            try:
                _os.rename(staged, path)
            except OSError:
                # lost a rename race to a concurrent writer — theirs is
                # complete (rename is atomic), use it
                if not _os.path.isfile(_os.path.join(path, "_SUCCESS")):
                    raise
            shutil.rmtree(tmp, ignore_errors=True)
        lo, hi = "2024-01-03 00:00:00", "2024-01-06 00:00:00"
        return (
            read_time_range(s, path, lo, hi, ts_col="ts")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.round(F.sum("value"), 3).alias("total_value"),
            )
            .orderBy("event_type")
        )

    q["time_routed_range_counts"] = time_routed_q

    def sessionize_q(s, d):
        """Session windows per user (6h inactivity gap): native merging
        session aggregation vs the gaps-and-islands SQL oracle."""
        from solr_spark.operators.relational import sessionize_counts

        return sessionize_counts(_read(s, d, "events"), "user_id", "ts")

    q["sessionize_events"] = sessionize_q

    def fetch_enrich(s, d):
        ev = _read(s, d, "events").where(F.col("event_id") < 100)
        users = (
            _read(s, d, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("user_events"))
        )
        return (
            fetch(ev.select("event_id", "user_id"), users, ["user_id"])
            .select("event_id", "user_id", "user_events")
            .orderBy("event_id")
        )

    q["fetch_enrich_events"] = fetch_enrich

    def merge_two(s, d):
        orders = _read(s, d, "orders")
        a = orders.where(F.col("o_orderpriority") == "1-URGENT")
        b = orders.where(F.col("o_orderpriority") == "3-MEDIUM")
        return merge_sorted([a, b], [F.asc("o_orderkey")]).select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )

    q["merge_sorted_priorities"] = merge_two

    def intersect_cust(s, d):
        cust = _read(s, d, "customer")
        okeys = _read(s, d, "orders").select(F.col("o_custkey").alias("c_custkey"))
        return (
            intersect_keys(cust, okeys, ["c_custkey"])
            .select("c_custkey", "c_mktsegment")
            .orderBy("c_custkey")
        )

    q["intersect_customers_with_orders"] = intersect_cust

    def complement_cust(s, d):
        cust = _read(s, d, "customer")
        okeys = (
            _read(s, d, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select(F.col("o_custkey").alias("c_custkey"))
        )
        return (
            complement_keys(cust, okeys, ["c_custkey"])
            .select("c_custkey", "c_mktsegment")
            .orderBy("c_custkey")
        )

    q["complement_customers_no_urgent"] = complement_cust

    def cart_tokens(s, d):
        docs = _read(s, d, "documents").where(F.col("doc_id") < 20)
        arr = docs.select(
            "doc_id", F.slice(F.split(F.col("text"), " "), 1, 5).alias("toks")
        )
        return cartesian_product(arr, "toks", "tok").select("doc_id", "tok")

    q["cartesian_product_tokens"] = cart_tokens

    def gather_nodes_q(s, d):
        """gatherNodes: walk BUILDING-segment customers -> their orders,
        gather order priority with count/sum aggregations."""
        cust = _read(s, d, "customer").where(F.col("c_mktsegment") == "BUILDING")
        out = gather_nodes(
            cust,
            _read(s, d, "orders"),
            "c_custkey",
            "o_custkey",
            "o_orderpriority",
            {
                "cnt": F.count("*"),
                "total": F.round(F.sum("o_totalprice"), 2),
            },
        )
        return out.orderBy("node")

    q["gather_nodes_orders"] = gather_nodes_q

    def leftouter_q(s, d):
        """leftOuterJoin/outerHashJoin streams (io/stream/
        LeftOuterJoinStream.java, OuterHashJoinStream.java): every
        customer, urgent-order rollup attached where present."""
        cust = _read(s, d, "customer")
        urgent = (
            _read(s, d, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .groupBy(F.col("o_custkey").alias("c_custkey"))
            .agg(
                F.count("*").alias("n_urgent"),
                F.round(F.sum("o_totalprice"), 2).alias("urgent_total"),
            )
        )
        return (
            cust.join(urgent, "c_custkey", "left")
            .select(
                "c_custkey",
                "c_mktsegment",
                F.coalesce("n_urgent", F.lit(0)).alias("n_urgent"),
                "urgent_total",
            )
            .orderBy("c_custkey")
        )

    q["leftouter_join_urgent"] = leftouter_q

    def fullouter_q(s, d):
        """fullOuterJoin stream: click-count vs purchase-count per user,
        users present on either side."""
        ev_t = _read(s, d, "events")
        a = (
            ev_t.where(F.col("event_type") == "click")
            .groupBy("user_id")
            .agg(F.count("*").alias("n_click"))
        )
        b = (
            ev_t.where(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.count("*").alias("n_purchase"))
        )
        return a.join(b, "user_id", "full").orderBy("user_id")

    q["fullouter_join_events"] = fullouter_q

    def sql_module_q(s, d):
        """SQL module analog (modules/sql handler/sql/* — Calcite
        translating SQL to streaming expressions; in this engine Spark
        SQL IS the layer, so the handler's test-query shape runs
        natively): aggregate + having + order over the docs collection."""
        _read(s, d, "documents").createOrReplaceTempView("sql_docs")
        return s.sql(
            """
            SELECT lang, source, count(*) AS cnt,
                   round(avg(n_chars), 2) AS avg_chars
            FROM sql_docs GROUP BY lang, source
            HAVING count(*) >= 5 ORDER BY lang, source
            """
        )

    q["sql_module_agg"] = sql_module_q

    def score_nodes_q(s, d):
        """scoreNodes: customers gathered from urgent orders, scored
        cnt x ln(1 + N/df) with df = the customer's total order count."""
        orders = _read(s, d, "orders")
        nodes_cnt = (
            orders.where(F.col("o_orderpriority") == "1-URGENT")
            .groupBy(F.col("o_custkey").alias("node"))
            .agg(F.count("*").alias("cnt"))
        )
        out = score_nodes(nodes_cnt, orders, "o_custkey")
        return (
            out.select(
                "node",
                "cnt",
                "df",
                F.round(F.col("score").cast("float").cast("double"), 6).alias("score"),
            )
            .orderBy(F.desc(F.col("score").cast("float")), F.asc("node"))
            .limit(20)
        )

    q["score_nodes_customers"] = score_nodes_q

    q["having_rollup_status"] = lambda s, d: having(
        rollup(
            _read(s, d, "orders"),
            ["o_orderstatus", "o_orderpriority"],
            {
                "n_orders": F.count("*"),
                "total_price": F.round(F.sum("o_totalprice"), 2),
            },
        ),
        F.col("n_orders") >= 500,
    ).orderBy("o_orderstatus", "o_orderpriority")

    # --- wider query surface (QParser / SearchComponent analogs) ---
    q["phrase_batch_stream"] = lambda s, d: _rounded(
        phrase_topk(_engine(s, d), "batch stream", k=10)
    )
    q["phrase_slop2"] = lambda s, d: _rounded(
        phrase_topk(_engine(s, d), "batch stream", k=10, slop=2)
    )

    def complex_phrase_q(s, d):
        from solr_spark.query.phrase import complex_phrase_topk

        return _rounded(
            complex_phrase_topk(_engine(s, d), "bat* stream", k=10)  # default cap=50, same as oracle
        )

    q["complex_phrase_prefix"] = complex_phrase_q

    def near_q(s, d):
        from solr_spark.query.phrase import near_topk

        return _rounded(near_topk(_engine(s, d), ["stream", "batch"], window=3, k=10))

    q["surround_near_unordered"] = near_q
    # lucene-syntax compiled queries: fq filter + prohibited clause; AND
    q["lucene_filter_prohibit"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "lang:en spark merge -batch", k=10)
    )
    q["lucene_and_filter"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "customer AND vector lang:de", k=10)
    )
    # *:* (MatchAllDocsQuery), field:* (FieldExistsQuery), clause^=N
    # (ConstantScoreQuery) — Solr standard-parser surfaces
    q["lucene_match_all"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "*:* AND lang:fr", k=10)
    )
    q["lucene_field_exists"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "lang:* AND scan", k=10)
    )
    q["lucene_const_score"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "scan^=0.5 OR batch", k=10)
    )
    # v2 grammar: range / wildcard / regexp / boost / parenthesized nesting
    q["lucene_range_nchars"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "n_chars:[100 TO 300] spark merge", k=10)
    )
    q["query_wildcard"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "sp?rk*", k=10)
    )
    q["query_regexp"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "/s[pt]ark/", k=10)
    )
    # leading wildcard: an endswith filter over the term dictionary's
    # term column (Lucene's expansion without the reversed-token filter —
    # see suffix_topk)
    q["query_leading_wildcard"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "*er", k=10)
    )
    q["query_boosted_or"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "(spark^2 OR merge) AND table", k=10)
    )
    q["lucene_nested_bool"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "(batch OR stream) AND spark -merge", k=10)
    )
    q["term_range_text"] = lambda s, d: _rounded(
        execute_query(_engine(s, d), "text:[spark TO sparkz]", k=10)
    )

    def simple_q(s, d):
        """`simple` parser (SimpleQParserPlugin): `+`/`|`/`-`/group
        syntax, lenient; same compiler back end as lucene."""
        from solr_spark.plans import execute_ast
        from solr_spark.query.parser import parse_simple

        return _rounded(
            execute_ast(_engine(s, d), parse_simple("(batch|stream)+customer -merge"), k=10)
        )

    q["simple_query_cnf"] = simple_q

    def xml_q(s, d):
        """`{!xmlparser}` (XmlQParserPlugin → Lucene CoreParser DSL):
        nested BooleanQuery/Clause with a boosted term, executed by the
        same AST compiler as the lucene/simple grammars."""
        from solr_spark.plans import execute_ast
        from solr_spark.query.parser import parse_xml_query

        xml = (
            "<BooleanQuery>"
            '<Clause occurs="must"><BooleanQuery>'
            '<Clause occurs="should"><TermQuery>batch</TermQuery></Clause>'
            '<Clause occurs="should"><TermQuery boost="2">stream</TermQuery></Clause>'
            "</BooleanQuery></Clause>"
            '<Clause occurs="must"><TermQuery>spark</TermQuery></Clause>'
            '<Clause occurs="mustNot"><TermQuery>merge</TermQuery></Clause>'
            "</BooleanQuery>"
        )
        return _rounded(execute_ast(_engine(s, d), parse_xml_query(xml), k=10))

    q["xmlparser_bool"] = xml_q

    def json_req(s, d):
        """JSON Request API envelope + JSON Query DSL
        (request/json/RequestUtil.java, JsonQueryConverter.java):
        bool query mixing field/lucene/term sub-parsers with a
        scoreless filter clause, executed by the shared AST compiler."""
        from solr_spark.plans import execute_ast
        from solr_spark.query.parser import parse_json_request

        body = {
            "query": {"bool": {
                "must": [
                    {"bool": {"should": [
                        {"field": {"f": "text", "query": "batch"}},
                        {"lucene": {"query": "stream^2"}},
                    ]}},
                    "spark",
                ],
                "must_not": [{"term": {"f": "text", "v": "merge"}}],
            }},
            "filter": ["customer"],
            "limit": 10,
        }
        ast, k, _ = parse_json_request(body)
        return _rounded(execute_ast(_engine(s, d), ast, k=k))

    q["json_request_bool"] = json_req

    def fielded_wildcard_q(s, d):
        """Fielded wildcard on a doc-registry column (lang:e* — Solr
        standard parser dispatches per field type): compiles to a raw
        sargable column predicate, not a term-dictionary expansion."""
        from solr_spark.plans import execute_query

        return _rounded(execute_query(_engine(s, d), "spark AND lang:e*", k=10))

    q["lucene_fielded_wildcard"] = fielded_wildcard_q

    def switch_q(s, d):
        return _rounded(
            qx.switch_query(
                _engine(s, d), "code",
                cases={"code": "spark merge", "prose": "customer data"},
                default="batch", k=10,
            )
        )

    q["switch_case_query"] = switch_q

    def executor_q(s, d):
        """ExecutorStream analog: three stored lucene expressions compiled
        into one unioned DAG — Spark interleaves all branches' tasks (the
        cluster-wide form of the reference's executor thread pool)."""
        from solr_spark.streaming.executor import executor_stream

        stored = [
            ("qA", "spark merge"),
            ("qB", "(batch OR stream) AND customer -merge"),
            ("qC", "table^2 customer"),
        ]
        return _rounded(executor_stream(_engine(s, d), stored, k=10)).orderBy(
            "query_id", F.desc("score"), "doc_id"
        )

    q["executor_stored_queries"] = executor_q

    q["rank_feature_satu"] = lambda s, d: qx.rank_feature(
        _read(s, d, "documents"), "n_chars", "satu", k_param=100.0, k=10
    ).select("doc_id", F.round("score", 6).alias("score"))

    q["rank_feature_sigm"] = lambda s, d: qx.rank_feature(
        _read(s, d, "documents"), "n_chars", "sigm",
        k_param=500.0, weight=2.0, exponent=2.0, k=10,
    ).select("doc_id", F.round("score", 6).alias("score"))

    q["rank_boost_log"] = lambda s, d: _rounded(
        qx.rank_boost_topk(
            _engine(s, d), "table",
            _read(s, d, "documents"), "n_chars",
            function="log", weight=0.3, scaling_factor=1.0,
        )
    )

    def nrt_incremental(s, d):
        """Incremental (2-batch append + commit) build must be
        query-identical to the batch oracle over the full table."""
        import shutil

        docs = _read(s, d, "documents")
        out = f"/tmp/solr_spark_entry_nrt_{os.path.basename(os.path.normpath(d))}"
        shutil.rmtree(out, ignore_errors=True)
        inc = IncrementalIndexer(s, out, _ENTRY_CONFIG)
        inc.append_batch(docs.where(F.col("doc_id") % 2 == 0), text_col="text", id_col="doc_id")
        inc.append_batch(docs.where(F.col("doc_id") % 2 == 1), text_col="text", id_col="doc_id")
        idx = inc.commit()
        hits = SearchEngine(idx).topk(_Q_OR, k=10, mode="OR")
        return hits.select(
            "doc_id", F.round(F.col("score").cast("double"), 4).alias("score")
        )

    q["nrt_incremental_bm25"] = nrt_incremental

    def nrt_delete(s, d):
        """append → commit → delete-by-query → commit must be
        query-identical to a batch oracle over the SURVIVING docs
        (UpdateLog.java:452 / DeleteStream.java; deletes applied at the
        merge, which the second commit runs over every term bucket)."""
        import shutil

        docs = _read(s, d, "documents")
        out = f"/tmp/solr_spark_entry_nrtdel_{os.path.basename(os.path.normpath(d))}"
        shutil.rmtree(out, ignore_errors=True)
        inc = IncrementalIndexer(s, out, _ENTRY_CONFIG)
        inc.append_batch(docs.where(F.col("doc_id") % 2 == 0), text_col="text",
                         id_col="doc_id", batch_id=0)
        inc.append_batch(docs.where(F.col("doc_id") % 2 == 1), text_col="text",
                         id_col="doc_id", batch_id=1)
        inc.commit()
        inc.delete_by_query(F.col("doc_id") % 7 == 3)
        idx = inc.commit()
        hits = SearchEngine(idx).topk(_Q_OR, k=10, mode="OR")
        return hits.select(
            "doc_id", F.round(F.col("score").cast("double"), 4).alias("score")
        )

    q["nrt_delete_bm25"] = nrt_delete
    q["bm25_mm_2of3"] = lambda s, d: _rounded(qx.mm_topk(_engine(s, d), "spark merge window", mm=2))
    # full Solr mm SPEC grammar (SolrPluginUtils.calculateMinShouldMatch):
    # 4 optional clauses, "3<-25%" → count>3 so -25% applies → 4-int(1.0)=3
    q["edismax_mm_spec"] = lambda s, d: _rounded(
        qx.mm_topk(_engine(s, d), "spark merge window table", mm="3<-25%")
    )
    q["query_prefix"] = lambda s, d: _rounded(qx.prefix_topk(_engine(s, d), "s"))
    q["query_fuzzy"] = lambda s, d: _rounded(qx.fuzzy_topk(_engine(s, d), "sprk"))
    q["mlt_doc42"] = lambda s, d: _rounded(qx.mlt_topk(_engine(s, d), seed_doc_id=42))
    q["rerank_weighted"] = lambda s, d: _rounded(
        qx.rerank_topk(_engine(s, d), "table row", "merge", k=10, rerank_docs=50, weight=2.0)
    )

    def ltr_linear(s, d):
        """LTR LinearModel rescore of the BM25 top-50 window, with the
        extracted feature vector (the CSVFeatureLogger analog)."""
        out = qx.ltr_linear_rescore(_engine(s, d), "table row", "merge", k=10)
        return out.select(
            "doc_id",
            F.round(F.col("score").cast("double"), 4).alias("score"),
            F.round("f_orig", 4).alias("f_orig"),
            F.round("f_sub", 4).alias("f_sub"),
            "f_dl",
            "f_nc",
        )

    q["ltr_linear_rescore"] = ltr_linear

    def ltr_trees(s, d):
        """LTR MultipleAdditiveTreesModel rescore: two frozen depth-2
        trees folded into one JVM CASE expression over the window."""
        out = qx.ltr_trees_rescore(_engine(s, d), "spark merge data", "customer", k=10)
        return out.select(
            "doc_id",
            F.round(F.col("score").cast("double"), 4).alias("score"),
            F.round("f_orig", 4).alias("f_orig"),
            "f_dl",
        )

    q["ltr_trees_rescore"] = ltr_trees

    q["ltr_interleave_teams"] = lambda s, d: qx.interleave_team_draft(
        _engine(s, d), "table row", "merge table", k=10
    )
    q["boost_by_recip_nchars"] = lambda s, d: _rounded(
        qx.boost_topk(
            _engine(s, d),
            "table",
            _read(s, d, "documents").select(
                "doc_id", (F.lit(1.0) / (F.lit(1.0) + 0.001 * F.col("n_chars"))).alias("boost")
            ),
            "boost",
        )
    )
    def external_boost_q(s, d):
        """ExternalFileField analog (historical Solr semantics — the
        feature was removed from the pinned reference tree): keyed float
        file as a function-query boost. The file is synthesized
        deterministically (keys for doc_id%3!=0, later override lines
        for doc_id%7==1 exercising the intra-file last-wins read),
        missing keys take the default 1.0, and BM25('table') is boosted
        multiplicatively."""
        import os as _os
        import tempfile

        from solr_spark.sources.loaders import load_external_floats

        docs = _read(s, d, "documents").select("doc_id")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        path = _os.path.join(
            tempfile.gettempdir(), f"solr_spark_external_{max_id}.txt"
        )
        with open(path, "w") as f:
            f.write("# external_boost=deterministic test file\n")
            for i in range(max_id + 1):
                if i % 3 != 0:
                    f.write(f"{i}={((i * 7) % 100) / 10.0 + 0.5}\n")
            for i in range(max_id + 1):  # later lines win (FileFloatSource)
                if i % 3 != 0 and i % 7 == 1:
                    f.write(f"{i}={((i * 7) % 100) / 10.0 + 2.5}\n")
        ext = load_external_floats(s, path)
        boost_df = docs.join(ext, "doc_id", "left").select(
            "doc_id", F.coalesce("ext_val", F.lit(1.0)).alias("boost")
        )
        return _rounded(qx.boost_topk(_engine(s, d), "table", boost_df, "boost"))

    q["external_file_boost"] = external_boost_q

    q["dismax_text_source"] = lambda s, d: _rounded(
        qx.dismax_topk(
            {"text": _engine(s, d), "source": _engine_field(s, d, "source")},
            "src3 spark", tie=0.1,
        )
    )
    q["maxscore_or"] = lambda s, d: _rounded(
        qx.maxscore_topk(_engine(s, d), "spark merge table")
    )
    q["igain_terms_en"] = lambda s, d: qx.igain_terms(
        _engine(s, d), F.col("lang") == "en", min_df=5, n=10
    )
    q["graph_terms_filter"] = lambda s, d: qx.graph_terms_docs(
        _engine(s, d), "spark merge table", max_doc_freq=600
    )
    q["bm25_stemmed_chain"] = lambda s, d: _bm25_engine(
        _engine_stem(s, d), "tables merges"
    )
    q["bm25_synonyms"] = lambda s, d: _rounded(
        qx.synonym_topk(_engine(s, d), "merge table", _SYNONYMS)
    )
    q["edismax_pf_boost"] = lambda s, d: _rounded(
        qx.edismax_topk(
            {"text": _engine(s, d)}, "batch stream", qf={"text": 1.0}, pf={"text": 2.0}
        )
    )
    q["edismax_bq_bf"] = lambda s, d: _rounded(
        qx.edismax_topk(
            {"text": _engine(s, d), "source": _engine_field(s, d, "source")},
            "src3 spark",
            qf={"text": 1.0, "source": 0.5},
            tie=0.1,
            bq=[("table", 0.5)],
            bf=_read(s, d, "documents").select(
                "doc_id", (F.lit(1.0) / (F.lit(1.0) + 0.001 * F.col("n_chars"))).alias("bf")
            ),
        )
    )
    q["rrf_two_queries"] = lambda s, d: qx.rrf_topk(
        _engine(s, d), ["spark merge", "table row"], k=10, depth=20
    ).withColumn("rrf_score", F.round("rrf_score", 6))
    q["spellcheck_sparkk"] = lambda s, d: qx.spellcheck(_engine(s, d), "sparkk")
    # WordBreak spellchecker: split an unknown compound / combine adjacent
    # fragments (spelling/WordBreakSolrSpellChecker.java)
    q["spellcheck_wordbreak_split"] = lambda s, d: qx.wordbreak_split(
        _engine(s, d), "sparkmerge"
    )

    def filter_pack_q(s, d):
        """Analysis filter pack: EdgeNGram / NGram / Length / KeepWord /
        PatternReplace / Truncate / Reverse / LimitCount / CommonGrams as
        JVM higher-order expressions over the code chain's tokens."""
        from solr_spark.analysis import filters as flt

        docs = _read(s, d, "documents").where(F.col("doc_id") < 30)
        toks = CODE_CHAIN.tokens(F.col("text"))
        out = None
        for name, expr in flt.pack_columns(toks):
            part = docs.select(
                "doc_id",
                F.lit(name).alias("filter"),
                F.posexplode(expr).alias("pos", "token"),
            )
            out = part if out is None else out.unionByName(part)
        return out.orderBy("doc_id", "filter", "pos")

    q["analysis_filter_pack"] = filter_pack_q
    q["spellcheck_wordbreak_combine"] = lambda s, d: qx.wordbreak_combine(
        _engine(s, d), ["win", "dow", "cus", "tomer"]
    )
    q["suggest_prefix_s"] = lambda s, d: qx.suggest(_engine(s, d), "s")
    q["suggest_infix_er"] = lambda s, d: qx.suggest_infix(_engine(s, d), "er")
    q["suggest_blended_infix_ar"] = lambda s, d: qx.suggest_blended_infix(
        _engine(s, d), "ar"
    )
    q["suggest_context_en"] = lambda s, d: qx.suggest_infix_context(
        _read(s, d, "documents"), "text", "lang", "en", "er"
    )

    def facet_sort_stat_q(s, d):
        """JSON facet bucket sort by nested stat (sort:"avg_n_chars desc")
        — exact by construction in Spark (no overrequest/refinement)."""
        from solr_spark.operators.relational import json_facet_sort_by_stat

        return json_facet_sort_by_stat(
            _read(s, d, "documents"), "lang", "n_chars", agg="avg", limit=3
        )

    q["facet_sort_by_stat"] = facet_sort_stat_q
    q["suggest_freetext_data"] = lambda s, d: qx.suggest_freetext(
        _read(s, d, "documents"), "text", "data", n=5
    )
    q["mlt_interesting_terms"] = lambda s, d: qx.mlt_interesting_terms(
        _engine(s, d), seed_doc_id=42, max_terms=10
    )
    q["highlight_merge"] = lambda s, d: _rounded(
        qx.highlight_topk(_engine(s, d), "merge", _read(s, d, "documents"))
    )
    q["significant_terms_spark"] = lambda s, d: qx.significant_terms(
        _engine(s, d), "spark"
    ).withColumn("score", F.round("score", 6))
    q["highlight_multi_terms"] = lambda s, d: qx.highlight_multi(
        _engine(s, d), "merge batch", _read(s, d, "documents")
    ).select("doc_id", F.round(F.col("score").cast("double"), 4).alias("score"),
             "term", "snippet")
    q["spellcheck_collation"] = lambda s, d: qx.spellcheck_collate(
        _engine(s, d), "sparkk mergge"
    )
    q["query_elevation"] = lambda s, d: qx.elevate_topk(
        _engine(s, d), "table", [42, 7], k=10
    )
    q["term_vector_doc42"] = lambda s, d: qx.term_vector(_engine(s, d), 42)

    def stats_sumsq(s, d):
        return stats_numeric(_read(s, d, "documents"), "n_chars").select(
            F.col("count").cast("long").alias("count"),
            F.col("sumsq").cast("long").alias("sumsq"),
            F.col("countvals_distinct").cast("long").alias("n_distinct"),
        )

    q["stats_sumsq_nchars"] = stats_sumsq

    def relatedness_q(s, d):
        from solr_spark.operators.relational import relatedness_facet

        return relatedness_facet(
            _read(s, d, "documents"), "source", F.col("lang") == "en", limit=20
        )

    q["relatedness_source_en"] = relatedness_q

    def blockjoin_q(s, d):
        from solr_spark.operators.relational import block_join_parent

        return (
            block_join_parent(
                _read(s, d, "orders"), _read(s, d, "lineitem"),
                "o_orderkey", "l_orderkey",
                F.col("l_quantity") >= 45, score_mode="count",
            )
            .select("o_orderkey", "score")
            .orderBy("o_orderkey")
            .limit(100)
        )

    q["blockjoin_orders_lineitem"] = blockjoin_q

    def blockjoin_scored_q(s, d):
        """{!parent score=avg} — ToParentBlockJoinQuery ScoreMode.Avg:
        parent score = avg of matching children's value."""
        from solr_spark.operators.relational import block_join_parent

        return (
            block_join_parent(
                _read(s, d, "orders"), _read(s, d, "lineitem"),
                "o_orderkey", "l_orderkey",
                F.col("l_quantity") >= 45,
                score_mode="avg", score_col="l_extendedprice",
            )
            .select("o_orderkey", "score")
            .orderBy(F.desc("score"), F.asc("o_orderkey"))
            .limit(50)
        )

    q["blockjoin_score_avg"] = blockjoin_scored_q

    def unique_block_q(s, d):
        from solr_spark.operators.relational import unique_block

        return unique_block(_read(s, d, "lineitem"), "l_returnflag", "l_orderkey")

    q["uniqueblock_lineitem"] = unique_block_q

    # --- sources/sinks + function-query scalars ---
    def csv_roundtrip(s, d):
        """CSV writer → CSV loader roundtrip preserves the table exactly
        (response-writer + ingest-loader parity)."""
        import shutil

        from solr_spark.sources import load_csv_docs, write_response_csv

        docs = _read(s, d, "documents").select("doc_id", "lang", "n_chars")
        tmp = f"/tmp/solr_spark_entry_csv_{os.path.basename(os.path.normpath(d))}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_response_csv(docs, tmp)
        back = load_csv_docs(s, tmp, schema="doc_id long, lang string, n_chars long")
        return back.groupBy("lang").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).orderBy("lang")

    q["csv_roundtrip_ingest"] = csv_roundtrip

    def xml_roundtrip(s, d):
        """Solr XML update format writer → XMLLoader roundtrip
        (handler/loader/XMLLoader.java:178) — stdlib-etree parse in
        mapInPandas, no external xml package."""
        import shutil

        from solr_spark.sources import load_xml_docs, write_update_xml

        docs = _read(s, d, "documents").select("doc_id", "lang", "text")
        tmp = f"/tmp/solr_spark_entry_xml_{os.path.basename(os.path.normpath(d))}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_update_xml(docs, tmp)
        back = load_xml_docs(s, tmp, schema="doc_id long, lang string, text string")
        return back.groupBy("lang").agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        ).orderBy("lang")

    q["xml_roundtrip_ingest"] = xml_roundtrip

    def json_roundtrip(s, d):
        """JSONResponseWriter → JsonLoader roundtrip (newline-delimited
        /update/json/docs form)."""
        import shutil

        from solr_spark.sources import load_json_docs, write_response_json

        docs = _read(s, d, "documents").select("doc_id", "lang", "n_chars")
        tmp = f"/tmp/solr_spark_entry_json_{os.path.basename(os.path.normpath(d))}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_response_json(docs, tmp)
        back = load_json_docs(s, tmp, schema="doc_id long, lang string, n_chars long")
        return back.groupBy("lang").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).orderBy("lang")

    q["json_roundtrip_ingest"] = json_roundtrip

    def javabin_roundtrip(s, d):
        """JavaBin writer → JavabinLoader roundtrip: one marshalled
        SolrDocumentList file per partition, decoded distributed
        (from-scratch JavaBinCodec.java wire format — see
        solr_spark/sources/javabin.py; handler/loader/JavabinLoader.java)."""
        import shutil

        from solr_spark.sources import load_javabin, write_javabin

        docs = _read(s, d, "documents").select("doc_id", "lang", "n_chars")
        tmp = f"/tmp/solr_spark_entry_javabin_{os.path.basename(os.path.normpath(d))}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_javabin(docs, tmp)
        back = load_javabin(s, tmp, "doc_id long, lang string, n_chars long")
        return back.groupBy("lang").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).orderBy("lang")

    q["javabin_roundtrip_ingest"] = javabin_roundtrip

    def cbor_roundtrip(s, d):
        """CBOR writer → CborLoader roundtrip: one RFC 8949 array-of-
        doc-maps file per partition (handler/loader/CborLoader.java:54;
        from-scratch codec in solr_spark/sources/cbor.py)."""
        import shutil

        from solr_spark.sources import load_cbor, write_cbor

        docs = _read(s, d, "documents").select("doc_id", "lang", "n_chars")
        tmp = f"/tmp/solr_spark_entry_cbor_{os.path.basename(os.path.normpath(d))}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_cbor(docs, tmp)
        back = load_cbor(s, tmp, "doc_id long, lang string, n_chars long")
        return back.groupBy("lang").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).orderBy("lang")

    q["cbor_roundtrip_ingest"] = cbor_roundtrip

    def func_scalars(s, d):
        from solr_spark.functions import linear, map_value, recip, strdist

        docs = _read(s, d, "documents").where(F.col("doc_id") < 20)
        return docs.select(
            "doc_id",
            F.round(recip(F.col("n_chars").cast("double"), 0.001, 1.0, 1.0), 6).alias("recip_nchars"),
            F.round(linear(F.col("n_chars").cast("double"), 2.0, 10.0), 4).alias("linear_nchars"),
            map_value(F.col("n_chars").cast("double"), 0.0, 300.0, -1.0).alias("map_nchars"),
            F.round(strdist(F.col("lang"), F.lit("python")), 6).alias("strdist_lang"),
        ).orderBy("doc_id")

    q["function_query_scalars"] = func_scalars

    # --- join / graph / paging / update-path operators ---
    def join_q(s, d):
        orders = _read(s, d, "orders")
        rich = _read(s, d, "customer").where(F.col("c_acctbal") > 9000)
        return (
            join_filter(orders, rich, "c_custkey", "o_custkey")
            .select("o_orderkey", "o_custkey")
            .orderBy("o_orderkey")
            .limit(100)
        )

    q["join_orders_rich_customers"] = join_q

    def join_score_q(s, d):
        """`{!join score=max}` (ScoreJoinQParserPlugin / Lucene JoinUtil
        ScoreMode.Max): from-side query = urgent orders scored by
        o_totalprice (function-query score), aggregated per custkey and
        carried onto the to-side customer docs as their score."""
        from solr_spark.operators.relational import join_score

        urgent = (
            _read(s, d, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey", F.col("o_totalprice").cast("double").alias("score"))
        )
        return (
            join_score(
                _read(s, d, "customer"), urgent,
                "o_custkey", "c_custkey", mode="max",
            )
            .select(
                "c_custkey", "c_name",
                F.round("join_score", 2).alias("join_score"),
            )
            .orderBy(F.desc("join_score"), F.asc("c_custkey"))
            .limit(25)
        )

    q["join_score_max"] = join_score_q

    def graph_q(s, d):
        li = _read(s, d, "lineitem")
        fwd = li.select(
            (F.col("l_orderkey") * 2).alias("src"), (F.col("l_suppkey") * 2 + 1).alias("dst")
        )
        edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        start_order = li.agg(F.min("l_orderkey")).collect()[0][0]
        return graph_traverse(edges, "src", "dst", [start_order * 2], max_depth=2).orderBy(
            "depth", "node"
        )

    q["graph_2hop_lineitem"] = graph_q

    q["frange_recip_nchars"] = lambda s, d: frange_filter(
        _read(s, d, "documents"),
        F.lit(1.0) / (F.lit(1.0) + 0.001 * F.col("n_chars")),
        0.6, 0.8,
    ).select("doc_id", F.round("func_value", 6).alias("func_value")).orderBy("doc_id")

    def cursor_q(s, d):
        """cursorMark demo: WALKS three pages driver-side on purpose —
        each `cursor_page(after=...)` call is itself the stateless
        search_after operator (the cursor is plain data, relational.py);
        a real pager issues one such call per request. The loop here just
        exercises page-chaining determinism for the oracle."""
        docs = _read(s, d, "documents")
        sort = [("n_chars", "desc"), ("doc_id", "asc")]
        after = None
        page = None
        for _ in range(3):  # walk to page 3 via cursorMark keyset chaining
            page = cursor_page(docs, sort, page_size=20, after=after)
            last = page.collect()[-1]
            after = (last["n_chars"], last["doc_id"])
        return page.select("doc_id", "n_chars")

    q["cursor_page3"] = cursor_q
    # the stateless form: ONE call, cursor passed as plain data (no
    # driver-side chaining) — what a real pager issues per request
    q["search_after_page"] = lambda s, d: cursor_page(
        _read(s, d, "documents"), [("n_chars", "desc"), ("doc_id", "asc")],
        page_size=20, after=(900, 123),
    ).select("doc_id", "n_chars")

    def atomic_q(s, d):
        docs = _read(s, d, "documents")
        updates = docs.where(F.col("doc_id") < 50).select(
            "doc_id", F.lit("updated").alias("lang"), F.lit(1000).alias("n_chars")
        )
        return (
            atomic_update(docs, updates, "doc_id", set_cols=["lang"], inc_cols=["n_chars"])
            .where(F.col("doc_id") < 60)
            .select("doc_id", "lang", "n_chars")
            .orderBy("doc_id")
        )

    q["atomic_update_docs"] = atomic_q

    def atomic_mv_q(s, d):
        """Atomic add / add-distinct / remove / removeregex on a
        multivalued (array) column (AtomicUpdateDocumentMerger.java —
        VERDICT r2 #8). tags starts as [lang, source, lang] (a duplicate
        on purpose, to pin remove-all-occurrences + add-keeps-dups)."""
        docs = _read(s, d, "documents").where(F.col("doc_id") < 40).select(
            "doc_id", F.array("lang", "source", "lang").alias("tags")
        )
        updates = docs.where(F.col("doc_id") < 30).select(
            "doc_id",
            F.array(F.lit("new1"), F.lit("new1")).alias("tags_add"),
            F.array(F.lit("new1"), F.lit("extra")).alias("tags_addd"),
            F.array(F.col("tags")[0]).alias("tags_rm"),
            F.lit("^src1.*$").alias("tags_rmre"),
        )
        out = docs
        for fam, col in [("add_cols", "tags_add"), ("add_distinct_cols", "tags_addd"),
                         ("remove_cols", "tags_rm"), ("removeregex_cols", "tags_rmre")]:
            u = updates.select("doc_id", F.col(col).alias("tags"))
            out = atomic_update(out, u, "doc_id", **{fam: ["tags"]})
        return out.select(
            "doc_id", F.concat_ws("|", "tags").alias("tags")
        ).orderBy("doc_id")

    q["atomic_update_multivalued"] = atomic_mv_q

    q["export_sorted_documents"] = lambda s, d: export_sorted(
        _read(s, d, "documents"),
        [F.desc("n_chars"), F.asc("doc_id")],
        ["doc_id", "n_chars", "lang"],
    )

    q["sorted_early_topk"] = lambda s, d: _sorted_proj(s, d).topk(
        25, fl=["doc_id", "lang", "n_chars"]
    )

    def composite_route_q(s, d):
        """compositeId router co-location invariant: every `lang!doc_id`
        routes to EXACTLY ONE of 8 shards (2^16-aligned shard ranges
        never split a route key's 16 blended low bits). Hash parity
        itself is pinned by the murmur3 golden-vector pytest."""
        from solr_spark.index.routing import route_shard

        docs = _read(s, d, "documents").select(
            F.concat_ws(
                "!", F.col("lang"), F.col("doc_id").cast("string")
            ).alias("id"),
            "lang",
        )
        return (
            docs.select("lang", route_shard(F.col("id"), 8).alias("shard"))
            .groupBy("lang")
            .agg(
                F.countDistinct("shard").alias("shards_used"),
                F.count(F.lit(1)).alias("n_docs"),
            )
            .orderBy("lang")
        )

    q["composite_route_colocation"] = composite_route_q

    q["realtime_get_ids"] = lambda s, d: realtime_get(
        _read(s, d, "documents"), "doc_id", [5, 17, 123]
    ).select("doc_id", "lang", "n_chars").orderBy("doc_id")

    q["facet_pivot_lang_source"] = lambda s, d: facet_pivot(
        _read(s, d, "documents"), ["lang", "source"]
    )

    def facet_nested_q(s, d):
        from solr_spark.operators.relational import json_facet_nested

        return json_facet_nested(
            _read(s, d, "documents"),
            "lang", "source",
            domain_filter=F.col("n_chars") > 200,
            agg_col="n_chars",
        )

    q["facet_lang_sub_source_stats"] = facet_nested_q

    def facet_queries_q(s, d):
        from solr_spark.operators.relational import facet_queries

        return facet_queries(
            _read(s, d, "documents"),
            {
                "long_docs": F.col("n_chars") > 400,
                "short_en": (F.col("n_chars") <= 100) & (F.col("lang") == "en"),
                "zh_docs": F.col("lang") == "zh",
            },
        )

    q["facet_query_counts"] = facet_queries_q

    q["facet_heatmap_events"] = lambda s, d: facet_heatmap(
        _read(s, d, "events").withColumn("hour", F.hour("ts").cast("double")),
        "value", "hour", 0.0, 500.0, 50.0, 0.0, 24.0, 6.0,
    ).select(
        F.col("x_bucket").cast("double").alias("x_bucket"),
        F.col("y_bucket").cast("double").alias("y_bucket"),
        "count",
    )

    def facet_intervals_q(s, d):
        from solr_spark.operators.relational import facet_intervals

        return facet_intervals(
            _read(s, d, "documents"), "n_chars",
            [("tiny", None, 100, True, False),   # [*, 100)
             ("small", 50, 250, True, True),     # [50, 250]  (overlaps!)
             ("mid", 100, 400, False, False),    # (100, 400)
             ("big", 300, None, True, True)],    # [300, *]
        )

    q["facet_intervals_nchars"] = facet_intervals_q

    def agg_hll(s, d):
        """hll agg (search/facet/HLLAgg.java): HyperLogLog++ distinct
        estimate, gated against the exact count (|approx − exact| within
        10% + 1). The oracle asserts the bound holds (TRUE) and checks
        the exact counts; the estimate itself is engine-specific."""
        ev_t = _read(s, d, "events")
        out = ev_t.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", 0.02).alias("approx"),
        )
        bound = F.greatest(F.lit(1).cast("long"), (F.col("exact") * 0.1).cast("long"))
        return out.select(
            "event_type", "exact",
            (F.abs(F.col("approx") - F.col("exact")) <= bound).alias("within_bounds"),
        ).orderBy("event_type")

    q["agg_hll_unique_users"] = agg_hll

    def agg_percentile_sketch(s, d):
        """Sketch percentile (search/facet/PercentileAgg.java — Solr's
        JSON-facet percentile is an AVL t-digest, i.e. APPROXIMATE at
        scale): Spark's approx_percentile sketch gated against the exact
        linear-interpolation quantile — |approx − exact| within 2% of
        the group's value range. Same contract shape as agg_hll: the
        oracle checks the exact values and that the bound holds."""
        li = _read(s, d, "lineitem")
        out = li.groupBy("l_linestatus").agg(
            F.percentile("l_extendedprice", 0.5).alias("exact_p50"),
            F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("approx_p50"),
            (F.max("l_extendedprice") - F.min("l_extendedprice")).alias("rng"),
        )
        return out.select(
            "l_linestatus",
            F.round("exact_p50", 4).alias("exact_p50"),
            (F.abs(F.col("approx_p50") - F.col("exact_p50"))
             <= F.col("rng") * 0.02).alias("within_bounds"),
        ).orderBy("l_linestatus")

    q["agg_percentile_sketch"] = agg_percentile_sketch

    q["stats_percentiles_price"] = lambda s, d: _read(s, d, "orders").agg(
        F.round(F.percentile("o_totalprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.75), 4).alias("p75"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )

    def highlight_passages_q(s, d):
        return qx.highlight_passages(
            _engine(s, d), "customer merge",
            _read(s, d, "documents").where(F.col("doc_id") < 100),
        )

    q["highlight_passages"] = highlight_passages_q

    def tlogit_q(s, d):
        """tlogit (TextLogisticRegressionQParserPlugin): distributed
        full-batch GD with a FROZEN epoch count (15) and per-epoch
        weight rounding (1e-8) — deterministic, so the full train+score
        pipeline is hash-checked against an unrolled-epoch DuckDB
        oracle (convergence additionally gated in tests/test_tlogit.py)."""
        from solr_spark.tlogit import tlogit_classify, tlogit_train

        docs = _read(s, d, "documents")
        label = F.array_contains(CODE_CHAIN.tokens("text"), "customer")
        terms = ["customer", "merge", "join"]
        w = tlogit_train(docs, "text", label, terms, iters=15)
        return (
            tlogit_classify(docs, "text", w, terms, keep_cols=["doc_id"])
            .select("doc_id", F.round("prob", 6).alias("prob"), "predicted")
            .orderBy(F.desc("prob"), F.asc("doc_id"))
            .limit(10)
        )

    q["tlogit_classify_top10"] = tlogit_q

    def tlogit_frozen(s, d):
        """tlogit's q-time half with FROZEN literal weights — the scoring
        path is pure arithmetic over JVM tf features, so unlike the
        trained entry it is fully oracle-checkable."""
        from solr_spark.tlogit import tlogit_classify

        docs = _read(s, d, "documents").where(F.col("doc_id") < 60)
        out = tlogit_classify(
            docs, "text", [-1.0, 0.9, 0.6, -0.8],
            ["spark", "merge", "batch"], keep_cols=["doc_id"],
        )
        return out.select(
            "doc_id", F.round("prob", 6).alias("prob"), "predicted"
        ).orderBy("doc_id")

    q["tlogit_frozen_scores"] = tlogit_frozen

    def child_transform_q(s, d):
        """[child] doc transformer: parents carry nested child values
        (ChildDocTransformerFactory with childFilter)."""
        from solr_spark.operators.relational import child_transform

        orders = _read(s, d, "orders").where(F.col("o_custkey") <= 3)
        li = _read(s, d, "lineitem")
        return (
            child_transform(
                orders.select("o_orderkey"), li, "o_orderkey", "l_orderkey",
                "l_partkey", child_filter=F.col("l_quantity") >= 25,
            )
            .orderBy("o_orderkey")
        )

    q["child_doc_transform"] = child_transform_q

    def subquery_transform_q(s, d):
        """[subquery] doc transformer: each customer row carries its 3
        earliest orders (subq.sort=o_orderdate asc, subq.rows=3)."""
        from solr_spark.operators.relational import subquery_transform

        cust = _read(s, d, "customer").where(F.col("c_custkey") <= 5).select(
            "c_custkey", "c_name"
        )
        orders = _read(s, d, "orders")
        return subquery_transform(
            cust, orders, "c_custkey", "o_custkey",
            [F.asc("o_orderdate"), F.asc("o_orderkey")],
            ["o_orderdate", "o_orderkey"], rows=3,
        ).orderBy("c_custkey")

    q["subquery_doc_transform"] = subquery_transform_q

    def hash_filter_q(s, d):
        """{!hash workers=4 worker=1} over documents — the /export
        parallel() split filter."""
        from solr_spark.operators.relational import hash_partition_filter

        return (
            hash_partition_filter(_read(s, d, "documents"), "doc_id", 4, 1)
            .select("doc_id", "lang")
            .orderBy("doc_id")
        )

    q["hash_partition_filter"] = hash_filter_q

    def random_sample_q(s, d):
        """random() stream as deterministic hash-threshold sampling."""
        from solr_spark.operators.relational import random_hash_sample

        return (
            random_hash_sample(_read(s, d, "documents"), "doc_id", 0.1)
            .select("doc_id")
            .orderBy("doc_id")
        )

    q["random_hash_sample"] = random_sample_q

    # --- spatial: geofilt / bbox / geodist (SpatialFilterQParserPlugin) ---
    from solr_spark.operators.spatial import bbox, geodist, geofilt, synth_coords

    _PT = (40.0, -74.0)

    q["spatial_geofilt"] = lambda s, d: geofilt(
        synth_coords(_read(s, d, "documents"), "doc_id"), "lat", "lon", _PT, 2000.0
    ).select("doc_id", F.round("dist_km", 4).alias("dist_km")).orderBy("doc_id")

    q["spatial_bbox"] = lambda s, d: bbox(
        synth_coords(_read(s, d, "documents"), "doc_id"), "lat", "lon", _PT, 2000.0
    ).select("doc_id", "lat", "lon").orderBy("doc_id")

    q["spatial_geodist_sort"] = lambda s, d: geodist(
        synth_coords(_read(s, d, "documents"), "doc_id"), "lat", "lon", _PT
    ).select("doc_id", F.round("dist_km", 4).alias("dist_km")).orderBy(
        F.asc("dist_km"), F.asc("doc_id")
    ).limit(10)

    # --- payload postings (PayloadScoreQParserPlugin analog) ---
    from solr_spark.query.payload import payload_check, payload_score

    q["payload_score_sum"] = lambda s, d: payload_score(
        _engine_payload(s, d), "customer", func="sum", k=10
    )
    q["payload_score_max"] = lambda s, d: payload_score(
        _engine_payload(s, d), "merge", func="max", k=10
    )
    q["payload_check_exact"] = lambda s, d: payload_check(
        _engine_payload(s, d), "merge", payload=2, k=10
    )

    # --- math/stat stream evaluators (solrj-streaming io/eval slice) ---
    from solr_spark import evaluators as ev

    def eval_corr_regress(s, d):
        """CorrelationEvaluator / RegressionEvaluator analog: one grouped
        JVM aggregation (price scaled to keep magnitudes O(100) so the
        4-decimal cross-engine round is safely inside double precision)."""
        li = _read(s, d, "lineitem").withColumn(
            "y", F.col("l_extendedprice") / F.lit(1000.0)
        )
        out = ev.corr_regress(li, "l_quantity", "y", by="l_returnflag")
        return out.select(
            "l_returnflag", "n",
            F.round("corr", 4).alias("corr"),
            F.round("cov", 4).alias("cov"),
            F.round("slope", 4).alias("slope"),
            F.round("intercept", 4).alias("intercept"),
            F.round("r2", 4).alias("r2"),
        ).orderBy("l_returnflag")

    q["eval_corr_regress"] = eval_corr_regress

    q["eval_hist"] = lambda s, d: ev.hist(
        _read(s, d, "lineitem"), "l_quantity", lo=1.0, width=5.0, n_bins=10
    ).orderBy("bin")

    def eval_describe(s, d):
        out = ev.describe(_read(s, d, "events"), "value", by="event_type")
        return out.select(
            "event_type", "n",
            F.round("mean", 4).alias("mean"),
            F.round("stddev", 4).alias("stddev"),
            F.round("min", 4).alias("min"),
            F.round("max", 4).alias("max"),
            F.round("sum", 4).alias("sum"),
        ).orderBy("event_type")

    q["eval_describe"] = eval_describe

    def eval_percentiles(s, d):
        out = ev.percentiles(
            _read(s, d, "lineitem"), "l_extendedprice",
            [0.25, 0.5, 0.75, 0.95], by="l_linestatus",
        )
        return out.select(
            "l_linestatus", "p", F.round("q", 4).alias("q")
        ).orderBy("l_linestatus", "p")

    q["eval_percentiles"] = eval_percentiles

    def eval_moving_avg(s, d):
        """MovingAverageEvaluator analog: trailing 7-point mean over the
        per-type daily event-count series (grouped window — each group
        sorts inside one task, groups spread across the cluster)."""
        daily = (
            _read(s, d, "events")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.count("*").cast("double").alias("n_events"))
        )
        out = ev.moving_avg(daily, "day", "n_events", n=7, by="event_type")
        return out.select(
            "event_type", "day", F.round("moving_avg", 4).alias("moving_avg_7d")
        ).orderBy("event_type", "day")

    q["eval_moving_avg"] = eval_moving_avg

    def eval_series_diff(s, d):
        """DiffEvaluator analog (serial difference of the daily series);
        first day of each group is NULL, matching the reference's
        series-shortening semantics."""
        daily = (
            _read(s, d, "events")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.count("*").cast("double").alias("n_events"))
        )
        out = ev.series_diff(daily, "day", "n_events", by="event_type")
        return out.select("event_type", "day", "diff").orderBy("event_type", "day")

    q["eval_series_diff"] = eval_series_diff

    def eval_zscores(s, d):
        """zscores/NormalizeEvaluator analog: per-type standardization via
        grouped stats broadcast-joined back (no global window sort), then
        an outlier filter |z| > 2.5."""
        out = ev.zscores(_read(s, d, "events"), "value", by="event_type")
        return (
            out.where(F.abs(F.col("zscore")) > 2.5)
            .select(
                "event_id", "event_type", "value",
                F.round("zscore", 4).alias("zscore"),
            )
            .orderBy("event_id")
        )

    q["eval_zscores"] = eval_zscores

    def eval_ema(s, d):
        """ExponentialMovingAverageEvaluator analog: seed = mean of the
        first 7 daily counts, then y = 0.25*(x-y)+y per day, per type."""
        daily = (
            _read(s, d, "events")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.count("*").cast("double").alias("n_events"))
        )
        out = ev.ema(daily, "day", "n_events", window=7, by="event_type")
        return out.select(
            "event_type", "day", F.round("ema", 4).alias("ema")
        ).orderBy("event_type", "day")

    q["eval_ema"] = eval_ema

    def _daily(s, d):
        return (
            _read(s, d, "events")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.count("*").cast("double").alias("n_events"))
        )

    def eval_moving_median(s, d):
        """MovingMedianEvaluator analog: median of each full 7-day
        trailing window (all-JVM array ops, grouped window)."""
        out = ev.moving_median(_daily(s, d), "day", "n_events", n=7, by="event_type")
        return out.select(
            "event_type", "day", F.round("moving_median", 4).alias("moving_median")
        ).orderBy("event_type", "day")

    q["eval_moving_median"] = eval_moving_median

    def eval_moving_mad(s, d):
        """MovingMADEvaluator analog: mean absolute deviation around each
        full 7-day window's mean (higher-order functions, no Python)."""
        out = ev.moving_mad(_daily(s, d), "day", "n_events", n=7, by="event_type")
        return out.select(
            "event_type", "day", F.round("moving_mad", 4).alias("moving_mad")
        ).orderBy("event_type", "day")

    q["eval_moving_mad"] = eval_moving_mad

    def eval_ttest_welch(s, d):
        """TTestEvaluator analog (two-sample Welch): click vs error
        values — one grouped aggregation, no collect."""
        out = ev.welch_ttest(
            _read(s, d, "events"), "value", "event_type", "click", "error"
        )
        return out.select(
            F.round("t_stat", 6).alias("t_stat"), F.round("df", 4).alias("df")
        )

    q["eval_ttest_welch"] = eval_ttest_welch

    def eval_minmax_scale(s, d):
        """MinMaxScaleEvaluator analog: per-type rescale of value to
        [0,1]; broadcast-stats join (same shape as zscores)."""
        out = ev.minmax_scale(
            _read(s, d, "events").where(F.col("event_id") < 1000),
            "value", by="event_type",
        )
        return out.select(
            "event_id", "event_type", F.round("scaled", 6).alias("scaled")
        ).orderBy("event_id")

    q["eval_minmax_scale"] = eval_minmax_scale

    def eval_spearman(s, d):
        """CorrelationEvaluator type=spearmans analog: average-rank
        transform over the value dictionary (no row-level window), then
        one grouped Pearson corr of the ranks."""
        out = ev.spearman_corr(
            _read(s, d, "lineitem"), "l_quantity", "l_extendedprice",
            by="l_returnflag",
        )
        return out.select(
            "l_returnflag", "n", F.round("spearman", 4).alias("spearman")
        ).orderBy("l_returnflag")

    q["eval_spearman"] = eval_spearman

    def eval_mann_whitney(s, d):
        """MannWhitneyUEvaluator analog: pooled average ranks (value-
        dictionary window), tie-corrected normal-approximation z."""
        out = ev.mann_whitney(
            _read(s, d, "events"), "value", "event_type", "click", "error"
        )
        return out.select(
            F.round("u1", 4).alias("u1"),
            F.round("u2", 4).alias("u2"),
            F.round("z", 6).alias("z"),
        )

    q["eval_mann_whitney"] = eval_mann_whitney

    def eval_chi_square(s, d):
        """ChiSquareDataSetEvaluator analog: independence over the
        returnflag × linestatus contingency table."""
        out = ev.chi_square(_read(s, d, "lineitem"), "l_returnflag", "l_linestatus")
        return out.select(
            F.round("chi2", 4).alias("chi2"), F.col("dof"), F.col("n")
        )

    q["eval_chi_square"] = eval_chi_square

    def eval_anova(s, d):
        """AnovaEvaluator analog: one-way F of value across event types."""
        out = ev.anova1(_read(s, d, "events"), "value", "event_type")
        return out.select(
            F.round("f_stat", 6).alias("f_stat"), F.col("df1"), F.col("df2")
        )

    q["eval_anova"] = eval_anova

    def eval_multi_kmeans(s, d):
        """MultiKmeansEvaluator analog (io/eval/MultiKmeansEvaluator.java):
        R restarts of one Lloyd step fused into a single aggregation job;
        the lowest-WCSS restart wins (ties -> lowest restart id)."""
        out = ev.multi_kmeans_step_1d(
            _read(s, d, "lineitem"), "l_quantity",
            [[10.0, 25.0, 40.0], [0.0, 100.0]],
        )
        return out.select(
            "restart", "cluster", "n",
            F.round("new_centroid", 4).alias("new_centroid"),
            F.round("wcss", 4).alias("wcss"),
        ).orderBy("cluster")

    q["eval_multi_kmeans"] = eval_multi_kmeans

    # --- registry evaluators (the Lang.java long tail: scalar, temporal,
    #     array, vector-distance, matrix — solr_spark/evaluator_registry) ---
    from solr_spark.evaluator_registry import ev as evr

    def eval_registry_scalars(s, d):
        """Scalar evaluator slice (Add/Subtract/Modulo/CubedRoot/Log10/
        Power/Round/Factorial/BinomialCoefficient/Conversion/Sine/
        ArcTangent io/eval/) over distinct lineitem keys."""
        base = (
            _read(s, d, "lineitem")
            .where(F.col("l_linenumber") <= 6)
            .select(
                F.col("l_quantity").cast("double").alias("q"),
                F.col("l_linenumber").alias("ln"),
            )
            .distinct()
        )
        return base.select(
            "q", "ln",
            evr("abs", evr("sub", "q", 25.0)).alias("abs_dev"),
            evr("mod", "q", 7.0).alias("mod7"),
            F.round(evr("cbrt", "q"), 6).alias("cbrt"),
            F.round(evr("log10", "q"), 6).alias("log10"),
            evr("pow", "q", 2.0).alias("sq"),
            evr("round", evr("sub", "q", 2.5)).alias("rnd"),
            evr("factorial", "ln").alias("fact"),
            evr("binomialCoefficient", evr("add", "q", 2.0), 3).alias("binom"),
            F.round(evr("convert", "miles", "kilometers", "q"), 6).alias("mi_km"),
            F.round(evr("sin", "q"), 6).alias("sin"),
            F.round(evr("atan", "q"), 6).alias("atan"),
        ).orderBy("q", "ln")

    q["eval_registry_scalars"] = eval_registry_scalars

    def eval_registry_temporal(s, d):
        """TemporalEvaluator* (year..quarter, epoch=ms-at-UTC, week=ISO)."""
        e = _read(s, d, "events").where(F.col("event_id") < 300)
        names = ["year", "month", "day", "dayOfYear", "dayOfQuarter",
                 "hour", "minute", "second", "week", "quarter"]
        return e.select(
            "event_id",
            *[evr(n, "ts").alias(n.lower()) for n in names],
            evr("epoch", "ts").alias("epoch"),
        ).orderBy("event_id")

    q["eval_registry_temporal"] = eval_registry_temporal

    def eval_registry_array(s, d):
        """Array evaluator slice (Reverse/CopyOfRange/Asc/LeftShift/
        NormalizeSum/Unit/MinMaxScale/EBEAdd/Norm io/eval/) over the first
        8 embedding dims; floats cast to double so both engines compute
        identical IEEE sums (in-order folds on both sides)."""
        e = (
            _read(s, d, "embeddings")
            .where(F.col("vec_id") < 20)
            .select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            )
        )
        v8 = evr("copyOfRange", "v", 0, 8)
        a8 = F.transform(v8, F.abs)
        return e.select(
            "vec_id",
            evr("length", "v").alias("dim"),
            F.round(evr("valueAt", "v", 0), 4).alias("first"),
            evr("precision", evr("asc", v8), 4).alias("sorted8"),
            evr("precision", evr("rev", v8), 4).alias("rev8"),
            evr("precision", evr("ltrim", v8), 4).alias("lshift"),
            evr("precision", evr("normalizeSum", a8), 4).alias("nsum"),
            evr("precision", evr("unitize", v8), 4).alias("unit"),
            evr("precision", evr("minMaxScale", v8), 4).alias("mms"),
            evr("precision", evr("ebeAdd", v8, evr("rev", v8)), 4).alias("plus_rev"),
            F.round(evr("l2norm", v8), 4).alias("l2"),
        ).orderBy("vec_id")

    q["eval_registry_array"] = eval_registry_array

    def eval_registry_distances(s, d):
        """Distance evaluators (Euclidean/Manhattan/Chebyshev/Canberra/
        CosineDistance/DotProduct io/eval/) on consecutive embedding
        pairs — zip_with + in-order aggregate folds, all JVM."""
        e = (
            _read(s, d, "embeddings")
            .where(F.col("vec_id") < 31)
            .select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            )
        )
        a, b = e.alias("a"), e.alias("b")
        av, bv = F.col("a.v"), F.col("b.v")
        return (
            a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
            .select(
                F.col("a.vec_id").alias("vec_id"),
                F.round(evr("dotProduct", av, bv), 4).alias("dot"),
                F.round(evr("cosineSimilarity", av, bv), 4).alias("cos_sim"),
                F.round(evr("cosine", av, bv), 4).alias("cos_dist"),
                F.round(evr("euclidean", av, bv), 4).alias("euclid"),
                F.round(evr("manhattan", av, bv), 4).alias("manhattan"),
                F.round(evr("chebyshev", av, bv), 4).alias("chebyshev"),
                F.round(evr("canberra", av, bv), 4).alias("canberra"),
            )
            .orderBy("vec_id")
        )

    q["eval_registry_distances"] = eval_registry_distances

    def eval_registry_matrix(s, d):
        """Matrix evaluators (Matrix/Transpose/SumRows/SumColumns/GrandSum/
        RowAt/ColumnAt/MatrixMultiply io/eval/) on a 3×4 matrix assembled
        from the first three embeddings (deterministic: array_sort on the
        (vec_id, row) struct fixes collect_list order)."""
        em = (
            _read(s, d, "embeddings")
            .where(F.col("vec_id") < 3)
            .select(
                "vec_id",
                F.slice(
                    F.transform("embedding", lambda x: x.cast("double")), 1, 4
                ).alias("r"),
            )
        )
        wide = em.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("vec_id", "r"))).alias("z")
        )
        m = F.transform(F.col("z"), lambda st: st["r"])
        return wide.select(
            evr("rowCount", m).alias("n_rows"),
            evr("columnCount", m).alias("n_cols"),
            F.round(evr("grandSum", m), 4).alias("grand"),
            evr("precision", evr("sumRows", m), 4).alias("sumrows"),
            evr("precision", evr("sumColumns", m), 4).alias("sumcols"),
            evr("precision", evr("colAt", m, 1), 4).alias("col1"),
            evr("precision", evr("rowAt", evr("transpose", m), 2), 4).alias("trow2"),
            F.transform(
                evr("matrixMult", m, evr("transpose", m)),
                lambda r: F.transform(r, lambda x: F.round(x, 4)),
            ).alias("mmt"),
        )

    q["eval_registry_matrix"] = eval_registry_matrix

    def eval_moments(s, d):
        """Skewness / excess-kurtosis / geometric / harmonic means from
        raw power sums (price pre-scaled by 1e4 — the moments are
        scale-invariant and the scaling keeps E[x⁴] in clean-double
        range; both engines compute the identical formula)."""
        li = _read(s, d, "lineitem").withColumn(
            "x", F.col("l_extendedprice") / F.lit(10000.0)
        )
        out = ev.moments(li, "x", by="l_returnflag")
        return out.select(
            "l_returnflag", "n",
            F.round("mean", 4).alias("mean"),
            F.round("skewness", 4).alias("skewness"),
            F.round("kurtosis", 4).alias("kurtosis"),
            F.round("geo_mean", 4).alias("geo_mean"),
            F.round("harm_mean", 4).alias("harm_mean"),
        ).orderBy("l_returnflag")

    q["eval_moments"] = eval_moments

    def eval_outliers(s, d):
        """OutliersEvaluator analog (normalDistribution fit): rows whose
        per-type normal CDF is < 0.005 or > 0.995 — inverse CDF once on
        the driver, JVM z-score filter executor-side."""
        out = ev.outliers_normal(
            _read(s, d, "events"), "value", 0.005, 0.995, by="event_type"
        )
        return out.select(
            "event_id", "event_type", F.round("value", 4).alias("value")
        ).orderBy("event_id")

    q["eval_outliers"] = eval_outliers

    def _daily_xy(s, d):
        """Per-type daily series with a numeric x (day offset from
        2024-01-01) — shared input for the series-calculus entries."""
        return (
            _read(s, d, "events")
            .groupBy(
                "event_type",
                F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
                .cast("double")
                .alias("x"),
            )
            .agg(F.count("*").cast("double").alias("y"))
        )

    def eval_integrate(s, d):
        """IntegrateEvaluator analog: cumulative trapezoid integral of
        the daily count series per event type."""
        out = ev.integrate_trapezoid(_daily_xy(s, d), "x", "y", by="event_type")
        return out.select(
            "event_type", "x", F.round("integral", 4).alias("integral")
        ).orderBy("event_type", "x")

    q["eval_integrate"] = eval_integrate

    def eval_convolve(s, d):
        """ConvolutionEvaluator analog: full discrete convolution of the
        daily series with a smoothing kernel [0.25, 0.5, 0.25] — explode
        + grouped sum, output length n+m-1 per group."""
        out = ev.convolve(
            _daily_xy(s, d), "x", "y", [0.25, 0.5, 0.25], by="event_type"
        )
        return out.select(
            "event_type", "t", F.round("conv", 4).alias("conv")
        ).orderBy("event_type", "t")

    q["eval_convolve"] = eval_convolve

    def eval_derivative(s, d):
        """DerivativeEvaluator analog: central finite differences of the
        daily series (one-sided at the series ends)."""
        out = ev.derivative_fd(_daily_xy(s, d), "x", "y", by="event_type")
        return out.select(
            "event_type", "x", F.round("derivative", 4).alias("derivative")
        ).orderBy("event_type", "x")

    q["eval_derivative"] = eval_derivative

    def eval_find_delay(s, d):
        """FindDelayEvaluator analog: best-alignment lag between the
        daily click and error count series — FFT cross-correlation,
        O((n+m) log(n+m)), with exact re-score of near-max lags (the
        O(n·m) pair-join form survives as find_delay_pairs, and as this
        entry's DuckDB oracle)."""
        daily = (
            _read(s, d, "events")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
                .cast("double").alias("a"),
                F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
                .cast("double").alias("b"),
            )
        )
        return ev.find_delay(daily, "day", "a", "b")

    q["eval_find_delay"] = eval_find_delay

    def eval_kendall(s, d):
        """CorrelationEvaluator type=kendalls analog (tau-b): Knight's
        O(n log n) merge-count algorithm per group (the quadratic
        pair-count form survives as kendall_tau_pairs, and as this
        entry's DuckDB oracle). The deterministic subset keeps the
        QUADRATIC oracle cheap — the Spark side no longer needs it."""
        li = _read(s, d, "lineitem").where(F.col("l_orderkey") % 199 == 0)
        out = ev.kendall_tau(li, "l_quantity", "l_extendedprice", by="l_returnflag")
        return out.select(
            "l_returnflag", F.round("kendall_tau", 4).alias("kendall_tau")
        ).orderBy("l_returnflag")

    q["eval_kendall"] = eval_kendall

    def eval_corr_matrix(s, d):
        """CorrelationEvaluator matrix form: full corr/cov matrix over
        four lineitem measures — one aggregation, one shuffle."""
        out = ev.corr_matrix(
            _read(s, d, "lineitem"),
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        )
        return out.select(
            "col_x", "col_y",
            # + 0.0 normalizes IEEE -0.0 from rounding tiny negatives
            (F.round("corr", 4) + F.lit(0.0)).alias("corr"),
            (F.round("cov", 4) + F.lit(0.0)).alias("cov"),
        ).orderBy("col_x", "col_y")

    q["eval_corr_matrix"] = eval_corr_matrix

    q["eval_oscillate"] = lambda s, d: ev.oscillate(
        s, 32, amplitude=2.5, angular_freq=0.4, phase=1.0
    ).select("i", F.round("wave", 6).alias("wave")).orderBy("i")

    q["eval_primes"] = lambda s, d: ev.primes(s, 200)

    q["eval_montecarlo"] = lambda s, d: ev.montecarlo_exponential(
        s, 10_000, lam=0.5, moment=2
    ).select(
        "n",
        F.round("estimate", 4).alias("estimate"),
        F.round("stddev", 4).alias("stddev"),
    )

    def eval_precision(s, d):
        out = ev.precision_matrix(
            _read(s, d, "lineitem").withColumn(
                "y", F.col("l_extendedprice") / F.lit(1000.0)
            ),
            "l_quantity", "y",
        )
        return out.select(
            F.round("p_xx", 8).alias("p_xx"),
            F.round("p_xy", 8).alias("p_xy"),
            F.round("p_yy", 8).alias("p_yy"),
        )

    q["eval_precision_matrix"] = eval_precision

    def eval_pair_sort(s, d):
        base = _read(s, d, "documents").where(F.col("doc_id") <= 10).select(
            "doc_id",
            F.array(
                (F.col("n_chars") % 7).cast("long"),
                (F.col("n_chars") % 5).cast("long"),
                (F.col("n_chars") % 3).cast("long"),
            ).alias("k"),
            F.array(F.lit(1).cast("long"), F.lit(2).cast("long"), F.lit(3).cast("long")).alias("v"),
        )
        return ev.pair_sort(base, "k", "v").select(
            "doc_id", "sorted_keys", "sorted_vals"
        ).orderBy("doc_id")

    q["eval_pair_sort"] = eval_pair_sort

    def _daily_ab(s, d):
        """Paired daily (click, error) count series — shared input for the
        distance / paired-t-test / KS evaluator entries."""
        return (
            _read(s, d, "events")
            .groupBy(F.to_date("ts").alias("day"))
            .agg(
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
                .cast("double").alias("a"),
                F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
                .cast("double").alias("b"),
            )
        )

    def eval_dft(s, d):
        """FFTEvaluator analog: frequency spectrum of the per-type daily
        count series (DFT as a group-keyed pair join — the reference's
        commons-math FFT needs the whole series on one machine)."""
        out = ev.dft_magnitude(_daily_xy(s, d), "x", "y", by="event_type")
        return out.select(
            "event_type", "k",
            (F.round("re", 4) + F.lit(0.0)).alias("re"),
            (F.round("im", 4) + F.lit(0.0)).alias("im"),
            F.round("magnitude", 4).alias("magnitude"),
        ).orderBy("event_type", "k")

    q["eval_dft"] = eval_dft

    def eval_ifft(s, d):
        """IFFT roundtrip: DFT of the daily count series, then the
        inverse transform — the reconstruction must equal the original
        series (the reference's fft/ifft roundtrip test), both
        transforms as distributed group-keyed pair joins."""
        spec = ev.dft_magnitude(_daily_xy(s, d), "x", "y", by="event_type")
        rec = ev.idft_reconstruct(spec, "k", "re", "im", by="event_type")
        return rec.select(
            "event_type", "i", F.round("y", 5).alias("y_rec")
        ).orderBy("event_type", "i")

    q["eval_ifft_roundtrip"] = eval_ifft

    def eval_frequency_table(s, d):
        """FrequencyTableEvaluator analog: value dictionary with counts,
        pct, and cumulative freq/pct per return flag."""
        out = ev.frequency_table(
            _read(s, d, "lineitem"), "l_quantity", by="l_returnflag"
        )
        return out.select(
            "l_returnflag",
            F.col("l_quantity").cast("long").alias("quantity"),
            "count",
            F.round("pct", 6).alias("pct"),
            "cum_freq",
            F.round("cum_pct", 6).alias("cum_pct"),
        ).orderBy("l_returnflag", "quantity")

    q["eval_frequency_table"] = eval_frequency_table

    def eval_mode(s, d):
        """ModeEvaluator analog: most frequent quantity per return flag,
        smallest-value tie-break."""
        out = ev.mode_value(_read(s, d, "lineitem"), "l_quantity", by="l_returnflag")
        return out.select(
            "l_returnflag",
            F.col("mode").cast("long").alias("mode"),
            "mode_count",
        ).orderBy("l_returnflag")

    q["eval_mode"] = eval_mode

    def eval_distances(s, d):
        """Distance-evaluator family (euclidean/manhattan/chebyshev/
        canberra/cosine/dotProduct) over the paired daily series — all six
        in ONE grouped aggregation."""
        out = ev.distance_family(_daily_ab(s, d), "a", "b")
        return out.select(
            F.round("euclidean", 4).alias("euclidean"),
            F.round("manhattan", 4).alias("manhattan"),
            F.round("chebyshev", 4).alias("chebyshev"),
            F.round("canberra", 4).alias("canberra"),
            F.round("cosine_similarity", 6).alias("cosine_similarity"),
            F.round("dot_product", 4).alias("dot_product"),
        )

    q["eval_distances"] = eval_distances

    def eval_normalize(s, d):
        """Norm/normalize evaluator family (l1/l2/lInf norms, normalizeSum,
        unitize, standardize) on a deterministic lineitem subset."""
        li = _read(s, d, "lineitem").where(F.col("l_orderkey") % 499 == 0).select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
        )
        out = ev.normalize_family(li, "l_quantity", by="l_returnflag")
        return out.select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            F.col("l_quantity").cast("long").alias("quantity"),
            F.round("l1_norm", 4).alias("l1_norm"),
            F.round("l2_norm", 4).alias("l2_norm"),
            F.round("linf_norm", 4).alias("linf_norm"),
            F.round("normalize_sum", 6).alias("normalize_sum"),
            F.round("unitize", 6).alias("unitize"),
            (F.round("standardize", 4) + F.lit(0.0)).alias("standardize"),
        ).orderBy("l_orderkey", "l_linenumber")

    q["eval_normalize"] = eval_normalize

    def eval_polyfit(s, d):
        """PolyFitEvaluator analog: degree-2 least squares on the daily
        series (x scaled /10 to keep the normal-equation sums O(10) so the
        closed-form Cramer solve is rounding-stable cross-engine)."""
        daily = _daily_xy(s, d).withColumn("xs", F.col("x") / F.lit(10.0))
        out = ev.polyfit2(daily, "xs", "y", by="event_type")
        return out.select(
            "event_type",
            (F.round("c0", 4) + F.lit(0.0)).alias("c0"),
            (F.round("c1", 4) + F.lit(0.0)).alias("c1"),
            (F.round("c2", 4) + F.lit(0.0)).alias("c2"),
            (F.round("d0", 4) + F.lit(0.0)).alias("d0"),
            (F.round("d1", 4) + F.lit(0.0)).alias("d1"),
        ).orderBy("event_type")

    q["eval_polyfit"] = eval_polyfit

    def eval_ks(s, d):
        """KolmogorovSmirnovEvaluator analog (two-sample): D statistic
        between the click and error value distributions."""
        out = ev.ks_two_sample(
            _read(s, d, "events"), "value", "event_type", "click", "error"
        )
        return out.select("n1", "n2", F.round("ks_d", 6).alias("ks_d"))

    q["eval_ks"] = eval_ks

    def eval_paired_ttest(s, d):
        """PairedTTestEvaluator / meanDifference / sumDifference analog
        over the paired daily series."""
        out = ev.paired_ttest(_daily_ab(s, d), "a", "b")
        return out.select(
            "n",
            F.round("sum_difference", 4).alias("sum_difference"),
            F.round("mean_difference", 4).alias("mean_difference"),
            F.round("t_stat", 4).alias("t_stat"),
        )

    q["eval_paired_ttest"] = eval_paired_ttest

    def eval_matmul(s, d):
        """MatrixMultiplyEvaluator analog: COO sparse matmul — join on the
        inner dimension + one grouped sum (A: 7×5 order/part buckets of
        summed quantity; B: 5×4 part/supp buckets of mean discount)."""
        li = _read(s, d, "lineitem")
        a = li.groupBy(
            (F.col("l_orderkey") % 7).alias("i"), (F.col("l_partkey") % 5).alias("k")
        ).agg(F.sum("l_quantity").alias("v"))
        b = li.groupBy(
            (F.col("l_partkey") % 5).alias("k"), (F.col("l_suppkey") % 4).alias("j")
        ).agg(F.avg("l_discount").alias("v"))
        out = ev.matrix_multiply(a, b)
        return out.select("i", "j", F.round("v", 4).alias("v")).orderBy("i", "j")

    q["eval_matmul"] = eval_matmul

    def eval_markov(s, d):
        """MarkovChainEvaluator analog: global event-type transition
        matrix over per-user event chains (lead window bounded per user,
        cells aggregated across all chains)."""
        out = ev.markov_transitions(
            _read(s, d, "events"), ["ts", "event_id"], "event_type", seq_col="user_id"
        )
        return out.select(
            "state", "next_state", "transitions", F.round("prob", 6).alias("prob")
        ).orderBy("state", "next_state")

    q["eval_markov"] = eval_markov

    def eval_emd(s, d):
        """EarthMoversEvaluator analog: bin-aligned histogram EMD between
        the daily click and error count series (prefix-sum recurrence)."""
        daily = _daily_ab(s, d)
        out = ev.earth_movers(daily, "day", "a", "b")
        return out.select(F.round("emd", 4).alias("emd"))

    q["eval_emd"] = eval_emd

    def eval_ols2(s, d):
        """OLSRegressionEvaluator analog: two-feature least squares
        (quantity ~ discount + tax) per return flag, closed-form normal
        equations in one aggregation pass."""
        out = ev.ols_regress2(
            _read(s, d, "lineitem"), "l_quantity", "l_discount", "l_tax",
            by="l_returnflag",
        )
        return out.select(
            "l_returnflag",
            (F.round("b0", 4) + F.lit(0.0)).alias("b0"),
            (F.round("b1", 4) + F.lit(0.0)).alias("b1"),
            (F.round("b2", 4) + F.lit(0.0)).alias("b2"),
            (F.round("r_squared", 6) + F.lit(0.0)).alias("r_squared"),
        ).orderBy("l_returnflag")

    q["eval_ols2"] = eval_ols2

    def eval_predict(s, d):
        """PredictEvaluator analog: broadcast the fitted degree-2
        coefficients (eval_polyfit's model) onto a forecast grid of
        x = 0..9 and evaluate ŷ as a JVM expression."""
        daily = _daily_xy(s, d).withColumn("xs", F.col("x") / F.lit(10.0))
        coef = ev.polyfit2(daily, "xs", "y", by="event_type")
        grid = (
            coef.select("event_type")
            .crossJoin(
                s.range(10).select((F.col("id") / F.lit(10.0)).alias("xs"))
            )
        )
        out = ev.predict_poly2(coef, grid, "xs", by="event_type")
        return out.select(
            "event_type",
            F.round("xs", 1).alias("xs"),
            (F.round("predicted", 3) + F.lit(0.0)).alias("predicted"),
        ).orderBy("event_type", "xs")

    q["eval_predict"] = eval_predict

    def eval_matrix_ebe(s, d):
        """EBEAdd/Sub/Mul + Transpose + SumRows/SumColumns/GrandSum
        analog: element-wise ops between A (7×5 summed quantity) and Bᵀ
        (B: 5×7 mean discount, transposed inside the op) on COO cells,
        with row/col/grand sums as windows over the cell dictionary."""
        li = _read(s, d, "lineitem")
        a = li.groupBy(
            (F.col("l_orderkey") % 7).alias("i"), (F.col("l_partkey") % 5).alias("j")
        ).agg(F.sum("l_quantity").alias("v"))
        b = li.groupBy(
            (F.col("l_partkey") % 5).alias("i"), (F.col("l_orderkey") % 7).alias("j")
        ).agg(F.avg("l_discount").alias("v"))
        out = ev.matrix_ebe_sums(a, b)
        return out.select(
            "i", "j",
            F.round("add", 4).alias("add"),
            F.round("sub", 4).alias("sub"),
            F.round("mul", 4).alias("mul"),
            F.round("row_sum", 4).alias("row_sum"),
            F.round("col_sum", 4).alias("col_sum"),
            F.round("grand_sum", 4).alias("grand_sum"),
        ).orderBy("i", "j")

    q["eval_matrix_ebe"] = eval_matrix_ebe

    def eval_temporal(s, d):
        """TemporalEvaluator family analog: year/quarter/month/week/day/
        dayOfYear/dayOfQuarter/hour/minute/second/epoch as pure column
        expressions (UTC session) on a deterministic event subset."""
        evs = _read(s, d, "events").where(F.col("event_id") % 997 == 0)
        return ev.temporal_family(evs, "ts").orderBy("epoch")

    q["eval_temporal"] = eval_temporal

    def eval_gtest(s, d):
        """GTestDataSetEvaluator analog: G log-likelihood-ratio
        independence test over the event_type × day-of-week contingency
        table."""
        evs = _read(s, d, "events").select(
            "event_type", F.dayofweek("ts").alias("dow")
        )
        out = ev.gtest(evs, "event_type", "dow")
        return out.select(F.round("g_stat", 4).alias("g_stat"), "dof", "n")

    q["eval_gtest"] = eval_gtest

    def eval_knn_regress(s, d):
        """KnnRegressionEvaluator analog: ŷ(xq) = mean extended price of
        the k=5 nearest rows by quantity, for a literal broadcast query
        grid — window top-k per query, total tie-break."""
        out = ev.knn_regress(
            _read(s, d, "lineitem"), "l_quantity", "l_extendedprice",
            [5.0, 20.0, 35.0], k=5,
        )
        return out.select(
            F.round("query_x", 1).alias("query_x"),
            "k",
            F.round("predicted", 4).alias("predicted"),
        ).orderBy("query_x")

    q["eval_knn_regress"] = eval_knn_regress

    def eval_corr_significance(s, d):
        """CorrelationSignificanceEvaluator analog: Pearson r between the
        daily click and error counts plus its t statistic."""
        out = ev.corr_significance(_daily_ab(s, d), "a", "b")
        return out.select(
            "n",
            F.round("corr", 6).alias("corr"),
            F.round("t_stat", 4).alias("t_stat"),
        )

    q["eval_corr_significance"] = eval_corr_significance

    def eval_cosine_sim(s, d):
        """CosineSimilarityEvaluator / CosineDistanceEvaluator analog:
        cosine between the paired daily click/error count series — one
        fused aggregation."""
        out = ev.cosine_similarity(_daily_ab(s, d), "a", "b")
        return out.select(
            "n",
            F.round("cosine_sim", 6).alias("cosine_sim"),
            F.round("cosine_dist", 6).alias("cosine_dist"),
        )

    q["eval_cosine_sim"] = eval_cosine_sim

    def eval_loess(s, d):
        """LoessEvaluator analog: tricube-kernel local regression of the
        per-type daily counts (bandwidth 5 days) via the banded bucket
        join — no O(n²) self-join."""
        daily = _daily(s, d).withColumn(
            "x", F.datediff("day", F.lit("2024-01-01")).cast("double")
        )
        out = ev.loess_smooth(daily, "x", "n_events", bandwidth=5.0, by="event_type")
        return out.select(
            "event_type",
            F.col("x").cast("int").alias("day_idx"),
            F.round("smoothed", 4).alias("smoothed"),
        ).orderBy("event_type", "day_idx")

    q["eval_loess"] = eval_loess

    def eval_poisson(s, d):
        """PoissonDistributionEvaluator + ProbabilityEvaluator analog:
        fit λ per event type over the daily counts, emit P(K=k) for each
        observed day (ln k! as a JVM higher-order sequence-sum)."""
        out = ev.poisson_pmf(
            _daily(s, d).withColumn("k", F.col("n_events").cast("int")),
            "k",
            by="event_type",
        )
        return (
            out.groupBy("event_type", "k", F.round("lam", 6).alias("lam"))
            .agg(F.count("*").alias("n_days"), F.round(F.min("pmf"), 8).alias("pmf"))
            .orderBy("event_type", "k")
        )

    q["eval_poisson"] = eval_poisson

    def eval_lerp(s, d):
        """LerpEvaluator analog: linear interpolation of the per-type
        daily series onto a half-day grid (lead-window segments + banded
        range join)."""
        daily = _daily(s, d).withColumn(
            "x", F.datediff("day", F.lit("2024-01-01")).cast("double")
        )
        grid = (
            daily.select("event_type").distinct()
            .crossJoin(s.range(0, 29).select((F.col("id") + 0.5).alias("gx")))
        )
        out = ev.lerp(daily, grid, "x", "n_events", "gx", by="event_type")
        return out.select(
            "event_type", "gx", F.round("lerp_y", 4).alias("lerp_y")
        ).orderBy("event_type", "gx")

    q["eval_lerp"] = eval_lerp

    def eval_kmeans_1d(s, d):
        """KmeansEvaluator analog: one distributed Lloyd step over the
        event values with centroids (2, 8, 15, 30) frozen as literals —
        JVM argmin assignment, one grouped aggregation for the update."""
        out = ev.kmeans_step_1d(
            _read(s, d, "events"), "value", [2.0, 8.0, 15.0, 30.0]
        )
        return out.select(
            "cluster", "n", F.round("new_centroid", 6).alias("new_centroid")
        ).orderBy("cluster")

    q["eval_kmeans_1d"] = eval_kmeans_1d

    def eval_fuzzy_kmeans(s, d):
        """FuzzyKmeansEvaluator analog: one fuzzy-c-means (m=2) step over
        the event values, centroids (2, 8, 15, 30) frozen — soft counts
        and updated centroids from a single fused aggregation."""
        out = ev.fuzzy_kmeans_step_1d(
            _read(s, d, "events"), "value", [2.0, 8.0, 15.0, 30.0], m=2.0
        )
        return out.select(
            "cluster",
            F.round("soft_n", 4).alias("soft_n"),
            F.round("new_centroid", 6).alias("new_centroid"),
        ).orderBy("cluster")

    q["eval_fuzzy_kmeans"] = eval_fuzzy_kmeans

    def eval_harmonic_fit(s, d):
        """HarmonicFitEvaluator analog at known ω = 2π/7 (weekly cycle)
        over the per-type daily counts: a + b·sin + c·cos via the
        closed-form 3×3 normal equations, one aggregation per type."""
        daily = _daily(s, d).withColumn(
            "x", F.datediff("day", F.lit("2024-01-01")).cast("double")
        )
        omega = 2.0 * 3.141592653589793 / 7.0
        out = ev.harmonic_fit(daily, "x", "n_events", omega, by="event_type")
        return out.select(
            "event_type",
            F.round("fit_a", 4).alias("fit_a"),
            F.round("fit_b", 4).alias("fit_b"),
            F.round("fit_c", 4).alias("fit_c"),
        ).orderBy("event_type")

    q["eval_harmonic_fit"] = eval_harmonic_fit

    def eval_matrix_sums(s, d):
        """GrandSum / SumRows / SumColumns analog over the COO matrix
        (day index × event-type index, daily count)."""
        li = _daily(s, d)
        coo = li.select(
            F.datediff("day", F.lit("2024-01-01")).cast("long").alias("i"),
            (F.length("event_type") % 7).cast("long").alias("j"),
            F.col("n_events").alias("v"),
        )
        out = ev.matrix_sums(coo, "i", "j", "v")
        return out.select(
            "axis", "idx", F.round("total", 4).alias("total")
        ).orderBy("axis", "idx")

    q["eval_matrix_sums"] = eval_matrix_sums

    def eval_ecdf(s, d):
        """EmpiricalDistribution + cumulativeProbability analog: F̂(x)
        over the distinct event values per type (dictionary-sized window,
        not a row-level sort)."""
        out = ev.ecdf(
            _read(s, d, "events").where(F.col("event_id") < 2000),
            "value",
            by="event_type",
        )
        return out.select(
            "event_type", "x", F.round("cdf", 6).alias("cdf")
        ).orderBy("event_type", "x")

    q["eval_ecdf"] = eval_ecdf

    def eval_normal_cdf(s, d):
        """NormalDistribution + cumulativeProbability analog: fit (μ,σ)
        per event type, Φ(x) for each distinct value — one aggregation +
        broadcast join-back, erf as the frozen A&S 7.1.26 polynomial."""
        out = ev.normal_cdf(
            _read(s, d, "events").where(F.col("event_id") < 2000),
            "value",
            by="event_type",
        )
        return (
            out.groupBy(
                "event_type",
                F.col("value").alias("x"),
                F.round("mu", 6).alias("mu"),
                F.round("sigma", 6).alias("sigma"),
            )
            .agg(F.round(F.min("cdf"), 6).alias("cdf"))
            .orderBy("event_type", "x")
        )

    q["eval_normal_cdf"] = eval_normal_cdf

    def eval_binomial(s, d):
        """BinomialDistribution + probability analog: k = n_chars mod 8
        out of n=7 trials per language; p̂ from one aggregation, pmf via
        JVM ln-factorial sequence-sums (lgamma on the oracle side)."""
        docs = _read(s, d, "documents").withColumn(
            "k", (F.col("n_chars") % 8).cast("int")
        )
        out = ev.binomial_pmf(docs, "k", n_trials=7, by="lang")
        return (
            out.groupBy("lang", "k", F.round("p_hat", 6).alias("p_hat"))
            .agg(F.round(F.min("pmf"), 8).alias("pmf"))
            .orderBy("lang", "k")
        )

    q["eval_binomial"] = eval_binomial

    def eval_dbscan(s, d):
        """Dbscan evaluator analog over 1-D event values: value
        dictionary → banded ±eps neighbour counts (bucket join, never a
        cross join) → core runs via one lag window → border attach →
        noise. eps=1.0, minPts=5."""
        out = ev.dbscan_1d(
            _read(s, d, "events").where(F.col("event_id") < 2000),
            "value",
            eps=1.0,
            min_pts=5,
            by="event_type",
        )
        return out.select(
            "event_type", "x", F.col("label").cast("long").alias("label"), "is_core"
        ).orderBy("event_type", "x")

    q["eval_dbscan"] = eval_dbscan

    def eval_gauss_fit(s, d):
        """GaussFit analog: histogram the per-user mean event value —
        a mean of uniforms is bell-shaped, so the log-quadratic
        linearization is well-posed (c2 < 0) — then polyfit2 on
        ln(count) and the (μ, σ, A) transform."""
        users = (
            _read(s, d, "events")
            .groupBy("user_id")
            .agg(F.avg("value").alias("v"), F.count("*").alias("c"))
            .where(F.col("c") >= 3)
        )
        hist = users.groupBy(
            (F.floor(F.col("v") / 10.0) * 10.0 + 5.0).alias("x")
        ).agg(F.count("*").cast("double").alias("y"))
        out = ev.gauss_fit(hist, "x", "y")
        return out.select(
            F.round("mu", 4).alias("mu"),
            F.round("sigma", 4).alias("sigma"),
            F.round("amplitude", 4).alias("amplitude"),
        )

    q["eval_gauss_fit"] = eval_gauss_fit

    def eval_dist_cdfs(s, d):
        """Exponential/Weibull/log-normal CDF family: fit per language
        in one aggregation, three closed-form CDFs per distinct doc
        length — erf via the frozen A&S polynomial."""
        out = ev.dist_cdf_family(
            _read(s, d, "documents").where(F.col("doc_id") < 3000),
            "n_chars",
            by="lang",
        )
        return (
            out.groupBy("lang", F.col("n_chars").alias("x"))
            .agg(
                F.round(F.min("mean"), 6).alias("mean"),
                F.round(F.min("exp_cdf"), 6).alias("exp_cdf"),
                F.round(F.min("weibull_cdf"), 6).alias("weibull_cdf"),
                F.round(F.min("lognormal_cdf"), 6).alias("lognormal_cdf"),
            )
            .orderBy("lang", "x")
        )

    q["eval_dist_cdfs"] = eval_dist_cdfs

    def eval_gamma(s, d):
        """Gamma density at frozen shape k=2: scale fit per language by
        method of moments, lnGamma(k) folded to a literal."""
        out = ev.gamma_pdf(
            _read(s, d, "documents").where(F.col("doc_id") < 3000),
            "n_chars",
            shape=2.0,
            by="lang",
        )
        return (
            out.groupBy("lang", F.col("n_chars").alias("x"))
            .agg(
                F.round(F.min("mean"), 6).alias("mean"),
                F.round(F.min("pdf"), 8).alias("pdf"),
            )
            .orderBy("lang", "x")
        )

    q["eval_gamma_pdf"] = eval_gamma

    def eval_zipf(s, d):
        """Zipf pmf at frozen (N=20, s=1.1) over the rank k =
        n_chars mod 20 + 1, with observed counts alongside."""
        ranks = (
            _read(s, d, "documents")
            .select(((F.col("n_chars") % 20) + 1).cast("long").alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("observed"))
        )
        out = ev.zipf_pmf(ranks, "k", n_ranks=20, s=1.1)
        return out.select(
            "k", "observed", F.round("pmf", 8).alias("pmf")
        ).orderBy("k")

    q["eval_zipf"] = eval_zipf

    def eval_hull(s, d):
        """Distributed convex hull of 200 events in general position
        (x = value, y = a deterministic hash spread): per-partition
        monotone-chain pruning, then the exact closed-side edge test as
        a pair join. Oracle runs the same edge test over ALL points."""
        pts = (
            _read(s, d, "events")
            .where(F.col("event_id") < 200)
            .select(
                F.col("event_id").alias("pid"),
                F.col("value").cast("double").alias("x"),
                (
                    ((F.col("event_id") * F.lit(2654435761)) % F.lit(1000003))
                    .cast("double")
                    / F.lit(1000.0)
                ).alias("y"),
            )
        )
        out = ev.convex_hull(pts, "x", "y", "pid")
        return out.select(
            "pid",
            F.round("px", 6).alias("px"),
            F.round("py", 6).alias("py"),
        ).orderBy("pid")

    q["eval_convex_hull"] = eval_hull

    def eval_disk(s, d):
        """Smallest enclosing disk of the same 200-point cloud: pair +
        triple circles over the hull vertices, smallest covering one."""
        pts = (
            _read(s, d, "events")
            .where(F.col("event_id") < 200)
            .select(
                F.col("event_id").alias("pid"),
                F.col("value").cast("double").alias("x"),
                (
                    ((F.col("event_id") * F.lit(2654435761)) % F.lit(1000003))
                    .cast("double")
                    / F.lit(1000.0)
                ).alias("y"),
            )
        )
        out = ev.enclosing_disk(pts, "x", "y", "pid")
        return out.select(
            F.round("center_x", 5).alias("center_x"),
            F.round("center_y", 5).alias("center_y"),
            F.round("radius", 5).alias("radius"),
        )

    q["eval_enclosing_disk"] = eval_disk

    def eval_akima(s, d):
        """Akima spline midpoints over the daily value series per event
        type (y rounded to 6dp BEFORE interpolation so engine and oracle
        interpolate bit-identical knots); interior intervals only."""
        daily = (
            _read(s, d, "events")
            .groupBy("event_type", F.to_date("ts").alias("day"))
            .agg(F.round(F.avg("value"), 6).alias("y"))
            .select(
                "event_type",
                F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01")))
                .cast("double")
                .alias("x"),
                "y",
            )
        )
        out = ev.akima_midpoints(daily, "x", "y", by="event_type")
        return out.select(
            "event_type",
            F.round("mid_x", 2).alias("mid_x"),
            F.round(F.col("mid_y").cast("float").cast("double"), 5).alias("mid_y"),
        ).orderBy("event_type", "mid_x")

    q["eval_akima"] = eval_akima

    def eval_tfidf(s, d):
        """TermVectors TF-IDF matrix for the first 15 docs: tf from the
        selected docs' stored text, df/N from the index term dictionary."""
        out = qx.term_vectors_matrix(
            _engine(s, d), F.col("doc_id") < 15, min_df=2, max_df_frac=0.9
        )
        return out.select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tfidf").cast("float").cast("double"), 6).alias("tfidf"),
        ).orderBy("doc_id", "term")

    q["eval_tfidf_matrix"] = eval_tfidf

    def graph_shortest_path_q(s, d):
        """shortestPath stream analog over the bipartite order↔supplier
        graph (lineitem edges, node ids order·2 / supp·2+1): shortest
        path from the smallest order to the smallest other order sharing
        a supplier; lexicographic tie-break makes the path unique."""
        li = _read(s, d, "lineitem")
        fwd = li.select(
            (F.col("l_orderkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        o1 = li.agg(F.min("l_orderkey")).collect()[0][0]
        o2 = (
            li.alias("a")
            .where(F.col("a.l_orderkey") == o1)
            .join(li.alias("b"), F.col("a.l_suppkey") == F.col("b.l_suppkey"))
            .where(F.col("b.l_orderkey") != o1)
            .agg(F.min("b.l_orderkey"))
            .collect()[0][0]
        )
        return shortest_path(edges, "src", "dst", o1 * 2, o2 * 2, max_depth=4)

    q["graph_shortest_path"] = graph_shortest_path_q

    # --- training-data pipeline: text analysis ---
    def text_analysis(s, d):
        docs = _read(s, d, "documents").where(F.col("doc_id") < 20)
        return textops.quality_features(docs, "text").select(
            "doc_id",
            textops.token_count_ws("text").alias("n_ws_tokens"),
            textops.token_count_bpe("text").alias("n_bpe_tokens"),
            textops.language_id("text").alias("langid"),
            textops.fingerprint("text").alias("fingerprint"),
            "q_n_words",
            F.round("q_mean_word_len", 4).alias("mean_word_len"),
            F.round("q_punct_ratio", 4).alias("punct_ratio"),
            F.round("q_stopword_ratio", 4).alias("stopword_ratio"),
            F.round("q_score", 4).alias("quality_score"),
        ).orderBy("doc_id")

    q["text_analysis_features"] = text_analysis

    # --- training-data pipeline: dedup family ---
    def _docs_with_clones(s, d):
        docs = _read(s, d, "documents").select("doc_id", "text")
        clones = docs.where(F.col("doc_id") < 50).withColumn(
            "doc_id", F.col("doc_id") + 10000
        )
        return docs.unionByName(clones)

    q["dedup_exact"] = lambda s, d: dedup.exact_dup_groups(
        _docs_with_clones(s, d), "text", "doc_id"
    ).orderBy("canonical_id")

    q["dedup_ngram_jaccard"] = lambda s, d: dedup.ngram_jaccard_pairs(
        _read(s, d, "documents"), "doc_id", "text", threshold=0.5
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")).orderBy("doc_a", "doc_b")

    q["dedup_minhash_lsh"] = lambda s, d: dedup.minhash_neardup_pairs(
        _read(s, d, "documents"), "doc_id", "text", threshold=0.5
    ).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")).orderBy("doc_a", "doc_b")

    q["dedup_simhash"] = lambda s, d: dedup.simhash_pairs(
        dedup.simhash(_read(s, d, "documents"), "doc_id", "text"), max_hamming=4
    ).orderBy("doc_a", "doc_b")

    def dedup_clusters_q(s, d):
        """Near-dup pairs → connected components (distributed min-label
        propagation w/ pointer jumping) → keep-best canonical per
        cluster: the full dedup post-processing chain."""
        docs = _read(s, d, "documents")
        pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
        clusters = dedup.dup_clusters(pairs)
        return dedup.canonical_per_cluster(
            docs.select("doc_id", "n_chars"), clusters
        ).orderBy("cluster_id")

    q["dedup_cluster_canonical"] = dedup_clusters_q

    def decontaminate_q(s, d):
        """Benchmark decontamination: corpus docs (doc_id >= 5) sharing a
        4-token shingle with the eval slice (doc_id < 5)."""
        docs = _read(s, d, "documents")
        return dedup.decontaminate_flags(
            docs.where(F.col("doc_id") >= 5),
            docs.where(F.col("doc_id") < 5),
            n=4,
        ).orderBy("doc_id")

    q["decontaminate_overlap"] = decontaminate_q

    def span_dedup_q(s, d):
        """C4-style cross-document span dedup: non-overlapping 3-token
        spans, keep-first by (doc_id, pos), per-doc duplicate counts.
        Grouping key is xxhash64(span) — the 100 TB shuffle ships 8-byte
        keys; the oracle groups on the span string itself (equal unless
        a 64-bit collision)."""
        from solr_spark.dedup import span_dedup_counts

        return span_dedup_counts(
            _read(s, d, "documents"), span_tokens=3
        ).orderBy("doc_id")

    q["span_dedup_c4"] = span_dedup_q

    def dup_substr_q(s, d):
        """ExactSubstr-style duplicated-substring detection (Lee et al.
        2022): stride-1 15-token windows hashed corpus-wide; per-doc
        duplicated-window and merged covered-token counts. Docs below
        one window drop; docs with no duplication report zeros."""
        from solr_spark.dedup import dup_substring_stats

        return dup_substring_stats(
            _read(s, d, "documents"), min_len=15
        ).orderBy("doc_id")

    q["dup_substring_stats"] = dup_substr_q

    def repetition_q(s, d):
        """Gopher intra-doc repetition rules: duplicate-line fractions +
        top-bigram dominance, explode→two keyed aggregations (map-side
        combined), no per-doc Python."""
        from solr_spark.textops import repetition_features

        docs = _read(s, d, "documents").where(F.col("doc_id") < 40)
        return repetition_features(docs, "doc_id", "text").orderBy("doc_id")

    q["repetition_features_docs"] = repetition_q

    def bmp_decode_q(s, d):
        """REAL image decode: deterministic 24-bit BMPs are encoded AND
        decoded by the from-scratch codec on executors (mapInPandas);
        the oracle recomputes the per-image stats from the same pixel
        formula — so a codec bug (padding, BGR order, bottom-up rows)
        breaks the hash."""
        import pandas as pd
        from pyspark.sql.types import (
            BinaryType, LongType, StructField, StructType,
        )

        from solr_spark.multimodal import decode_bmp_stats, encode_bmp

        ids = s.range(0, 16).select(F.col("id").alias("doc_id"))
        schema = StructType([
            StructField("doc_id", LongType()), StructField("data", BinaryType()),
        ])

        def synth(batches):
            import numpy as np

            for pdf in batches:
                rows = []
                for doc_id in pdf["doc_id"]:
                    did = int(doc_id)
                    w, h = (did % 4 + 1) * 8, (did % 3 + 1) * 8
                    i = np.arange(w * h * 3, dtype=np.int64)
                    px = ((did * 13 + i * 7) % 256).astype(np.uint8).reshape(h, w, 3)
                    rows.append((did, encode_bmp(px)))
                yield pd.DataFrame(rows, columns=["doc_id", "data"])

        return decode_bmp_stats(ids.mapInPandas(synth, schema)).orderBy("doc_id")

    q["bmp_decode_stats"] = bmp_decode_q

    def wav_decode_q(s, d):
        """REAL audio decode: deterministic PCM WAVs (RIFF chunk walk,
        16-bit mono) encoded + decoded by the from-scratch codec; oracle
        recomputes stats from the sample formula."""
        import pandas as pd
        from pyspark.sql.types import (
            BinaryType, LongType, StructField, StructType,
        )

        from solr_spark.multimodal import decode_wav_stats, encode_wav

        ids = s.range(0, 12).select(F.col("id").alias("doc_id"))
        schema = StructType([
            StructField("doc_id", LongType()), StructField("data", BinaryType()),
        ])

        def synth(batches):
            import numpy as np

            for pdf in batches:
                rows = []
                for doc_id in pdf["doc_id"]:
                    did = int(doc_id)
                    n = 200 + did * 37
                    i = np.arange(n, dtype=np.int64)
                    samp = (((did * 17 + i * 11) % 4096) - 2048).astype(np.int16)
                    rows.append((did, encode_wav(samp, 16000)))
                yield pd.DataFrame(rows, columns=["doc_id", "data"])

        return decode_wav_stats(ids.mapInPandas(synth, schema)).orderBy("doc_id")

    q["wav_decode_stats"] = wav_decode_q

    def pii_q(s, d):
        """PII scrub + audit counts over documents with deterministic
        injected PII (emails/IPv4/phone), map-only regexp_replace."""
        from solr_spark.textops import pii_counts, scrub_pii

        docs = _read(s, d, "documents").where(F.col("doc_id") < 30)
        injected = F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org at 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 tel 555-123-4567"),
        )
        counts = pii_counts(injected)
        return docs.select(
            "doc_id",
            F.length(scrub_pii(injected)).alias("len_scrubbed"),
            *[c.alias(n) for n, c in counts.items()],
        ).orderBy("doc_id")

    q["pii_scrub_docs"] = pii_q

    def lm_q(s, d):
        """CCNet-style LM quality score: corpus-trained Laplace bigram
        model, per-doc mean negative log-probability (nats). Model
        tables are vocabulary-sized -> broadcast joins; scoring is one
        exploded pass + one per-doc aggregation."""
        from solr_spark.textops import bigram_lm_scores

        return bigram_lm_scores(_read(s, d, "documents")).orderBy("doc_id")

    q["lm_perplexity_docs"] = lm_q

    def gopher_q(s, d):
        """Gopher hard filters (Rae et al. 2021 A.1.1): per-doc rule
        flags + combined keep decision, map-only column expressions."""
        from solr_spark.textops import gopher_filter_flags

        return gopher_filter_flags(
            _read(s, d, "documents"), "doc_id", "text"
        ).orderBy("doc_id")

    q["gopher_filter_flags"] = gopher_q

    def corpus_mix_q(s, d):
        """Training-mix analysis: per-language corpus share — doc/token/
        char volumes plus the token-count distribution (exact p50/p95;
        at 100 TB swap F.percentile for percentile_approx and the group
        agg stays one shuffle)."""
        from solr_spark.textops import token_count_ws

        base = _read(s, d, "documents").select(
            "lang",
            token_count_ws(F.col("text")).alias("ntok"),
            F.length("text").cast("long").alias("nch"),
        )
        return (
            base.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("ntok").cast("long").alias("n_tokens"),
                F.round(F.avg("ntok"), 4).alias("mean_tokens"),
                F.round(F.percentile("ntok", 0.5), 4).alias("p50_tokens"),
                F.round(F.percentile("ntok", 0.95), 4).alias("p95_tokens"),
                F.sum("nch").cast("long").alias("n_chars"),
            )
            .orderBy("lang")
        )

    q["corpus_mix_by_lang"] = corpus_mix_q

    def parse_csv_stream_q(s, d):
        """parseCSV / parseTSV stream evaluators (solrj-streaming
        io/stream/CsvStream.java, TsvStream.java): split a delimited
        string column into typed fields — JVM-side ``from_csv``, no
        Python. The delimited lines are synthesized from documents
        columns so the parse is oracle-checkable."""
        from solr_spark.sources.loaders import parse_csv_col

        docs = _read(s, d, "documents").where(F.col("doc_id") < 50)
        lines = docs.select(
            "doc_id",
            F.concat_ws(",", F.col("doc_id"), F.col("lang"), F.col("source"), F.col("n_chars")).alias("csv_line"),
            F.concat_ws("\t", F.col("lang"), F.col("n_chars")).alias("tsv_line"),
        )
        parsed = parse_csv_col(lines, "csv_line", "id BIGINT, l STRING, src STRING, nc INT")
        parsed = parsed.select("doc_id", "_parsed.*", "tsv_line")
        parsed = parse_csv_col(parsed, "tsv_line", "tl STRING, tn INT", sep="\t")
        return (
            parsed.select("doc_id", "id", "l", "src", "nc", "_parsed.tl", "_parsed.tn")
            .orderBy("doc_id")
        )

    q["parse_csv_stream"] = parse_csv_stream_q

    def stratified_q(s, d):
        """Balanced training mix: deterministic 20-doc sample per lang."""
        from solr_spark.operators.relational import stratified_hash_sample

        return stratified_hash_sample(
            _read(s, d, "documents").select("doc_id", "lang", "n_chars"),
            "lang", "doc_id", 20,
        ).orderBy("lang", "doc_id")

    q["stratified_sample_lang"] = stratified_q

    # SCALE path (VERDICT r2 #3): hyperplane-LSH banded candidates →
    # exact cosine on candidates ONLY (no unconditioned cross join —
    # mirrors the r2 MinHash fix); the O(n²) exact variant stays as its
    # own test-scale entry below
    q["dedup_embedding_cosine"] = lambda s, d: dedup.embedding_lsh_pairs(
        _read(s, d, "embeddings"), "vec_id", "embedding", threshold=0.45
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine")).orderBy("id_a", "id_b")

    q["dedup_embedding_exact"] = lambda s, d: dedup.embedding_neardup_pairs(
        _read(s, d, "embeddings"), "vec_id", "embedding", threshold=0.45
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine")).orderBy("id_a", "id_b")

    # --- training-data pipeline: similarity search ---
    def ann_top10(s, d):
        emb = _read(s, d, "embeddings")
        qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
        return similarity.cosine_topk(emb, "vec_id", "embedding", qv, k=10).select(
            "id", F.round("cosine", 4).alias("cosine")
        )

    q["ann_cosine_top10"] = ann_top10

    def ann_ivf(s, d):
        """IVF approximate top-10 over the FROZEN codebook (VERDICT r2
        #4): assignment/probing is SQL-expressible, so this entry is
        fully oracle-checked. The data-TRAINED k-means variant
        (train_ivf_centroids) has better recall and stays pytest-gated
        in tests/test_pipeline_ops.py."""
        emb = _read(s, d, "embeddings")
        cent = similarity.IVF_FROZEN_CENTROIDS
        ivf = similarity.build_ivf(emb, "vec_id", "embedding", cent)
        qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
        return similarity.cosine_topk_ivf(ivf, cent, qv, k=10, n_probe=4).select(
            "id", F.round("cosine", 4).alias("cosine")
        )

    q["ann_ivf_top10"] = ann_ivf

    def vec_threshold(s, d):
        """vectorSimilarity threshold surface (reference
        search/vector/VectorSimilarityQParserPlugin.java)."""
        emb = _read(s, d, "embeddings")
        qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
        return similarity.cosine_above(emb, "vec_id", "embedding", qv, threshold=0.2).select(
            "id", F.round("cosine", 4).alias("cosine")
        )

    q["vector_similarity_threshold"] = vec_threshold

    def ann_quantized(s, d):
        """int8 scalar-quantized store (Lucene ScalarQuantizedVectorsFormat
        analog): quantize → reconstruct → exact cosine top-k."""
        emb = _read(s, d, "embeddings")
        qemb = similarity.quantize_embeddings(emb, "vec_id", "embedding")
        qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
        return similarity.cosine_topk_quantized(qemb, qv, k=10).select(
            "id", F.round("cosine", 4).alias("cosine")
        )

    q["ann_quantized_top10"] = ann_quantized

    def ann_hnsw(s, d):
        """Partition-local HNSW (solr_spark/hnsw.py — Lucene HNSW analog,
        ref schema/DenseVectorField.java:68-80): one graph per hash
        shard, fan-out beam search, exact-cosine k-merge. Construction is
        iterative (not SQL-expressible); the oracle below is brute-force
        cosine top-k, which this must match when every shard's beam
        surfaces its true locals — recall is additionally pytest-gated."""
        from solr_spark import hnsw as hn

        emb = _read(s, d, "embeddings")
        graph = hn.build_hnsw(emb, "vec_id", "embedding", n_partitions=4)
        qv = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
        return hn.cosine_topk_hnsw(graph, qv, k=10, ef_search=96).select(
            "id", F.round("cosine", 4).alias("cosine")
        )

    q["ann_hnsw_top10"] = ann_hnsw

    # --- training-data pipeline: multimodal plumbing ---
    def mm_features(s, d):
        docs = _read(s, d, "documents").where(F.col("doc_id") < 30)
        feats = multimodal.extract_features(multimodal.synth_multimodal(docs))
        return feats.select(
            "doc_id", "modality", "n_bytes", "payload_sha256",
            F.round("mean_byte", 4).alias("mean_byte"),
        ).orderBy("doc_id")

    q["multimodal_features"] = mm_features

    # --- classic facet parameter set (request/SimpleFacets.java:476-540) ---
    q["facet_prefix_offset"] = lambda s, d: facet_field(
        _read(s, d, "documents"), "source",
        prefix="src1", sort_by_count=False, offset=2, limit=5,
    ).select("source", F.col("count").cast("long").alias("count"))

    q["facet_contains_index"] = lambda s, d: facet_field(
        _read(s, d, "documents"), "source", contains="1", sort_by_count=False,
    ).select("source", F.col("count").cast("long").alias("count"))

    def facet_missing_q(s, d):
        """facet.missing=true — the NULL bucket trails the term buckets
        (SimpleFacets.java:529 getFieldMissingCount). The testdata has no
        NULLs, so the entry facets a NULLIF-derived column; a real corpus
        simply has the sparse field."""
        docs = _read(s, d, "documents").withColumn(
            "lang_nn", F.expr("nullif(lang, 'en')")
        )
        return facet_field(docs, "lang_nn", missing=True).select(
            "lang_nn", F.col("count").cast("long").alias("count")
        )

    q["facet_missing_lang"] = facet_missing_q

    def facet_allbuckets_q(s, d):
        from solr_spark.operators.relational import json_facet_allbuckets

        return json_facet_allbuckets(
            _read(s, d, "documents"), "lang",
            F.sum("n_chars").cast("long"), "sum_nchars",
        )

    q["facet_allbuckets_lang"] = facet_allbuckets_q

    def facet_range_other_q(s, d):
        from solr_spark.operators.relational import facet_range_other

        return facet_range_other(_read(s, d, "documents"), "n_chars", 150.0, 450.0)

    q["facet_range_other_nchars"] = facet_range_other_q

    def facet_multiselect_q(s, d):
        """Multi-select faceting: the lang facet excludes its own tagged
        lang filter ({!ex=langtag}) but keeps the source filter."""
        from solr_spark.operators.relational import facet_field_multiselect

        return facet_field_multiselect(
            _read(s, d, "documents"),
            "lang",
            {
                "langtag": F.col("lang") == "en",
                "srctag": F.col("source").isin("src1", "src2", "src3"),
            },
            exclude_tags={"langtag"},
        ).select("lang", F.col("count").cast("long").alias("count"))

    q["facet_multiselect_exclude"] = facet_multiselect_q

    # --- TermsComponent terms.regex + mincount (TermsComponent.java:250-318) ---
    def terms_regex(s, d):
        td = _engine(s, d).index.term_dict
        # Solr's terms.regex is a whole-term Pattern.matches — anchor it so
        # Spark rlike (find semantics) applies the same contract.
        return (
            td.where(F.col("term").rlike("^s.*[kmt]$") & (F.col("df") >= 2))
            .select("term", "df", "cf")
            .orderBy(F.asc("term"))
            .limit(20)
        )

    q["terms_regex_df"] = terms_regex

    # --- response writers: GeoJSON + GraphML roundtrips ---
    def geojson_roundtrip(s, d):
        """GeoJSONResponseWriter (response/GeoJSONResponseWriter.java)
        serialize → re-ingest roundtrip over the geodist top-10 page."""
        from solr_spark.operators.spatial import geodist, synth_coords
        from solr_spark.sources import geojson_response, parse_geojson_response

        page = (
            geodist(synth_coords(_read(s, d, "documents"), "doc_id"),
                    "lat", "lon", (40.0, -74.0))
            .select("doc_id", "lat", "lon", F.round("dist_km", 4).alias("dist_km"))
            .orderBy(F.asc("dist_km"), F.asc("doc_id"))
            .limit(10)
        )
        payload = geojson_response(page, "lat", "lon", rows=10)
        back = parse_geojson_response(
            s, payload, "lat double, lon double, doc_id long, dist_km double"
        )
        return back.select("doc_id", "lat", "lon", "dist_km").orderBy("doc_id")

    q["geojson_roundtrip_page"] = geojson_roundtrip

    def graphml_roundtrip(s, d):
        """GraphMLResponseWriter (response/GraphMLResponseWriter.java:45-120)
        over a customer→order edge set, parsed back via stdlib etree."""
        from solr_spark.sources import graphml_response, parse_graphml_response

        edges = (
            _read(s, d, "orders")
            .where(F.col("o_custkey") <= 50)
            .select(
                F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
                F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("dst"),
            )
        )
        payload = graphml_response(edges, "src", "dst")
        back = parse_graphml_response(s, payload)
        return (
            back.groupBy("src")
            .agg(F.count("*").cast("long").alias("n_edges"))
            .orderBy("src")
        )

    q["graphml_roundtrip_edges"] = graphml_roundtrip

    # --- analysis: ShingleFilter + ASCIIFoldingFilter analogs ---
    def shingle_bigrams(s, d):
        """Word-bigram shingles (ShingleFilterFactory) as one JVM
        higher-order expression; top-20 bigrams over the doc slice."""
        from solr_spark.analysis import shingles

        docs = _read(s, d, "documents").where(F.col("doc_id") < 200)
        bi = docs.select(
            F.explode(shingles(CODE_CHAIN.tokens(F.col("text")), 2)).alias("shingle")
        )
        return (
            bi.groupBy("shingle")
            .agg(F.count("*").cast("long").alias("count"))
            .orderBy(F.desc("count"), F.asc("shingle"))
            .limit(20)
        )

    q["shingle_bigrams_top"] = shingle_bigrams

    def ascii_fold(s, d):
        """ASCIIFoldingFilter chain (fold → case-split → lower → split):
        the folded É creates a camel boundary, proving fold-before-split
        ordering in all three engine forms."""
        from solr_spark.analysis import CODE_FOLD_CHAIN

        docs = _read(s, d, "documents").where(F.col("doc_id") < 50)
        accented = F.concat(F.lit("Café Zürich àçcèntÉd "), F.col("text"))
        return (
            docs.select(F.explode(CODE_FOLD_CHAIN.tokens(accented)).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").cast("long").alias("count"))
            .orderBy(F.desc("count"), F.asc("tok"))
            .limit(20)
        )

    q["ascii_fold_tokens"] = ascii_fold

    # --- admin handlers: Luke introspection + field analysis ---
    def luke_index(s, d):
        """LukeRequestHandler show=index analog: one-row index summary
        from the term dictionary + O(1) build metadata."""
        from solr_spark import admin

        return admin.luke_summary(_engine(s, d).index)

    q["luke_index_summary"] = luke_index

    def luke_fields(s, d):
        from solr_spark import admin

        return admin.luke_field_stats(_read(s, d, "documents"), ["lang", "source"])

    q["luke_field_stats"] = luke_fields

    def analysis_probe(s, d):
        """FieldAnalysisRequestHandler analog: per-stage token stream for
        doc 42 through the stemmed chain (tokenizer → stop → stem)."""
        from solr_spark import admin
        from solr_spark.analysis import CODE_STEM_CHAIN

        docs = _read(s, d, "documents").where(F.col("doc_id") == 42)
        return admin.analysis_stages(docs, CODE_STEM_CHAIN).orderBy("stage_no", "pos")

    q["analysis_probe_stages"] = analysis_probe

    def sort_missing(s, d):
        """sortMissingLast (schema/FieldType.java sortMissingLast=true):
        nulls order AFTER every real value on an asc sort. The nullable
        key is derived (lang folded to NULL for 'en'); the rank is
        materialized so the null placement is hash-verified (the driver
        compare is order-insensitive). Unpartitioned window — proof-size
        entry only; the scale path is export_sorted's range-partitioned
        total sort."""
        from pyspark.sql import Window

        docs = _read(s, d, "documents").where(F.col("doc_id") < 60).select(
            "doc_id", F.nullif(F.col("lang"), F.lit("en")).alias("k")
        )
        w = Window.orderBy(F.col("k").asc_nulls_last(), F.col("doc_id").asc())
        return docs.select("doc_id", "k", F.row_number().over(w).alias("rank"))

    q["sort_missing_last"] = sort_missing

    def doc_ttl(s, d):
        """DocExpirationUpdateProcessor analog: stamp expire_at = ts+TTL
        at ingest, sweep with a frozen NOW; returns the sweep summary."""
        from solr_spark.streaming.incremental import purge_expired, with_expiration

        ev = with_expiration(_read(s, d, "events"), "ts", 72 * 3600)
        live = purge_expired(ev, "2024-01-20 00:00:00")
        return live.agg(
            F.count("*").cast("long").alias("n_live"),
            F.min("event_id").cast("long").alias("first_live_event"),
            F.max("event_id").cast("long").alias("last_live_event"),
        )

    q["doc_expiration_ttl"] = doc_ttl

    def clustering_q(s, d):
        """ClusteringComponent analog: dominant-term clusters over the
        BM25 top-30 for the OR query."""
        return qx.cluster_results(
            _engine(s, d), _Q_OR, mode="OR", n_docs=30, n_clusters=8,
            min_df=2, max_df_frac=0.5,
        )

    q["clustering_top30"] = clustering_q

    def explain_q(s, d):
        """debugQuery=true: per-(top-10 doc, term) BM25 Explanation rows."""
        return qx.explain_scores(_engine(s, d), _Q_OR, k=10, mode="OR")

    q["debug_explain_scores"] = explain_q

    def fuzzy_suggest_q(s, d):
        return qx.suggest_fuzzy(_engine(s, d), "servr", max_edits=2, n=10)

    q["suggest_fuzzy_servr"] = fuzzy_suggest_q

    def relevance_fn_q(s, d):
        """termfreq/docfreq/idf/tf/norm pseudo-fields for 'data'."""
        return qx.relevance_functions(_engine(s, d), "data", F.col("doc_id") < 20)

    q["function_relevance_fields"] = relevance_fn_q

    def stats_string_q(s, d):
        from solr_spark.operators.relational import stats_string

        return stats_string(_read(s, d, "documents"), "source")

    q["stats_string_source"] = stats_string_q

    def facet_group_q(s, d):
        """group.facet=true: lang counts by distinct source group."""
        from solr_spark.operators.relational import facet_by_group

        return facet_by_group(_read(s, d, "documents"), "lang", "source")

    q["facet_by_group_lang"] = facet_group_q

    def schema_apply_q(s, d):
        """IndexSchema analog: dynamic-field glob resolution + typed casts
        + copyField fan-in + uniqueKey enforcement, compiled into one
        map-only select (solr_spark/schema.py; ref IndexSchema.java:137,
        CopyField.java, DocumentBuilder.java:183)."""
        from solr_spark.schema import FieldSpec, SchemaRegistry

        reg = SchemaRegistry(
            name="docs",
            unique_key="id",
            fields={"id": FieldSpec("id", "plong", required=True)},
            dynamic=[("*_s", "string"), ("*_t", "text_general"),
                     ("*_i", "pint")],
            copy_fields=[("*_t", "_text_"), ("lang_s", "_text_")],
        )
        df = _read(s, d, "documents").where(F.col("doc_id") < 30).select(
            F.col("doc_id").cast("string").alias("id"),
            F.col("lang").alias("lang_s"),
            F.col("source").alias("source_t"),
            F.col("n_chars").cast("string").alias("n_chars_i"),
        )
        return reg.apply(df).orderBy("id")

    q["schema_apply_copyfield"] = schema_apply_q

    def schemaless_q(s, d):
        """Schemaless mode (AddSchemaFieldsUpdateProcessor + Parse* chain,
        batch form): ONE aggregation counts parse failures per candidate
        type per column; narrowest zero-failure type wins."""
        from solr_spark.schema import infer_schemaless_types

        df = _read(s, d, "documents").select(
            F.col("doc_id").cast("string").alias("c_long"),
            (F.col("n_chars") + F.lit(0.5)).cast("string").alias("c_double"),
            (F.col("n_chars") % 2 == 0).cast("string").alias("c_bool"),
            F.col("lang").alias("c_string"),
        )
        inf = infer_schemaless_types(df)
        return s.createDataFrame(
            sorted(inf.items()), "col_name string, inferred string"
        ).orderBy("col_name")

    q["schemaless_infer_docs"] = schemaless_q

    return q


def oracle_sql() -> dict[str, str]:
    tok = CODE_CHAIN  # one frozen analyzer definition for both sides
    o: dict[str, str] = {}

    o["bm25_top10_or"] = bm25_topk_sql(tok.tokenize_py(_Q_OR), "OR")
    o["numfound_exact_topk"] = bm25_topk_numfound_sql(tok.tokenize_py(_Q_OR), "OR")
    o["bm25_top10_and"] = bm25_topk_sql(tok.tokenize_py(_Q_AND), "AND")
    o["bm25_hot_term"] = bm25_topk_sql(tok.tokenize_py(_Q_HOT), "OR")
    o["term_dict_top20"] = term_dict_sql(order="df DESC, term ASC", limit=20)
    o["terms_component_prefix"] = term_dict_sql(
        order="term ASC", term_filter="tok LIKE 's%'", limit=20
    )
    o["token_count_docs"] = f"""
        SELECT doc_id, count(tok) AS n_tokens
        FROM (SELECT doc_id, unnest({tok.duckdb_tokens_expr('text')}) AS tok
              FROM documents WHERE doc_id < 20) t
        GROUP BY doc_id ORDER BY doc_id
    """

    o["facet_lang"] = """
        SELECT lang, count(*) AS count FROM documents
        GROUP BY lang ORDER BY count DESC, lang LIMIT 100
    """
    o["facet_range_nchars"] = """
        SELECT CAST(floor(n_chars / 100.0) * 100.0 AS DOUBLE) AS bucket_start,
               count(*) AS count
        FROM documents WHERE n_chars >= 0 AND n_chars < 1000
        GROUP BY 1 ORDER BY 1
    """
    o["stats_nchars"] = """
        SELECT CAST(count(n_chars) AS BIGINT) AS count,
               CAST(count(*) - count(n_chars) AS BIGINT) AS missing,
               CAST(min(n_chars) AS BIGINT) AS min,
               CAST(max(n_chars) AS BIGINT) AS max,
               CAST(sum(n_chars) AS BIGINT) AS sum,
               CAST(round(avg(n_chars), 4) AS DOUBLE) AS mean,
               CAST(round(stddev_samp(n_chars), 4) AS DOUBLE) AS stddev
        FROM documents
    """
    o["collapse_by_source"] = """
        SELECT source, doc_id, n_chars FROM (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM documents) t
        WHERE rn = 1 ORDER BY source
    """
    o["grouping_top2_per_lang"] = """
        SELECT lang, rn AS group_rank, doc_id, n_chars FROM (
          SELECT lang, doc_id, n_chars,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM documents) t
        WHERE rn <= 2 ORDER BY lang, rn
    """

    o["grouping_ngroups"] = """
        WITH dom AS (SELECT * FROM documents WHERE n_chars >= 100),
        heads AS (
          SELECT source, doc_id, n_chars FROM (
            SELECT source, doc_id, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM dom) t WHERE rn = 1)
        SELECT h.source, h.doc_id, h.n_chars,
               (SELECT CAST(count(*) AS BIGINT) FROM dom) AS matches,
               (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM dom) AS ngroups
        FROM heads h ORDER BY h.source
    """

    o["rollup_orders_priority"] = """
        SELECT o_orderpriority, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    o["hashjoin_customer_orders"] = """
        SELECT c_mktsegment, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """
    o["sessionize_events"] = """
        WITH d AS (
          SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events
        )
        SELECT user_id,
               CAST(sum(CASE WHEN prev IS NULL OR epoch(ts - prev) > 21600
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events
        FROM d GROUP BY user_id ORDER BY user_id
    """
    o["time_routed_range_counts"] = """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 3) AS total_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
          AND ts <  TIMESTAMP '2024-01-06 00:00:00'
        GROUP BY event_type ORDER BY event_type
    """
    o["timeseries_events_daily"] = """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n, round(sum(value), 3) AS total_value
        FROM events GROUP BY 1 ORDER BY 1
    """
    o["fetch_enrich_events"] = """
        SELECT e.event_id, e.user_id, u.user_events
        FROM (SELECT event_id, user_id FROM events WHERE event_id < 100) e
        LEFT JOIN (SELECT user_id, count(*) AS user_events
                   FROM events GROUP BY user_id) u USING (user_id)
        ORDER BY e.event_id
    """
    o["merge_sorted_priorities"] = """
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        ORDER BY o_orderkey
    """
    o["intersect_customers_with_orders"] = """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey
    """
    o["complement_customers_no_urgent"] = """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey NOT IN
              (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        ORDER BY c_custkey
    """
    o["cartesian_product_tokens"] = """
        SELECT doc_id, unnest((string_split(text, ' '))[1:5]) AS tok
        FROM documents WHERE doc_id < 20
    """
    o["leftouter_join_urgent"] = """
        WITH u AS (
          SELECT o_custkey AS c_custkey, count(*) AS n_urgent,
                 round(sum(o_totalprice), 2) AS urgent_total
          FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
        SELECT c.c_custkey, c.c_mktsegment,
               COALESCE(u.n_urgent, 0) AS n_urgent, u.urgent_total
        FROM customer c LEFT JOIN u USING (c_custkey)
        ORDER BY c.c_custkey
    """
    o["fullouter_join_events"] = """
        WITH a AS (SELECT user_id, count(*) AS n_click FROM events
                   WHERE event_type = 'click' GROUP BY 1),
             b AS (SELECT user_id, count(*) AS n_purchase FROM events
                   WHERE event_type = 'purchase' GROUP BY 1)
        SELECT user_id, n_click, n_purchase
        FROM a FULL JOIN b USING (user_id) ORDER BY user_id
    """
    o["sql_module_agg"] = """
        SELECT lang, source, count(*) AS cnt,
               round(avg(n_chars), 2) AS avg_chars
        FROM documents GROUP BY lang, source
        HAVING count(*) >= 5 ORDER BY lang, source
    """
    o["gather_nodes_orders"] = """
        SELECT o_orderpriority AS node, count(*) AS cnt,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_custkey IN
              (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY 1 ORDER BY 1
    """
    o["score_nodes_customers"] = """
        WITH seed AS (
          SELECT o_custkey AS node, count(*) AS cnt FROM orders
          WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        d AS (SELECT o_custkey AS node, count(*) AS df FROM orders GROUP BY 1),
        n AS (SELECT count(*) AS n FROM orders),
        sc AS (
          SELECT s.node, s.cnt, d.df,
                 s.cnt * ln(1.0 + n.n * 1.0 / d.df) AS score
          FROM seed s JOIN d USING (node) CROSS JOIN n)
        SELECT node, cnt, df,
               ROUND(CAST(CAST(score AS REAL) AS DOUBLE), 6) AS score
        FROM sc ORDER BY CAST(score AS REAL) DESC, node ASC LIMIT 20
    """
    o["having_rollup_status"] = """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY o_orderstatus, o_orderpriority
        HAVING count(*) >= 500
        ORDER BY o_orderstatus, o_orderpriority
    """

    # --- sources/sinks + scalar oracles ---
    o["csv_roundtrip_ingest"] = """
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang ORDER BY lang
    """
    o["xml_roundtrip_ingest"] = """
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(length(text)) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang ORDER BY lang
    """
    o["json_roundtrip_ingest"] = """
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang ORDER BY lang
    """
    o["javabin_roundtrip_ingest"] = """
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang ORDER BY lang
    """
    o["cbor_roundtrip_ingest"] = """
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang ORDER BY lang
    """
    o["function_query_scalars"] = """
        SELECT doc_id,
               ROUND(1.0 / (0.001 * n_chars + 1.0), 6) AS recip_nchars,
               CAST(ROUND(2.0 * n_chars + 10.0, 4) AS DOUBLE) AS linear_nchars,
               CASE WHEN n_chars BETWEEN 0 AND 300 THEN -1.0
                    ELSE CAST(n_chars AS DOUBLE) END AS map_nchars,
               ROUND(CASE WHEN greatest(length(lang), 6) = 0 THEN 1.0
                     ELSE 1.0 - CAST(levenshtein(lang, 'python') AS DOUBLE)
                          / greatest(length(lang), 6) END, 6) AS strdist_lang
        FROM documents WHERE doc_id < 20 ORDER BY doc_id
    """

    # --- join / graph / paging / update-path oracles ---
    o["join_orders_rich_customers"] = """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        ORDER BY o_orderkey LIMIT 100
    """
    o["join_score_max"] = """
        SELECT c.c_custkey, c.c_name,
               ROUND(CAST(max(o.o_totalprice) AS DOUBLE), 2) AS join_score
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY join_score DESC, c.c_custkey ASC LIMIT 25
    """
    o["graph_2hop_lineitem"] = """
        WITH RECURSIVE edges AS (
          SELECT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem
          UNION
          SELECT l_suppkey * 2 + 1 AS src, l_orderkey * 2 AS dst FROM lineitem
        ),
        bfs AS (
          SELECT (SELECT min(l_orderkey) * 2 FROM lineitem) AS node, 0 AS depth
          UNION
          SELECT e.dst AS node, b.depth + 1 AS depth
          FROM bfs b JOIN edges e ON e.src = b.node
          WHERE b.depth < 2
        )
        SELECT node, CAST(min(depth) AS INT) AS depth FROM bfs GROUP BY node
        ORDER BY depth, node
    """
    o["frange_recip_nchars"] = """
        SELECT doc_id, ROUND(1.0 / (1.0 + 0.001 * n_chars), 6) AS func_value
        FROM documents
        WHERE 1.0 / (1.0 + 0.001 * n_chars) BETWEEN 0.6 AND 0.8
        ORDER BY doc_id
    """
    o["cursor_page3"] = """
        SELECT doc_id, n_chars FROM documents
        ORDER BY n_chars DESC, doc_id ASC LIMIT 20 OFFSET 40
    """
    o["search_after_page"] = """
        SELECT doc_id, n_chars FROM documents
        WHERE n_chars < 900 OR (n_chars = 900 AND doc_id > 123)
        ORDER BY n_chars DESC, doc_id ASC LIMIT 20
    """
    o["atomic_update_docs"] = """
        SELECT doc_id,
               CASE WHEN doc_id < 50 THEN 'updated' ELSE lang END AS lang,
               n_chars + CASE WHEN doc_id < 50 THEN 1000 ELSE 0 END AS n_chars
        FROM documents WHERE doc_id < 60 ORDER BY doc_id
    """
    o["atomic_update_multivalued"] = """
WITH base AS (SELECT doc_id, [lang, source, lang] AS tags FROM documents WHERE doc_id < 40),
s1 AS (SELECT doc_id, CASE WHEN doc_id < 30
         THEN list_concat(tags, ['new1', 'new1']) ELSE tags END AS tags FROM base),
s2 AS (SELECT doc_id, CASE WHEN doc_id < 30
         THEN list_concat(tags, list_distinct(list_filter(['new1', 'extra'],
              x -> NOT list_contains(tags, x)))) ELSE tags END AS tags FROM s1),
s3 AS (SELECT s2.doc_id, CASE WHEN s2.doc_id < 30
         THEN list_filter(s2.tags, x -> NOT list_contains([b.tags[1]], x))
         ELSE s2.tags END AS tags
       FROM s2 JOIN base b ON b.doc_id = s2.doc_id),
s4 AS (SELECT doc_id, CASE WHEN doc_id < 30
         THEN list_filter(tags, x -> NOT regexp_matches(x, '^src1.*$'))
         ELSE tags END AS tags FROM s3)
SELECT doc_id, array_to_string(tags, '|') AS tags FROM s4 ORDER BY doc_id
""".strip()
    o["facet_intervals_nchars"] = """
SELECT 'tiny' AS interval, CAST(count(CASE WHEN n_chars < 100 THEN 1 END) AS BIGINT) AS count FROM documents
UNION ALL
SELECT 'small', CAST(count(CASE WHEN n_chars >= 50 AND n_chars <= 250 THEN 1 END) AS BIGINT) FROM documents
UNION ALL
SELECT 'mid', CAST(count(CASE WHEN n_chars > 100 AND n_chars < 400 THEN 1 END) AS BIGINT) FROM documents
UNION ALL
SELECT 'big', CAST(count(CASE WHEN n_chars >= 300 THEN 1 END) AS BIGINT) FROM documents
""".strip()
    o["agg_hll_unique_users"] = """
SELECT event_type, count(DISTINCT user_id) AS exact, TRUE AS within_bounds
FROM events GROUP BY event_type ORDER BY event_type
""".strip()
    o["agg_percentile_sketch"] = """
SELECT l_linestatus, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
       TRUE AS within_bounds
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
""".strip()
    o["export_sorted_documents"] = """
        SELECT doc_id, n_chars, lang FROM documents
        ORDER BY n_chars DESC, doc_id ASC
    """
    o["realtime_get_ids"] = """
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id IN (5, 17, 123) ORDER BY doc_id
    """
    o["sorted_early_topk"] = """
        SELECT doc_id, lang, n_chars FROM documents
        ORDER BY n_chars ASC, doc_id ASC LIMIT 25
    """
    o["composite_route_colocation"] = """
        SELECT lang, CAST(1 AS BIGINT) AS shards_used,
               count(*) AS n_docs
        FROM documents GROUP BY lang ORDER BY lang
    """
    o["facet_pivot_lang_source"] = """
        SELECT lang, source, count(*) AS count FROM documents
        GROUP BY lang, source ORDER BY lang, source LIMIT 1000
    """
    o["facet_query_counts"] = """
        SELECT 'long_docs' AS facet, CAST(count(CASE WHEN n_chars > 400 THEN 1 END) AS BIGINT) AS count FROM documents
        UNION ALL
        SELECT 'short_en', CAST(count(CASE WHEN n_chars <= 100 AND lang = 'en' THEN 1 END) AS BIGINT) FROM documents
        UNION ALL
        SELECT 'zh_docs', CAST(count(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) FROM documents
        ORDER BY facet
    """
    o["facet_lang_sub_source_stats"] = """
        SELECT p.parent, p.parent_count, c.child, c.child_count, c.avg_n_chars
        FROM (SELECT lang AS parent, CAST(count(*) AS BIGINT) AS parent_count
              FROM documents GROUP BY lang) p
        JOIN (SELECT lang AS parent, source AS child,
                     CAST(count(*) AS BIGINT) AS child_count,
                     CAST(ROUND(avg(n_chars), 4) AS DOUBLE) AS avg_n_chars
              FROM documents WHERE n_chars > 200
              GROUP BY lang, source) c USING (parent)
        ORDER BY p.parent, c.child LIMIT 1000
    """
    o["facet_heatmap_events"] = """
        SELECT CAST(floor(value / 50.0) * 50.0 AS DOUBLE) AS x_bucket,
               CAST(floor(extract(hour FROM ts) / 6.0) * 6.0 AS DOUBLE) AS y_bucket,
               count(*) AS count
        FROM events
        WHERE value >= 0 AND value < 500
          AND extract(hour FROM ts) >= 0 AND extract(hour FROM ts) < 24
        GROUP BY 1, 2 ORDER BY 1, 2
    """
    o["stats_percentiles_price"] = """
        SELECT ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
               count(DISTINCT o_custkey) AS n_customers
        FROM orders
    """

    # --- wider query surface oracles ---
    o["phrase_batch_stream"] = phrase_topk_sql("batch stream")
    o["phrase_slop2"] = phrase_topk_sql("batch stream", slop=2)
    from solr_spark.oracle_sql import complex_phrase_sql

    o["complex_phrase_prefix"] = complex_phrase_sql(["bat*", "stream"], max_expansions=50)
    from solr_spark.oracle_sql import near_topk_sql

    o["surround_near_unordered"] = near_topk_sql(["stream", "batch"], window=3)
    from solr_spark.oracle_sql import B as _B
    from solr_spark.oracle_sql import K1 as _K1
    from solr_spark.oracle_sql import _prelude, _scored

    o["lucene_filter_prohibit"] = f"""
WITH {_prelude()},
{_scored('sc', "('merge', 'spark')")},
bad AS (SELECT DISTINCT doc_id FROM toks WHERE tok = 'batch')
SELECT sc.doc_id, ROUND(CAST(CAST(score_raw AS REAL) AS DOUBLE), 4) AS score
FROM sc JOIN documents d USING (doc_id)
WHERE d.lang = 'en' AND sc.doc_id NOT IN (SELECT doc_id FROM bad)
ORDER BY CAST(score_raw AS REAL) DESC, sc.doc_id ASC LIMIT 10
"""
    o["lucene_and_filter"] = f"""
WITH {_prelude()},
{_scored('sc', "('customer', 'vector')")}
SELECT sc.doc_id, ROUND(CAST(CAST(score_raw AS REAL) AS DOUBLE), 4) AS score
FROM sc JOIN documents d USING (doc_id)
WHERE d.lang = 'de' AND sc.nt = 2
ORDER BY CAST(score_raw AS REAL) DESC, sc.doc_id ASC LIMIT 10
"""
    o["lucene_match_all"] = """
        SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
        WHERE lang = 'fr' ORDER BY doc_id ASC LIMIT 10
    """
    o["lucene_field_exists"] = f"""
WITH {_prelude()},
{_scored('sc', "('scan')")}
SELECT sc.doc_id,
       ROUND(CAST(CAST(score_raw + 1.0 AS REAL) AS DOUBLE), 4) AS score
FROM sc JOIN documents d USING (doc_id)
WHERE d.lang IS NOT NULL
ORDER BY CAST(score_raw + 1.0 AS REAL) DESC, sc.doc_id ASC LIMIT 10
"""
    o["lucene_const_score"] = f"""
WITH {_prelude()},
{_scored('sc', "('batch')")},
has_scan AS (SELECT DISTINCT doc_id FROM toks WHERE tok = 'scan'),
combined AS (
  SELECT COALESCE(sc.doc_id, hs.doc_id) AS doc_id,
         COALESCE(sc.score_raw, 0.0)
         + CASE WHEN hs.doc_id IS NOT NULL THEN 0.5 ELSE 0.0 END AS total
  FROM sc FULL OUTER JOIN has_scan hs ON sc.doc_id = hs.doc_id)
SELECT doc_id, ROUND(CAST(CAST(total AS REAL) AS DOUBLE), 4) AS score
FROM combined
ORDER BY CAST(total AS REAL) DESC, doc_id ASC LIMIT 10
"""
    from solr_spark.oracle_sql import boosted_bool_sql, expansion_topk_sql

    o["lucene_range_nchars"] = boosted_bool_sql(
        {"spark": 1.0, "merge": 1.0},
        must_any=[["spark", "merge"]],
        range_pred="n_chars BETWEEN 100 AND 300",
    )
    o["query_wildcard"] = expansion_topk_sql("regexp_matches(tok, '^sp.rk.*$')")
    o["query_regexp"] = expansion_topk_sql("regexp_matches(tok, '^(?:s[pt]ark)$')")
    o["query_leading_wildcard"] = expansion_topk_sql("tok LIKE '%er'")
    o["query_boosted_or"] = boosted_bool_sql(
        {"spark": 2.0, "merge": 1.0, "table": 1.0},
        must_any=[["spark", "merge"], ["table"]],
    )
    o["lucene_nested_bool"] = boosted_bool_sql(
        {"batch": 1.0, "stream": 1.0, "spark": 1.0},
        must_any=[["batch", "stream"], ["spark"]],
        not_terms=["merge"],
    )
    o["term_range_text"] = expansion_topk_sql("tok >= 'spark' AND tok <= 'sparkz'")
    o["simple_query_cnf"] = boosted_bool_sql(
        {"batch": 1.0, "stream": 1.0, "customer": 1.0},
        must_any=[["batch", "stream"], ["customer"]],
        not_terms=["merge"],
    )
    o["xmlparser_bool"] = boosted_bool_sql(
        {"batch": 1.0, "stream": 2.0, "spark": 1.0},
        must_any=[["batch", "stream"], ["spark"]],
        not_terms=["merge"],
    )
    o["lucene_fielded_wildcard"] = boosted_bool_sql(
        {"spark": 1.0},
        must_any=[["spark"]],
        range_pred="lang LIKE 'e%'",
    )
    o["json_request_bool"] = boosted_bool_sql(
        {"batch": 1.0, "stream": 2.0, "spark": 1.0, "customer": 0.0},
        must_any=[["batch", "stream"], ["spark"], ["customer"]],
        not_terms=["merge"],
    )
    o["switch_case_query"] = bm25_topk_sql(tok.tokenize_py("spark merge"), "OR")
    _exec_parts = [
        ("qA", bm25_topk_sql(tok.tokenize_py("spark merge"), "OR")),
        ("qB", boosted_bool_sql(
            {"batch": 1.0, "stream": 1.0, "customer": 1.0},
            must_any=[["batch", "stream"], ["customer"]],
            not_terms=["merge"],
        )),
        ("qC", boosted_bool_sql({"table": 2.0, "customer": 1.0})),
    ]
    o["executor_stored_queries"] = "\nUNION ALL\n".join(
        f"SELECT '{qid}' AS query_id, t.* FROM ({sql}) t" for qid, sql in _exec_parts
    )
    o["rank_feature_satu"] = """
SELECT doc_id, ROUND(CAST(n_chars AS DOUBLE) / (n_chars + 100.0), 6) AS score
FROM documents
ORDER BY CAST(n_chars AS DOUBLE) / (n_chars + 100.0) DESC, doc_id ASC
LIMIT 10
""".strip()
    o["rank_feature_sigm"] = """
SELECT doc_id,
       ROUND(2.0 * pow(n_chars, 2.0) / (pow(n_chars, 2.0) + pow(500.0, 2.0)), 6) AS score
FROM documents
ORDER BY 2.0 * pow(n_chars, 2.0) / (pow(n_chars, 2.0) + pow(500.0, 2.0)) DESC, doc_id ASC
LIMIT 10
""".strip()
    o["rank_boost_log"] = rank_boost_log_sql(
        tok.tokenize_py("table"), weight=0.3, scaling=1.0
    )

    # incremental build == batch build == the same SQL oracle
    o["nrt_incremental_bm25"] = bm25_topk_sql(tok.tokenize_py(_Q_OR), "OR")
    # delete path: the oracle is the same BM25 over the surviving docs
    o["nrt_delete_bm25"] = bm25_topk_sql(
        tok.tokenize_py(_Q_OR), "OR",
        table="(SELECT * FROM documents WHERE doc_id % 7 <> 3)",
    )
    o["bm25_mm_2of3"] = bm25_mm_sql(tok.tokenize_py("spark merge window"), mm=2)
    # mm spec "3<-25%" over 4 clauses resolves to 3 (parser pinned to the
    # reference's 41 golden vectors in tests/test_query_extras.py)
    o["edismax_mm_spec"] = bm25_mm_sql(tok.tokenize_py("spark merge window table"), mm=3)
    o["query_prefix"] = prefix_topk_sql("s")
    o["query_fuzzy"] = fuzzy_topk_sql("sprk")
    o["mlt_doc42"] = mlt_topk_sql(42)
    o["mlt_interesting_terms"] = f"""
WITH {_prelude()},
alldf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
seedtf AS (SELECT tok, count(*) AS tf FROM toks WHERE doc_id = 42 GROUP BY tok)
SELECT st.tok AS term, CAST(st.tf AS BIGINT) AS tf, CAST(a.df AS BIGINT) AS df,
       ROUND(st.tf * ln(1.0 + (s.n_docs - a.df + 0.5) / (a.df + 0.5)), 4) AS tfidf
FROM seedtf st JOIN alldf a USING (tok) CROSS JOIN stats s
ORDER BY st.tf * ln(1.0 + (s.n_docs - a.df + 0.5) / (a.df + 0.5)) DESC, st.tok ASC
LIMIT 10
""".strip()
    o["suggest_freetext_data"] = f"""
WITH toks AS (SELECT doc_id, {tok.duckdb_tokens_expr('text')} AS tt FROM documents),
bi AS (SELECT unnest(list_transform(
         range(1, greatest(len(tt) - 1, 0) + 1),
         i -> tt[i] || ' ' || tt[i + 1])) AS s
       FROM toks)
SELECT split_part(s, ' ', 2) AS suggestion, CAST(count(*) AS BIGINT) AS weight
FROM bi WHERE split_part(s, ' ', 1) = 'data'
GROUP BY 1 ORDER BY weight DESC, suggestion ASC LIMIT 5
""".strip()
    o["rerank_weighted"] = rerank_sql(
        tok.tokenize_py("table row"), tok.tokenize_py("merge"), k=10, rerank_docs=50, weight=2.0
    )
    from solr_spark.oracle_sql import ltr_linear_sql, ltr_trees_sql

    o["ltr_linear_rescore"] = ltr_linear_sql(
        tok.tokenize_py("table row"), tok.tokenize_py("merge"), k=10
    )
    o["ltr_trees_rescore"] = ltr_trees_sql(
        tok.tokenize_py("spark merge data"), tok.tokenize_py("customer"), k=10
    )
    from solr_spark.oracle_sql import interleave_sql

    o["ltr_interleave_teams"] = interleave_sql(
        tok.tokenize_py("table row"), tok.tokenize_py("merge table"), k=10
    )
    o["boost_by_recip_nchars"] = boost_recip_nchars_sql(tok.tokenize_py("table"))
    o["external_file_boost"] = boost_expr_sql(
        tok.tokenize_py("table"),
        "CASE WHEN doc_id % 3 <> 0 AND doc_id % 7 = 1 "
        "THEN ((doc_id * 7) % 100) / 10.0 + 2.5 "
        "WHEN doc_id % 3 <> 0 THEN ((doc_id * 7) % 100) / 10.0 + 0.5 "
        "ELSE 1.0 END",
    )
    o["dismax_text_source"] = dismax_sql(
        tok.tokenize_py("src3 spark"), tok.tokenize_py("src3 spark"), tie=0.1
    )
    from solr_spark.analysis import CODE_STEM_CHAIN
    from solr_spark.oracle_sql import edismax_full_sql, edismax_pf_sql

    o["maxscore_or"] = f"""
WITH {_prelude()},
sc_tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ('merge', 'spark', 'table') GROUP BY 1, 2),
sc_df AS (SELECT tok, count(*) AS df FROM sc_tf GROUP BY tok),
sc AS (
  SELECT t.doc_id,
         MAX( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * t.tf / (t.tf + {_K1} * (1.0 - {_B} + {_B} * l.dl / s.avgdl)) ) AS score_raw
  FROM sc_tf t JOIN sc_df d USING (tok)
  JOIN dl l USING (doc_id) CROSS JOIN stats s
  GROUP BY t.doc_id)
SELECT doc_id, ROUND(CAST(CAST(score_raw AS REAL) AS DOUBLE), 4) AS score
FROM sc ORDER BY CAST(score_raw AS REAL) DESC, doc_id ASC LIMIT 10
"""
    o["igain_terms_en"] = f"""
WITH {_prelude()},
lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(pos) AS DOUBLE) AS n_pos FROM lab),
pt AS (
  SELECT t.tok AS term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(l.pos) AS BIGINT) AS df_pos
  FROM (SELECT DISTINCT doc_id, tok FROM toks) t JOIN lab l USING (doc_id)
  GROUP BY t.tok HAVING count(*) >= 5)
SELECT term, df, df_pos,
       ROUND(
         (CASE WHEN n_pos/n_docs > 0 THEN -(n_pos/n_docs)*log2(n_pos/n_docs) ELSE 0 END
          + CASE WHEN 1.0 - n_pos/n_docs > 0 THEN -(1.0 - n_pos/n_docs)*log2(1.0 - n_pos/n_docs) ELSE 0 END)
         - ( (df/n_docs) *
               (CASE WHEN df_pos*1.0/df > 0 THEN -(df_pos*1.0/df)*log2(df_pos*1.0/df) ELSE 0 END
                + CASE WHEN 1.0 - df_pos*1.0/df > 0 THEN -(1.0 - df_pos*1.0/df)*log2(1.0 - df_pos*1.0/df) ELSE 0 END)
           + CASE WHEN n_docs > df THEN
               ((n_docs - df)/n_docs) *
               (CASE WHEN (n_pos - df_pos)/(n_docs - df) > 0
                     THEN -((n_pos - df_pos)/(n_docs - df))*log2((n_pos - df_pos)/(n_docs - df)) ELSE 0 END
                + CASE WHEN 1.0 - (n_pos - df_pos)/(n_docs - df) > 0
                     THEN -(1.0 - (n_pos - df_pos)/(n_docs - df))*log2(1.0 - (n_pos - df_pos)/(n_docs - df)) ELSE 0 END)
             ELSE 0 END ), 6) AS ig
FROM pt CROSS JOIN tot
ORDER BY ig DESC, term ASC LIMIT 10
"""
    o["graph_terms_filter"] = f"""
WITH {_prelude()},
eligible AS (
  SELECT tok FROM (SELECT tok, count(DISTINCT doc_id) AS df FROM toks
                   WHERE tok IN ('merge', 'spark', 'table') GROUP BY tok)
  WHERE df <= 600)
SELECT DISTINCT doc_id FROM toks
WHERE tok IN (SELECT tok FROM eligible)
ORDER BY doc_id
"""
    o["bm25_stemmed_chain"] = bm25_topk_sql(
        CODE_STEM_CHAIN.tokenize_py("tables merges"), "OR", chain=CODE_STEM_CHAIN
    )
    _syn_terms = []
    for _t in tok.tokenize_py("merge table"):
        for _s in _SYNONYMS.get(_t, [_t]):
            if _s not in _syn_terms:
                _syn_terms.append(_s)
    o["bm25_synonyms"] = bm25_topk_sql(_syn_terms, "OR")

    o["edismax_pf_boost"] = edismax_pf_sql(
        tok.tokenize_py("batch stream"), "batch stream", pf_weight=2.0
    )
    o["edismax_bq_bf"] = edismax_full_sql(
        tok.tokenize_py("src3 spark"),
        tok.tokenize_py("src3 spark"),
        qf_text=1.0, qf_src=0.5, tie=0.1,
        bq_terms=tok.tokenize_py("table"), bq_weight=0.5,
    )
    o["rrf_two_queries"] = rrf_sql(
        tok.tokenize_py("spark merge"), tok.tokenize_py("table row"), k=10, depth=20
    )
    o["spellcheck_sparkk"] = spellcheck_sql("sparkk")
    from solr_spark.oracle_sql import wordbreak_combine_sql, wordbreak_split_sql

    o["spellcheck_wordbreak_split"] = wordbreak_split_sql("sparkmerge")
    o["spellcheck_wordbreak_combine"] = wordbreak_combine_sql(
        ["win", "dow", "cus", "tomer"]
    )
    o["suggest_prefix_s"] = suggest_sql("s")
    from solr_spark.oracle_sql import suggest_infix_sql

    o["suggest_infix_er"] = suggest_infix_sql("er")
    from solr_spark.oracle_sql import suggest_blended_infix_sql

    o["suggest_blended_infix_ar"] = suggest_blended_infix_sql("ar")
    _ctx_src = CODE_CHAIN.duckdb_tokens_select(
        "(SELECT * FROM documents WHERE lang = 'en')", "doc_id", "text"
    )
    o["suggest_context_en"] = f"""
WITH ctoks AS (SELECT DISTINCT doc_id, tok FROM {_ctx_src} t)
SELECT tok AS term, count(*) AS df FROM ctoks
WHERE strpos(tok, 'er') > 0
GROUP BY tok ORDER BY df DESC, term ASC LIMIT 10"""
    o["facet_sort_by_stat"] = """
        SELECT lang AS bucket, count(*) AS count,
               ROUND(avg(n_chars), 4) AS avg_n_chars
        FROM documents GROUP BY lang
        ORDER BY avg_n_chars DESC, bucket ASC LIMIT 3
    """
    o["highlight_merge"] = highlight_sql("merge")
    o["significant_terms_spark"] = significant_terms_sql("spark")
    o["highlight_multi_terms"] = f"""
WITH {_prelude()},
{_scored('sc', "('batch', 'merge')")},
win AS (SELECT sc.doc_id, ROUND(CAST(CAST(score_raw AS REAL) AS DOUBLE), 4) AS score
        FROM sc ORDER BY CAST(score_raw AS REAL) DESC, doc_id ASC LIMIT 10)
SELECT w.doc_id, w.score, t.term,
       substr(d.text, greatest(1, strpos(lower(d.text), t.term) - 30), 80) AS snippet
FROM win w JOIN documents d USING (doc_id)
CROSS JOIN (SELECT unnest(['batch', 'merge']) AS term) t
WHERE strpos(lower(d.text), t.term) > 0
ORDER BY w.score DESC, w.doc_id, t.term
"""
    o["spellcheck_collation"] = f"""
WITH {_prelude()},
alldf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
c1 AS (SELECT tok FROM alldf
       WHERE abs(length(tok) - 6) <= 2 AND levenshtein(tok, 'sparkk') <= 2
       ORDER BY levenshtein(tok, 'sparkk') ASC, df DESC, tok ASC LIMIT 1),
c2 AS (SELECT tok FROM alldf
       WHERE abs(length(tok) - 6) <= 2 AND levenshtein(tok, 'mergge') <= 2
       ORDER BY levenshtein(tok, 'mergge') ASC, df DESC, tok ASC LIMIT 1),
h AS (SELECT count(*) AS hits FROM (
        SELECT DISTINCT doc_id FROM toks WHERE tok = (SELECT tok FROM c1)
        INTERSECT
        SELECT DISTINCT doc_id FROM toks WHERE tok = (SELECT tok FROM c2)) t)
SELECT (SELECT tok FROM c1) || ' ' || (SELECT tok FROM c2) AS collation,
       CAST(hits AS BIGINT) AS hits
FROM h
"""
    o["query_elevation"] = f"""
WITH {_prelude()},
{_scored('sc', "('table')")},
e(doc_id, rnk) AS (VALUES (42, 0), (7, 1)),
allrows AS (
  SELECT COALESCE(sc.doc_id, e.doc_id) AS doc_id,
         e.doc_id IS NOT NULL AS elevated,
         ROUND(COALESCE(CAST(CAST(sc.score_raw AS REAL) AS DOUBLE), 0.0), 4) AS score,
         e.rnk
  FROM sc FULL OUTER JOIN e ON sc.doc_id = e.doc_id)
SELECT doc_id, elevated, score FROM allrows
ORDER BY CASE WHEN elevated THEN 0 ELSE 1 END,
         COALESCE(rnk, 1073741824), score DESC, doc_id ASC
LIMIT 10
"""
    o["term_vector_doc42"] = f"""
SELECT tok AS term, CAST(count(*) AS BIGINT) AS tf,
       list_sort(list(pos - 1)) AS positions
FROM (SELECT unnest(tt) AS tok, generate_subscripts(tt, 1) AS pos
      FROM (SELECT {tok.duckdb_tokens_expr('text')} AS tt
            FROM documents WHERE doc_id = 42))
GROUP BY tok ORDER BY tok
"""
    o["stats_sumsq_nchars"] = """
        SELECT CAST(count(n_chars) AS BIGINT) AS count,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS sumsq,
               CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct
        FROM documents
    """
    o["relatedness_source_en"] = """
        WITH t AS (SELECT CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS DOUBLE) AS fg_total,
                          CAST(count(*) AS DOUBLE) AS bg_total FROM documents),
        b AS (SELECT source AS bucket,
                     CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS fg_size,
                     CAST(count(*) AS BIGINT) AS bg_size
              FROM documents GROUP BY source)
        SELECT bucket, fg_size, bg_size,
               ROUND(fg_size / t.fg_total - bg_size / t.bg_total, 6) AS relatedness
        FROM b CROSS JOIN t
        WHERE fg_size >= 1
        ORDER BY relatedness DESC, bucket ASC LIMIT 20
    """
    o["blockjoin_orders_lineitem"] = """
        SELECT o_orderkey, CAST(count(*) AS BIGINT) AS score
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_quantity >= 45
        GROUP BY o_orderkey ORDER BY o_orderkey LIMIT 100
    """
    o["blockjoin_score_avg"] = """
        SELECT o_orderkey, ROUND(CAST(avg(l_extendedprice) AS DOUBLE), 4) AS score
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_quantity >= 45
        GROUP BY o_orderkey ORDER BY score DESC, o_orderkey ASC LIMIT 50
    """
    o["uniqueblock_lineitem"] = """
        SELECT l_returnflag AS bucket, CAST(count(*) AS BIGINT) AS n_children,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_parents
        FROM lineitem GROUP BY l_returnflag ORDER BY bucket LIMIT 100
    """

    # --- training-data pipeline oracles ---
    ws_sql, bpe_sql = textops.token_count_sql("text")
    qd = textops.quality_sql("text")
    o["text_analysis_features"] = f"""
        SELECT doc_id,
               {ws_sql} AS n_ws_tokens,
               {bpe_sql} AS n_bpe_tokens,
               {textops.language_id_sql('text')} AS langid,
               {textops.fingerprint_sql('text')} AS fingerprint,
               {qd['q_n_words']} AS q_n_words,
               ROUND({qd['q_mean_word_len']}, 4) AS mean_word_len,
               ROUND({qd['q_punct_ratio']}, 4) AS punct_ratio,
               ROUND({qd['q_stopword_ratio']}, 4) AS stopword_ratio,
               ROUND({qd['q_score']}, 4) AS quality_score
        FROM documents WHERE doc_id < 20 ORDER BY doc_id
    """
    o["dedup_exact"] = exact_dedup_sql(clone_below=50, offset=10000)
    o["dedup_ngram_jaccard"] = ngram_jaccard_sql(0.5)
    from solr_spark.oracle_sql import (
        decontaminate_sql,
        dedup_clusters_sql,
        stratified_sample_sql,
    )

    o["dedup_cluster_canonical"] = dedup_clusters_sql(0.5)
    from solr_spark.oracle_sql import filter_pack_sql

    o["analysis_filter_pack"] = filter_pack_sql()
    o["decontaminate_overlap"] = decontaminate_sql("doc_id < 5", "doc_id >= 5", n=4)
    o["dup_substring_stats"] = r"""
WITH tk AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
  FROM documents
), occ AS (
  SELECT doc_id, r.i AS pos,
         array_to_string(toks[CAST(r.i + 1 AS BIGINT) : CAST(r.i + 15 AS BIGINT)], ' ') AS win
  FROM tk, unnest(range(CAST(len(toks) - 15 + 1 AS BIGINT))) AS r(i)
  WHERE len(toks) >= 15
), duph AS (SELECT win FROM occ GROUP BY win HAVING count(*) > 1),
dup_occ AS (SELECT o.doc_id, o.pos FROM occ o JOIN duph USING (win)),
cover AS (
  SELECT doc_id, CAST(count(DISTINCT pos + j.j) AS BIGINT) AS n_dup_tokens
  FROM dup_occ, unnest(range(15)) AS j(j) GROUP BY doc_id
), dupc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows FROM dup_occ GROUP BY doc_id
), base AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM occ GROUP BY doc_id
)
SELECT b.doc_id, b.n_windows,
       CAST(COALESCE(d.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(COALESCE(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens
FROM base b LEFT JOIN dupc d USING (doc_id) LEFT JOIN cover c USING (doc_id)
ORDER BY b.doc_id
"""
    o["span_dedup_c4"] = r"""
WITH tk AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
  FROM documents
), occ AS (
  SELECT doc_id, r.i AS pos,
         array_to_string(toks[CAST(r.i * 3 + 1 AS BIGINT) : CAST(r.i * 3 + 3 AS BIGINT)], ' ') AS span
  FROM tk, unnest(range(CAST(floor(len(toks) / 3) AS BIGINT))) AS r(i)
), flagged AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
  FROM occ
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""
    from solr_spark.textops import (
        bigram_lm_sql, gopher_filter_sql, pii_counts_sql, repetition_sql,
        scrub_pii_sql,
    )

    o["repetition_features_docs"] = repetition_sql("doc_id < 40")
    o["bmp_decode_stats"] = """
WITH ids AS (SELECT unnest(range(16)) AS doc_id),
dims AS (SELECT doc_id, ((doc_id % 4) + 1) * 8 AS w, ((doc_id % 3) + 1) * 8 AS h FROM ids),
px AS (SELECT doc_id, w, h, (doc_id * 13 + i.i * 7) % 256 AS v
       FROM dims, unnest(range(w * h * 3)) AS i(i))
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       ROUND(SUM(v) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_pixel,
       CAST(SUM(v) AS BIGINT) AS pixel_sum
FROM px GROUP BY doc_id, w, h ORDER BY doc_id
"""
    o["wav_decode_stats"] = """
WITH ids AS (SELECT unnest(range(12)) AS doc_id),
smp AS (SELECT doc_id, ((doc_id * 17 + i.i * 11) % 4096) - 2048 AS v
        FROM ids, unnest(range(200 + doc_id * 37)) AS i(i))
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(16000 AS INT) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       ROUND(SUM(v) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_sample,
       CAST(SUM(v * v) AS BIGINT) AS sumsq
FROM smp GROUP BY doc_id ORDER BY doc_id
"""
    _pii_inj = (
        "text || ' contact u' || CAST(doc_id AS VARCHAR) || "
        "'@mail.example.org at 10.0.' || CAST(doc_id % 200 AS VARCHAR) || "
        "'.7 tel 555-123-4567'"
    )
    _pii_cs = pii_counts_sql(_pii_inj)
    o["lm_perplexity_docs"] = bigram_lm_sql()
    o["gopher_filter_flags"] = gopher_filter_sql()
    _ws_tok = r"CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)"
    o["corpus_mix_by_lang"] = f"""
        WITH base AS (
          SELECT lang, {_ws_tok} AS ntok, CAST(length(text) AS BIGINT) AS nch
          FROM documents
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS n_tokens,
               ROUND(avg(ntok), 4) AS mean_tokens,
               ROUND(quantile_cont(ntok, 0.5), 4) AS p50_tokens,
               ROUND(quantile_cont(ntok, 0.95), 4) AS p95_tokens,
               CAST(sum(nch) AS BIGINT) AS n_chars
        FROM base GROUP BY lang ORDER BY lang
    """
    o["pii_scrub_docs"] = f"""
        SELECT doc_id,
               CAST(length({scrub_pii_sql(_pii_inj)}) AS INT) AS len_scrubbed,
               CAST({_pii_cs["n_emails"]} AS INT) AS n_emails,
               CAST({_pii_cs["n_ips"]} AS INT) AS n_ips,
               CAST({_pii_cs["n_phones"]} AS INT) AS n_phones
        FROM documents WHERE doc_id < 30 ORDER BY doc_id
    """
    o["parse_csv_stream"] = """
        WITH lines AS (
          SELECT doc_id,
                 CAST(doc_id AS VARCHAR) || ',' || lang || ',' || source || ',' || CAST(n_chars AS VARCHAR) AS csv_line,
                 lang || CHR(9) || CAST(n_chars AS VARCHAR) AS tsv_line
          FROM documents WHERE doc_id < 50
        )
        SELECT doc_id,
               CAST(split_part(csv_line, ',', 1) AS BIGINT) AS id,
               split_part(csv_line, ',', 2) AS l,
               split_part(csv_line, ',', 3) AS src,
               CAST(split_part(csv_line, ',', 4) AS INT) AS nc,
               split_part(tsv_line, CHR(9), 1) AS tl,
               CAST(split_part(tsv_line, CHR(9), 2) AS INT) AS tn
        FROM lines ORDER BY doc_id
    """
    o["stratified_sample_lang"] = stratified_sample_sql(
        "lang", "doc_id", 20, "doc_id, lang, n_chars"
    )
    o["dedup_minhash_lsh"] = minhash_lsh_sql(0.5)
    o["dedup_simhash"] = simhash_pairs_sql(4)
    from solr_spark.oracle_sql import (
        highlight_passages_sql,
        payload_check_sql,
        payload_score_sql,
    )

    o["highlight_passages"] = highlight_passages_sql(
        tok, ["customer", "merge"], doc_limit=100
    )

    # spatial (haversine, earth radius = Solr's EARTH_MEAN_RADIUS_KM)
    _GEO_CTE = """g AS (SELECT doc_id,
  -90.0 + ((doc_id * 7919) % 18000) / 100.0 AS lat,
  -180.0 + ((doc_id * 104729) % 36000) / 100.0 AS lon FROM documents),
gd AS (SELECT doc_id, lat, lon,
  2.0 * 6371.0087714 * asin(sqrt(
    sin(radians(40.0 - lat) / 2) * sin(radians(40.0 - lat) / 2)
    + cos(radians(lat)) * cos(radians(40.0))
      * sin(radians(-74.0 - lon) / 2) * sin(radians(-74.0 - lon) / 2))) AS dist_km
  FROM g)"""
    o["spatial_geofilt"] = f"""
WITH {_GEO_CTE}
SELECT doc_id, ROUND(dist_km, 4) AS dist_km FROM gd
WHERE dist_km <= 2000.0 ORDER BY doc_id
""".strip()
    import math as _math

    _dlat = _math.degrees(2000.0 / 6371.0087714)
    _dlon = _math.degrees(2000.0 / (6371.0087714 * _math.cos(_math.radians(40.0))))
    o["spatial_bbox"] = f"""
WITH {_GEO_CTE}
SELECT doc_id, lat, lon FROM gd
WHERE lat >= {40.0 - _dlat!r} AND lat <= {40.0 + _dlat!r}
  AND lon >= {-74.0 - _dlon!r} AND lon <= {-74.0 + _dlon!r}
ORDER BY doc_id
""".strip()
    o["spatial_geodist_sort"] = f"""
WITH {_GEO_CTE}
SELECT doc_id, ROUND(dist_km, 4) AS dist_km FROM gd
ORDER BY dist_km ASC, doc_id ASC LIMIT 10
""".strip()

    o["payload_score_sum"] = payload_score_sql(tok, "customer", "sum", 10)
    o["payload_score_max"] = payload_score_sql(tok, "merge", "max", 10)
    o["payload_check_exact"] = payload_check_sql(tok, "merge", 2, 10)
    # math/stat evaluators: identical estimators in DuckDB (sample cov,
    # least-squares regr_*, exact linear-interpolation quantiles)
    o["eval_corr_regress"] = """
WITH li AS (SELECT l_returnflag, l_quantity, l_extendedprice / 1000.0 AS y FROM lineitem)
SELECT l_returnflag, count(l_quantity) AS n,
       ROUND(corr(l_quantity, y), 4) AS corr,
       ROUND(covar_samp(l_quantity, y), 4) AS cov,
       ROUND(regr_slope(y, l_quantity), 4) AS slope,
       ROUND(regr_intercept(y, l_quantity), 4) AS intercept,
       ROUND(regr_r2(y, l_quantity), 4) AS r2
FROM li GROUP BY l_returnflag ORDER BY l_returnflag
""".strip()
    o["eval_hist"] = """
WITH h AS (SELECT LEAST(GREATEST(CAST(FLOOR((l_quantity - 1.0) / 5.0) AS INTEGER), 0), 9) AS bin
           FROM lineitem WHERE l_quantity IS NOT NULL)
SELECT bin, CAST(1.0 + bin * 5.0 AS DOUBLE) AS bin_lo, count(*) AS n
FROM h GROUP BY bin ORDER BY bin
""".strip()
    o["eval_describe"] = """
SELECT event_type, count(value) AS n,
       ROUND(avg(value), 4) AS mean, ROUND(stddev_samp(value), 4) AS stddev,
       ROUND(min(value), 4) AS min, ROUND(max(value), 4) AS max,
       ROUND(sum(value), 4) AS sum
FROM events GROUP BY event_type ORDER BY event_type
""".strip()
    o["eval_percentiles"] = " UNION ALL ".join(
        f"(SELECT l_linestatus, CAST({p} AS DOUBLE) AS p, "
        f"ROUND(quantile_cont(l_extendedprice, {p}), 4) AS q "
        f"FROM lineitem GROUP BY l_linestatus)"
        for p in (0.25, 0.5, 0.75, 0.95)
    ) + " ORDER BY l_linestatus, p"
    o["eval_moving_avg"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1, 2)
SELECT event_type, day,
       ROUND(AVG(n_events) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS moving_avg_7d
FROM daily ORDER BY event_type, day
""".strip()
    o["eval_series_diff"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1, 2)
SELECT event_type, day,
       n_events - LAG(n_events, 1) OVER (PARTITION BY event_type ORDER BY day) AS diff
FROM daily ORDER BY event_type, day
""".strip()
    o["eval_zscores"] = """
WITH st AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY 1)
SELECT e.event_id, e.event_type, e.value,
       ROUND((e.value - st.mu) / st.sd, 4) AS zscore
FROM events e JOIN st USING (event_type)
WHERE abs((e.value - st.mu) / st.sd) > 2.5
ORDER BY e.event_id
""".strip()
    o["eval_ema"] = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1, 2),
ord AS (
  SELECT event_type, day, n_events,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily),
seed AS (
  SELECT event_type, AVG(n_events) AS val,
         MAX(day) AS day
  FROM ord WHERE rn <= 7 GROUP BY event_type),
r AS (
  SELECT s.event_type, 7 AS rn, s.day, s.val FROM seed s
  UNION ALL
  SELECT o.event_type, o.rn, o.day,
         0.25 * (o.n_events - r.val) + r.val AS val
  FROM r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.rn + 1)
SELECT event_type, day, ROUND(CAST(val AS DOUBLE), 4) AS ema
FROM r ORDER BY event_type, day
""".strip()
    _daily_ord_sql = """daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1, 2),
ord AS (
  SELECT event_type, day, n_events,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily)"""
    o["eval_moving_median"] = f"""
WITH {_daily_ord_sql},
win AS (
  SELECT event_type, day, rn,
         median(n_events) OVER w AS med
  FROM ord
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT event_type, day, ROUND(CAST(med AS DOUBLE), 4) AS moving_median
FROM win WHERE rn >= 7 ORDER BY event_type, day
""".strip()
    o["eval_moving_mad"] = f"""
WITH {_daily_ord_sql},
win AS (
  SELECT event_type, day, rn,
         list(n_events) OVER w AS l
  FROM ord
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
m AS (SELECT event_type, day, rn, l, list_avg(l) AS mn FROM win)
SELECT event_type, day,
       ROUND(CAST(list_avg(list_transform(l, x -> abs(x - mn))) AS DOUBLE), 4)
         AS moving_mad
FROM m WHERE rn >= 7 ORDER BY event_type, day
""".strip()
    o["eval_ttest_welch"] = """
WITH st AS (
  SELECT event_type, avg(value) AS m, var_samp(value) AS v,
         CAST(count(value) AS DOUBLE) AS n
  FROM events WHERE event_type IN ('click', 'error') GROUP BY 1),
a AS (SELECT m AS m1, v AS v1, n AS n1 FROM st WHERE event_type = 'click'),
b AS (SELECT m AS m2, v AS v2, n AS n2 FROM st WHERE event_type = 'error')
SELECT ROUND((m1 - m2) / sqrt(v1/n1 + v2/n2), 6) AS t_stat,
       ROUND((v1/n1 + v2/n2) * (v1/n1 + v2/n2)
             / ((v1/n1)*(v1/n1)/(n1-1) + (v2/n2)*(v2/n2)/(n2-1)), 4) AS df
FROM a, b
""".strip()
    o["eval_minmax_scale"] = """
WITH st AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM events WHERE event_id < 1000 GROUP BY 1)
SELECT e.event_id, e.event_type,
       ROUND((e.value - st.mn) / (st.mx - st.mn), 6) AS scaled
FROM events e JOIN st USING (event_type)
WHERE e.event_id < 1000
ORDER BY e.event_id
""".strip()
    o["eval_spearman"] = """
WITH r AS (
  SELECT l_returnflag,
         rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0 AS rx,
         rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
           + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0 AS ry
  FROM lineitem)
SELECT l_returnflag, count(*) AS n, ROUND(corr(rx, ry), 4) AS spearman
FROM r GROUP BY l_returnflag ORDER BY l_returnflag
""".strip()
    o["eval_mann_whitney"] = """
WITH d AS (SELECT value AS v, event_type AS g FROM events
           WHERE event_type IN ('click', 'error')),
r AS (SELECT g, rank() OVER (ORDER BY v)
             + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS rk FROM d),
t AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM d GROUP BY v),
st AS (SELECT (SELECT sum(rk) FROM r WHERE g = 'click') AS r1,
              (SELECT CAST(count(*) AS DOUBLE) FROM d WHERE g = 'click') AS n1,
              (SELECT CAST(count(*) AS DOUBLE) FROM d) AS n,
              (SELECT sum(tt*tt*tt - tt) FROM t) AS ties)
SELECT ROUND(r1 - n1*(n1+1)/2.0, 4) AS u1,
       ROUND(n1*(n-n1) - (r1 - n1*(n1+1)/2.0), 4) AS u2,
       ROUND(((r1 - n1*(n1+1)/2.0) - n1*(n-n1)/2.0)
             / sqrt(n1*(n-n1)/12.0 * ((n+1) - ties/(n*(n-1)))), 6) AS z
FROM st
""".strip()
    o["eval_chi_square"] = """
WITH obs AS (SELECT l_returnflag AS a, l_linestatus AS b,
                    CAST(count(*) AS DOUBLE) AS o
             FROM lineitem GROUP BY 1, 2),
ra AS (SELECT a, sum(o) AS ra FROM obs GROUP BY a),
cb AS (SELECT b, sum(o) AS cb FROM obs GROUP BY b),
tot AS (SELECT sum(o) AS n, CAST(count(DISTINCT a) AS DOUBLE) AS ka,
               CAST(count(DISTINCT b) AS DOUBLE) AS kb FROM obs)
SELECT ROUND(sum((o - ra*cb/n) * (o - ra*cb/n) / (ra*cb/n))
             + any_value(n) - sum(ra*cb/n), 4) AS chi2,
       (any_value(ka) - 1) * (any_value(kb) - 1) AS dof,
       any_value(n) AS n
FROM obs JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot
""".strip()
    o["eval_anova"] = """
WITH g AS (SELECT event_type, CAST(count(value) AS DOUBLE) AS ng,
                  avg(value) AS mg, var_samp(value) AS vg
           FROM events GROUP BY 1),
gr AS (SELECT sum(ng) AS n, sum(ng * mg) AS s FROM g),
st AS (SELECT sum(ng * (mg - s/n) * (mg - s/n)) AS ssb,
              sum((ng - 1) * vg) AS ssw,
              CAST(count(*) AS DOUBLE) AS k, any_value(n) AS n
       FROM g CROSS JOIN gr)
SELECT ROUND((ssb / (k-1)) / (ssw / (n-k)), 6) AS f_stat,
       k - 1 AS df1, n - k AS df2
FROM st
""".strip()
    o["eval_multi_kmeans"] = """
WITH x AS (SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem
           WHERE l_quantity IS NOT NULL),
a AS (SELECT v,
  CASE WHEN abs(v-10.0) <= abs(v-25.0) AND abs(v-10.0) <= abs(v-40.0) THEN 0
       WHEN abs(v-25.0) <= abs(v-40.0) THEN 1 ELSE 2 END AS c0,
  LEAST(abs(v-10.0), abs(v-25.0), abs(v-40.0)) AS d0,
  CASE WHEN abs(v-0.0) <= abs(v-100.0) THEN 0 ELSE 1 END AS c1,
  LEAST(abs(v-0.0), abs(v-100.0)) AS d1
FROM x),
w AS (SELECT sum(d0*d0) AS w0, sum(d1*d1) AS w1 FROM a),
best AS (SELECT CASE WHEN w0 <= w1 THEN 0 ELSE 1 END AS br,
                CASE WHEN w0 <= w1 THEN w0 ELSE w1 END AS bw FROM w)
SELECT best.br AS restart,
       CASE WHEN best.br = 0 THEN a.c0 ELSE a.c1 END AS cluster,
       count(*) AS n, ROUND(avg(a.v), 4) AS new_centroid,
       ROUND(best.bw, 4) AS wcss
FROM a CROSS JOIN best
GROUP BY best.br, 2, best.bw ORDER BY cluster
""".strip()
    # registry evaluators: DuckDB mirrors with identical op order (list
    # folds run in element order on both engines, so double sums match)
    o["eval_registry_scalars"] = """
WITH b AS (SELECT DISTINCT CAST(l_quantity AS DOUBLE) AS q, l_linenumber AS ln
           FROM lineitem WHERE l_linenumber <= 6)
SELECT q, ln,
  abs(q - 25.0) AS abs_dev,
  fmod(q, 7.0) AS mod7,
  round(cbrt(q), 6) AS cbrt,
  round(log10(q), 6) AS log10,
  pow(q, 2.0) AS sq,
  CAST(floor((q - 2.5) + 0.5) AS BIGINT) AS rnd,
  CAST(factorial(ln) AS DOUBLE) AS fact,
  round(q * (q + 1.0) / 2.0 * (q + 2.0) / 3.0, 0) AS binom,
  round(q * 1.609344, 6) AS mi_km,
  round(sin(q), 6) AS sin,
  round(atan(q), 6) AS atan
FROM b ORDER BY q, ln
""".strip()
    o["eval_registry_temporal"] = """
SELECT event_id,
  year(ts) AS year, month(ts) AS month, day(ts) AS day,
  dayofyear(ts) AS dayofyear,
  dayofyear(ts) - dayofyear(date_trunc('quarter', ts)) + 1 AS dayofquarter,
  hour(ts) AS hour, minute(ts) AS minute, second(ts) AS second,
  weekofyear(ts) AS week, quarter(ts) AS quarter,
  epoch_ms(ts) AS epoch
FROM events WHERE event_id < 300 ORDER BY event_id
""".strip()
    o["eval_registry_array"] = """
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
           FROM embeddings WHERE vec_id < 20),
s AS (SELECT vec_id, v, v[1:8] AS v8, [abs(x) for x in v[1:8]] AS a8 FROM e)
SELECT vec_id, len(v) AS dim, round(v[1], 4) AS first,
  [round(x, 4) for x in list_sort(v8)] AS sorted8,
  [round(x, 4) for x in list_reverse(v8)] AS rev8,
  [round(x, 4) for x in v8[2:8]] AS lshift,
  [round(x / list_sum(a8), 4) for x in a8] AS nsum,
  [round(x / sqrt(list_sum([y*y for y in v8])), 4) for x in v8] AS unit,
  [round((x - list_min(v8)) * 1.0 / (list_max(v8) - list_min(v8)), 4)
   for x in v8] AS mms,
  [round(v8[i] + list_reverse(v8)[i], 4) for i in range(1, 9)] AS plus_rev,
  round(sqrt(list_sum([y*y for y in v8])), 4) AS l2
FROM s ORDER BY vec_id
""".strip()
    o["eval_registry_distances"] = """
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
           FROM embeddings WHERE vec_id < 31),
p AS (SELECT a.vec_id, a.v AS av, b.v AS bv
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
ix AS (SELECT *, range(1, len(av) + 1) AS ii FROM p)
SELECT vec_id,
  round(list_sum([av[i]*bv[i] for i in ii]), 4) AS dot,
  round(list_sum([av[i]*bv[i] for i in ii])
        / (sqrt(list_sum([x*x for x in av])) * sqrt(list_sum([x*x for x in bv]))),
        4) AS cos_sim,
  round(1.0 - list_sum([av[i]*bv[i] for i in ii])
        / (sqrt(list_sum([x*x for x in av])) * sqrt(list_sum([x*x for x in bv]))),
        4) AS cos_dist,
  round(sqrt(list_sum([(av[i]-bv[i])*(av[i]-bv[i]) for i in ii])), 4) AS euclid,
  round(list_sum([abs(av[i]-bv[i]) for i in ii]), 4) AS manhattan,
  round(list_max([abs(av[i]-bv[i]) for i in ii]), 4) AS chebyshev,
  round(list_sum([CASE WHEN abs(av[i]) + abs(bv[i]) = 0 THEN 0.0
                       ELSE abs(av[i]-bv[i]) / (abs(av[i]) + abs(bv[i])) END
                  for i in ii]), 4) AS canberra
FROM ix ORDER BY vec_id
""".strip()
    o["eval_registry_matrix"] = """
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding[1:4]] AS r
           FROM embeddings WHERE vec_id < 3),
m AS (SELECT (SELECT list(r ORDER BY vec_id) FROM e) AS mat)
SELECT len(mat) AS n_rows, len(mat[1]) AS n_cols,
  round(list_sum([list_sum(r) for r in mat]), 4) AS grand,
  [round(list_sum(r), 4) for r in mat] AS sumrows,
  [round(mat[1][i] + mat[2][i] + mat[3][i], 4) for i in range(1, 5)] AS sumcols,
  [round(r[2], 4) for r in mat] AS col1,
  [round(r[3], 4) for r in mat] AS trow2,
  [[round(list_sum([a[i]*b[i] for i in range(1, 5)]), 4) for b in mat]
   for a in mat] AS mmt
FROM m
""".strip()
    o["eval_moments"] = """
WITH li AS (SELECT l_returnflag, l_extendedprice / 10000.0 AS x FROM lineitem),
b AS (SELECT l_returnflag, CAST(count(x) AS DOUBLE) AS n, avg(x) AS mean,
             avg(x*x) AS e2, avg(x*x*x) AS e3, avg(x*x*x*x) AS e4,
             exp(avg(ln(x))) AS geo, count(x) / sum(1.0/x) AS harm
      FROM li GROUP BY 1)
SELECT l_returnflag, n, ROUND(mean, 4) AS mean,
       ROUND((e3 - 3*mean*e2 + 2*mean*mean*mean)
             / pow(e2 - mean*mean, 1.5), 4) AS skewness,
       ROUND((e4 - 4*mean*e3 + 6*mean*mean*e2 - 3*pow(mean, 4))
             / pow(e2 - mean*mean, 2) - 3.0, 4) AS kurtosis,
       ROUND(geo, 4) AS geo_mean, ROUND(harm, 4) AS harm_mean
FROM b ORDER BY l_returnflag
""".strip()
    from statistics import NormalDist as _ND

    _zlo, _zhi = _ND().inv_cdf(0.005), _ND().inv_cdf(0.995)
    o["eval_outliers"] = f"""
WITH st AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
            FROM events GROUP BY 1)
SELECT e.event_id, e.event_type, ROUND(e.value, 4) AS value
FROM events e JOIN st USING (event_type)
WHERE (e.value - mu) / sd < {_zlo!r} OR (e.value - mu) / sd > {_zhi!r}
ORDER BY e.event_id
""".strip()
    _daily_xy_sql = """daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2)"""
    o["eval_integrate"] = f"""
WITH {_daily_xy_sql},
seg AS (SELECT event_type, x, y,
               (x - lag(x) OVER w) * (y + lag(y) OVER w) / 2.0 AS s
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY x))
SELECT event_type, x,
       ROUND(sum(COALESCE(s, 0)) OVER (PARTITION BY event_type ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS integral
FROM seg ORDER BY event_type, x
""".strip()
    o["eval_convolve"] = f"""
WITH {_daily_xy_sql},
idx AS (SELECT event_type,
               row_number() OVER (PARTITION BY event_type ORDER BY x) - 1 AS i, y
        FROM daily),
k AS (SELECT j, CAST(kj AS DOUBLE) AS kj
      FROM (VALUES (0, 0.25), (1, 0.5), (2, 0.25)) AS t(j, kj))
SELECT event_type, i + j AS t, ROUND(sum(y * kj), 4) AS conv
FROM idx CROSS JOIN k GROUP BY event_type, i + j ORDER BY event_type, t
""".strip()
    o["eval_derivative"] = f"""
WITH {_daily_xy_sql}
SELECT event_type, x,
       ROUND((COALESCE(lead(y) OVER w, y) - COALESCE(lag(y) OVER w, y))
             / (COALESCE(lead(x) OVER w, x) - COALESCE(lag(x) OVER w, x)), 4)
         AS derivative
FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY x)
ORDER BY event_type, x
""".strip()
    o["eval_find_delay"] = """
WITH s AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS a,
                  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) AS b
           FROM events GROUP BY 1),
idx AS (SELECT row_number() OVER (ORDER BY day) - 1 AS i, a, b FROM s),
m AS (SELECT count(*) AS m FROM idx),
conv AS (SELECT ai.i + (SELECT m FROM m) - 1 - bi.i AS t, sum(ai.a * bi.b) AS r
         FROM idx ai CROSS JOIN idx bi GROUP BY 1)
SELECT CAST(t + 1 - (SELECT m FROM m) AS BIGINT) AS delay
FROM conv ORDER BY abs(r) DESC, t ASC LIMIT 1
""".strip()
    o["eval_kendall"] = """
WITH li AS (SELECT l_returnflag, l_quantity AS x, l_extendedprice AS y
            FROM lineitem WHERE l_orderkey % 199 = 0),
idx AS (SELECT l_returnflag, row_number() OVER (PARTITION BY l_returnflag ORDER BY x, y) AS i,
               x, y FROM li),
p AS (SELECT l.l_returnflag,
             (l.x - r.x) * (l.y - r.y) AS s,
             CAST(l.x = r.x AS INTEGER) AS tx, CAST(l.y = r.y AS INTEGER) AS ty
      FROM idx l JOIN idx r ON l.l_returnflag = r.l_returnflag AND l.i < r.i),
agg AS (SELECT l_returnflag,
               sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS c,
               sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS d,
               sum(tx) AS tx, sum(ty) AS ty, count(*) AS n0
        FROM p GROUP BY 1)
SELECT l_returnflag,
       ROUND((c - d) / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)), 4)
         AS kendall_tau
FROM agg ORDER BY l_returnflag
""".strip()
    _cm_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    o["eval_oscillate"] = """
SELECT CAST(i AS BIGINT) AS i, ROUND(2.5 * sin(0.4 * i + 1.0), 6) AS wave
FROM range(32) t(i) ORDER BY i
""".strip()
    o["eval_primes"] = """
SELECT CAST(c AS BIGINT) AS c FROM range(2, 201) t(c)
WHERE NOT EXISTS (
  SELECT 1 FROM range(2, 15) u(d) WHERE c % d = 0 AND c <> d
) ORDER BY c
""".strip()
    o["eval_montecarlo"] = """
WITH s AS (
  SELECT (((i + 1) * 2654435761) % 4294967296 + 0.5) / 4294967296.0 AS u
  FROM range(10000) t(i)),
g AS (SELECT pow(-ln(1.0 - u) / 0.5, 2.0) AS g FROM s)
SELECT count(*) AS n, ROUND(avg(g), 4) AS estimate,
       ROUND(stddev_samp(g), 4) AS stddev
FROM g
""".strip()
    o["eval_precision_matrix"] = """
WITH st AS (
  SELECT var_samp(l_quantity) AS vx,
         var_samp(l_extendedprice / 1000.0) AS vy,
         covar_samp(l_quantity, l_extendedprice / 1000.0) AS cxy
  FROM lineitem)
SELECT ROUND(vy / (vx * vy - cxy * cxy), 8) AS p_xx,
       ROUND(-cxy / (vx * vy - cxy * cxy), 8) AS p_xy,
       ROUND(vx / (vx * vy - cxy * cxy), 8) AS p_yy
FROM st
""".strip()
    o["eval_pair_sort"] = """
WITH base AS (
  SELECT doc_id,
         [n_chars % 7, n_chars % 5, n_chars % 3] AS k,
         [CAST(1 AS BIGINT), 2, 3] AS v
  FROM documents WHERE doc_id <= 10),
ex AS (SELECT doc_id, unnest(k) AS kk, unnest(v) AS vv FROM base)
SELECT doc_id,
       array_agg(kk ORDER BY kk, vv) AS sorted_keys,
       array_agg(vv ORDER BY kk, vv) AS sorted_vals
FROM ex GROUP BY doc_id ORDER BY doc_id
""".strip()
    o["eval_corr_matrix"] = " UNION ALL ".join(
        f"(SELECT '{cx}' AS col_x, '{cy}' AS col_y, "
        f"ROUND(corr({cx}, {cy}), 4) + 0.0 AS corr, "
        f"ROUND(covar_samp({cx}, {cy}), 4) + 0.0 AS cov FROM lineitem)"
        for i, cx in enumerate(_cm_cols)
        for cy in _cm_cols[i:]
    ) + " ORDER BY col_x, col_y"
    o["eval_dft"] = f"""
WITH {_daily_xy_sql},
idx AS (SELECT event_type,
               row_number() OVER (PARTITION BY event_type ORDER BY x) - 1 AS i, y
        FROM daily),
n AS (SELECT event_type, count(*) AS n FROM idx GROUP BY 1),
bins AS (SELECT event_type, n, unnest(range(n)) AS k FROM n),
sums AS (SELECT b.event_type, b.k,
                sum(i.y * cos(-2 * pi() * b.k * i.i / b.n)) AS re,
                sum(i.y * sin(-2 * pi() * b.k * i.i / b.n)) AS im
         FROM bins b JOIN idx i ON b.event_type = i.event_type
         GROUP BY 1, 2)
SELECT event_type, k,
       ROUND(re, 4) + 0.0 AS re, ROUND(im, 4) + 0.0 AS im,
       ROUND(sqrt(re * re + im * im), 4) AS magnitude
FROM sums ORDER BY event_type, k
""".strip()
    o["eval_ifft_roundtrip"] = f"""
WITH {_daily_xy_sql},
idx AS (SELECT event_type,
               row_number() OVER (PARTITION BY event_type ORDER BY x) - 1 AS i, y
        FROM daily),
n AS (SELECT event_type, count(*) AS n FROM idx GROUP BY 1),
bins AS (SELECT event_type, n, unnest(range(n)) AS k FROM n),
spec AS (SELECT b.event_type, b.k, b.n,
                sum(i.y * cos(-2 * pi() * b.k * i.i / b.n)) AS re,
                sum(i.y * sin(-2 * pi() * b.k * i.i / b.n)) AS im
         FROM bins b JOIN idx i ON b.event_type = i.event_type
         GROUP BY 1, 2, 3),
grid AS (SELECT event_type, n, unnest(range(n)) AS i FROM n),
rec AS (SELECT g.event_type, g.i,
               sum(s.re * cos(2 * pi() * s.k * g.i / g.n)
                   - s.im * sin(2 * pi() * s.k * g.i / g.n)) / max(g.n) AS y
        FROM grid g JOIN spec s ON g.event_type = s.event_type
        GROUP BY 1, 2)
SELECT event_type, i, ROUND(y, 5) AS y_rec FROM rec ORDER BY event_type, i
""".strip()
    o["eval_frequency_table"] = """
WITH pv AS (SELECT l_returnflag, l_quantity, count(*) AS count
            FROM lineitem GROUP BY 1, 2)
SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS quantity,
       CAST(count AS BIGINT) AS count,
       ROUND(count * 1.0 / sum(count) OVER (PARTITION BY l_returnflag), 6) AS pct,
       CAST(sum(count) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_freq,
       ROUND(sum(count) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * 1.0 / sum(count) OVER (PARTITION BY l_returnflag), 6) AS cum_pct
FROM pv ORDER BY l_returnflag, quantity
""".strip()
    o["eval_mode"] = """
WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS n
           FROM lineitem GROUP BY 1, 2),
m AS (SELECT l_returnflag, max(n) AS mx FROM c GROUP BY 1)
SELECT c.l_returnflag, CAST(min(c.l_quantity) AS BIGINT) AS mode,
       CAST(min(m.mx) AS BIGINT) AS mode_count
FROM c JOIN m ON c.l_returnflag = m.l_returnflag AND c.n = m.mx
GROUP BY 1 ORDER BY 1
""".strip()
    _daily_ab_sql = """ab AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS a,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) AS b
  FROM events GROUP BY 1)"""
    o["eval_distances"] = f"""
WITH {_daily_ab_sql}
SELECT ROUND(sqrt(sum((a - b) * (a - b))), 4) AS euclidean,
       ROUND(sum(abs(a - b)), 4) AS manhattan,
       ROUND(max(abs(a - b)), 4) AS chebyshev,
       ROUND(sum(CASE WHEN abs(a) + abs(b) > 0
                      THEN abs(a - b) / (abs(a) + abs(b)) ELSE 0.0 END), 4) AS canberra,
       ROUND(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))), 6) AS cosine_similarity,
       ROUND(sum(a * b), 4) AS dot_product
FROM ab
""".strip()
    o["eval_normalize"] = """
WITH li AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                   CAST(l_quantity AS DOUBLE) AS x
            FROM lineitem WHERE l_orderkey % 499 = 0)
SELECT l_orderkey, l_linenumber, l_returnflag, CAST(x AS BIGINT) AS quantity,
       ROUND(sum(abs(x)) OVER w, 4) AS l1_norm,
       ROUND(sqrt(sum(x * x) OVER w), 4) AS l2_norm,
       ROUND(max(abs(x)) OVER w, 4) AS linf_norm,
       ROUND(x / sum(x) OVER w, 6) AS normalize_sum,
       ROUND(x / sqrt(sum(x * x) OVER w), 6) AS unitize,
       ROUND((x - avg(x) OVER w) / stddev_samp(x) OVER w, 4) + 0.0 AS standardize
FROM li WINDOW w AS (PARTITION BY l_returnflag)
ORDER BY l_orderkey, l_linenumber
""".strip()
    o["eval_polyfit"] = f"""
WITH {_daily_xy_sql},
sc AS (SELECT event_type, x / 10.0 AS x, y FROM daily),
a AS (SELECT event_type,
             CAST(count(*) AS DOUBLE) AS s0, sum(x) AS s1, sum(x * x) AS s2,
             sum(x * x * x) AS s3, sum(x * x * x * x) AS s4,
             sum(y) AS t0, sum(x * y) AS t1, sum(x * x * y) AS t2
      FROM sc GROUP BY 1),
c AS (SELECT event_type,
             s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
               + s2 * (s1 * s3 - s2 * s2) AS det,
             t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - t2 * s3)
               + s2 * (t1 * s3 - t2 * s2) AS n0,
             s0 * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3)
               + s2 * (s1 * t2 - s2 * t1) AS n1,
             s0 * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s2 * t1)
               + t0 * (s1 * s3 - s2 * s2) AS n2
      FROM a)
SELECT event_type,
       ROUND(n0 / det, 4) + 0.0 AS c0,
       ROUND(n1 / det, 4) + 0.0 AS c1,
       ROUND(n2 / det, 4) + 0.0 AS c2,
       ROUND(n1 / det, 4) + 0.0 AS d0,
       ROUND(2.0 * (n2 / det), 4) + 0.0 AS d1
FROM c ORDER BY event_type
""".strip()
    o["eval_ks"] = """
WITH pv AS (SELECT value,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
                   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS b
            FROM events WHERE event_type IN ('click', 'error') GROUP BY 1),
t AS (SELECT CAST(sum(a) AS DOUBLE) AS n1, CAST(sum(b) AS DOUBLE) AS n2 FROM pv),
e AS (SELECT sum(a) OVER w AS ca, sum(b) OVER w AS cb
      FROM pv WINDOW w AS (ORDER BY value
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT CAST((SELECT n1 FROM t) AS BIGINT) AS n1,
       CAST((SELECT n2 FROM t) AS BIGINT) AS n2,
       ROUND(max(abs(ca / (SELECT n1 FROM t) - cb / (SELECT n2 FROM t))), 6) AS ks_d
FROM e
""".strip()
    o["eval_paired_ttest"] = f"""
WITH {_daily_ab_sql}
SELECT CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(a - b), 4) AS sum_difference,
       ROUND(avg(a - b), 4) AS mean_difference,
       ROUND(avg(a - b) / (stddev_samp(a - b) / sqrt(count(*))), 4) AS t_stat
FROM ab
""".strip()
    o["eval_matmul"] = """
WITH a AS (SELECT l_orderkey % 7 AS i, l_partkey % 5 AS k, sum(l_quantity) AS v
           FROM lineitem GROUP BY 1, 2),
b AS (SELECT l_partkey % 5 AS k, l_suppkey % 4 AS j, avg(l_discount) AS v
      FROM lineitem GROUP BY 1, 2)
SELECT a.i, b.j, ROUND(sum(a.v * b.v), 4) AS v
FROM a JOIN b ON a.k = b.k GROUP BY 1, 2 ORDER BY i, j
""".strip()
    o["eval_markov"] = """
WITH pairs AS (
  SELECT event_type AS state,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_state
  FROM events),
cells AS (SELECT state, next_state, count(*) AS transitions
          FROM pairs WHERE next_state IS NOT NULL GROUP BY 1, 2)
SELECT state, next_state, transitions,
       ROUND(transitions * 1.0 / sum(transitions) OVER (PARTITION BY state), 6)
         AS prob
FROM cells ORDER BY state, next_state
""".strip()
    o["eval_emd"] = f"""
WITH {_daily_ab_sql},
run AS (SELECT sum(a - b) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS emd
        FROM ab)
SELECT ROUND(sum(abs(emd)), 4) AS emd FROM run
""".strip()
    o["eval_ols2"] = """
WITH g AS (SELECT l_returnflag,
                  CAST(count(*) AS DOUBLE) AS s0,
                  sum(l_discount) AS a, sum(l_tax) AS b,
                  sum(l_discount * l_discount) AS c,
                  sum(l_discount * l_tax) AS d,
                  sum(l_tax * l_tax) AS e,
                  sum(l_quantity) AS t0,
                  sum(l_discount * l_quantity) AS t1,
                  sum(l_tax * l_quantity) AS t2,
                  sum(l_quantity * l_quantity) AS syy
           FROM lineitem GROUP BY 1),
c2 AS (SELECT l_returnflag, s0, a, b, t0, t1, t2, syy,
              s0 * (c * e - d * d) - a * (a * e - d * b) + b * (a * d - c * b)
                AS det,
              t0 * (c * e - d * d) - a * (t1 * e - t2 * d) + b * (t1 * d - t2 * c)
                AS n0,
              s0 * (t1 * e - t2 * d) - t0 * (a * e - b * d) + b * (a * t2 - t1 * b)
                AS n1,
              s0 * (c * t2 - d * t1) - a * (a * t2 - b * t1) + t0 * (a * d - c * b)
                AS n2
       FROM g)
SELECT l_returnflag,
       ROUND(n0 / det, 4) + 0.0 AS b0,
       ROUND(n1 / det, 4) + 0.0 AS b1,
       ROUND(n2 / det, 4) + 0.0 AS b2,
       ROUND(1.0 - (syy - (n0 / det) * t0 - (n1 / det) * t1 - (n2 / det) * t2)
                   / (syy - t0 * t0 / s0), 6) + 0.0 AS r_squared
FROM c2 ORDER BY l_returnflag
""".strip()
    o["eval_predict"] = f"""
WITH {_daily_xy_sql},
sc AS (SELECT event_type, x / 10.0 AS x, y FROM daily),
a AS (SELECT event_type,
             CAST(count(*) AS DOUBLE) AS s0, sum(x) AS s1, sum(x * x) AS s2,
             sum(x * x * x) AS s3, sum(x * x * x * x) AS s4,
             sum(y) AS t0, sum(x * y) AS t1, sum(x * x * y) AS t2
      FROM sc GROUP BY 1),
c AS (SELECT event_type,
             s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
               + s2 * (s1 * s3 - s2 * s2) AS det,
             t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - t2 * s3)
               + s2 * (t1 * s3 - t2 * s2) AS n0,
             s0 * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3)
               + s2 * (s1 * t2 - s2 * t1) AS n1,
             s0 * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s2 * t1)
               + t0 * (s1 * s3 - s2 * s2) AS n2
      FROM a),
grid AS (SELECT event_type, det, n0, n1, n2, unnest(range(10)) / 10.0 AS xs
         FROM c)
SELECT event_type, ROUND(xs, 1) AS xs,
       ROUND(n0 / det + (n1 / det) * xs + (n2 / det) * xs * xs, 3) + 0.0
         AS predicted
FROM grid ORDER BY event_type, xs
""".strip()
    o["eval_matrix_ebe"] = """
WITH a AS (SELECT l_orderkey % 7 AS i, l_partkey % 5 AS j,
                  sum(l_quantity) AS va
           FROM lineitem GROUP BY 1, 2),
b AS (SELECT l_partkey % 5 AS i, l_orderkey % 7 AS j, avg(l_discount) AS vb
      FROM lineitem GROUP BY 1, 2),
bt AS (SELECT j AS i, i AS j, vb FROM b),
cells AS (SELECT COALESCE(a.i, bt.i) AS i, COALESCE(a.j, bt.j) AS j,
                 COALESCE(va, 0.0) AS va, COALESCE(vb, 0.0) AS vb
          FROM a FULL OUTER JOIN bt ON a.i = bt.i AND a.j = bt.j)
SELECT i, j,
       ROUND(va + vb, 4) AS "add",
       ROUND(va - vb, 4) AS "sub",
       ROUND(va * vb, 4) AS "mul",
       ROUND(sum(va + vb) OVER (PARTITION BY i), 4) AS row_sum,
       ROUND(sum(va + vb) OVER (PARTITION BY j), 4) AS col_sum,
       ROUND(sum(va + vb) OVER (), 4) AS grand_sum
FROM cells ORDER BY i, j
""".strip()
    o["eval_temporal"] = """
SELECT ts,
       CAST(year(ts) AS INT) AS year,
       CAST(quarter(ts) AS INT) AS quarter,
       CAST(month(ts) AS INT) AS month,
       CAST(week(ts) AS INT) AS week,
       CAST(day(ts) AS INT) AS day,
       CAST(dayofyear(ts) AS INT) AS day_of_year,
       CAST(date_diff('day', CAST(date_trunc('quarter', ts) AS DATE),
                      CAST(ts AS DATE)) + 1 AS INT) AS day_of_quarter,
       CAST(hour(ts) AS INT) AS hour,
       CAST(minute(ts) AS INT) AS minute,
       CAST(second(ts) AS INT) AS second,
       CAST(floor(epoch(ts)) AS BIGINT) AS epoch
FROM events WHERE event_id % 997 = 0 ORDER BY epoch
""".strip()
    o["eval_gtest"] = """
WITH obs AS (SELECT event_type, dayofweek(ts) AS dow,
                    CAST(count(*) AS DOUBLE) AS o
             FROM events GROUP BY 1, 2),
ra AS (SELECT event_type, sum(o) AS ra FROM obs GROUP BY 1),
cb AS (SELECT dow, sum(o) AS cb FROM obs GROUP BY 1),
t AS (SELECT sum(o) AS n, CAST(count(DISTINCT event_type) AS DOUBLE) AS ka,
             CAST(count(DISTINCT dow) AS DOUBLE) AS kb
      FROM obs)
SELECT ROUND(2.0 * sum(o * ln(o / (ra.ra * cb.cb / t.n))), 4) AS g_stat,
       min((t.ka - 1) * (t.kb - 1)) AS dof,
       CAST(min(t.n) AS BIGINT) AS n
FROM obs JOIN ra USING (event_type) JOIN cb USING (dow) CROSS JOIN t
""".strip()
    o["eval_knn_regress"] = """
WITH q(qx) AS (VALUES (5.0), (20.0), (35.0)),
r AS (SELECT CAST(q.qx AS DOUBLE) AS qx, l.l_extendedprice AS y,
             row_number() OVER (PARTITION BY q.qx
               ORDER BY abs(l.l_quantity - q.qx), l.l_quantity,
                        l.l_extendedprice) AS rn
      FROM lineitem l CROSS JOIN q)
SELECT ROUND(qx, 1) AS query_x, 5 AS k, ROUND(avg(y), 4) AS predicted
FROM r WHERE rn <= 5 GROUP BY qx ORDER BY query_x
""".strip()
    o["eval_corr_significance"] = f"""
WITH {_daily_ab_sql}
SELECT CAST(count(*) AS BIGINT) AS n,
       ROUND(corr(a, b), 6) AS corr,
       ROUND(corr(a, b) * sqrt((count(*) - 2) / (1 - corr(a, b) * corr(a, b))),
             4) AS t_stat
FROM ab
""".strip()
    o["dedup_embedding_cosine"] = embedding_lsh_sql(0.45)
    o["dedup_embedding_exact"] = embedding_neardup_sql(0.45)
    o["ann_cosine_top10"] = ann_topk_sql(query_id=0, k=10)
    from solr_spark.oracle_sql import quantized_topk_sql

    o["ann_quantized_top10"] = quantized_topk_sql(query_id=0, k=10)
    o["ann_ivf_top10"] = ann_ivf_sql(query_id=0, k=10, n_probe=4)
    o["vector_similarity_threshold"] = vector_similarity_sql(query_id=0, threshold=0.2)
    # HNSW must reproduce the exact top-10 when every shard's beam
    # surfaces its true locals (deterministic: seeded level draws, fixed
    # data/query); recall is ALSO pytest-gated so a future param change
    # that dips below 1.0 fails loudly rather than silently
    o["ann_hnsw_top10"] = ann_topk_sql(query_id=0, k=10)
    o["multimodal_features"] = """
        SELECT doc_id,
               (['image','audio','video'])[(doc_id % 3)+1] AS modality,
               CAST(length(text) + 4 AS BIGINT) AS n_bytes,
               sha256(concat((['IMG0','AUD0','VID0'])[(doc_id % 3)+1], text)) AS payload_sha256,
               ROUND(list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(
                           string_split(concat((['IMG0','AUD0','VID0'])[(doc_id % 3)+1], text), ''),
                           c -> CAST(ord(c) AS BIGINT))),
                       (a, b) -> a + b) * 1.0 / (length(text) + 4), 4) AS mean_byte
        FROM documents WHERE doc_id < 30 ORDER BY doc_id
    """

    _daily_sql = """daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1, 2)"""
    o["eval_cosine_sim"] = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS a,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) AS b
  FROM events GROUP BY 1)
SELECT count(*) AS n,
       ROUND(sum(a*b) / (sqrt(sum(a*a)) * sqrt(sum(b*b))), 6) AS cosine_sim,
       ROUND(1 - sum(a*b) / (sqrt(sum(a*a)) * sqrt(sum(b*b))), 6) AS cosine_dist
FROM daily
""".strip()
    o["eval_loess"] = f"""
WITH {_daily_sql},
pts AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE) AS x,
         n_events
  FROM daily)
SELECT a.event_type, CAST(a.x AS INT) AS day_idx,
       ROUND(sum(pow(1 - pow(abs(a.x - b.x) / 5.0, 3), 3) * b.n_events)
             / sum(pow(1 - pow(abs(a.x - b.x) / 5.0, 3), 3)), 4) AS smoothed
FROM pts a JOIN pts b
  ON a.event_type = b.event_type AND abs(a.x - b.x) < 5.0
GROUP BY a.event_type, a.x
ORDER BY a.event_type, day_idx
""".strip()
    o["eval_poisson"] = f"""
WITH {_daily_sql},
ks AS (SELECT event_type, CAST(n_events AS INT) AS k FROM daily),
lam AS (SELECT event_type, avg(k) AS lam FROM ks GROUP BY 1)
SELECT d.event_type, d.k, ROUND(l.lam, 6) AS lam,
       count(*) AS n_days,
       ROUND(min(exp(-l.lam + d.k * ln(l.lam) - lgamma(d.k + 1.0))), 8) AS pmf
FROM ks d JOIN lam l USING (event_type)
GROUP BY d.event_type, d.k, l.lam
ORDER BY d.event_type, d.k
""".strip()
    o["eval_lerp"] = f"""
WITH {_daily_sql},
pts AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE) AS x,
         n_events AS y
  FROM daily),
seg AS (
  SELECT event_type, x AS x0, y AS y0,
         lead(x) OVER (PARTITION BY event_type ORDER BY x) AS x1,
         lead(y) OVER (PARTITION BY event_type ORDER BY x) AS y1
  FROM pts),
grid AS (
  SELECT DISTINCT d.event_type, CAST(g.i AS DOUBLE) + 0.5 AS gx
  FROM daily d, generate_series(0, 28) g(i))
SELECT g.event_type, g.gx,
       ROUND(s.y0 + (g.gx - s.x0) / (s.x1 - s.x0) * (s.y1 - s.y0), 4) AS lerp_y
FROM grid g JOIN seg s
  ON g.event_type = s.event_type AND g.gx >= s.x0 AND g.gx < s.x1
ORDER BY g.event_type, g.gx
""".strip()
    o["eval_kmeans_1d"] = """
WITH a AS (
  SELECT value,
         least(abs(value - 2.0), abs(value - 8.0),
               abs(value - 15.0), abs(value - 30.0)) AS m
  FROM events WHERE value IS NOT NULL)
SELECT CASE WHEN abs(value - 2.0) = m THEN 0
            WHEN abs(value - 8.0) = m THEN 1
            WHEN abs(value - 15.0) = m THEN 2
            ELSE 3 END AS cluster,
       count(*) AS n, ROUND(avg(value), 6) AS new_centroid
FROM a GROUP BY 1 ORDER BY 1
""".strip()
    o["eval_fuzzy_kmeans"] = """
WITH r AS (
  SELECT value,
         pow(greatest(abs(value - 2.0), 1e-12), -2.0) AS i0,
         pow(greatest(abs(value - 8.0), 1e-12), -2.0) AS i1,
         pow(greatest(abs(value - 15.0), 1e-12), -2.0) AS i2,
         pow(greatest(abs(value - 30.0), 1e-12), -2.0) AS i3
  FROM events WHERE value IS NOT NULL),
u AS (
  SELECT value,
         i0 / (i0 + i1 + i2 + i3) AS u0, i1 / (i0 + i1 + i2 + i3) AS u1,
         i2 / (i0 + i1 + i2 + i3) AS u2, i3 / (i0 + i1 + i2 + i3) AS u3
  FROM r),
a AS (
  SELECT sum(u0) AS n0, sum(u0*u0*value)/sum(u0*u0) AS c0,
         sum(u1) AS n1, sum(u1*u1*value)/sum(u1*u1) AS c1,
         sum(u2) AS n2, sum(u2*u2*value)/sum(u2*u2) AS c2,
         sum(u3) AS n3, sum(u3*u3*value)/sum(u3*u3) AS c3
  FROM u)
SELECT 0 AS cluster, ROUND(n0, 4) AS soft_n, ROUND(c0, 6) AS new_centroid FROM a
UNION ALL SELECT 1, ROUND(n1, 4), ROUND(c1, 6) FROM a
UNION ALL SELECT 2, ROUND(n2, 4), ROUND(c2, 6) FROM a
UNION ALL SELECT 3, ROUND(n3, 4), ROUND(c3, 6) FROM a
ORDER BY cluster
""".strip()
    o["eval_harmonic_fit"] = f"""
WITH {_daily_sql},
pts AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE) AS x,
         n_events AS y
  FROM daily),
t AS (
  SELECT event_type,
         sin(2.0 * pi() / 7.0 * x) AS s, cos(2.0 * pi() / 7.0 * x) AS c, y
  FROM pts),
g AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         sum(s) AS ss, sum(c) AS sc,
         sum(s*s) AS sss, sum(c*c) AS scc, sum(s*c) AS ssc,
         sum(y) AS sy, sum(y*s) AS sys, sum(y*c) AS syc
  FROM t GROUP BY 1)
SELECT event_type,
  ROUND((sy*(sss*scc - ssc*ssc) - ss*(sys*scc - ssc*syc) + sc*(sys*ssc - sss*syc))
      / (n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc) + sc*(ss*ssc - sss*sc)), 4) AS fit_a,
  ROUND((n*(sys*scc - ssc*syc) - sy*(ss*scc - ssc*sc) + sc*(ss*syc - sys*sc))
      / (n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc) + sc*(ss*ssc - sss*sc)), 4) AS fit_b,
  ROUND((n*(sss*syc - sys*ssc) - ss*(ss*syc - sys*sc) + sy*(ss*ssc - sss*sc))
      / (n*(sss*scc - ssc*ssc) - ss*(ss*scc - ssc*sc) + sc*(ss*ssc - sss*sc)), 4) AS fit_c
FROM g ORDER BY event_type
""".strip()
    o["eval_matrix_sums"] = f"""
WITH {_daily_sql},
coo AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS i,
         CAST(length(event_type) % 7 AS BIGINT) AS j,
         n_events AS v
  FROM daily)
SELECT axis, idx, total FROM (
  SELECT 'row' AS axis, i AS idx, ROUND(sum(v), 4) AS total FROM coo GROUP BY i
  UNION ALL
  SELECT 'col' AS axis, j AS idx, ROUND(sum(v), 4) AS total FROM coo GROUP BY j
  UNION ALL
  SELECT 'grand' AS axis, CAST(NULL AS BIGINT) AS idx, ROUND(sum(v), 4) AS total FROM coo)
ORDER BY axis, idx
""".strip()
    o["eval_ecdf"] = """
WITH f AS (
  SELECT event_type, value AS x, CAST(count(*) AS DOUBLE) AS c
  FROM events WHERE event_id < 2000 AND value IS NOT NULL
  GROUP BY 1, 2),
n AS (SELECT event_type, sum(c) AS n FROM f GROUP BY 1)
SELECT f.event_type, f.x,
       ROUND(sum(f.c) OVER (PARTITION BY f.event_type ORDER BY f.x) / n.n, 6) AS cdf
FROM f JOIN n USING (event_type)
ORDER BY event_type, x
""".strip()
    o["graph_shortest_path"] = """
WITH RECURSIVE
e0 AS (SELECT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
edges AS (SELECT DISTINCT src, dst FROM
          (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)),
o1 AS (SELECT min(l_orderkey) AS k FROM lineitem),
o2 AS (SELECT min(b.l_orderkey) AS k
       FROM lineitem a JOIN lineitem b ON a.l_suppkey = b.l_suppkey
       WHERE a.l_orderkey = (SELECT k FROM o1)
         AND b.l_orderkey <> (SELECT k FROM o1)),
walk(node, depth, path) AS (
  SELECT (SELECT k * 2 FROM o1), 0, [(SELECT CAST(k * 2 AS BIGINT) FROM o1)]
  UNION ALL
  SELECT e.dst, w.depth + 1, list_append(w.path, CAST(e.dst AS BIGINT))
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.depth < 2 AND NOT list_contains(w.path, e.dst))
SELECT (SELECT CAST(k * 2 AS BIGINT) FROM o1) AS from_node,
       (SELECT CAST(k * 2 AS BIGINT) FROM o2) AS to_node,
       depth, path
FROM walk WHERE node = (SELECT k * 2 FROM o2)
ORDER BY depth, path LIMIT 1
""".strip()
    # erf via the SAME frozen A&S 7.1.26 polynomial the engine evaluates
    _erf_sql = (
        "(CASE WHEN {z} < 0 THEN -1.0 ELSE 1.0 END) * (1.0 - "
        "(0.254829592 * t - 0.284496736 * t*t + 1.421413741 * t*t*t "
        "- 1.453152027 * t*t*t*t + 1.061405429 * t*t*t*t*t) "
        "* exp(-abs({z}) * abs({z})))"
    )
    o["eval_normal_cdf"] = f"""
WITH pts AS (
  SELECT event_type, value AS x FROM events
  WHERE event_id < 2000 AND value IS NOT NULL),
st AS (SELECT event_type, avg(x) AS mu, stddev_samp(x) AS sd
       FROM pts GROUP BY 1),
z AS (SELECT DISTINCT p.event_type, p.x, st.mu, st.sd,
             (p.x - st.mu) / (st.sd * sqrt(2.0)) AS zz
      FROM pts p JOIN st USING (event_type)),
tt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * abs(zz)) AS t FROM z)
SELECT event_type, x, ROUND(mu, 6) AS mu, ROUND(sd, 6) AS sigma,
       ROUND(0.5 * (1.0 + {_erf_sql.format(z='zz')}), 6) AS cdf
FROM tt ORDER BY event_type, x
""".strip()
    o["eval_binomial"] = """
WITH ks AS (SELECT lang, CAST(n_chars % 8 AS INT) AS k FROM documents),
p AS (SELECT lang, avg(k) / 7.0 AS p_hat FROM ks GROUP BY 1)
SELECT ks.lang, ks.k, ROUND(p.p_hat, 6) AS p_hat,
       ROUND(min(exp(
         lgamma(8.0) - lgamma(ks.k + 1.0) - lgamma(7.0 - ks.k + 1.0)
         + ks.k * ln(p.p_hat) + (7 - ks.k) * ln(1.0 - p.p_hat))), 8) AS pmf
FROM ks JOIN p USING (lang)
GROUP BY ks.lang, ks.k, p.p_hat
ORDER BY ks.lang, ks.k
""".strip()
    o["eval_dbscan"] = """
WITH dic AS (
  SELECT event_type, value AS x, count(*) AS m FROM events
  WHERE event_id < 2000 AND value IS NOT NULL GROUP BY 1, 2),
nbr AS (
  SELECT a.event_type, a.x, sum(b.m) AS n_nbrs
  FROM dic a JOIN dic b
    ON a.event_type = b.event_type AND abs(a.x - b.x) <= 1.0
  GROUP BY 1, 2),
flag AS (
  SELECT event_type, x, n_nbrs >= 5 AS is_core FROM nbr),
core AS (
  SELECT event_type, x,
         CAST(sum(brk) OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS label
  FROM (SELECT event_type, x,
               CASE WHEN x - lag(x) OVER (PARTITION BY event_type ORDER BY x) > 1.0
                    THEN 1 ELSE 0 END AS brk
        FROM flag WHERE is_core)),
border AS (
  SELECT f.event_type, f.x, min(c.label) AS label
  FROM flag f JOIN core c
    ON f.event_type = c.event_type AND abs(f.x - c.x) <= 1.0
  WHERE NOT f.is_core GROUP BY 1, 2)
SELECT event_type, x, label, TRUE AS is_core FROM core
UNION ALL
SELECT event_type, x, label, FALSE AS is_core FROM border
UNION ALL
SELECT f.event_type, f.x, CAST(-1 AS BIGINT) AS label, FALSE AS is_core
FROM flag f LEFT JOIN border b ON f.event_type = b.event_type AND f.x = b.x
WHERE NOT f.is_core AND b.x IS NULL
ORDER BY event_type, x
""".strip()
    o["eval_gauss_fit"] = """
WITH u AS (
  SELECT user_id, avg(value) AS v FROM events
  GROUP BY 1 HAVING count(*) >= 3),
h AS (
  SELECT floor(v / 10.0) * 10.0 + 5.0 AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM u GROUP BY 1),
ln_h AS (SELECT x, ln(y) AS ly FROM h WHERE y > 0),
a AS (SELECT CAST(count(*) AS DOUBLE) AS s0, sum(x) AS s1, sum(x * x) AS s2,
             sum(x * x * x) AS s3, sum(x * x * x * x) AS s4,
             sum(ly) AS t0, sum(x * ly) AS t1, sum(x * x * ly) AS t2
      FROM ln_h),
c AS (SELECT
        s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s2 * s3)
          + s2 * (s1 * s3 - s2 * s2) AS det,
        t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - t2 * s3)
          + s2 * (t1 * s3 - t2 * s2) AS n0,
        s0 * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3)
          + s2 * (s1 * t2 - s2 * t1) AS n1,
        s0 * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s2 * t1)
          + t0 * (s1 * s3 - s2 * s2) AS n2
      FROM a),
fit AS (SELECT n0 / det AS c0, n1 / det AS c1, n2 / det AS c2 FROM c),
g AS (SELECT c1 * (-0.5 / c2) AS mu, -0.5 / c2 AS sigma2, c0 FROM fit)
SELECT ROUND(mu, 4) AS mu,
       ROUND(sqrt(sigma2), 4) AS sigma,
       ROUND(exp(c0 + mu * mu / (2.0 * sigma2)), 4) AS amplitude
FROM g
""".strip()
    o["eval_dist_cdfs"] = f"""
WITH pts AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS x FROM documents
  WHERE doc_id < 3000 AND n_chars > 0),
st AS (SELECT lang, avg(x) AS mean,
              avg(ln(x)) AS lmu, stddev_samp(ln(x)) AS lsd
       FROM pts GROUP BY 1),
z AS (SELECT DISTINCT p.lang, p.x, st.mean, st.lmu, st.lsd,
             (ln(p.x) - st.lmu) / (st.lsd * sqrt(2.0)) AS zz
      FROM pts p JOIN st USING (lang)),
tt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * abs(zz)) AS t FROM z)
SELECT lang, x, ROUND(mean, 6) AS mean,
       ROUND(1.0 - exp(-x / mean), 6) AS exp_cdf,
       ROUND(1.0 - exp(-pow(x / mean, 1.5)), 6) AS weibull_cdf,
       ROUND(0.5 * (1.0 + {_erf_sql.format(z='zz')}), 6) AS lognormal_cdf
FROM tt ORDER BY lang, x
""".strip()
    import math as _math

    _k = 2.0
    o["eval_gamma_pdf"] = f"""
WITH pts AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS x FROM documents
  WHERE doc_id < 3000 AND n_chars > 0),
st AS (SELECT lang, avg(x) AS mean FROM pts GROUP BY 1)
SELECT DISTINCT lang, x, ROUND(mean, 6) AS mean,
       ROUND(exp({_k - 1.0!r} * ln(x) - x / (mean / {_k!r})
                 - {_math.lgamma(_k)!r} - {_k!r} * ln(mean / {_k!r})), 8) AS pdf
FROM pts JOIN st USING (lang) ORDER BY lang, x
""".strip()
    _zh = sum(j ** -1.1 for j in range(1, 21))
    o["eval_zipf"] = f"""
WITH ranks AS (
  SELECT CAST((n_chars % 20) + 1 AS BIGINT) AS k, count(*) AS observed
  FROM documents GROUP BY 1)
SELECT k, observed, ROUND(pow(CAST(k AS DOUBLE), -1.1) / {_zh!r}, 8) AS pmf
FROM ranks ORDER BY k
""".strip()
    o["eval_convex_hull"] = """
WITH pts AS (
  SELECT event_id AS pid, CAST(value AS DOUBLE) AS px,
         CAST((event_id * 2654435761) % 1000003 AS DOUBLE) / 1000.0 AS py
  FROM events WHERE event_id < 200),
pairs AS (
  SELECT a.pid AS apid, a.px AS ax, a.py AS ay,
         b.pid AS bpid, b.px AS bx, b.py AS by
  FROM pts a JOIN pts b ON a.pid <> b.pid),
tri AS (
  SELECT pr.apid, pr.bpid,
         (pr.bx - pr.ax) * (p.py - pr.ay)
           - (pr.by - pr.ay) * (p.px - pr.ax) AS cr
  FROM pairs pr JOIN pts p ON p.pid <> pr.apid AND p.pid <> pr.bpid),
g AS (SELECT apid, bpid, min(cr) AS mn, max(cr) AS mx FROM tri GROUP BY 1, 2),
verts AS (SELECT DISTINCT apid AS pid FROM g WHERE mn >= 0 OR mx <= 0)
SELECT p.pid, ROUND(p.px, 6) AS px, ROUND(p.py, 6) AS py
FROM pts p JOIN verts USING (pid) ORDER BY p.pid
""".strip()
    o["eval_enclosing_disk"] = """
WITH pts AS (
  SELECT event_id AS pid, CAST(value AS DOUBLE) AS px,
         CAST((event_id * 2654435761) % 1000003 AS DOUBLE) / 1000.0 AS py
  FROM events WHERE event_id < 200),
prs AS (
  SELECT a.pid AS apid, a.px AS ax, a.py AS ay,
         b.pid AS bpid, b.px AS bx, b.py AS by
  FROM pts a JOIN pts b ON a.pid <> b.pid),
tri0 AS (
  SELECT pr.apid, pr.bpid,
         (pr.bx - pr.ax) * (p.py - pr.ay)
           - (pr.by - pr.ay) * (p.px - pr.ax) AS cr
  FROM prs pr JOIN pts p ON p.pid <> pr.apid AND p.pid <> pr.bpid),
g AS (SELECT apid, bpid, min(cr) AS mn, max(cr) AS mx FROM tri0 GROUP BY 1, 2),
verts AS (SELECT DISTINCT apid AS pid FROM g WHERE mn >= 0 OR mx <= 0),
hv AS (SELECT p.pid, p.px, p.py FROM pts p JOIN verts USING (pid)),
pairc AS (
  SELECT (a.px + b.px) / 2.0 AS ccx, (a.py + b.py) / 2.0 AS ccy,
         ((a.px - b.px) * (a.px - b.px)
            + (a.py - b.py) * (a.py - b.py)) / 4.0 AS r2
  FROM hv a JOIN hv b ON a.pid < b.pid),
tric AS (
  SELECT
    ((a.px * a.px + a.py * a.py) * (b.py - c.py)
       + (b.px * b.px + b.py * b.py) * (c.py - a.py)
       + (c.px * c.px + c.py * c.py) * (a.py - b.py))
      / (2.0 * (a.px * (b.py - c.py) + b.px * (c.py - a.py)
                + c.px * (a.py - b.py))) AS ccx,
    ((a.px * a.px + a.py * a.py) * (c.px - b.px)
       + (b.px * b.px + b.py * b.py) * (a.px - c.px)
       + (c.px * c.px + c.py * c.py) * (b.px - a.px))
      / (2.0 * (a.px * (b.py - c.py) + b.px * (c.py - a.py)
                + c.px * (a.py - b.py))) AS ccy,
    a.px AS ax, a.py AS ay
  FROM hv a JOIN hv b ON a.pid < b.pid JOIN hv c ON b.pid < c.pid
  WHERE abs(2.0 * (a.px * (b.py - c.py) + b.px * (c.py - a.py)
                   + c.px * (a.py - b.py))) > 1e-12),
tric2 AS (SELECT ccx, ccy,
                 (ax - ccx) * (ax - ccx) + (ay - ccy) * (ay - ccy) AS r2
          FROM tric),
circles AS (SELECT * FROM pairc UNION ALL SELECT * FROM tric2),
cov AS (
  SELECT c.ccx, c.ccy, c.r2,
         max((h.px - c.ccx) * (h.px - c.ccx)
             + (h.py - c.ccy) * (h.py - c.ccy)) AS maxd
  FROM circles c CROSS JOIN hv h GROUP BY 1, 2, 3)
SELECT ROUND(ccx, 5) AS center_x, ROUND(ccy, 5) AS center_y,
       ROUND(sqrt(r2), 5) AS radius
FROM cov WHERE maxd <= r2 * (1.0 + 1e-9)
ORDER BY r2, ccx, ccy LIMIT 1
""".strip()
    o["eval_akima"] = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x,
         ROUND(avg(value), 6) AS y
  FROM events GROUP BY 1, 2),
m AS (
  SELECT event_type, x, y,
         (lead(y) OVER w - y) / (lead(x) OVER w - x) AS m0,
         lead(x) OVER w AS x1, lead(y) OVER w AS y1
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY x)),
lags AS (
  SELECT *,
         lag(m0, 2) OVER w AS mm2, lag(m0, 1) OVER w AS mm1,
         lead(m0, 1) OVER w AS mp1, lead(m0, 2) OVER w AS mp2
  FROM m WINDOW w AS (PARTITION BY event_type ORDER BY x)),
s AS (
  SELECT *,
    CASE WHEN abs(mp1 - m0) + abs(mm1 - mm2) > 0
         THEN (abs(mp1 - m0) * mm1 + abs(mm1 - mm2) * m0)
              / (abs(mp1 - m0) + abs(mm1 - mm2))
         ELSE (mm1 + m0) / 2.0 END AS s0,
    CASE WHEN abs(mp2 - mp1) + abs(m0 - mm1) > 0
         THEN (abs(mp2 - mp1) * m0 + abs(m0 - mm1) * mp1)
              / (abs(mp2 - mp1) + abs(m0 - mm1))
         ELSE (m0 + mp1) / 2.0 END AS s1
  FROM lags)
SELECT event_type, ROUND((x + x1) / 2.0, 2) AS mid_x,
       ROUND(CAST(CAST((y + y1) / 2.0 + (x1 - x) * (s0 - s1) / 8.0
                  AS REAL) AS DOUBLE), 5) AS mid_y
FROM s WHERE mm2 IS NOT NULL AND mp2 IS NOT NULL
ORDER BY event_type, mid_x
""".strip()
    o["eval_tfidf_matrix"] = tfidf_matrix_sql(
        "doc_id < 15", min_df=2, max_df_frac=0.9
    )

    # classic facet parameter set (request/SimpleFacets.java:476-540)
    o["facet_prefix_offset"] = """
        SELECT source, count(*) AS count FROM documents
        WHERE source LIKE 'src1%'
        GROUP BY source ORDER BY source ASC LIMIT 5 OFFSET 2
    """
    o["facet_contains_index"] = """
        SELECT source, count(*) AS count FROM documents
        WHERE source LIKE '%1%'
        GROUP BY source ORDER BY source ASC LIMIT 100
    """
    o["facet_missing_lang"] = """
        SELECT lang_nn, count(*) AS count
        FROM (SELECT nullif(lang, 'en') AS lang_nn FROM documents)
        WHERE lang_nn IS NOT NULL GROUP BY lang_nn
        UNION ALL
        SELECT NULL AS lang_nn, count(*) AS count FROM documents
        WHERE nullif(lang, 'en') IS NULL
    """
    o["facet_allbuckets_lang"] = """
        SELECT CAST(count(DISTINCT lang) AS BIGINT) AS num_buckets,
               CAST(count(*) AS BIGINT) AS all_count,
               CAST(sum(n_chars) AS BIGINT) AS sum_nchars
        FROM documents WHERE lang IS NOT NULL
    """
    o["facet_range_other_nchars"] = """
        SELECT CAST(sum(CASE WHEN n_chars < 150 THEN 1 ELSE 0 END) AS BIGINT) AS before,
               CAST(sum(CASE WHEN n_chars >= 150 AND n_chars < 450 THEN 1 ELSE 0 END) AS BIGINT) AS between,
               CAST(sum(CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END) AS BIGINT) AS after
        FROM documents
    """
    o["facet_multiselect_exclude"] = """
        SELECT lang, count(*) AS count FROM documents
        WHERE source IN ('src1', 'src2', 'src3')
        GROUP BY lang ORDER BY count DESC, lang LIMIT 100
    """

    # TermsComponent terms.regex (whole-term match) + mincount
    o["terms_regex_df"] = term_dict_sql(
        order="term ASC",
        term_filter="regexp_matches(tok, '^s.*[kmt]$')",
        having="count(*) >= 2",
        limit=20,
    )

    # response-writer roundtrips (GeoJSON / GraphML): the writers are
    # lossless on the page, so the oracle is the page itself.
    o["geojson_roundtrip_page"] = f"""
WITH {_GEO_CTE},
page AS (SELECT doc_id, lat, lon, ROUND(dist_km, 4) AS dist_km
         FROM gd ORDER BY dist_km ASC, doc_id ASC LIMIT 10)
SELECT doc_id, lat, lon, dist_km FROM page ORDER BY doc_id
""".strip()
    o["graphml_roundtrip_edges"] = """
        SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               CAST(count(*) AS BIGINT) AS n_edges
        FROM orders WHERE o_custkey <= 50
        GROUP BY 1 ORDER BY 1
    """

    # ShingleFilter bigrams + ASCIIFoldingFilter chain
    o["shingle_bigrams_top"] = f"""
WITH toks AS (SELECT doc_id, {tok.duckdb_tokens_expr('text')} AS tt
              FROM documents WHERE doc_id < 200),
bi AS (SELECT unnest(list_transform(
         range(1, greatest(len(tt) - 1, 0) + 1),
         i -> tt[i] || ' ' || tt[i + 1])) AS shingle
       FROM toks)
SELECT shingle, count(*) AS count FROM bi
GROUP BY shingle ORDER BY count DESC, shingle ASC LIMIT 20
""".strip()
    from solr_spark.analysis import CODE_FOLD_CHAIN as _fold_chain

    _fold_text = _fold_chain.duckdb_tokens_expr(
        "concat('Café Zürich àçcèntÉd ', text)"
    )
    o["ascii_fold_tokens"] = f"""
SELECT tok, count(*) AS count
FROM (SELECT unnest({_fold_text}) AS tok
      FROM documents WHERE doc_id < 50) t
GROUP BY tok ORDER BY count DESC, tok ASC LIMIT 20
""".strip()

    # tlogit q-time half with frozen weights (training stays rows-only)
    _te = tok.duckdb_tokens_expr("text")
    o["tlogit_frozen_scores"] = f"""
WITH f AS (
  SELECT doc_id,
         len(list_filter({_te}, x -> x = 'spark')) AS f0,
         len(list_filter({_te}, x -> x = 'merge')) AS f1,
         len(list_filter({_te}, x -> x = 'batch')) AS f2
  FROM documents WHERE doc_id < 60),
z AS (SELECT doc_id, -1.0 + 0.9 * f0 + 0.6 * f1 - 0.8 * f2 AS z FROM f)
SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS prob,
       CAST(CASE WHEN 1.0 / (1.0 + exp(-z)) >= 0.5 THEN 1 ELSE 0 END
            AS INTEGER) AS predicted
FROM z ORDER BY doc_id
""".strip()

    # Trained tlogit, FULLY hash-checked: the trainer freezes epoch
    # count (15) and rounds weights to 1e-8 per epoch (tlogit.py), so
    # each GD step unrolls to one CTE computing the identical rounded
    # update — z uses the same left-fold add order as the Spark side
    # (IEEE +/* are deterministic; the rounding absorbs avg-order drift).
    _tl_epochs = 15
    _tl_z = "((w.w0 + w.w1 * f.f0) + w.w2 * f.f1) + w.w3 * f.f2"
    _tl_steps = []
    for _k in range(_tl_epochs):
        _tl_steps.append(f"""
w{_k + 1} AS (
  SELECT ROUND(min(w0) + avg(y - p), 8) AS w0,
         ROUND(min(w1) + avg((y - p) * f0), 8) AS w1,
         ROUND(min(w2) + avg((y - p) * f1), 8) AS w2,
         ROUND(min(w3) + avg((y - p) * f2), 8) AS w3
  FROM (SELECT w.w0, w.w1, w.w2, w.w3, f.y, f.f0, f.f1, f.f2,
               1.0 / (1.0 + exp(-({_tl_z}))) AS p
        FROM f CROSS JOIN w{_k} w))""".strip())
    _tl_chain = ",\n".join(_tl_steps)
    o["tlogit_classify_top10"] = f"""
WITH f AS MATERIALIZED (
  SELECT doc_id,
         CAST(list_contains({_te}, 'customer') AS DOUBLE) AS y,
         CAST(len(list_filter({_te}, x -> x = 'customer')) AS DOUBLE) AS f0,
         CAST(len(list_filter({_te}, x -> x = 'merge')) AS DOUBLE) AS f1,
         CAST(len(list_filter({_te}, x -> x = 'join')) AS DOUBLE) AS f2
  FROM documents),
w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
              CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3),
{_tl_chain},
scored AS (
  SELECT f.doc_id, {_tl_z} AS z
  FROM f CROSS JOIN w{_tl_epochs} w)
SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS prob,
       CAST(CASE WHEN 1.0 / (1.0 + exp(-z)) >= 0.5 THEN 1 ELSE 0 END
            AS INTEGER) AS predicted
FROM scored ORDER BY prob DESC, doc_id ASC LIMIT 10
""".strip()

    # [child] doc transformer: nested child values as a sorted array
    o["child_doc_transform"] = """
        SELECT o.o_orderkey,
               coalesce(list(l.l_partkey ORDER BY l.l_partkey)
                          FILTER (WHERE l.l_partkey IS NOT NULL),
                        CAST([] AS BIGINT[])) AS children
        FROM orders o
        LEFT JOIN lineitem l
          ON l.l_orderkey = o.o_orderkey AND l.l_quantity >= 25
        WHERE o.o_custkey <= 3
        GROUP BY o.o_orderkey ORDER BY o.o_orderkey
    """
    # [subquery] doc transformer: per-parent top-N of a bound subquery
    o["subquery_doc_transform"] = """
        WITH ranked AS (
          SELECT o_custkey,
                 concat_ws('|', CAST(o_orderdate AS VARCHAR),
                                CAST(o_orderkey AS VARCHAR)) AS item,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders)
        SELECT c.c_custkey, c.c_name,
               coalesce(list(r.item ORDER BY r.item)
                          FILTER (WHERE r.item IS NOT NULL),
                        CAST([] AS VARCHAR[])) AS subq
        FROM customer c
        LEFT JOIN ranked r ON r.o_custkey = c.c_custkey AND r.rn <= 3
        WHERE c.c_custkey <= 5
        GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey
    """

    from solr_spark.functions.hashing import md5_long_sql as _mls

    _h = _mls("CAST(doc_id AS VARCHAR)")
    o["hash_partition_filter"] = f"""
        SELECT doc_id, lang FROM documents
        WHERE ({_h}) % 4 = 1 ORDER BY doc_id
    """
    o["random_hash_sample"] = f"""
        SELECT doc_id FROM documents
        WHERE ({_h}) % 10000 < 1000 ORDER BY doc_id
    """

    from solr_spark.oracle_sql import (
        analysis_stages_sql,
        luke_field_stats_sql,
        luke_summary_sql,
    )

    o["luke_index_summary"] = luke_summary_sql()
    o["luke_field_stats"] = luke_field_stats_sql(["lang", "source"])
    from solr_spark.analysis import CODE_STEM_CHAIN

    o["analysis_probe_stages"] = analysis_stages_sql(42, CODE_STEM_CHAIN)

    o["sort_missing_last"] = """
        SELECT doc_id, nullif(lang, 'en') AS k,
               CAST(row_number() OVER (ORDER BY nullif(lang, 'en') ASC NULLS LAST,
                                       doc_id ASC) AS INT) AS rank
        FROM documents WHERE doc_id < 60
    """
    o["doc_expiration_ttl"] = """
        SELECT CAST(count(*) AS BIGINT) AS n_live,
               CAST(min(event_id) AS BIGINT) AS first_live_event,
               CAST(max(event_id) AS BIGINT) AS last_live_event
        FROM events
        WHERE ts + INTERVAL 259200 SECOND > TIMESTAMP '2024-01-20 00:00:00'
    """

    from solr_spark.oracle_sql import cluster_results_sql

    o["clustering_top30"] = cluster_results_sql(
        tok.tokenize_py(_Q_OR), mode="OR", n_docs=30, n_clusters=8,
        min_df=2, max_df_frac=0.5,
    )

    from solr_spark.oracle_sql import explain_scores_sql

    o["debug_explain_scores"] = explain_scores_sql(tok.tokenize_py(_Q_OR), k=10, mode="OR")

    from solr_spark.oracle_sql import relevance_functions_sql, suggest_fuzzy_sql

    o["suggest_fuzzy_servr"] = suggest_fuzzy_sql("servr", max_edits=2, n=10)
    o["function_relevance_fields"] = relevance_functions_sql("data", "d.doc_id < 20")

    o["stats_string_source"] = """
        SELECT CAST(count(source) AS BIGINT) AS count,
               CAST(count(*) - count(source) AS BIGINT) AS missing,
               min(source) AS min, max(source) AS max,
               CAST(count(DISTINCT source) AS BIGINT) AS distinct_values
        FROM documents
    """
    o["facet_by_group_lang"] = """
        SELECT lang, CAST(count(DISTINCT source) AS BIGINT) AS count
        FROM documents WHERE lang IS NOT NULL
        GROUP BY lang ORDER BY count DESC, lang ASC LIMIT 100
    """

    o["schema_apply_copyfield"] = """
        SELECT CAST(doc_id AS BIGINT) AS id,
               lang AS lang_s,
               source AS source_t,
               CAST(n_chars AS INT) AS n_chars_i,
               source || ' ' || lang AS "_text_"
        FROM documents WHERE doc_id < 30 ORDER BY id
    """
    o["schemaless_infer_docs"] = """
        WITH src AS (
          SELECT CAST(doc_id AS VARCHAR) AS c_long,
                 CAST(n_chars + 0.5 AS VARCHAR) AS c_double,
                 CAST(n_chars % 2 = 0 AS VARCHAR) AS c_bool,
                 lang AS c_string
          FROM documents
        ), cols AS (
          SELECT 'c_long' AS col_name, c_long AS v FROM src
          UNION ALL SELECT 'c_double', c_double FROM src
          UNION ALL SELECT 'c_bool', c_bool FROM src
          UNION ALL SELECT 'c_string', c_string FROM src
        ), agg AS (
          SELECT col_name,
                 count(v) AS nn,
                 count(CASE WHEN regexp_matches(v, '^[+-]?[0-9]+$')
                            THEN 1 END) AS n_long,
                 count(try_cast(v AS DOUBLE)) AS n_double,
                 count(CASE WHEN lower(v) IN ('true','false') THEN 1 END) AS n_bool,
                 count(try_cast(v AS TIMESTAMP)) AS n_ts
          FROM cols GROUP BY col_name
        )
        SELECT col_name,
               CASE WHEN nn = 0 THEN 'string'
                    WHEN n_long = nn THEN 'plong'
                    WHEN n_double = nn THEN 'pdouble'
                    WHEN n_bool = nn THEN 'boolean'
                    WHEN n_ts = nn THEN 'pdate'
                    ELSE 'string' END AS inferred
        FROM agg ORDER BY col_name
    """
    return o
