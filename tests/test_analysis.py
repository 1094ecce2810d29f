"""Golden-vector + cross-form parity tests for the analysis chain."""

import duckdb
import pytest

from solr_spark.analysis import CODE_CHAIN, TEXT_CHAIN

GOLDEN = [
    # (input, expected tokens) — frozen; changing the chain breaks these.
    ("def parseJsonHTTPServer2(self): return x",
     ["def", "parse", "json", "http", "server2", "self", "return", "x"]),
    ("snake_case_name and CamelCase", ["snake", "case", "name", "and", "camel", "case"]),
    ("the a an of to in is", []),
    ("", []),
    (None, []),
    ("x2y Q4Report __init__", ["x2y", "q4", "report", "init"]),
]


@pytest.mark.parametrize("text,expected", GOLDEN)
def test_golden_python(text, expected):
    assert CODE_CHAIN.tokenize_py(text) == expected


def test_spark_matches_python(spark):
    texts = [t for t, _ in GOLDEN if t is not None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    rows = df.select("id", CODE_CHAIN.tokens("text").alias("toks")).collect()
    for r in rows:
        assert r["toks"] == CODE_CHAIN.tokenize_py(texts[r["id"]])


def test_pandas_udf_matches_python(spark):
    texts = [t for t, _ in GOLDEN if t is not None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    rows = df.select("id", CODE_CHAIN.tokens_pandas_udf()("text").alias("toks")).collect()
    for r in rows:
        assert r["toks"] == CODE_CHAIN.tokenize_py(texts[r["id"]])


def test_duckdb_matches_python():
    con = duckdb.connect()
    for text, expected in GOLDEN:
        if text is None:
            continue
        expr = CODE_CHAIN.duckdb_tokens_expr("?")
        # inline the literal instead of parameter inside the expr builder
        lit = "'" + text.replace("'", "''") + "'"
        got = con.execute(f"SELECT {CODE_CHAIN.duckdb_tokens_expr(lit)}").fetchone()[0]
        assert got == expected, text


def test_text_chain_no_case_split():
    assert TEXT_CHAIN.tokenize_py("CamelCase word") == ["camelcase", "word"]


# ---------------------------------------------------------------------------
# stemming chains
# ---------------------------------------------------------------------------

from solr_spark.analysis import CODE_PORTER_CHAIN, CODE_STEM_CHAIN  # noqa: E402
from solr_spark.analysis.porter import GOLDEN as PORTER_GOLDEN  # noqa: E402
from solr_spark.analysis.porter import porter_stem  # noqa: E402


def test_porter_golden_vectors():
    """Porter stems must match the published algorithm's worked examples
    (Porter 1980; Lucene PorterStemFilter implements the same spec)."""
    for w, expect in PORTER_GOLDEN.items():
        assert porter_stem(w) == expect, w


def test_minimal_stem_three_forms_agree(spark):
    """The minimal plural stemmer must agree across Spark expressions,
    Python, and DuckDB SQL on a stress vocabulary."""
    words = ("tables merges entries flies glass status crisis bus ties is as"
             " pass classes stores caches indexes queries axis dos boss this")
    py = CODE_STEM_CHAIN.tokenize_py(words)
    sdf = spark.createDataFrame([(words,)], "t string").select(
        CODE_STEM_CHAIN.tokens("t").alias("toks")
    )
    assert sdf.collect()[0]["toks"] == py
    con = duckdb.connect()
    lit = "'" + words + "'"
    got = con.execute("SELECT " + CODE_STEM_CHAIN.duckdb_tokens_expr(lit)).fetchone()[0]
    assert got == py


def test_porter_chain_spark_matches_python(spark, oracle_corpus):
    """The porter chain's pandas-UDF Spark form must equal tokenize_py
    over real corpus docs (the declared extension point, chains.py)."""
    sample = oracle_corpus.head(25)
    sdf = spark.createDataFrame(sample[["doc_id", "content"]])
    got = {
        r["doc_id"]: r["toks"]
        for r in sdf.select("doc_id", CODE_PORTER_CHAIN.tokens("content").alias("toks")).collect()
    }
    for _, row in sample.iterrows():
        assert got[row["doc_id"]] == CODE_PORTER_CHAIN.tokenize_py(row["content"])


def test_porter_chain_has_no_sql_form():
    with pytest.raises(NotImplementedError):
        CODE_PORTER_CHAIN.duckdb_tokens_expr("'x'")


def test_ascii_fold_chain_three_forms(spark):
    """fold → case-split ordering: É creates a camel boundary after fold."""
    import duckdb

    from solr_spark.analysis import CODE_FOLD_CHAIN

    text = "Café Zürich àçcèntÉd naïve HTTPServer"
    expect = CODE_FOLD_CHAIN.tokenize_py(text)
    assert "cafe" in expect and "zurich" in expect
    assert "accent" in expect and "ed" in expect  # É → E camel split
    got_spark = (
        spark.createDataFrame([(text,)], "t string")
        .select(CODE_FOLD_CHAIN.tokens("t").alias("toks"))
        .collect()[0]["toks"]
    )
    assert got_spark == expect
    got_duck = duckdb.sql(
        f"SELECT {CODE_FOLD_CHAIN.duckdb_tokens_expr('?')} ", params=[text]
    ).fetchone()[0]
    assert got_duck == expect


def test_shingles_column(spark):
    from solr_spark.analysis import CODE_CHAIN, shingles

    df = spark.createDataFrame(
        [("scan the big table fast",), ("one",), ("",)], "t string"
    )
    out = df.select(shingles(CODE_CHAIN.tokens("t"), 2).alias("s")).collect()
    # stopword 'the' is removed BEFORE shingling (Solr filter order)
    assert out[0]["s"] == ["scan big", "big table", "table fast"]
    assert out[1]["s"] == [] and out[2]["s"] == []
    tri = df.select(shingles(CODE_CHAIN.tokens("t"), 3, sep="_").alias("s")).collect()
    assert tri[0]["s"] == ["scan_big_table", "big_table_fast"]


# ---------------------------------------------------------------------------
# staged forms (FieldAnalysisRequestHandler analog) + Luke admin surfaces
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("chain", [CODE_CHAIN, CODE_STEM_CHAIN])
def test_stage_tokens_final_stage_equals_tokens(spark, chain):
    texts = [t for t, _ in GOLDEN if t is not None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    stages = chain.stage_tokens("text")
    assert stages[0][0] == "tokenizer" and stages[1][0] == "stopfilter"
    rows = df.select(
        "id", stages[-1][1].alias("last"), chain.tokens("text").alias("full")
    ).collect()
    for r in rows:
        assert r["last"] == r["full"]


@pytest.mark.parametrize("chain", [CODE_CHAIN, CODE_STEM_CHAIN])
def test_duckdb_stage_exprs_match_spark_stages(spark, chain):
    con = duckdb.connect()
    texts = [t for t, _ in GOLDEN if t is not None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    spark_stages = chain.stage_tokens("text")
    got_spark = df.select("id", *[c.alias(n) for n, c in spark_stages]).collect()
    for r in got_spark:
        lit = "'" + texts[r["id"]].replace("'", "''") + "'"
        for name, expr in chain.duckdb_stage_exprs(lit):
            duck = con.execute(f"SELECT {expr}").fetchone()[0]
            assert duck == r[name], (name, texts[r["id"]])


def test_porter_chain_has_no_staged_forms():
    with pytest.raises(NotImplementedError):
        CODE_PORTER_CHAIN.stage_tokens("text")
    with pytest.raises(NotImplementedError):
        CODE_PORTER_CHAIN.duckdb_stage_exprs("text")


def test_analysis_stages_positions(spark):
    from solr_spark import admin

    df = spark.createDataFrame(
        [(1, "getUserName of the setUserNames values")], "doc_id long, text string"
    )
    rows = admin.analysis_stages(df, CODE_STEM_CHAIN).orderBy("stage_no", "pos").collect()
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r["stage"], []).append((r["pos"], r["token"]))
    # positions are dense 0..n-1 within every stage
    for stage, toks in by_stage.items():
        assert [p for p, _ in toks] == list(range(len(toks))), stage
    # stopfilter drops 'and'/'the'; stemfilter folds plurals
    assert "the" in [t for _, t in by_stage["tokenizer"]]
    assert "the" not in [t for _, t in by_stage["stopfilter"]]
    assert "name" in [t for _, t in by_stage["stemfilter"]]
    # no shuffle: map-only plan
    out = admin.analysis_stages(df, CODE_STEM_CHAIN)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_luke_field_stats_single_scan(spark):
    from solr_spark import admin

    df = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", None), (3, "fr", "b")], "doc_id long, lang string, src string"
    )
    rows = {r["field"]: r for r in admin.luke_field_stats(df, ["lang", "src"]).collect()}
    assert rows["lang"]["docs_with"] == 3 and rows["lang"]["distinct_vals"] == 2
    assert rows["src"]["docs_with"] == 2 and rows["src"]["distinct_vals"] == 2


def test_filter_pack_golden_vectors(spark):
    """Token-array filters: golden outputs incl. the short-token /
    empty-array edge cases (Spark sequence() runs descending when
    stop < start — the guards must yield [] instead)."""
    from pyspark.sql import functions as F

    from solr_spark.analysis import filters as flt

    df = spark.createDataFrame(
        [(["spark", "io", "x", "merge42data"],), ([],)], "toks array<string>"
    )
    t = F.col("toks")
    out = df.select(
        flt.edge_ngrams(t, 2, 4).alias("edge"),
        flt.char_ngrams(t, 3).alias("ng3"),
        flt.length_filter(t, 3, 6).alias("len36"),
        flt.keep_words(t, ["spark", "x"]).alias("keep"),
        flt.pattern_replace(t, "[0-9]+", "#").alias("repl"),
        flt.truncate_tokens(t, 4).alias("trunc"),
        flt.reverse_tokens(t).alias("rev"),
        flt.limit_token_count(t, 2).alias("lim2"),
        flt.common_grams(t, ["io"]).alias("cg"),
    ).collect()
    r = out[0]
    assert r["edge"] == ["sp", "spa", "spar", "io", "me", "mer", "merg"]
    assert r["ng3"][:3] == ["spa", "par", "ark"] and "x" not in r["ng3"]
    assert r["len36"] == ["spark"]
    assert r["keep"] == ["spark", "x"]
    assert r["repl"] == ["spark", "io", "x", "merge#data"]
    assert r["trunc"] == ["spar", "io", "x", "merg"]
    assert r["rev"] == ["kraps", "oi", "x", "atad24egrem"]
    assert r["lim2"] == ["spark", "io"]
    # common grams: bigram emitted at positions adjacent to 'io'
    assert r["cg"] == ["spark", "spark_io", "io", "io_x", "x", "merge42data"]
    empty = out[1]
    assert all(empty[c] == [] for c in
               ("edge", "ng3", "len36", "keep", "repl", "trunc", "rev", "lim2", "cg"))


def test_segments_info_physical_layout(index, test_config):
    """SegmentsInfoRequestHandler analog: every on-disk stage reported
    with real sizes; blocks bucket rows match the configured bucket
    count and sum to the stage total."""
    from solr_spark import admin

    rows = {r["stage"]: r for r in admin.segments_info(index).collect()}
    for stage in ("analyzed", "term_dict", "blocks"):
        assert stage in rows, stage
        assert rows[stage]["n_files"] > 0 and rows[stage]["bytes"] > 0
    # the build's staged postings were flushed when its commit landed
    assert rows["segments"]["n_files"] == 0
    buckets = [s for s in rows if s.startswith("blocks/")]
    assert len(buckets) == test_config.n_term_buckets
    assert sum(rows[b]["bytes"] for b in buckets) <= rows["blocks"]["bytes"]
    assert sum(rows[b]["n_files"] for b in buckets) >= test_config.n_term_buckets
