"""Rank-identity of the distributed engine vs the brute-force oracle —
the control-vs-distributed diff pattern of BaseDistributedSearchTestCase."""

import numpy as np
import pytest

from solr_spark.query.engine import SearchEngine
from pyspark.sql.functions import col as F_col
from solr_spark.queryset import make_query_set


@pytest.fixture(scope="module")
def engine(index):
    return SearchEngine(index)


def _assert_rank_identical(engine, oracle, query, mode, k=10):
    got = engine.topk(query, k=k, mode=mode).collect()
    exp = oracle.topk(query, k=k, mode=mode)
    got_ids = [r["doc_id"] for r in got]
    exp_ids = list(exp["doc_id"])
    assert got_ids == exp_ids, f"{query!r} ({mode}): {got_ids} != {exp_ids}"
    for r, es in zip(got, exp["score"]):
        assert abs(r["score"] - float(es)) <= 1e-5 * max(1.0, abs(es)), query


def test_single_hot_term(engine, oracle):
    _assert_rank_identical(engine, oracle, "import", "OR")


def test_single_mid_term(engine, oracle):
    _assert_rank_identical(engine, oracle, "config", "OR")


def test_camel_case_query_analysis(engine, oracle):
    _assert_rank_identical(engine, oracle, "getUserName", "OR")


def test_single_term_plan_has_no_shuffle(engine, index):
    """A single-distinct-term top-k is exchange-free: tf is per-doc
    aggregated at build time and salting routes a doc's postings for a
    term to one salt stream, so the per-doc sum is an identity and the
    plan must collapse to scan -> decode -> TakeOrderedAndProject with
    no Exchange (the TermQuery single-postings-walk analog,
    SolrIndexSearcher.java)."""
    plan = engine.topk("import", k=10)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "TakeOrderedAndProject" in plan

    # and the specialized plan is row-identical to the generic
    # aggregation path on the same stats (duplicate query tokens keep
    # the weight semantics: "import import" is still one distinct term)
    stats = engine._term_stats(engine.analyze_query("import import"))
    fast = engine.score_all(stats).orderBy("doc_id").collect()
    from pyspark.sql import functions as F

    from solr_spark.query.engine import decode_blocks

    blocks = engine.index.blocks.where(
        F.col("term").isin([s.term for s in stats])
    )
    generic = (
        engine._score_decoded(decode_blocks(blocks), stats)
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score_raw"), F.count("*").alias("n_terms"))
        .orderBy("doc_id")
        .collect()
    )
    assert [(r["doc_id"], r["n_terms"]) for r in fast] == [
        (r["doc_id"], r["n_terms"]) for r in generic
    ]
    for a, b in zip(fast, generic):
        assert abs(a["score_raw"] - b["score_raw"]) < 1e-12


def test_and_query(engine, oracle):
    _assert_rank_identical(engine, oracle, "server client", "AND")


def test_or_query(engine, oracle):
    _assert_rank_identical(engine, oracle, "http server json", "OR")


def test_duplicate_query_terms_weighting(engine, oracle):
    _assert_rank_identical(engine, oracle, "value value config", "OR")


def test_zero_hit(engine, oracle):
    assert engine.topk("zzzznotaterm", 10).count() == 0


def test_and_with_missing_term_is_empty(engine, oracle):
    assert engine.topk("config zzzznotaterm", 10, mode="AND").count() == 0


def test_full_query_set_rank_identity(engine, oracle, index):
    """The headline gate: full FIXTURES-style query set, rank-identical."""
    term_df = index.term_dict.select("term", "df").toPandas()
    qs = make_query_set(term_df)
    assert len(qs) == 100
    failures = []
    for row in qs.itertuples():
        got = engine.topk(row.query, k=row.k, mode=row.mode).collect()
        exp = oracle.topk(row.query, k=row.k, mode=row.mode)
        if [r["doc_id"] for r in got] != list(exp["doc_id"]):
            failures.append((row.query_id, row.query, row.mode))
    assert not failures, f"rank mismatches: {failures}"


def test_pruning_matches_exact(index, engine):
    """Block-max pruned results must equal unpruned (rank-safety proof).
    ``_PRUNE_MIN_POSTINGS = 0`` forces the θ seed path even on the toy
    index (production only engages it past 1M postings)."""
    forced = SearchEngine(index)
    forced._PRUNE_MIN_POSTINGS = 0
    for q, mode in [("import", "OR"), ("config", "OR"), ("server client", "AND"),
                    ("parse json http", "AND"),
                    # OR-mode Block-Max WAND: rare+hot mixes where pruning bites
                    ("import config", "OR"), ("server client parse", "OR"),
                    ("import import config", "OR")]:  # duplicate-term weights
        pruned = [(r["doc_id"], r["score"]) for r in forced.topk(q, 10, mode, prune=True).collect()]
        exact = [(r["doc_id"], r["score"]) for r in engine.topk(q, 10, mode, prune=False).collect()]
        assert pruned == exact, q


def test_pruned_plan_no_driver_metadata_collect(index, engine):
    """VERDICT r2 #2: seed-block selection is DISTRIBUTED. Constructing a
    pruned top-k plan runs exactly ONE driver action (the fused θ seed
    job) — block metadata never collects to the driver, so pruning
    survives arbitrarily many blocks per term. AND-mode range pruning is
    fully lazy (zero actions once stats are memoized)."""
    forced = SearchEngine(index)
    forced._PRUNE_MIN_POSTINGS = 0
    calls: list = []
    _cls = type(index.term_dict)  # the concrete (classic) DataFrame class
    orig = _cls.collect

    def spy(self):
        calls.append(self)
        return orig(self)

    _cls.collect = spy
    try:
        forced._term_stats(forced.analyze_query("import config"))  # warm memo
        forced._term_stats(forced.analyze_query("server client"))
        calls.clear()
        plan_or = forced.topk("import config", 10)  # plan construction only
        assert len(calls) == 1, "OR path must run only the fused θ action"
        calls.clear()
        plan_and = forced.topk("server client", 10, mode="AND")
        assert len(calls) == 0, "AND range pruning must be fully lazy"
    finally:
        _cls.collect = orig
    for plan, q, mode in [(plan_or, "import config", "OR"),
                          (plan_and, "server client", "AND")]:
        got = [(r["doc_id"], r["score"]) for r in plan.collect()]
        exact = [(r["doc_id"], r["score"])
                 for r in engine.topk(q, 10, mode, prune=False).collect()]
        assert got == exact, q


def test_and_range_limit_falls_back_to_exact(index, engine):
    """Past _AND_RANGE_LIMIT candidate ranges the conjunctive pruner
    returns the exact unpruned scan (broadcast stays bounded)."""
    guarded = SearchEngine(index)
    guarded._AND_RANGE_LIMIT = 0
    stats = guarded._term_stats(guarded.analyze_query("server client"))
    full = guarded._blocks_for([s.term for s in stats]).count()
    assert guarded._and_pruned_blocks(stats, 10).count() == full
    got = [(r["doc_id"], r["score"]) for r in guarded.topk("server client", 10, "AND").collect()]
    exact = [(r["doc_id"], r["score"]) for r in engine.topk("server client", 10, "AND", prune=False).collect()]
    assert got == exact


def test_topk_with_fields(engine):
    rows = engine.topk_with_fields("import", k=5).collect()
    assert len(rows) == 5
    assert {"repo", "path", "lang", "score"} <= set(rows[0].asDict())


def test_randomized_queries_property(engine, oracle, index):
    """Seeded property-style randomized queries (reference's randomized
    test style): random 1-3 term queries, random mode."""
    rng = np.random.default_rng(1234)
    terms = [r["term"] for r in index.term_dict.sample(0.2, seed=7).limit(60).collect()]
    for _ in range(15):
        n = int(rng.integers(1, 4))
        q = " ".join(terms[i] for i in rng.integers(0, len(terms), n))
        mode = "AND" if rng.random() < 0.5 else "OR"
        _assert_rank_identical(engine, oracle, q, mode)


# ---------------------------------------------------------------------------
# v2 lucene grammar (AST parser + one-aggregation compiler)
# ---------------------------------------------------------------------------

from solr_spark.query.parser import (  # noqa: E402
    BoolQ, FuzzyQ, PhraseQ, RangeQ, RegexQ, TermQ, WildQ, parse_lucene,
)
from solr_spark.plans import execute_query  # noqa: E402


def test_parse_lucene_shapes():
    ast = parse_lucene("(a OR b) AND c -d")
    assert isinstance(ast, BoolQ) and len(ast.must_not) == 1
    grp = ast.should[0]
    assert isinstance(grp, BoolQ) and len(grp.must) == 2
    inner = grp.must[0]
    assert isinstance(inner, BoolQ) and [t.text for t in inner.should] == ["a", "b"]

    r = parse_lucene("n_chars:[100 TO 300]")
    assert isinstance(r, RangeQ) and r.lo == "100" and r.hi == "300" and r.incl_hi
    r = parse_lucene("x:{a TO *}")
    assert isinstance(r, RangeQ) and not r.incl_lo and r.hi is None

    assert isinstance(parse_lucene("te*t"), WildQ)
    assert isinstance(parse_lucene("/ab+c/"), RegexQ)
    f = parse_lucene("spark~1")
    assert isinstance(f, FuzzyQ) and f.max_edits == 1
    ph = parse_lucene('"a b"~3^2')
    assert isinstance(ph, PhraseQ) and ph.slop == 3 and ph.boost == 2.0
    t = parse_lucene("spark^2.5")
    assert isinstance(t, TermQ) and t.boost == 2.5


def test_parse_range_const_score():
    """^=N on a (fielded) range clause — the lexer keeps the marker
    attached to the range token, so the range branches must strip it
    (round-4 ADVICE fix: previously produced RangeQ(hi='300]^=')."""
    from solr_spark.query.parser import ConstQ

    for q in ("n_chars:[100 TO 300]^=2", "[100 TO 300]^=2"):
        node = parse_lucene(q)
        assert isinstance(node, ConstQ) and node.score == 2.0
        rng = node.node
        assert isinstance(rng, RangeQ) and rng.lo == "100" and rng.hi == "300"
        assert rng.incl_hi and rng.boost == 1.0
    # plain boost on a fielded range still parses
    r = parse_lucene("n_chars:[100 TO 300]^2")
    assert isinstance(r, RangeQ) and r.boost == 2.0 and r.hi == "300"
    # exclusive + open-ended with const marker
    node = parse_lucene("n_chars:{100 TO *}^=1.5")
    assert isinstance(node, ConstQ) and node.score == 1.5
    assert node.node.hi is None and not node.node.incl_lo


def test_execute_nested_bool_matches_setalgebra(engine):
    """(a OR b) AND c == docs(c) ∩ (docs(a) ∪ docs(b)), scored as the
    sum of all three terms' contributions."""
    big = 10**6
    a = {r["doc_id"] for r in engine.topk("server", big).collect()}
    b = {r["doc_id"] for r in engine.topk("client", big).collect()}
    c = {r["doc_id"] for r in engine.topk("parse", big).collect()}
    expect = (a | b) & c
    got = {r["doc_id"] for r in
           execute_query(engine, "(server OR client) AND parse", k=big).collect()}
    assert got == expect


def test_execute_boost_scales_contribution(engine):
    base = {r["doc_id"]: r["score"] for r in execute_query(engine, "server", k=50).collect()}
    boosted = {r["doc_id"]: r["score"] for r in execute_query(engine, "server^2", k=50).collect()}
    for d in set(base) & set(boosted):
        assert boosted[d] == pytest.approx(2.0 * base[d], rel=1e-5)


def test_execute_wildcard_equals_prefix_for_trailing_star(engine):
    from solr_spark.query import extras as qx
    w = [(r["doc_id"], r["score"]) for r in execute_query(engine, "serv*", k=10).collect()]
    p = [(r["doc_id"], r["score"]) for r in qx.prefix_topk(engine, "serv", k=10).collect()]
    assert [d for d, _ in w] == [d for d, _ in p]


def test_leading_wildcard_expansion(engine, index):
    """``*suffix`` expands through an ``endswith`` filter on term_dict:
    the same terms as the anchored regex scan, and ``*se`` through the
    query compiler equals :func:`suffix_topk`."""
    from pyspark.sql import functions as F
    from solr_spark.query.extras import _expansion_stats, suffix_topk

    via_endswith = {s.term for s in _expansion_stats(engine, F.col("term").endswith("se"), 10**6)}
    via_rlike = {
        r["term"]
        for r in index.term_dict.where(F.col("term").rlike("^.*se$")).collect()
    }
    assert via_endswith and via_endswith == via_rlike

    got = [(r["doc_id"], r["score"])
           for r in execute_query(engine, "*se", k=20).collect()]
    via_api = [(r["doc_id"], r["score"])
               for r in suffix_topk(engine, "se", k=20, max_expansions=50).collect()]
    assert got == via_api and got


def test_execute_term_range_expands_dictionary(engine, index):
    terms = {r["term"] for r in index.term_dict
             .where((F_col("term") >= "server") & (F_col("term") <= "set")).collect()}
    hits = execute_query(engine, "text:[server TO set]", k=10).count()
    assert terms and hits > 0


def test_execute_phrase_clause_is_positional(engine):
    """A quoted phrase inside a boolean query must use positional
    verification, not bag-of-words (ADVICE round 1)."""
    from solr_spark.query.phrase import phrase_topk
    big = 10**6
    ph = {r["doc_id"] for r in phrase_topk(engine, "import os", k=big).collect()}
    got = {r["doc_id"] for r in execute_query(engine, '"import os"', k=big).collect()}
    assert got == ph


def test_execute_pure_negative_is_empty(engine):
    assert execute_query(engine, "-server", k=10).count() == 0


def test_execute_query_edge_cases(engine):
    """Grammar robustness: empty / whitespace / unbalanced parens /
    operator-only / filter-only queries must not raise, and must have
    defensible semantics."""
    assert execute_query(engine, "", k=5).count() == 0
    assert execute_query(engine, "   ", k=5).count() == 0
    # unbalanced parens: parser closes the group at end of input
    a = {r["doc_id"] for r in execute_query(engine, "(server client", k=10**6).collect()}
    b = {r["doc_id"] for r in execute_query(engine, "(server client)", k=10**6).collect()}
    assert a == b
    # dangling operators degrade to their operand
    c = {r["doc_id"] for r in execute_query(engine, "server AND", k=10**6).collect()}
    d = {r["doc_id"] for r in execute_query(engine, "server", k=10**6).collect()}
    assert c == d
    # filter-only query: matches the filtered registry with score 0
    n = execute_query(engine, "lang:python", k=10**6).count()
    exp = engine.index.docs.where(F_col("lang") == "python").count()
    assert n == exp


def test_execute_query_double_negation_and_nested_not(engine):
    base = {r["doc_id"] for r in execute_query(engine, "server", k=10**6).collect()}
    minus = {r["doc_id"] for r in execute_query(engine, "server -client", k=10**6).collect()}
    client = {r["doc_id"] for r in execute_query(engine, "client", k=10**6).collect()}
    assert minus == base - client
    grp = {r["doc_id"] for r in
           execute_query(engine, "server -(client OR parse)", k=10**6).collect()}
    parse = {r["doc_id"] for r in execute_query(engine, "parse", k=10**6).collect()}
    assert grp == base - (client | parse)


def test_parse_simple_shapes():
    from solr_spark.query.parser import parse_simple

    ast = parse_simple("(batch|stream)+customer -merge")
    assert isinstance(ast, BoolQ)
    assert [t.text for t in ast.must_not] == ["merge"]
    grp = ast.must[0]
    assert [t.text for t in grp.should] == ["batch", "stream"]
    assert ast.must[1].text == "customer"

    # AND (+) binds tighter than OR (|)
    ast = parse_simple("a+b|c")
    assert len(ast.should) == 2 and ast.should[1].text == "c"
    assert [t.text for t in ast.should[0].must] == ["a", "b"]

    # lenient: stray parens / quotes never throw
    assert parse_simple('foo* "unclosed ~x (') is not None
    ph = parse_simple('"big data"~2')
    assert isinstance(ph, PhraseQ) and ph.slop == 2


# ---------------------------------------------------------------------------
# executor stream (stored expressions unioned into one DAG)
# ---------------------------------------------------------------------------

from solr_spark.streaming.executor import executor_stream  # noqa: E402


def test_executor_stream_matches_individual_queries(engine):
    stored = [
        ("a", "server parse"),
        ("b", "(server OR client) AND parse"),
        ("c", "server^2 client"),
    ]
    got = executor_stream(engine, stored, k=10).collect()
    by_qid = {}
    for r in got:
        by_qid.setdefault(r["query_id"], {})[r["doc_id"]] = round(r["score"], 4)
    assert set(by_qid) == {"a", "b", "c"}
    for qid, qstr in stored:
        solo = {
            r["doc_id"]: round(r["score"], 4)
            for r in execute_query(engine, qstr, k=10).collect()
        }
        assert by_qid[qid] == solo, qid


def test_executor_stream_is_one_unioned_plan(engine):
    # the N branches must form ONE lazy DAG collected by a single action
    # (no driver-side per-expression dispatch loop) — that is the scale
    # property vs the reference's single-node pool. AQE may split the
    # action into several scheduler jobs; the structural invariant is
    # the Union in one plan.
    df = executor_stream(engine, [("a", "server"), ("b", "client")], k=5)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan
    assert [f.name for f in df.schema.fields] == ["query_id", "doc_id", "score"]


def test_executor_stream_empty_raises(engine):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        executor_stream(engine, [])


# --- queryResultCache analog (SolrIndexSearcher result windows) ---

def _is_local_relation(df):
    # a cache hit comes back as a driver-local relation: no parquet scan
    # of the index, no exchange, no RDD — just the materialized rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (
        "LocalTableScan" in plan
        and "Exchange" not in plan
        and "parquet" not in plan.lower()
    )


def test_search_cache_hit_is_local_relation(index):
    eng = SearchEngine(index)
    sc = eng.spark.sparkContext
    first = eng.search("server client", k=10).collect()
    assert first == eng.topk("server client", k=10).collect()
    sc.setJobGroup("qcache_hit", "cache-hit probe")
    again = eng.search("server client", k=10)  # serving = zero jobs
    rows = again.collect()  # and so is collecting the hit
    sc.setJobGroup("idle", "idle")
    assert sc.statusTracker().getJobIdsForGroup("qcache_hit") == []
    assert _is_local_relation(again)
    assert rows == first


def test_search_window_serves_smaller_k(index):
    eng = SearchEngine(index)
    eng.search("config", k=10)  # executes with window=max(10, 20)=20
    small = eng.search("config", k=3)
    assert _is_local_relation(small)
    assert small.collect() == eng.topk("config", k=3).collect()


def test_search_cache_respects_mode_and_analysis(index):
    eng = SearchEngine(index)
    eng.search("server client", k=10, mode="OR")
    and_rows = eng.search("server client", k=10, mode="AND").collect()
    assert len(eng._qresult_cache) == 2  # one key per mode
    assert and_rows == eng.topk("server client", k=10, mode="AND").collect()
    # analysis-equivalent spellings share one key (analyzed-terms key)
    key_count = len(eng._qresult_cache)
    eng.search("Server  CLIENT", k=10, mode="OR")
    assert len(eng._qresult_cache) == key_count


def test_search_cache_eviction(index):
    eng = SearchEngine(index)
    eng._QUERY_CACHE_SIZE = 2
    for q in ("import", "config", "server"):
        eng.search(q, k=5)
    assert len(eng._qresult_cache) == 2  # LRU evicted the oldest entry
    assert [k[0] for k in eng._qresult_cache] == [("config",), ("server",)]


def test_search_exhausted_short_window_serves_any_k(index):
    eng = SearchEngine(index)
    rows = eng.search("zzzznotaterm config", k=5, mode="AND").collect()
    assert rows == []
    bigger = eng.search("zzzznotaterm config", k=50, mode="AND")
    assert _is_local_relation(bigger)  # short window is exhaustive
    assert bigger.collect() == []


def test_execute_match_all_scores_one(engine):
    big = 10**6
    n_docs = engine.index.docs.count()
    rows = execute_query(engine, "*:*", k=big).collect()
    assert len(rows) == n_docs
    assert all(r["score"] == 1.0 for r in rows)


def test_execute_field_exists_and_unknown_warns(engine):
    import warnings

    big = 10**6
    n_docs = engine.index.docs.count()
    rows = execute_query(engine, "lang:*", k=big).collect()
    # synth corpus: every doc has a lang → exists matches all, score 1.0
    assert len(rows) == n_docs and all(r["score"] == 1.0 for r in rows)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = execute_query(engine, "nosuchfield:* AND server", k=10).collect()
    assert got == [] and any("unknown field" in str(x.message) for x in w)


def test_execute_const_score_operator(engine):
    base = {r["doc_id"]: r["score"]
            for r in execute_query(engine, "server", k=10**6).collect()}
    const = {r["doc_id"]: r["score"]
             for r in execute_query(engine, "server^=0.25", k=10**6).collect()}
    # same match set, every score exactly the constant
    assert set(const) == set(base)
    assert all(s == pytest.approx(0.25) for s in const.values())
    # OR composition: matching docs add the constant on top of BM25
    both = {r["doc_id"]: r["score"]
            for r in execute_query(engine, "server^=0.25 OR parse", k=10**6).collect()}
    parse = {r["doc_id"]: r["score"]
             for r in execute_query(engine, "parse", k=10**6).collect()}
    for d, s in both.items():
        expect = parse.get(d, 0.0) + (0.25 if d in base else 0.0)
        assert s == pytest.approx(expect, rel=1e-5)


def test_execute_range_const_score(engine):
    """Fielded numeric range with ^=N executes as a constant-score filter
    (round-4 fix: previously a parse-time corruption → float('300]^=')."""
    big = 10**6
    match = {r["doc_id"] for r in
             execute_query(engine, "doc_len:[150 TO 400]", k=big).collect()}
    got = {r["doc_id"]: r["score"] for r in
           execute_query(engine, "doc_len:[150 TO 400]^=2", k=big).collect()}
    assert match and set(got) == match
    assert all(s == pytest.approx(2.0) for s in got.values())


def test_execute_group_const_score(engine):
    big = 10**6
    a = {r["doc_id"] for r in execute_query(engine, "server", k=big).collect()}
    b = {r["doc_id"] for r in execute_query(engine, "client", k=big).collect()}
    got = {r["doc_id"]: r["score"]
           for r in execute_query(engine, "(server OR client)^=2", k=big).collect()}
    assert set(got) == (a | b)
    assert all(s == pytest.approx(2.0) for s in got.values())


def test_parse_xml_query_shapes():
    """XmlQParserPlugin front-end: element mapping + strictness (no
    Spark needed — execution shares execute_ast with the other
    grammars, gated by the xmlparser_bool oracle entry)."""
    import pytest as _pytest

    from solr_spark.query.parser import (
        BoolQ, ConstQ, MatchAllQ, PhraseQ, RangeQ, TermQ, parse_xml_query,
    )

    ast = parse_xml_query(
        '<BooleanQuery><Clause occurs="must"><TermQuery boost="2">spark'
        "</TermQuery></Clause>"
        '<Clause occurs="filter"><RangeQuery fieldName="n_chars" '
        'lowerTerm="100" upperTerm="300" includeUpper="false"/></Clause>'
        '<Clause occurs="mustNot"><TermQuery>merge</TermQuery></Clause>'
        "<Clause><TermsQuery>batch stream</TermsQuery></Clause>"
        "</BooleanQuery>"
    )
    assert isinstance(ast, BoolQ)
    assert ast.must[0] == TermQ("spark", boost=2.0)
    filt = ast.must[1]
    assert isinstance(filt, ConstQ) and filt.score == 0.0  # scoreless FILTER
    assert isinstance(filt.node, RangeQ) and filt.node.incl_hi is False
    assert ast.must_not == [TermQ("merge")]
    assert [t.text for t in ast.should[0].should] == ["batch", "stream"]

    assert isinstance(parse_xml_query("<MatchAllDocsQuery/>"), MatchAllQ)
    ph = parse_xml_query(
        '<SpanNear slop="1"><SpanTerm>a</SpanTerm><SpanTerm>b</SpanTerm></SpanNear>'
    )
    assert ph == PhraseQ("a b", slop=1)
    const = parse_xml_query(
        '<ConstantScoreQuery boost="3"><TermQuery>x</TermQuery></ConstantScoreQuery>'
    )
    assert isinstance(const, ConstQ) and const.score == 3.0

    with _pytest.raises(ValueError, match="unsupported"):
        parse_xml_query("<FuzzyLikeThisQuery>x</FuzzyLikeThisQuery>")
    with _pytest.raises(ValueError, match="exactly one"):
        parse_xml_query("<ConstantScoreQuery/>")
    with _pytest.raises(ValueError, match="surround"):
        parse_xml_query('<SpanNear inOrder="false"><SpanTerm>a</SpanTerm></SpanNear>')


def test_parse_json_query_shapes():
    """JSON Request API front-end (JsonQueryConverter.java analog):
    node mapping, filter-occur wrapping, tagged clauses, envelope
    semantics (no Spark needed — execution shares execute_ast, gated
    by the json_request_bool oracle entry)."""
    import pytest as _pytest

    from solr_spark.query.parser import (
        BoolQ, ConstQ, PhraseQ, TermQ, WildQ,
        parse_json_query, parse_json_request,
    )

    # one-key parser objects
    assert parse_json_query({"term": {"f": "text", "v": "Spark"}}) == TermQ(
        "Spark", field="text", raw=True
    )
    assert parse_json_query({"prefix": {"query": "sp"}}) == WildQ("sp*")
    assert parse_json_query({"field": {"f": "text", "query": "a b"}}) == PhraseQ(
        "a b", field="text"
    )
    assert parse_json_query(
        {"#myTag": {"term": {"f": "text", "v": "x"}}}
    ) == TermQ("x", field="text", raw=True)

    ast = parse_json_query({"bool": {
        "must": "spark",
        "must_not": [{"term": {"v": "merge"}}],
        "filter": [{"lucene": {"query": "batch"}}],
    }})
    assert isinstance(ast, BoolQ)
    filt = ast.must[-1]
    assert isinstance(filt, ConstQ) and filt.score == 0.0

    # envelope: a pure-should query gets WRAPPED before filters attach
    # (a doc matching only the filter must not match, per fq semantics)
    wrapped, k, off = parse_json_request(
        {"query": {"bool": {"should": ["a", "b"]}},
         "filter": ["c"], "limit": 7, "offset": 2}
    )
    assert (k, off) == (7, 2)
    assert isinstance(wrapped, BoolQ) and len(wrapped.must) == 2
    inner, filt = wrapped.must
    assert isinstance(inner, BoolQ) and len(inner.should) == 2
    assert isinstance(filt, ConstQ) and filt.score == 0.0
    assert not wrapped.should

    with _pytest.raises(ValueError, match="param"):
        parse_json_query({"param": "ref"})
    with _pytest.raises(ValueError, match="unsupported"):
        parse_json_query({"edismax": {"query": "x"}})
    with _pytest.raises(ValueError, match="one-key"):
        parse_json_query(42)


def test_search_with_numfound_contract(engine):
    """minExactCount contract: default -> exact count, flagged exact;
    min_exact_count<=k -> a lower bound in [k_returned, exact], flagged
    inexact; the top-k rows themselves are identical either way."""
    exact = engine.search_with_numfound("import", k=5).collect()
    assert exact, "hot term must match"
    nf = {r["num_found"] for r in exact}
    assert len(nf) == 1 and all(r["num_found_exact"] for r in exact)
    nf_exact = nf.pop()
    assert nf_exact >= len(exact)

    bounded = engine.search_with_numfound("import", k=5, min_exact_count=5).collect()
    assert [r["doc_id"] for r in bounded] == [r["doc_id"] for r in exact]
    assert all(not r["num_found_exact"] for r in bounded)
    nb = bounded[0]["num_found"]
    assert len(bounded) <= nb <= nf_exact


def test_parse_json_query_strictness():
    """Review fixes: fielded prefix raises (no silent rescope to the
    text field); lucene node without query/v raises cleanly."""
    import pytest as _pytest

    from solr_spark.query.parser import parse_json_query

    from solr_spark.query.parser import WildQ as _WildQ

    assert parse_json_query({"prefix": {"f": "source", "query": "sr"}}) == _WildQ(
        "sr*", field="source"
    )
    parse_json_query({"prefix": {"f": "text", "query": "sp"}})  # default ok
    with _pytest.raises(ValueError, match="query.*or.*v"):
        parse_json_query({"lucene": {"q.op": "AND"}})


def test_raw_term_bypasses_analysis(engine):
    """TermQParserPlugin semantics: a raw term matches the indexed
    (analyzed) term verbatim — 'Import' misses a lowercased dictionary
    where the analyzed form of the same query matches."""
    from solr_spark.plans import execute_ast
    from solr_spark.query.parser import BoolQ, TermQ

    analyzed = execute_ast(engine, BoolQ(should=[TermQ("Import")]), k=5).collect()
    assert analyzed, "analyzed path lowercases and matches"
    raw_miss = execute_ast(
        engine, BoolQ(should=[TermQ("Import", raw=True)]), k=5
    ).collect()
    assert raw_miss == []
    raw_hit = execute_ast(
        engine, BoolQ(should=[TermQ("import", raw=True)]), k=5
    ).collect()
    assert [r["doc_id"] for r in raw_hit] == [r["doc_id"] for r in analyzed]
