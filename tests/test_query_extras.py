"""Composed query operators (prefix/fuzzy/MLT/rerank/dismax/RRF/...) —
invariant tests over the synth-corpus index (cross-engine goldens run in
scripts/check_entry.py)."""

import pytest
from pyspark.sql import functions as F

from solr_spark.query import extras as qx
from solr_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def engine(index):
    return SearchEngine(index)


def test_prefix_expansion_only_matching_terms(engine):
    stats = qx._expansion_stats(engine, F.col("term").startswith("ser"), 50)
    assert stats and all(s.term.startswith("ser") for s in stats)
    hits = qx.prefix_topk(engine, "ser", k=10).collect()
    assert len(hits) > 0


def test_fuzzy_includes_exact_word(engine):
    # "server" is in the corpus vocabulary; fuzzy on itself must rank docs
    exact = {r["doc_id"] for r in engine.topk("server", k=50).collect()}
    fuzz = {r["doc_id"] for r in qx.fuzzy_topk(engine, "server", max_edits=1, k=50).collect()}
    assert exact & fuzz


def test_mlt_excludes_seed_and_returns_similar(engine):
    hits = qx.mlt_topk(engine, seed_doc_id=7, k=10).collect()
    assert hits
    assert all(r["doc_id"] != 7 for r in hits)


def test_mm_spec_reference_golden_vectors():
    """Every assertion from the reference's SolrPluginUtilsTest
    testMinShouldMatchCalculator (core/src/test/org/apache/solr/util/
    SolrPluginUtilsTest.java), verbatim — integers, percentages with
    truncation-toward-zero, conditionals, multi-conditionals, clamping."""
    m = qx.calculate_min_should_match
    cases = [
        (5, "0", 0), (5, "0%", 0), (5, " -5 ", 0), (5, "\n -100% \n", 0),
        (5, " \n3\n ", 3), (5, "-3", 2), (3, "3", 3), (3, "-3", 0),
        (3, "5", 3), (3, "-5", 0),
        (3, " \n25% \n", 0), (4, "25%", 1), (5, " 25% ", 1), (10, "25%", 2),
        (3, " \n-25%\n ", 3), (4, "-25%", 3), (5, "-25%", 4), (10, "-25%", 8),
        (1, "3<0", 1), (2, "3<0", 2), (3, "3<0", 3), (4, "3<0", 0), (5, "3<0", 0),
        (1, "3<25%", 1), (2, " 3\n<\n25% ", 2), (3, "3<25%", 3),
        (4, "\n 3 < \n25%\n ", 1), (5, "3<25%", 1),
        (1, "\n3 < -25% 10 < -3 \n", 1), (2, " 3 < -25% 10 < -3\n", 2),
        (3, " 3 < -25% \n 10 < -3 \n", 3), (4, " 3 < -25% 10 < -3 ", 3),
        (5, " 3 < -25% 10 < -3", 4), (6, "3<-25% 10<-3", 5),
        (7, " 3 < -25% 10 < -3 ", 6), (8, " 3 < -25% 10 \n < -3\n", 6),
        (9, " 3 < -25% 10 < -3 \n", 7), (10, " 3 < -25% 10 < -3", 8),
        (11, "3<-25% 10<-3", 8), (12, "3<-25% 10<-3", 9),
        (100, "3<-25% 10<-3", 97),
    ]
    for n, spec, want in cases:
        assert m(n, spec) == want, (n, spec, want, m(n, spec))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        m(5, "<50%")


def test_mm_spec_string_matches_resolved_int(engine):
    q = "server client parse"
    a = [r.asDict() for r in qx.mm_topk(engine, q, mm="2<-34%", k=20).collect()]
    b = [r.asDict() for r in qx.mm_topk(engine, q, mm=2, k=20).collect()]
    assert a == b


def test_mm_monotone(engine):
    q = "server client parse"
    big = 100_000  # no truncation: supersets must be genuine supersets
    r1 = {r["doc_id"] for r in qx.mm_topk(engine, q, mm=1, k=big).collect()}
    r2 = {r["doc_id"] for r in qx.mm_topk(engine, q, mm=2, k=big).collect()}
    r3 = {r["doc_id"] for r in qx.mm_topk(engine, q, mm=3, k=big).collect()}
    assert r3 <= r2 <= r1
    and_hits = {r["doc_id"] for r in engine.topk(q, k=big, mode="AND").collect()}
    assert r3 == and_hits  # mm == n_terms is conjunction


def test_rerank_weight_zero_is_first_pass(engine):
    base = [(r["doc_id"], r["score"]) for r in engine.topk("server client", k=10).collect()]
    rr = [
        (r["doc_id"], r["score"])
        for r in qx.rerank_topk(engine, "server client", "parse", k=10, weight=0.0).collect()
    ]
    assert [d for d, _ in base] == [d for d, _ in rr]
    for (_, a), (_, b) in zip(base, rr):
        assert a == pytest.approx(b, abs=1e-6)


def test_dismax_single_field_matches_engine(engine):
    one = [(r["doc_id"], r["score"]) for r in qx.dismax_topk({"text": engine}, "server", k=10).collect()]
    base = [(r["doc_id"], r["score"]) for r in engine.topk("server", k=10).collect()]
    assert [d for d, _ in one] == [d for d, _ in base]


def test_rrf_scores_bounded(engine):
    hits = qx.rrf_topk(engine, ["server", "client"], k=10, depth=20).collect()
    assert hits
    for r in hits:
        # max possible: rank 1 in both rankings
        assert 0 < r["rrf_score"] <= 2 / 61 + 1e-12


def test_spellcheck_exact_word_first(engine):
    rows = qx.spellcheck(engine, "server", max_edits=2).collect()
    assert rows and rows[0]["term"] == "server" and rows[0]["dist"] == 0


def test_suggest_orders_by_df(engine):
    rows = qx.suggest(engine, "s", n=10).collect()
    dfs = [r["df"] for r in rows]
    assert dfs == sorted(dfs, reverse=True)


def test_highlight_snippet_contains_term(spark, engine, oracle_corpus):
    corpus = spark.createDataFrame(oracle_corpus[["doc_id", "content"]])
    rows = qx.highlight_topk(engine, "server", corpus, text_col="content", k=5).collect()
    assert rows
    for r in rows:
        assert r["snippet"] is not None and "server" in r["snippet"].lower()


def test_significant_terms_self_is_significant(engine):
    rows = qx.significant_terms(engine, "server", n=10).collect()
    terms = [r["term"] for r in rows]
    assert "server" in terms  # fg term is maximally over-represented
    for r in rows:
        assert r["fg_df"] <= r["bg_df"]


def test_term_vectors_matrix_identity(engine):
    import math

    out = qx.term_vectors_matrix(
        engine, F.col("doc_id") < 5, min_df=1, max_df_frac=1.0
    ).collect()
    assert out, "selected docs must produce matrix cells"
    n_docs = engine.index.docs.count()
    dl = {
        r["doc_id"]: r["doc_len"]
        for r in engine.index.docs.where(F.col("doc_id") < 5).collect()
    }
    for r in out:
        expect = (r["tf"] / dl[r["doc_id"]]) * math.log(1.0 + n_docs / r["df"])
        assert abs(r["tfidf"] - expect) < 1e-9
    # df band actually filters
    capped = qx.term_vectors_matrix(
        engine, F.col("doc_id") < 5, min_df=1, max_df_frac=0.01
    ).count()
    assert capped < len(out)


def test_ltr_linear_identity_weights_reproduce_first_pass(engine):
    # with weight 1 on originalScore and 0 elsewhere the model must
    # reproduce the first-pass BM25 ordering of the window
    got = qx.ltr_linear_rescore(
        engine, "server client", "merge",
        k=10, w_original=1.0, w_feature=0.0, w_dl=0.0, w_nc=0.0,
    ).collect()
    base = engine.topk("server client", k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in base]
    for r in got:
        assert abs(r["score"] - r["f_orig"]) < 1e-4


def test_ltr_trees_scores_are_leaf_sums(engine):
    rows = qx.ltr_trees_rescore(engine, "server client", "merge", k=20).collect()
    assert rows
    leaves1, leaves2 = {0.1, 0.3, 0.8, 1.2}, {0.05, 0.5, -0.2, 0.2}
    sums = {round(a + b, 6) for a in leaves1 for b in leaves2}
    for r in rows:
        assert round(r["score"], 6) in sums


def test_interleave_team_draft_properties(engine):
    rows = qx.interleave_team_draft(engine, "server client", "merge table", k=10).collect()
    assert len(rows) == 10
    # slots strictly increasing, docs unique, first pick is team A's top doc
    slots = [r["slot"] for r in rows]
    assert slots == sorted(slots) and len(set(slots)) == len(slots)
    assert len({r["doc_id"] for r in rows}) == 10
    assert rows[0]["team"] == "A" and rows[0]["slot"] == 1
    top_a = engine.topk("server client", k=1).collect()[0]["doc_id"]
    assert rows[0]["doc_id"] == top_a


def test_rank_feature_score_functions(spark):
    from solr_spark.query.extras import rank_feature_score
    import math

    df = spark.createDataFrame([(1, 100.0)], "doc_id long, f double")
    def val(col):
        return df.select(col.alias("s")).collect()[0]["s"]

    assert abs(val(rank_feature_score(F.col("f"), "satu", pivot=50.0)) - 100.0 / 150.0) < 1e-12
    assert abs(val(rank_feature_score(F.col("f"), "linear", weight=2.0)) - 200.0) < 1e-12
    assert abs(val(rank_feature_score(F.col("f"), "log", weight=3.0, scaling_factor=1.0))
               - 3.0 * math.log(101.0)) < 1e-12
    got = val(rank_feature_score(F.col("f"), "sigm", pivot=100.0, exponent=2.0))
    assert abs(got - 0.5) < 1e-12


def test_rank_feature_required_params_mirror_reference():
    from solr_spark.query.extras import rank_feature_score
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pivot"):
        rank_feature_score(F.lit(1.0), "satu", weight=2.0)   # weight != 1, no pivot
    with _pytest.raises(ValueError, match="pivot"):
        rank_feature_score(F.lit(1.0), "sigm", exponent=2.0)
    with _pytest.raises(ValueError, match="unknown function"):
        rank_feature_score(F.lit(1.0), "cube")


def test_cluster_results_partitions_hits(engine):
    n_docs = 20
    out = qx.cluster_results(engine, "server data merge", n_docs=n_docs, n_clusters=50).collect()
    assert out, "expected clusters"
    all_ids = [i for r in out for i in r["doc_ids"]]
    # each clustered hit appears in exactly one cluster
    assert len(all_ids) == len(set(all_ids))
    assert all(r["size"] == len(r["doc_ids"]) for r in out)
    # clustered docs are a subset of the top-N hits
    hits = {r["doc_id"] for r in engine.topk("server data merge", k=n_docs).collect()}
    assert set(all_ids) <= hits
    # ordered by (size desc, label asc)
    keys = [(-r["size"], r["label"]) for r in out]
    assert keys == sorted(keys)
    # labels are analyzed terms (lowercase, no separators)
    assert all(r["label"] == r["label"].lower() and " " not in r["label"] for r in out)


def test_explain_scores_sum_to_topk_scores(engine):
    q = "server data merge"
    rows = qx.explain_scores(engine, q, k=10).collect()
    assert rows
    sums = {}
    for r in rows:
        sums[r["doc_id"]] = sums.get(r["doc_id"], 0.0) + r["contribution"]
        assert r["tf"] >= 1 and r["df"] >= 1 and r["idf"] > 0
    hits = {r["doc_id"]: r["score"] for r in engine.topk(q, k=10).collect()}
    assert set(sums) == set(hits)
    for doc_id, s in sums.items():
        # per-term rows re-sum to the ranked score (within round-6 noise)
        assert abs(s - hits[doc_id]) < 5e-6 * max(1, len(rows)), doc_id


def test_suggest_fuzzy_within_edits(engine):
    rows = qx.suggest_fuzzy(engine, "servr", max_edits=2, n=10).collect()
    assert rows and all(r["distance"] <= 2 for r in rows)
    assert any(r["term"] == "server" for r in rows)
    weights = [r["weight"] for r in rows]
    assert weights == sorted(weights, reverse=True)


def test_relevance_functions_consistent(engine):
    rows = qx.relevance_functions(engine, "data", F.col("doc_id") < 30).collect()
    assert rows
    stats = engine._term_stats(["data"])
    for r in rows:
        assert r["docfreq"] == stats[0].df
        assert (r["termfreq"] == 0) == (r["tf"] == 0.0)
        assert 0.0 <= r["tf"] < 1.0 and r["norm"] > 0


def test_wordbreak_split_and_combine(engine, index):
    """WordBreakSolrSpellChecker analog: every split whose halves are both
    dictionary terms; adjacent-pair combinations that are terms."""
    rows = qx.wordbreak_split(engine, "serverclient", n=10).collect()
    assert ("server", "client") in {(r["left_part"], r["right_part"]) for r in rows}
    dfs = {r["term"]: r["df"] for r in
           index.term_dict.where(F.col("term").isin("server", "client")).collect()}
    hit = [r for r in rows if r["left_part"] == "server"][0]
    assert (hit["df_left"], hit["df_right"]) == (dfs["server"], dfs["client"])
    assert hit["split_at"] == 6
    # ranked by combined df desc — verify ordering key is monotonic
    sums = [r["df_left"] + r["df_right"] for r in rows]
    assert sums == sorted(sums, reverse=True)

    combos = qx.wordbreak_combine(engine, ["ser", "ver", "client"], n=10).collect()
    assert [(r["word1"], r["word2"], r["combined"]) for r in combos] == [
        ("ser", "ver", "server")
    ]
    assert combos[0]["df"] == dfs["server"]
    # no candidates → empty, stable schema
    assert qx.wordbreak_combine(engine, ["zz"], n=5).columns == [
        "pos", "word1", "word2", "combined", "df"]
    assert qx.wordbreak_split(engine, "zzq", n=5).count() == 0
