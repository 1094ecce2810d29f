"""Positional phrase queries: numpy-oracle rank identity + invariants
(the DuckDB golden runs in scripts/check_entry.py)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from solr_spark.analysis import CODE_CHAIN
from solr_spark.query.engine import SearchEngine
from solr_spark.query.phrase import phrase_topk


@pytest.fixture(scope="module")
def engine(index):
    return SearchEngine(index)


def _python_phrase_topk(corpus_pdf, phrase, k1, b, k=10):
    """Brute-force phrase scorer over the analyzed corpus (same frozen
    semantics as the engine)."""
    terms = CODE_CHAIN.tokenize_py(phrase)
    docs = {}
    dls = {}
    for _, row in corpus_pdf.iterrows():
        toks = CODE_CHAIN.tokenize_py(row["content"])
        docs[row["doc_id"]] = toks
        dls[row["doc_id"]] = len(toks)
    n_docs = len(docs)
    avgdl = sum(dls.values()) / n_docs
    dfs = {t: sum(1 for toks in docs.values() if t in set(toks)) for t in set(terms)}
    if any(dfs[t] == 0 for t in set(terms)):
        return []
    idf_total = sum(math.log1p((n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in terms)
    out = []
    for d, toks in docs.items():
        pos = {t: [i for i, x in enumerate(toks) if x == t] for t in set(terms)}
        cand = np.array(pos[terms[0]], dtype=np.int64)
        for i in range(1, len(terms)):
            cand = cand[np.isin(cand + i, pos[terms[i]])]
        pf = len(cand)
        if pf:
            s = idf_total * pf / (pf + k1 * (1 - b + b * dls[d] / avgdl))
            out.append((d, np.float32(s)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_phrase_rank_identity_vs_python_oracle(engine, oracle_corpus):
    got = [(r["doc_id"], r["score"]) for r in phrase_topk(engine, "import os", k=10).collect()]
    exp = _python_phrase_topk(oracle_corpus, "import os", engine.k1, engine.b, k=10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, a), (_, b_) in zip(got, exp):
        assert a == pytest.approx(float(b_), rel=1e-6)


def test_single_term_phrase_equals_term_query(engine):
    ph = [(r["doc_id"], r["score"]) for r in phrase_topk(engine, "server", k=10).collect()]
    tq = [(r["doc_id"], r["score"]) for r in engine.topk("server", k=10).collect()]
    assert [d for d, _ in ph] == [d for d, _ in tq]
    for (_, a), (_, b) in zip(ph, tq):
        assert a == pytest.approx(b, rel=1e-6)


def test_phrase_absent_term_is_empty(engine):
    assert phrase_topk(engine, "zzznope import", k=10).count() == 0


def _python_phrase_pf_slop(corpus_pdf, phrase, slop):
    """Reference slop matcher: pf = #starts admitting an ordered chain
    with span ≤ n-1+slop (greedy earliest-next is optimal)."""
    terms = CODE_CHAIN.tokenize_py(phrase)
    n = len(terms)
    out = {}
    for _, row in corpus_pdf.iterrows():
        toks = CODE_CHAIN.tokenize_py(row["content"])
        pos = {t: [i for i, x in enumerate(toks) if x == t] for t in set(terms)}
        pf = 0
        for p0 in pos[terms[0]]:
            e = p0
            ok = True
            for i in range(1, n):
                nxt = [p for p in pos[terms[i]] if p > e]
                if not nxt:
                    ok = False
                    break
                e = min(nxt)
            if ok and e - p0 <= n - 1 + slop:
                pf += 1
        if pf:
            out[row["doc_id"]] = pf
    return out


def test_phrase_slop_matches_python_oracle(engine, oracle_corpus):
    from solr_spark.query.phrase import phrase_match_pf

    for phrase, slop in [("import os", 2), ("def return", 3), ("import os", 0)]:
        exp = _python_phrase_pf_slop(oracle_corpus, phrase, slop)
        got = {r["doc_id"]: r["pf"] for r in phrase_match_pf(engine, phrase, slop=slop)[0].collect()}
        assert got == exp, (phrase, slop)


def test_phrase_slop_widens_match_set(engine):
    tight = {r["doc_id"] for r in phrase_topk(engine, "import os", k=10**6).collect()}
    loose = {r["doc_id"] for r in phrase_topk(engine, "import os", k=10**6, slop=4).collect()}
    assert tight <= loose


def test_phrase_plan_has_no_per_doc_python_groups(engine):
    """The verify stage must be a single mapInPandas over doc-partitioned
    flat postings — no FlatMapGroupsInPandas (per-doc applyInPandas) and
    no per-posting Python tuples (VERDICT.md What's wrong #4). Decode is
    JVM-side: Generate nodes (postings, then positions), not Python."""
    df = phrase_topk(engine, "import os", k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("MapInPandas") == 1  # verify only
    assert plan.count("Generate ") >= 2  # decode: postings + positions


def test_phrase_requires_adjacency(engine, oracle_corpus):
    # reversed phrase should not match wherever only the forward order exists
    fwd = {r["doc_id"] for r in phrase_topk(engine, "import os", k=1000).collect()}
    rev = {r["doc_id"] for r in phrase_topk(engine, "os import", k=1000).collect()}
    exp_rev = {d for d, _ in _python_phrase_topk(oracle_corpus, "os import", engine.k1, engine.b, k=10**6)}
    assert rev == exp_rev
    assert fwd  # the corpus plants "import os" lines in python docs


def test_near_unordered_matches_python_oracle(engine, oracle_corpus):
    from solr_spark.query.phrase import near_topk

    words, window = ["os", "import"], 2
    # python oracle: anchors = any occurrence of any term whose
    # [p, p+window] holds every term
    exp = {}
    for _, row in oracle_corpus.iterrows():
        toks = CODE_CHAIN.tokenize_py(row["content"])
        pos = {t: [i for i, x in enumerate(toks) if x == t] for t in set(words)}
        if any(not pos[t] for t in pos):
            continue
        anchors = sorted({p for t in pos for p in pos[t]})
        pf = sum(
            1 for a in anchors
            if all(any(a <= q <= a + window for q in pos[t]) for t in pos)
        )
        if pf:
            exp[row["doc_id"]] = pf
    got_df = near_topk(engine, words, window=window, k=10**6)
    # recompute pf from the verifier directly for exact comparison
    from solr_spark.query.phrase import _PF_SCHEMA, _make_near_verify, occurrences
    uniq = sorted(set(words))
    pf_df = occurrences(engine, uniq).repartition("doc_id").mapInPandas(
        _make_near_verify(words, window), schema=_PF_SCHEMA)
    got = {r["doc_id"]: r["pf"] for r in pf_df.collect()}
    assert got == exp
    assert got_df.count() == min(len(exp), 10**6)
