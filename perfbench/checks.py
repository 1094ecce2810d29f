"""Correctness gate: every answer the engine gives is compared with an
engine-independent oracle over the same generated corpus.

- BM25 top-k (``SearchEngine.search``): ``oracle.BruteForceIndex`` — same
  doc ids, same float32 scores, same order.
- Lucene boolean queries (``plans.execute_query``): the same oracle's
  postings, combined with the query's +/- clauses.
- Phrase top-k (``phrase_topk``): ``oracle_sql.phrase_topk_sql`` in DuckDB.
- Stored ``content_sha256``: ``hashlib`` over the source text.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np


def same_ranking(rows, doc_ids, scores) -> bool:
    """Engine rows vs oracle arrays: ids, order and float32 scores."""
    if len(rows) != len(doc_ids):
        return False
    got_ids = [int(r["doc_id"]) for r in rows]
    got_scores = np.array([r["score"] for r in rows], dtype=np.float32)
    return got_ids == [int(d) for d in doc_ids] and bool(
        np.array_equal(got_scores, np.asarray(scores, dtype=np.float32))
    )


def bm25_expected(oracle, query: str, k: int, mode: str):
    top = oracle.topk(query, k=k, mode=mode)
    return top["doc_id"].to_numpy(), top["score"].to_numpy()


_LUCENE = re.compile(r"^\+\((\w+) OR (\w+)\) \+(\w+) -(\w+)$")


def lucene_expected(oracle, query: str, k: int):
    """Oracle for the pool's ``+(a OR b) +c -d`` form: docs holding c, at
    least one of a/b and not d; score = BM25 sum over the matched a, b, c."""
    a, b, c, d = _LUCENE.match(query).groups()
    n = oracle.n_docs
    score = np.zeros(n, dtype=np.float64)
    has = {}
    for t in (a, b, c, d):
        mask = np.zeros(n, dtype=bool)
        if t in oracle.postings:
            rows, tfs = oracle.postings[t]
            mask[rows] = True
            if t != d:
                tf = tfs.astype(np.float64)
                dl = oracle.doc_len[rows].astype(np.float64)
                score[rows] += oracle.idf(t) * tf / (
                    tf + oracle.k1 * (1.0 - oracle.b + oracle.b * dl / oracle.avgdl)
                )
        has[t] = mask
    idx = np.flatnonzero((has[a] | has[b]) & has[c] & ~has[d])
    s32 = score[idx].astype(np.float32)
    order = np.lexsort((oracle.doc_ids[idx], -s32))[:k]
    return oracle.doc_ids[idx][order], s32[order]


class PhraseOracle:
    """DuckDB over the corpus table ``documents(doc_id, text)``; answers
    are memoized per phrase (the corpus does not change in a run)."""

    def __init__(self, corpus):
        import duckdb

        self.con = duckdb.connect()
        self.con.register(
            "documents", corpus[["doc_id", "content"]].rename(columns={"content": "text"})
        )
        self.memo: dict[tuple[str, int], list] = {}

    def expected(self, phrase: str, k: int):
        from solr_spark.oracle_sql import phrase_topk_sql

        key = (phrase, k)
        if key not in self.memo:
            self.memo[key] = self.con.execute(phrase_topk_sql(phrase, k=k)).fetchall()
        return self.memo[key]

    def matches(self, rows, phrase: str, k: int) -> bool:
        want = self.expected(phrase, k)
        return len(rows) == len(want) and all(
            int(r["doc_id"]) == int(d) and abs(round(float(r["score"]), 4) - float(s)) <= 1.5e-4
            for r, (d, s) in zip(rows, want)
        )

    def close(self) -> None:
        self.con.close()


def sha_mismatches(index, corpus) -> int:
    """Rows whose stored content_sha256 differs from hashlib over the
    source text with the same doc id (missing or extra ids count too)."""
    want = {
        int(i): hashlib.sha256(t.encode("utf-8")).hexdigest()
        for i, t in zip(corpus["doc_id"], corpus["content"])
    }
    got = {int(r["doc_id"]): r["content_sha256"] for r in index.docs.select("doc_id", "content_sha256").collect()}
    return sum(got.get(i) != h for i, h in want.items()) + len(set(got) - set(want))
