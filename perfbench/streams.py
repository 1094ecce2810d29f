"""Seeded inputs: the synthetic code corpus, the query pool and its stream.

Everything here is a pure function of the seed. The engine only ever sees
what these functions generate: Parquet tables and query strings.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd

#: corpus doc-index window per seed (``corpus.gen_doc`` is seeded per index)
SEED_STRIDE = 100_000

POOL_SIZES = {"term_hot": 30, "term_rare": 40, "or": 40, "and": 30, "phrase": 30, "lucene": 30}
#: the stream takes the classes in turn; that mix is an assumption that no
#: query log of this engine backs
CLASSES = tuple(POOL_SIZES)
#: popularity skew within a class, also an assumption (see NOTES.md)
ZIPF_S = 1.1
#: warms each set-up engine; kept out of the pool so it never pre-fills the cache
WARM_QUERY = "return"

_WORD = re.compile(r"^[a-z][a-z0-9]*$")
_LUCENE_WORDS = {"and", "or", "not", "to"}


def doc_offset(seed: int) -> int:
    return (seed % 1_000_000) * SEED_STRIDE + 1


def write_docs(path: str, lo: int, n: int) -> pd.DataFrame:
    """Generate docs ``lo .. lo+n-1`` with ``corpus.gen_doc`` and write them
    as a one-file Parquet table (the source-table stand-in)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from solr_spark.corpus import gen_doc

    pdf = pd.DataFrame([gen_doc(i) for i in range(lo, lo + n)])
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(path, "part-0.parquet"))
    return pdf


def with_doc_ids(pdf: pd.DataFrame, first_id: int) -> pd.DataFrame:
    """The ids ``build_index``/``append_batch`` assign: rank over the
    (repo, path, commit) key, offset by ``first_id``."""
    out = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    out["doc_id"] = np.arange(first_id, first_id + len(out), dtype=np.int64)
    return out


def usable_token(chain, tok: str) -> bool:
    """A token that re-analyzes to itself and is no Lucene operator."""
    return bool(_WORD.match(tok)) and tok not in _LUCENE_WORDS and chain.tokenize_py(tok) == [tok]


def build_pool(oracle, corpus: pd.DataFrame, seed: int) -> list[tuple[str, str]]:
    """(class, query text) pairs, all distinct; larger than the engine's
    128-entry result cache."""
    rng = np.random.default_rng([seed, 1])
    chain = oracle.chain
    df = {t: len(p[0]) for t, p in oracle.postings.items() if usable_token(chain, t) and t != WARM_QUERY}
    by_df = sorted(df, key=lambda t: (-df[t], t))
    hot = by_df[:80]
    mid = [t for t in by_df if 10 <= df[t] <= 200]
    rare = [t for t in by_df if 2 <= df[t] <= 10]

    def pick(words, k):
        return list(rng.choice(words, size=k, replace=False))

    pool: dict[str, list[str]] = {c: [] for c in POOL_SIZES}

    def fill(cls, make):
        seen = set(pool[cls])
        while len(pool[cls]) < POOL_SIZES[cls]:
            q = make()
            if q not in seen:
                seen.add(q)
                pool[cls].append(q)

    fill("term_hot", lambda: str(rng.choice(hot)))
    fill("term_rare", lambda: str(rng.choice(rare)))
    fill("or", lambda: " ".join(pick(hot, 1) + pick(mid, int(rng.integers(1, 3)))))
    fill("and", lambda: " ".join(pick(hot[:40], 2)))
    def lucene():
        a, b, d = pick(mid, 3)
        c = rng.choice([t for t in hot[:40] if t not in (a, b, d)])
        return f"+({a} OR {b}) +{c} -{d}"

    fill("lucene", lucene)

    texts = corpus["content"].to_numpy()

    def bigram():
        while True:
            toks = chain.tokenize_py(texts[int(rng.integers(0, len(texts)))])
            if len(toks) < 2:
                continue
            i = int(rng.integers(0, len(toks) - 1))
            a, b = toks[i], toks[i + 1]
            if a != b and usable_token(chain, a) and usable_token(chain, b):
                return f"{a} {b}"

    fill("phrase", bigram)
    return [(c, q) for c in POOL_SIZES for q in pool[c]]


def _zipf(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


def query_stream(pool: list[tuple[str, str]], seed: int, n_ops: int) -> list[tuple[str, str]]:
    """``n_ops`` (class, query) draws: the classes in turn, and within a
    class a Zipf-weighted draw with replacement over a seeded ranking of its
    queries. A query comes again, and a BM25 query hits the result cache,
    only when popularity draws it again."""
    rng = np.random.default_rng([seed, 2])
    ranked = {c: rng.permutation([q for pc, q in pool if pc == c]) for c in CLASSES}
    stream = []
    for i in range(n_ops):
        c = CLASSES[i % len(CLASSES)]
        stream.append((c, str(ranked[c][rng.choice(len(ranked[c]), p=_zipf(len(ranked[c])))])))
    return stream
