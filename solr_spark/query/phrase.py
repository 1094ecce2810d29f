"""Positional phrase queries over the posting-block index.

The reference's phrase path: quoted phrases in the ``lucene`` grammar
(``parser/SolrQueryParserBase.java:546`` → Lucene PhraseQuery over the
``.prx`` positions stream), plus the proximity-query plugins
(``SurroundQParserPlugin.java``, ``ComplexPhraseQParserPlugin.java``).

Frozen semantics (mirrored by ``oracle_sql.phrase_topk_sql``):

- position = index in the SURVIVING analyzed-token stream (no position
  gaps at removed stopwords — a documented deviation from Lucene's
  StopFilter position-increment; both engine and oracle agree).
- match (slop = N): an ordered chain p_0 < p_1 < … < p_{n-1}, one
  position per phrase term in order, with total span
  ``p_{n-1} - p_0 ≤ n - 1 + N``; ``pf`` = number of distinct start
  positions p_0 admitting such a chain. N = 0 degenerates to exact
  adjacency (span forces every gap to 1).
- score: Lucene PhraseQuery shape — BM25 with tf := phrase frequency
  and idf := Σ idf(term instance) (duplicate phrase terms counted each
  occurrence): ``score = idf_total · pf / (pf + k1·(1-b+b·dl/avgdl))``,
  float32-quantized, ranked (score desc, doc_id asc).

Execution (one shuffle, no per-row/per-doc Python):

1. prune the block scan to the phrase terms' buckets;
2. decode postings WITH positions into a FLAT occurrence table
   (term, doc_id, pos, dl) in the JVM — the engine's
   :meth:`~solr_spark.query.engine.SearchEngine.decode` plus one ``explode``
   of each doc's position list, one row per occurrence;
3. hash-repartition by doc_id (the single shuffle — co-locates every
   occurrence of a doc);
4. verify chains for ALL docs of a partition at once inside one
   ``mapInPandas``: occurrences become sorted int64 keys
   ``doc_id·SHIFT + pos``; the earliest-next-occurrence chain per start
   is found with ``np.searchsorted`` per phrase ordinal (greedy minimal
   chain — optimal for ordered-span matching), then starts are counted
   per doc with ``np.unique``. No ``applyInPandas`` per-doc groups, no
   Python loops over postings.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solr_spark.query.engine import SearchEngine, no_hits, rank_topk
from solr_spark.session import local_frame

_PF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)

_EMPTY_PF = pd.DataFrame(
    {
        "doc_id": pd.Series([], dtype="int64"),
        "pf": pd.Series([], dtype="int32"),
        "dl": pd.Series([], dtype="int32"),
    }
)


def occurrences(engine: SearchEngine, terms: list[str]) -> DataFrame:
    """Flat occurrence rows (term, doc_id, pos, dl) of ``terms``: the
    pruned block scan, decoded with positions, one ``explode`` per doc's
    position list — all JVM."""
    post = engine.decode(engine._blocks_for(terms), "positions")
    return post.select("term", "doc_id", F.explode("positions").alias("pos"), "dl")


def _pf_verifier(pad: int, hits_of: Callable) -> Callable:
    """Partition-level verifier (module docstring step 4), shared by the
    ordered-chain and unordered-near matchers: occurrences become int64
    keys ``doc_id·shift + pos`` (``shift`` = max pos + ``pad``, so a key
    plus the match span stays inside its doc), ``hits_of(key, tok,
    shift)`` returns one key per matching start, and pf = starts per
    doc, joined with each doc's dl."""

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            yield _EMPTY_PF
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        doc = pdf["doc_id"].to_numpy(np.int64)
        pos = pdf["pos"].to_numpy(np.int64)
        shift = int(pos.max()) + pad
        if doc.max() >= (2**62) // shift:  # survives PYTHONOPTIMIZE (-O)
            raise ValueError("doc_id·shift would overflow int64 key packing")
        hits = hits_of(doc * shift + pos, pdf["term"].to_numpy(), shift)
        if len(hits) == 0:
            yield _EMPTY_PF
            return
        docs_u, counts = np.unique(hits // shift, return_counts=True)
        out = pd.DataFrame({"doc_id": docs_u, "pf": counts.astype(np.int32)})
        dl_map = pdf.drop_duplicates("doc_id")[["doc_id", "dl"]]
        yield out.merge(dl_map, on="doc_id", how="left").astype(
            {"doc_id": "int64", "pf": "int32", "dl": "int32"}
        )

    return verify


def _make_verify(terms: list[str], slop: int) -> Callable:
    """Ordered-chain verifier: the earliest-next-occurrence chain per
    start, one ``searchsorted`` per phrase ordinal."""
    n = len(terms)

    def chain_starts(key: np.ndarray, tok: np.ndarray, shift: int) -> np.ndarray:
        # per-ordinal sorted key arrays (repeated phrase terms share one)
        by_term = {t: np.sort(key[tok == t]) for t in set(terms)}
        start = by_term[terms[0]]
        valid = np.ones(len(start), dtype=bool)
        end = start.copy()
        for i in range(1, n):
            keys_i = by_term[terms[i]]
            idx = np.searchsorted(keys_i, end, side="right")
            ok = idx < len(keys_i)
            nxt = keys_i[np.minimum(idx, len(keys_i) - 1)]
            ok &= (nxt // shift) == (start // shift)  # same doc
            valid &= ok
            end = np.where(ok, nxt, end)
        valid &= (end - start) <= (n - 1 + slop)
        return start[valid]

    return _pf_verifier(2, chain_starts)


def _make_near_verify(terms: list[str], window: int) -> Callable:
    """Unordered-near verifier: pf = #distinct anchor positions p (an
    occurrence of ANY query term) whose window [p, p+window] contains
    ≥1 occurrence of EVERY query term, per doc. Same flat-key
    vectorization as the ordered chain (searchsorted per term)."""
    uniq = sorted(set(terms))

    def near_anchors(key: np.ndarray, tok: np.ndarray, shift: int) -> np.ndarray:
        by_term = {t: np.sort(key[tok == t]) for t in uniq}
        anchors = np.unique(key)
        anchor_doc = anchors // shift
        ok = np.ones(len(anchors), dtype=bool)
        for t in uniq:
            keys_t = by_term[t]
            idx = np.searchsorted(keys_t, anchors, side="left")
            valid = idx < len(keys_t)
            cand = keys_t[np.minimum(idx, len(keys_t) - 1)]
            ok &= valid & (cand <= anchors + window) & ((cand // shift) == anchor_doc)
        return anchors[ok]

    return _pf_verifier(window + 2, near_anchors)


def _match_pf(
    engine: SearchEngine, terms: list[str], verify: Callable
) -> tuple[DataFrame | None, float]:
    """(doc_id, pf, dl) of the docs ``verify`` matches over the
    occurrences of ``terms``, and the phrase idf (Σ idf per term
    INSTANCE). (None, 0.0) when a term is absent from the index."""
    if not engine.config.with_positions:
        raise ValueError("index built without positions; rebuild with with_positions=True")
    if not terms:
        return None, 0.0
    uniq = sorted(set(terms))
    stats = engine._term_stats(uniq)
    if len(stats) < len(uniq):
        return None, 0.0
    idf = {s.term: s.idf for s in stats}
    pf_df = occurrences(engine, uniq).repartition("doc_id").mapInPandas(
        verify, schema=_PF_SCHEMA
    )
    return pf_df, float(sum(idf[t] for t in terms))


def _phrase_topk(
    engine: SearchEngine, pf_df: DataFrame | None, idf_total: float, k: int
) -> DataFrame:
    """Rank a (doc_id, pf, dl) match set by the phrase-shaped BM25."""
    if pf_df is None:
        return no_hits(engine.spark)
    score = engine.bm25(F.lit(idf_total), F.col("pf"), F.col("dl"))
    return rank_topk(pf_df.select("doc_id", score.cast("float").alias("score")), k)


def phrase_match_pf(
    engine: SearchEngine, phrase: str, slop: int = 0
) -> tuple[DataFrame | None, float]:
    """``(pf_df, idf_total)``: (doc_id, pf, dl) for every doc matching the
    phrase within ``slop``, and the phrase's summed idf.

    ``pf_df`` is None when a phrase term is absent from the index (no doc
    can match). The building block for :func:`phrase_topk`, the
    compiler's phrase leaves and the edismax ``pf`` phrase boost.
    """
    terms = engine.analyze_query(phrase)
    return _match_pf(engine, terms, _make_verify(terms, slop))


def near_topk(engine: SearchEngine, words: list[str], window: int, k: int = 10) -> DataFrame:
    """Surround ``N`` (unordered near) operator
    (``SurroundQParserPlugin.java`` → Lucene surround ``OrderedNearQuery``
    / ``UnorderedNearQuery``): all words within a ``window`` of token
    positions, any order. pf = distinct anchor positions (see
    :func:`_make_near_verify`); scoring = the phrase shape (idf summed
    per term instance, tf := pf)."""
    terms = [t for w in words for t in engine.analyze_query(w)]
    return _phrase_topk(engine, *_match_pf(engine, terms, _make_near_verify(terms, window)), k)


def complex_phrase_pf(
    engine: SearchEngine, phrase: str, slop: int = 0, max_expansions: int = 50
) -> tuple[DataFrame | None, float]:
    """ComplexPhraseQParserPlugin analog: a phrase whose words may be
    wildcards/prefixes (``"bat* stream"~1``). Each position expands
    against the term dictionary (MultiTermQuery rewrite, top
    ``max_expansions`` by df desc/term asc); a chain step matches ANY
    expansion of its ordinal. Scoring: idf_i of an expanded position =
    ln(1+(N-df_i+0.5)/(df_i+0.5)) with df_i = #docs containing ANY of
    the position's terms (frozen; the oracle computes the same from
    SQL). Returns ((doc_id, pf, dl) or None, idf_total)."""
    from solr_spark.query.extras import _expansion_stats

    words = [w for w in phrase.split() if w]
    per_pos: list[list[str]] = []
    for w in words:
        if w.endswith("*") and "*" not in w[:-1]:
            stats = _expansion_stats(
                engine, F.col("term").startswith(w[:-1].lower()), max_expansions
            )
            toks = [s.term for s in stats]
        else:
            toks = engine.analyze_query(w)
        if not toks:
            return None, 0.0
        per_pos.append(sorted(set(toks)))

    all_terms = sorted({t for ts in per_pos for t in ts})
    stats = engine._term_stats(all_terms)
    known = {s.term for s in stats}
    per_pos = [[t for t in ts if t in known] for ts in per_pos]
    if any(not ts for ts in per_pos):
        return None, 0.0

    # df of a position = docs containing ANY of its terms (exact count
    # from a distinct-doc aggregation over the pruned decode); every
    # position holds a known term, so each has a df row
    flat = occurrences(engine, sorted({t for ts in per_pos for t in ts}))
    # union-df of EVERY position in ONE job (the r2 version ran one
    # driver .count() per multi-term position): broadcast the
    # term→ordinal mapping, distinct (ordinal, doc), count per ordinal
    pos_map = local_frame(
        engine.spark,
        [(t, i) for i, ts in enumerate(per_pos) for t in ts],
        "term string, pos_ord int",
    )
    idf_rows = (
        flat.select("term", "doc_id")
        .join(F.broadcast(pos_map), "term")
        .select("pos_ord", "doc_id")
        .distinct()
        .groupBy("pos_ord")
        .agg(engine.idf(F.count("*")).alias("idf"))
        .collect()
    )
    idf_total = 0.0
    for r in sorted(idf_rows, key=lambda r: r["pos_ord"]):  # in phrase order
        idf_total += r["idf"]

    # rewrite terms to position markers so the verifier treats any
    # expansion of ordinal i as "term i"
    markers = [f"\x00{i}" for i in range(len(per_pos))]
    # an array/filter, not a term→marker map: a term may match several ordinals
    marked = flat.select(
        F.explode(
            F.filter(
                F.array(*[
                    F.when(F.col("term").isin(ts), F.lit(markers[i])).otherwise(F.lit(None))
                    for i, ts in enumerate(per_pos)
                ]),
                lambda x: x.isNotNull(),
            )
        ).alias("term"),
        "doc_id", "pos", "dl",
    )
    pf_df = marked.repartition("doc_id").mapInPandas(
        _make_verify(markers, slop), schema=_PF_SCHEMA
    )
    return pf_df, idf_total


def complex_phrase_topk(
    engine: SearchEngine, phrase: str, k: int = 10, slop: int = 0, max_expansions: int = 50
) -> DataFrame:
    """Top-k for a wildcard-bearing phrase (ComplexPhraseQParserPlugin /
    SurroundQParserPlugin proximity surface)."""
    pf = complex_phrase_pf(engine, phrase, slop=slop, max_expansions=max_expansions)
    return _phrase_topk(engine, *pf, k)


def phrase_topk(engine: SearchEngine, phrase: str, k: int = 10, slop: int = 0) -> DataFrame:
    """Top-k for a phrase query ``"…"~slop`` (slop=0: exact adjacency).
    See module docstring for the frozen scoring semantics."""
    return _phrase_topk(engine, *phrase_match_pf(engine, phrase, slop=slop), k)
