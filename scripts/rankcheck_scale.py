"""Rank-identity at scale: the full 100-query reference set against the
brute-force numpy oracle on a corpus ~200x the unit-test fixture.

The unit suite proves rank identity at 1,200 docs (tests/
test_query_engine.py); this script re-proves it at N docs (default
240,000 — the same corpus size as the committed scaling headline), i.e.
with real pruning engaged (block-max theta seeding activates past 1M
postings; 240k docs x ~386 tokens ~ 93M postings), salted hot terms,
and multi-partition posting blocks. Mirrors the reference's
control-vs-distributed diff (BaseDistributedSearchTestCase) at a scale
where the distributed plan's every feature is live.

Writes RANKCHECK_r05.json at the repo root:
  {"n_docs": N, "queries": 100, "rank_mismatches": [...],
   "score_mismatches": [...], "walls": {...}}

With ``--nrt`` the index is committed by an ``IncrementalIndexer`` as a
base (80% of the docs) plus two delta segments (10% each), each delta
commit deleting 0.5% of the docs indexed so far; block-max θ pruning is
forced on every query, and the oracle is built over the surviving docs.
That record goes to RANKCHECK_nrt_<n_docs>.json.

Usage: python scripts/rankcheck_scale.py [n_docs] [--nrt]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)


def _nrt_index(spark, pdf, out: str, cfg):
    """Base + two delta segments with deletes; returns (index, survivors)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from solr_spark.streaming import IncrementalIndexer

    n = len(pdf)
    src = out + "_src"
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(src, "part-0.parquet"))
    docs = spark.read.parquet(src)
    rng = np.random.default_rng(7)
    inc = IncrementalIndexer(spark, out, cfg)
    dead: list[int] = []
    cuts = [0, int(n * 0.8), int(n * 0.9), n]
    for lo, hi in zip(cuts, cuts[1:]):
        inc.append_batch(docs.where(f"doc_id >= {lo} AND doc_id < {hi}"), id_col="doc_id")
        if lo:
            live = np.setdiff1d(np.arange(hi), dead)
            ids = sorted(int(i) for i in rng.choice(live, max(1, n // 200), replace=False))
            inc.delete_by_ids(ids)
            dead += ids
        index = inc.commit()
    assert len(index.record[0]) == 3 and len(index.deleted) == 2, index.record
    return index, pdf[~pdf["doc_id"].isin(dead)].reset_index(drop=True)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--nrt"]
    nrt = "--nrt" in sys.argv[1:]
    n_docs = int(args[0]) if args else 240_000

    from solr_spark.corpus import synth_corpus, synth_corpus_pandas
    from solr_spark.index.build import IndexConfig, build_index
    from solr_spark.oracle import BruteForceIndex
    from solr_spark.query.engine import SearchEngine
    from solr_spark.queryset import make_query_set
    from solr_spark.session import get_spark

    walls: dict[str, float] = {}
    spark = get_spark("rankcheck_scale")
    out = f"/tmp/solr_spark_rankcheck_{n_docs}"
    shutil.rmtree(out, ignore_errors=True)

    cfg = IndexConfig(hot_df_threshold=max(1000, n_docs // 4), n_salts=8)
    t0 = time.time()
    pdf = synth_corpus_pandas(n_docs)
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    pdf["doc_id"] = range(len(pdf))
    walls["oracle_datagen"] = round(time.time() - t0, 1)

    t0 = time.time()
    if nrt:
        index, pdf = _nrt_index(spark, pdf, out, cfg)
    else:
        index = build_index(spark, synth_corpus(spark, n_docs), out, cfg, resume=False)
    walls["index_build"] = round(time.time() - t0, 1)

    t0 = time.time()
    oracle = BruteForceIndex(pdf)
    walls["oracle_build"] = round(time.time() - t0, 1)

    engine = SearchEngine(index)
    if nrt:
        engine._PRUNE_MIN_POSTINGS = 1  # θ seed on every OR / single-term query
    term_df = index.term_dict.select("term", "df").toPandas()
    qs = make_query_set(term_df)
    assert len(qs) == 100, len(qs)

    rank_mism: list[dict] = []
    score_mism: list[dict] = []
    t0 = time.time()
    for row in qs.itertuples():
        got = engine.topk(row.query, k=row.k, mode=row.mode).collect()
        exp = oracle.topk(row.query, k=row.k, mode=row.mode)
        got_ids = [r["doc_id"] for r in got]
        exp_ids = [int(i) for i in exp["doc_id"]]
        if got_ids != exp_ids:
            rank_mism.append({"qid": int(row.query_id), "q": row.query,
                              "mode": row.mode, "got": got_ids, "exp": exp_ids})
            continue
        for r, es in zip(got, exp["score"]):
            if abs(r["score"] - float(es)) > 1e-5 * max(1.0, abs(float(es))):
                score_mism.append({"qid": int(row.query_id), "q": row.query,
                                   "doc": r["doc_id"], "got": r["score"],
                                   "exp": float(es)})
    walls["query_set"] = round(time.time() - t0, 1)

    rec = {
        "n_docs": n_docs,
        "layout": ({"segments": {str(k): v for k, v in index.record[0].items()},
                    "deleted_docs": sum(len(v) for v in index.deleted.values()),
                    "theta_forced": True} if nrt else "build_index"),
        "queries": int(len(qs)),
        "rank_mismatches": rank_mism,
        "score_mismatches": score_mism,
        "walls": walls,
        "total_postings_est": int(oracle.doc_len.sum()),
        "n_terms": len(oracle.postings),
    }
    path = os.path.join(REPO, f"RANKCHECK_nrt_{n_docs}.json" if nrt else "RANKCHECK_r05.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({k: rec[k] for k in
                      ("n_docs", "queries", "walls", "total_postings_est")}))
    print("rank mismatches:", len(rank_mism), "score mismatches:", len(score_mism))
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(out + "_src", ignore_errors=True)
    sys.exit(1 if (rank_mism or score_mism) else 0)


if __name__ == "__main__":
    main()
