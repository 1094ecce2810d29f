"""payload_score query — per-occurrence payload aggregation.

The analog of the reference's ``search/PayloadScoreQParserPlugin.java``
(+ ``PayloadCheckQParserPlugin.java``; tests
``TestPayloadScoreQParserPlugin.java``): every occurrence of a term
carries a small integer payload (Lucene attaches them via
DelimitedPayloadTokenFilter; our build derives them with the frozen
function ``(len(token) + position) mod 8`` since the code corpus has no delimited
payload source — see IndexConfig.with_payloads), and the query scores
each matching doc with an aggregate (sum / max / min / avg) of the
payloads at that term's positions.

Execution: pruned block scan → the engine's JVM block decode
(:meth:`~solr_spark.query.engine.SearchEngine.decode`) with each doc's payload
list, REDUCED per doc by SQL array functions (``aggregate`` /
``array_min`` / ``array_max``, ``filter`` for payload_check — no
per-occurrence rows ever materialize in the plan) → one hash aggregation
→ TakeOrderedAndProject. Payload lists of other terms are never read
(column pruning + the term filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.query.engine import SearchEngine, rank_topk


def _payload_postings(engine: SearchEngine, term_text: str, caller: str) -> DataFrame:
    """(term, doc_id, tf, dl, payloads) for ONE analyzed term."""
    if not engine.config.with_payloads:
        raise ValueError(
            "index built without payloads; rebuild with with_payloads=True"
        )
    toks = engine.analyze_query(term_text)
    if len(toks) != 1:
        raise ValueError(f"{caller} takes a single term")
    return engine.decode(engine._blocks_for(toks), "payloads")


def payload_score(
    engine: SearchEngine, term_text: str, func: str = "sum", k: int = 10
) -> DataFrame:
    """Top-k (doc_id, score) by payload aggregate for ONE term.

    ``func`` ∈ sum | max | min | avg (the reference's ``func`` param).
    Ranked (score desc, doc_id asc).
    """
    if func not in ("sum", "max", "min", "avg"):
        raise ValueError(f"unknown payload func {func!r}")
    post = _payload_postings(engine, term_text, "payload_score")
    pay = F.col("payloads")
    # a doc occurs in exactly one block per term, but salted/incremental
    # layouts may split it — merge associatively then derive the score
    agg = post.groupBy("doc_id").agg(
        F.sum(F.aggregate(pay, F.lit(0).cast("long"), lambda a, x: a + x)).alias("s"),
        F.min(F.array_min(pay)).alias("mn"),
        F.max(F.array_max(pay)).alias("mx"),
        F.sum("tf").alias("c"),
    )
    score = {
        "sum": F.col("s").cast("double"),
        "max": F.col("mx").cast("double"),
        "min": F.col("mn").cast("double"),
        "avg": F.col("s").cast("double") / F.col("c").cast("double"),
    }[func]
    return rank_topk(agg.select("doc_id", score.alias("score")), k)


def payload_check(
    engine: SearchEngine, term_text: str, payload: int, k: int = 10
) -> DataFrame:
    """payload_check analog: docs where the term occurs with the exact
    payload at least once (matched-occurrence count as score)."""
    post = _payload_postings(engine, term_text, "payload_check")
    target = int(payload)
    hits = F.size(F.filter("payloads", lambda x: x == F.lit(target)))
    return (
        post.groupBy("doc_id")
        .agg(F.sum(hits).cast("long").alias("n_hits"))
        .where(F.col("n_hits") > 0)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(k)
    )
