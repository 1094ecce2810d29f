"""Index introspection and analysis-handler surfaces.

Spark-first analogs of Solr's admin handlers:

- :func:`luke_summary` / :func:`luke_field_stats` — the Luke handler
  (ref: ``core/src/java/org/apache/solr/handler/admin/LukeRequestHandler.java``,
  test ``core/src/test/org/apache/solr/handler/admin/LukeRequestHandlerTest.java``):
  index-level stats (numDocs, distinct terms, postings/token totals,
  avgdl, max df) and per-stored-field population/cardinality.
- :func:`analysis_stages` — the field-analysis handler (ref:
  ``handler/FieldAnalysisRequestHandler.java`` +
  ``handler/AnalysisRequestHandlerBase.java``, test
  ``handler/FieldAnalysisRequestHandlerTest.java``): the token stream
  after the tokenizer and after each filter stage, with positions.

Scale notes: ``luke_summary`` is one hash-aggregate over the term
dictionary (already term-partitioned parquet — map-side partial aggs,
one-row result); ``luke_field_stats`` is ONE aggregate pass over the
table for all requested fields (Spark expands multi-distinct, still a
single scan) unpivoted driver-free via ``stack``; ``analysis_stages``
is per-row expression work (posexplode of staged token arrays), no
shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solr_spark.analysis import CODE_CHAIN, AnalyzerChain


def luke_summary(index) -> DataFrame:
    """One-row index summary (LukeRequestHandler ``show=index`` analog).

    (num_docs, num_terms, total_postings, total_tokens, avgdl, max_df) —
    num_docs/avgdl come from the index's O(1) build-time metadata, the
    term-level totals from one aggregate over the term dictionary.
    """
    td = index.term_dict
    return td.agg(
        F.count("*").cast("long").alias("num_terms"),
        F.sum("df").cast("long").alias("total_postings"),
        F.sum("cf").cast("long").alias("total_tokens"),
        F.max("df").cast("long").alias("max_df"),
    ).select(
        F.lit(int(index.n_docs)).cast("long").alias("num_docs"),
        "num_terms",
        "total_postings",
        "total_tokens",
        F.round(F.lit(float(index.avgdl)), 4).alias("avgdl"),
        "max_df",
    )


def luke_field_stats(df: DataFrame, fields: list[str]) -> DataFrame:
    """Per-stored-field stats (LukeRequestHandler ``show=schema`` analog):
    (field, docs_with, distinct_vals), ordered by field name. One scan,
    one aggregate for every field, unpivoted with ``stack``."""
    aggs = []
    for f_ in fields:
        aggs.append(F.count(f_).cast("long").alias(f"cnt_{f_}"))
        aggs.append(F.countDistinct(f_).cast("long").alias(f"dst_{f_}"))
    one = df.agg(*aggs)
    pairs = ", ".join(f"'{f_}', cnt_{f_}, dst_{f_}" for f_ in fields)
    return one.selectExpr(
        f"stack({len(fields)}, {pairs}) AS (field, docs_with, distinct_vals)"
    ).orderBy("field")


def analysis_stages(
    df: DataFrame,
    chain: AnalyzerChain = CODE_CHAIN,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stage token stream (FieldAnalysisRequestHandler analog).

    Returns (doc_id, stage_no, stage, pos, token): the token array after
    the tokenizer and after each filter of ``chain``, positions being
    the index within that stage's stream (the handler recomputes
    positions per stage the same way). Pure JVM expressions + posexplode
    — no shuffle, no Python.
    """
    parts = []
    for i, (name, arr) in enumerate(chain.stage_tokens(text_col), start=1):
        parts.append(
            df.select(
                F.col(id_col).cast("long").alias("doc_id"),
                F.lit(i).alias("stage_no"),
                F.lit(name).alias("stage"),
                F.posexplode(arr).alias("pos", "token"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def segments_info(index) -> DataFrame:
    """Physical index layout (SegmentsInfoRequestHandler analog — ref:
    ``handler/admin/SegmentsInfoRequestHandler.java``, test
    ``handler/admin/SegmentsInfoRequestHandlerTest.java``): one row per
    on-disk stage — ``(stage, n_files, n_dirs, bytes)`` — plus a row per
    ``segment=<s>/term_bucket=<b>`` partition of each committed segment,
    so merge/skew health is visible per segment (the reference reports
    per-segment sizes for the same reason).

    Driver-side directory walk, like the reference handler: it reads
    file METADATA (names + sizes), never file contents — O(files) on
    the driver regardless of corpus size; the result is returned as a
    (tiny) DataFrame for composability.
    """
    import os

    rows = []
    for stage in sorted(os.listdir(index.dir)):
        p = os.path.join(index.dir, stage)
        if not os.path.isdir(p):
            continue
        n_files = n_dirs = total = 0
        for root, dirs, files in os.walk(p):
            n_dirs += len(dirs)
            for fn in files:
                n_files += 1
                total += os.path.getsize(os.path.join(root, fn))
        rows.append((stage, n_files, n_dirs, total))
        if stage != "blocks":
            continue
        # the committed segments only: a directory a killed commit left
        # behind is not part of the index
        for seg in (f"segment={s}" for s in sorted(index.record[0])):
            sdir = os.path.join(p, seg)
            for bucket in sorted(n for n in os.listdir(sdir) if n.startswith("term_bucket=")):
                leaf = os.path.join(sdir, bucket)
                files = os.listdir(leaf)
                rows.append((
                    "blocks/" + os.path.join(seg, bucket), len(files), 0,
                    sum(os.path.getsize(os.path.join(leaf, fn)) for fn in files),
                ))
    return index.spark.createDataFrame(
        rows, "stage string, n_files long, n_dirs long, bytes long"
    )
