"""Incremental / NRT index maintenance — the streaming surface.

The reference's incremental semantics (SURVEY.md §2.9) restated for
Spark's batch+streaming model:

- ``topic()`` (``TopicStream.java:66``, at-least-once checkpointed
  consumption of new docs) → :func:`stream_directory`: a Structured
  Streaming file source over a drop-directory, checkpointed by Spark's
  own file-source log, feeding ``foreachBatch`` into the indexer.
- NRT soft commit (``DirectUpdateHandler2.java:157-175``: visibility
  without a full merge) → :meth:`IncrementalIndexer.append_batch`
  appends analyzed docs + raw postings — new docs are immediately
  visible to segment-level readers (term_dict scans, significant-terms)
  without touching the merged blocks. Each batch writes into its own
  ``batch=<id>`` partition directory with overwrite semantics, so
  at-least-once re-delivery of a micro-batch (foreachBatch crash/restart)
  is IDEMPOTENT — a half-written batch is simply overwritten whole.
- delete-by-id / delete-by-query (``update/UpdateLog.java:452``,
  ``solrj-streaming/.../io/stream/DeleteStream.java``) →
  :meth:`delete_by_ids` / :meth:`delete_by_query` record the deleted
  doc ids as tombstones; :meth:`commit` applies them (Lucene applies
  deletes at merge) by compacting the analyzed/segments stages to the
  surviving docs.
- hard commit (flush + merge) → :meth:`IncrementalIndexer.commit`
  runs the build's own merge step (``build._merge``) exactly as
  ``build_index`` does: term_dict (global stats N/avgdl/df/idf) and the
  blocks of every term bucket are rewritten from the segments. So an
  incremental build that appends B1..Bn, deletes D and commits writes
  the same term_dict and blocks as a batch build over the surviving
  corpus (oracle-gated against DuckDB).
- tlog replay / recovery (``UpdateLog.java:178``) → the stage
  manifests. Tombstones are removed only after the blocks manifest is
  written, so re-running ``commit()`` after a killed commit redoes it,
  deletes included.
- ``build_index`` writes its docs as batch 0 of the same layout, so an
  indexer continues a built directory as it is.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.index.build import (
    IndexConfig,
    InvertedIndex,
    _batch_ids,
    _merge,
    _parquet_files,
    _stage_dir,
    _write_batch,
)
from solr_spark.session import local_frame


class IncrementalIndexer:
    """Micro-batch indexing with tombstoned deletes and explicit commits."""

    def __init__(self, spark: SparkSession, out_dir: str, config: IndexConfig | None = None):
        self.spark = spark
        self.dir = out_dir
        self.config = config or IndexConfig()
        for stage in ("analyzed", "segments"):
            sdir = _stage_dir(out_dir, stage)
            if os.path.isdir(sdir) and any(n.endswith(".parquet") for n in os.listdir(sdir)):
                raise ValueError(
                    f"{sdir} holds Parquet files outside batch=<id> partitions "
                    "(an older build_index layout); rebuild it with "
                    "build_index(..., resume=False)"
                )
        os.makedirs(out_dir, exist_ok=True)
        self._next_doc_id = self._read_next_doc_id()

    def _read_next_doc_id(self) -> int:
        adir = _stage_dir(self.dir, "analyzed")
        if not os.path.isdir(adir) or not os.listdir(adir):
            return 0
        mx = self.spark.read.parquet(adir).agg(F.max("doc_id")).collect()[0][0]
        return int(mx) + 1 if mx is not None else 0

    # ------------------------------------------------------------------
    def append_batch(
        self,
        docs: DataFrame,
        text_col: str = "content",
        id_col: str | None = None,
        sort_cols: list[str] | None = None,
        batch_id: int | None = None,
    ) -> int:
        """Soft-commit analog: analyze + append postings for one batch.

        ``batch_id`` keys the batch's ``batch=<id>`` partition directory;
        passing the streaming source's micro-batch id makes at-least-once
        re-delivery idempotent (the whole directory is overwritten). New
        doc_ids continue from max(doc_id)+1 when ``id_col`` is absent;
        ``id_col`` ids already held by another batch (a deleted doc too,
        until its delete is committed) reject the batch with ValueError.
        Returns the number of docs appended.
        """
        if batch_id is None:
            ids = _batch_ids(self.dir)
            batch_id = (ids[-1] + 1) if ids else 0
        _write_batch(
            docs, self.dir, self.config, text_col, id_col,
            sort_cols or ["repo", "path", "commit"], int(batch_id), self._next_doc_id,
        )
        bdir = os.path.join(_stage_dir(self.dir, "analyzed"), f"batch={int(batch_id)}")
        n = sum(f["rows"] for f in _parquet_files(bdir))
        if id_col is None:
            self._next_doc_id += n
        else:  # explicit ids may exceed the counter — refresh from disk
            self._next_doc_id = self._read_next_doc_id()
        return n

    # ------------------------------------------------------------------
    def delete_by_ids(self, doc_ids: list[int]) -> int:
        """Record delete-by-id tombstones (applied at the next commit)."""
        self._record_deletes(local_frame(self.spark, [(int(d),) for d in doc_ids], "doc_id long"))
        return len(doc_ids)

    def delete_by_query(self, pred: Column) -> int:
        """Record tombstones for every indexed doc matching ``pred`` (a
        Column over the doc registry) — the deleteByQuery analog."""
        adir = _stage_dir(self.dir, "analyzed")
        matched = self.spark.read.parquet(adir).where(pred).select("doc_id").distinct()
        self._record_deletes(matched)
        return matched.count()

    def _record_deletes(self, ids: DataFrame) -> None:
        """Append the deleted doc ids to ``tombstones/``."""
        ids.write.mode("append").parquet(_stage_dir(self.dir, "tombstones"))

    def _tombstones(self) -> DataFrame | None:
        tdir = _stage_dir(self.dir, "tombstones")
        if not os.path.isdir(tdir) or not os.listdir(tdir):
            return None
        return self.spark.read.parquet(tdir)

    def _compact_stage(self, stage: str, dead: DataFrame) -> None:
        """Rewrite a stage excluding tombstoned doc_ids (swap via rename).

        At corpus scale the stages would be partitioned by doc range and
        only partitions containing deleted ids rewritten; the swap
        pattern (write aside, atomic rename) is the same.
        """
        src = _stage_dir(self.dir, stage)
        df = self.spark.read.parquet(src).join(F.broadcast(dead), "doc_id", "left_anti")
        tmp = src + "__compact"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").partitionBy("batch").parquet(tmp)
        old = src + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(src, old)
        os.replace(tmp, src)
        shutil.rmtree(old, ignore_errors=True)

    # ------------------------------------------------------------------
    def commit(self) -> InvertedIndex:
        """Hard commit: compact the tombstoned docs out of the analyzed and
        segments stages, then run the build's merge over every bucket."""
        tomb = self._tombstones()
        if tomb is not None:
            dead = tomb.select("doc_id").distinct()
            self._compact_stage("analyzed", dead)
            self._compact_stage("segments", dead)
        _merge(self.spark, self.dir, self.config, resume=False)
        shutil.rmtree(_stage_dir(self.dir, "tombstones"), ignore_errors=True)
        return InvertedIndex(self.spark, self.dir)


def stream_directory(
    spark: SparkSession,
    watch_dir: str,
    indexer: IncrementalIndexer,
    checkpoint_dir: str,
    schema: str,
    text_col: str = "content",
    id_col: str | None = None,
    available_now: bool = True,
):
    """topic()/daemon() analog: consume parquet files dropped into
    ``watch_dir`` as micro-batches into the indexer.

    Structured Streaming's file-source log is the consumption checkpoint
    (the ``_version_`` high-water-mark TopicStream persists); delivery
    into the index is EXACTLY-ONCE because each micro-batch writes its
    own ``batch=<id>`` directory keyed by the stream's batch_id with
    overwrite semantics — a crash mid-batch or a checkpoint re-delivery
    overwrites the same directory instead of duplicating rows.
    ``available_now=True`` drains the backlog and stops (daemon mode
    would use a processing-time trigger instead).
    """
    stream = (
        spark.readStream.schema(schema).parquet(watch_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        indexer.append_batch(
            batch_df, text_col=text_col, id_col=id_col, batch_id=int(batch_id)
        )

    writer = stream.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="5 seconds").start()


# ---------------------------------------------------------------------------
# DocExpirationUpdateProcessor analog (TTL documents)
# ---------------------------------------------------------------------------


def with_expiration(df: DataFrame, ts_col: str, ttl_seconds: int) -> DataFrame:
    """Stamp an ``expire_at`` column at ingest time — the
    DocExpirationUpdateProcessorFactory analog (ref:
    update/processor/DocExpirationUpdateProcessorFactory.java, which
    computes ``_expire_at_ = NOW + _ttl_`` per document). Pure JVM
    interval arithmetic, map-only."""
    return df.withColumn(
        "expire_at", F.col(ts_col) + F.expr(f"INTERVAL {int(ttl_seconds)} SECOND")
    )


def purge_expired(df: DataFrame, now: str) -> DataFrame:
    """The processor's periodic ``deleteByQuery _expire_at_:[* TO NOW]``
    sweep as a batch filter: keep rows whose ``expire_at`` is strictly
    after the (frozen, caller-supplied) ``now`` — determinism requires
    the caller to pin NOW, exactly like the reference's
    ``autoDeletePeriodSeconds`` sweeps pin a timestamp per sweep."""
    return df.where(F.col("expire_at") > F.to_timestamp(F.lit(now)))
