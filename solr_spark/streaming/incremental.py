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
  :meth:`delete_by_ids` / :meth:`delete_by_query` record tombstones;
  :meth:`commit` applies them (Lucene applies deletes at merge): the
  analyzed/segments stages are compacted to the surviving docs and the
  affected term buckets are re-encoded.
- hard commit (flush + merge) → :meth:`IncrementalIndexer.commit`
  rebuilds term_dict (one aggregation — global stats N/avgdl/df/idf
  always refresh) and re-encodes ONLY the term buckets whose postings
  changed since the last commit (new batches' terms + deleted docs'
  terms) — the TieredMergePolicy analog. This is sound because block
  CONTENT is stats-independent (build.py ``_BLOCK_SCHEMA``: blocks
  store (max_tf, min_dl), not precomputed impacts): an untouched
  bucket's blocks are bit-identical to a full rebuild's. An incremental
  build that appends B1..Bn, deletes D and commits is
  **query-identical** to a batch build over the surviving corpus
  (oracle-gated against DuckDB).
- tlog replay / recovery (``UpdateLog.java:178``) → the stage manifests
  + ``commit_state.json``: a killed commit leaves the previous
  manifests intact and re-running ``commit()`` redoes the merge stages.
- a directory written by ``build_index`` holds its docs and postings as
  unpartitioned files, which a reader of ``batch=<id>`` partitions does
  not see; the indexer moves them into a ``batch=<id>`` partition of
  their own (already merged) before it touches the directory.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_spark.index.build import (
    IndexConfig,
    InvertedIndex,
    _manifest_path,
    _stage_dir,
    _stage_term_dict,
    _stage_blocks,
    _write_manifest,
    analyze_docs,
    build_postings,
    with_doc_ids,
)
from solr_spark.session import local_frame


class IncrementalIndexer:
    """Micro-batch indexing with tombstoned deletes and explicit commits."""

    def __init__(self, spark: SparkSession, out_dir: str, config: IndexConfig | None = None):
        self.spark = spark
        self.dir = out_dir
        self.config = config or IndexConfig()
        os.makedirs(out_dir, exist_ok=True)
        self._adopt_base()
        self._next_doc_id = self._read_next_doc_id()

    def _adopt_base(self) -> None:
        """Move the unpartitioned stage files of a ``build_index``
        directory into a ``batch=<id>`` partition, recorded as merged (its
        blocks are built). Spark's reader sees only the partitions once
        one exists, so left in place these docs would vanish from every
        read and from every compaction. File moves are renames; a run cut
        short is finished by the next one."""
        loose = {
            stage: [
                n for n in os.listdir(_stage_dir(self.dir, stage))
                if n.endswith((".parquet", ".parquet.crc"))
            ]
            for stage in ("analyzed", "segments")
            if os.path.isdir(_stage_dir(self.dir, stage))
        }
        if not any(loose.values()):
            return
        ids = self._batch_ids()
        base = ids[0] - 1 if ids else 0
        for stage, names in loose.items():
            sdir = _stage_dir(self.dir, stage)
            os.makedirs(os.path.join(sdir, f"batch={base}"), exist_ok=True)
            for n in names:
                os.replace(os.path.join(sdir, n), os.path.join(sdir, f"batch={base}", n))
        if os.path.exists(_manifest_path(self.dir, "blocks")):
            state = self._commit_state()
            merged = set(state.get("merged_batches", [])) | {base}
            self._write_commit_state({**state, "merged_batches": sorted(merged)})

    def _read_next_doc_id(self) -> int:
        adir = _stage_dir(self.dir, "analyzed")
        if not os.path.isdir(adir) or not os.listdir(adir):
            return 0
        mx = self.spark.read.parquet(adir).agg(F.max("doc_id")).collect()[0][0]
        return int(mx) + 1 if mx is not None else 0

    def _batch_ids(self) -> list[int]:
        sdir = _stage_dir(self.dir, "segments")
        if not os.path.isdir(sdir):
            return []
        return sorted(
            int(n.split("=", 1)[1])
            for n in os.listdir(sdir)
            if n.startswith("batch=")
        )

    def _commit_state(self) -> dict:
        p = os.path.join(self.dir, "commit_state.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def _write_commit_state(self, state: dict) -> None:
        tmp = os.path.join(self.dir, "commit_state.json.tmp")
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1)
        os.replace(tmp, os.path.join(self.dir, "commit_state.json"))

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
        doc_ids continue from max(doc_id)+1 when ``id_col`` is absent.
        Returns the number of docs appended.
        """
        if batch_id is None:
            ids = self._batch_ids()
            batch_id = (ids[-1] + 1) if ids else 0
        with_ids, held = with_doc_ids(docs, id_col, sort_cols or ["repo", "path", "commit"])
        if id_col is None:
            with_ids = with_ids.withColumn("doc_id", F.col("doc_id") + F.lit(self._next_doc_id))
        analyzed = analyze_docs(with_ids, self.config, text_col)
        analyzed = analyzed.persist()  # one materialization feeds both writes
        n = analyzed.count()
        sub = f"batch={int(batch_id)}"
        # overwrite per-batch directories: re-delivery replaces, never dupes
        analyzed.drop("tokens").write.mode("overwrite").parquet(
            os.path.join(_stage_dir(self.dir, "analyzed"), sub)
        )
        build_postings(analyzed, self.config).write.mode("overwrite").parquet(
            os.path.join(_stage_dir(self.dir, "segments"), sub)
        )
        analyzed.unpersist()
        if held is not None:
            held.unpersist()
        if id_col is None:
            self._next_doc_id += int(n)
        else:  # explicit ids may exceed the counter — refresh from disk
            self._next_doc_id = self._read_next_doc_id()
        return int(n)

    # ------------------------------------------------------------------
    def delete_by_ids(self, doc_ids: list[int]) -> int:
        """Record delete-by-id tombstones (applied at the next commit)."""
        df = local_frame(self.spark, [(int(d),) for d in doc_ids], "doc_id long")
        df.write.mode("append").parquet(_stage_dir(self.dir, "tombstones"))
        return len(doc_ids)

    def delete_by_query(self, pred: Column) -> int:
        """Record tombstones for every indexed doc matching ``pred`` (a
        Column over the doc registry) — the deleteByQuery analog."""
        adir = _stage_dir(self.dir, "analyzed")
        matched = self.spark.read.parquet(adir).where(pred).select("doc_id").distinct()
        matched.write.mode("append").parquet(_stage_dir(self.dir, "tombstones"))
        return matched.count()

    def _tombstones(self) -> DataFrame | None:
        tdir = _stage_dir(self.dir, "tombstones")
        if not os.path.isdir(tdir) or not os.listdir(tdir):
            return None
        return self.spark.read.parquet(tdir).select("doc_id").distinct()

    def _bucket_expr(self) -> Column:
        return F.pmod(F.xxhash64("term"), F.lit(self.config.n_term_buckets)).cast("int")

    def _compact_stage(self, stage: str, tomb: DataFrame) -> None:
        """Rewrite a stage excluding tombstoned doc_ids (swap via rename).

        At corpus scale the stages would be partitioned by doc range and
        only partitions containing deleted ids rewritten; the swap
        pattern (write aside, atomic rename) is the same.
        """
        src = _stage_dir(self.dir, stage)
        df = self.spark.read.parquet(src).join(F.broadcast(tomb), "doc_id", "left_anti")
        tmp = src + "__compact"
        shutil.rmtree(tmp, ignore_errors=True)
        writer = df.write.mode("overwrite")
        if "batch" in df.columns:
            writer = writer.partitionBy("batch")
        writer.parquet(tmp)
        old = src + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(src, old)
        os.replace(tmp, src)
        shutil.rmtree(old, ignore_errors=True)

    # ------------------------------------------------------------------
    def commit(self) -> InvertedIndex:
        """Hard commit: apply tombstones, refresh term_dict/global stats,
        re-encode only the CHANGED term buckets (new batches' terms +
        deleted docs' terms). First commit builds all buckets."""
        state = self._commit_state()
        merged = set(state.get("merged_batches", []))
        present = self._batch_ids()
        new_batches = [b for b in present if b not in merged]
        first_commit = not os.path.exists(_manifest_path(self.dir, "blocks"))

        seg_dir = _stage_dir(self.dir, "segments")
        changed: set[int] = set()
        tomb = self._tombstones()
        if not first_commit:
            if new_batches:
                segs = self.spark.read.parquet(seg_dir).where(
                    F.col("batch").isin(new_batches)
                )
                changed |= {
                    r["tb"]
                    for r in segs.select(self._bucket_expr().alias("tb")).distinct().collect()
                }
            if tomb is not None:
                dsegs = self.spark.read.parquet(seg_dir).join(
                    F.broadcast(tomb), "doc_id", "left_semi"
                )
                changed |= {
                    r["tb"]
                    for r in dsegs.select(self._bucket_expr().alias("tb")).distinct().collect()
                }
        if tomb is not None:
            tomb = tomb.persist()
            tomb.count()
            self._compact_stage("analyzed", tomb)
            self._compact_stage("segments", tomb)
            tomb.unpersist()
            shutil.rmtree(_stage_dir(self.dir, "tombstones"), ignore_errors=True)

        only = None if first_commit else sorted(changed)
        for stage, fn in (
            ("term_dict", lambda: _stage_term_dict(self.spark, self.dir, self.config)),
            ("blocks", lambda: _stage_blocks(self.spark, self.dir, self.config, only_buckets=only)),
        ):
            t0 = time.time()
            fn()
            _write_manifest(self.dir, stage, self.config, t0)
        # analyzed/segments manifests so InvertedIndex resume logic sees a
        # complete build
        for stage in ("analyzed", "segments"):
            if not os.path.exists(_manifest_path(self.dir, stage)):
                _write_manifest(self.dir, stage, self.config, time.time())
        self._write_commit_state({"merged_batches": sorted(set(present))})
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
