"""Incremental / NRT index maintenance — the streaming surface.

The reference's incremental semantics (SURVEY.md §2.9) restated for
Spark's batch+streaming model:

- ``topic()`` (``TopicStream.java:66``, at-least-once checkpointed
  consumption of new docs) → :func:`stream_directory`: a Structured
  Streaming file source over a drop-directory, checkpointed by Spark's
  own file-source log, feeding ``foreachBatch`` into the indexer.
- NRT soft commit (``DirectUpdateHandler2.java:157-175``: visibility
  without a full merge) → :meth:`IncrementalIndexer.append_batch`
  appends analyzed docs + raw postings to the stage files without
  touching the merged blocks; an index handle reads only the batches
  its commit names (``InvertedIndex.docs``/``segments``), so new docs
  reach readers at the next commit. Each batch writes into its own
  ``batch=<id>`` partition directory with overwrite semantics, so
  at-least-once re-delivery of a micro-batch (foreachBatch crash/restart)
  is IDEMPOTENT — a half-written batch is simply overwritten whole.
- delete-by-id / delete-by-query (``update/UpdateLog.java:452``,
  ``solrj-streaming/.../io/stream/DeleteStream.java``) →
  :meth:`delete_by_ids` / :meth:`delete_by_query` add the deleted doc
  ids to the pending tombstones, ``tombstones.json`` (written on the
  driver; only ``delete_by_query`` runs a Spark job, to find its ids);
  :meth:`commit` folds them into the committed live-docs record
  (Lucene's liveDocs), which every read applies as one literal
  predicate (``InvertedIndex.live``). The analyzed and segments stages
  keep the deleted docs until a policy merge compacts them out.
- hard commit (flush + merge) → :meth:`IncrementalIndexer.commit`
  encodes only the batches no segment holds yet, into one new segment
  ``blocks/segment=<s>/`` (Lucene's flushed segment: old segments are
  immutable, and blocks are stats-independent, so they stay valid when
  N/avgdl/idf move), and writes one term_dict partial,
  ``term_dict/commit=<c>/``: the signed (term, df, cf) change of the
  commit's new batches and deletes, aggregated over the postings of the
  batches it adds or deletes from only (Lucene's per-segment
  dictionary, ``TermStates`` summing it at query time). N and
  sum_doc_len move by the same change, counted on the driver. df, N
  and avgdl stay exact over the live docs, so an incremental index
  that appends B1..Bn, deletes D and commits answers
  rank-identically to a batch build over the surviving corpus
  (oracle-gated against DuckDB). ``meta.json`` is the commit point: it
  holds N and avgdl, the commit generation, the partials that sum to
  the dictionary, each segment's batches and the live-docs record;
  readers open exactly what it names, so a killed commit leaves them on
  the previous commit.
- segment merge (TieredMergePolicy, ``index/DefaultMergePolicyFactory.java:42``)
  → :func:`merge_due` over the module constants ``MERGE_MAX_SEGMENTS``,
  ``MERGE_MAX_DELETED_FRAC`` and ``MERGE_MAX_DELETED_DOCS``: past any of
  them, a commit compacts the deleted docs out of the analyzed
  and segments stages and encodes every batch into one segment — the
  build's own path; ``build_index`` is that path for batch 0. Its
  partial is the change from the empty commit point: the full
  dictionary. Commits of deletes alone add partials but no segment, so
  a commit whose partial would be the ``MERGE_MAX_SEGMENTS + 1``-th
  starts from the empty commit point too, as a merge does, and rewrites
  no block: a reader sums at most ``MERGE_MAX_SEGMENTS`` partials.
- tlog replay / recovery (``UpdateLog.java:178``) → the stage
  manifests, rewritten by every append and compaction, and
  ``tombstones.json``, removed only after ``meta.json`` is written:
  re-running ``commit()`` after a killed commit redoes it, deletes
  included; the half-written term_dict partial and segment directory
  of a killed commit are never read, and the next commit overwrites them.
- ``build_index`` writes its docs as batch 0 of the same layout, so an
  indexer continues a built directory as it is, and refuses one an
  earlier version wrote (``build._check_layout``).
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
    _batch_ids,
    _check_layout,
    _commit_record,
    _dead_rows,
    _live_stage,
    _merge,
    _read_manifest,
    _read_meta,
    _read_stage,
    _stage_dir,
    _write_batch,
    _write_manifest,
)

#: merge policy: a commit merges every segment into one, compacting the
#: deleted docs away, when it would otherwise leave more than
#: ``MERGE_MAX_SEGMENTS`` segments, or more than ``MERGE_MAX_DELETED_FRAC``
#: of the indexed docs or ``MERGE_MAX_DELETED_DOCS`` docs deleted (module
#: constants, not IndexConfig fields: the policy decides when blocks are
#: rewritten, never what they hold). Every query plans the live-docs
#: predicate, one literal per deleted id; past about 1,000 ids its
#: planning cost shows (measured, 400-doc index, local[2]: +0 cpu-s per
#: query at 1,000 ids, +0.2 at 2,000, +1.7 at 10,000), hence the cap.
#: ``MERGE_MAX_SEGMENTS`` also bounds the term_dict partials a reader sums.
MERGE_MAX_SEGMENTS = 8
MERGE_MAX_DELETED_FRAC = 0.2
MERGE_MAX_DELETED_DOCS = 1000


def merge_due(n_segments: int, n_deleted: int, n_docs: int) -> bool:
    """The merge policy: does a commit that would leave ``n_segments``
    segments and ``n_deleted`` of ``n_docs`` indexed docs deleted merge?"""
    return (n_segments > MERGE_MAX_SEGMENTS
            or n_deleted > min(MERGE_MAX_DELETED_FRAC * n_docs, MERGE_MAX_DELETED_DOCS))


class IncrementalIndexer:
    """Micro-batch indexing with tombstoned deletes and explicit commits."""

    def __init__(self, spark: SparkSession, out_dir: str, config: IndexConfig | None = None):
        self.spark = spark
        self.dir = out_dir
        self.config = config or IndexConfig()
        _check_layout(out_dir)
        os.makedirs(out_dir, exist_ok=True)
        self._next_doc_id = self._read_next_doc_id()

    def _read_next_doc_id(self) -> int:
        adir = _stage_dir(self.dir, "analyzed")
        if not os.path.isdir(adir) or not os.listdir(adir):
            return 0
        mx = _read_stage(self.spark, self.dir, "analyzed").agg(F.max("doc_id")).collect()[0][0]
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
        re-delivery idempotent (the whole directory is overwritten) until
        the batch is committed; a committed batch id is rejected with
        ValueError. New doc_ids continue from max(doc_id)+1 when
        ``id_col`` is absent; ``id_col`` ids already held by another
        batch's live doc (a deleted doc too, until its delete is
        committed) reject the batch with ValueError.
        Returns the number of docs appended.
        """
        if batch_id is None:
            ids = _batch_ids(self.dir)
            batch_id = (ids[-1] + 1) if ids else 0
        record = _commit_record(_read_meta(self.dir))
        for seg, batches in (record[0] if record else {}).items():
            if int(batch_id) in batches:
                raise ValueError(f"batch={batch_id} is already committed in segment {seg}")
        n = _write_batch(
            docs, self.dir, self.config, text_col, id_col,
            sort_cols or ["repo", "path", "commit"], int(batch_id), self._next_doc_id,
        )
        if id_col is None:
            self._next_doc_id += n
        else:  # explicit ids may exceed the counter — refresh from disk
            self._next_doc_id = self._read_next_doc_id()
        return n

    # ------------------------------------------------------------------
    def delete_by_ids(self, doc_ids: list[int]) -> int:
        """Record delete-by-id tombstones (applied at the next commit)."""
        self._record_deletes([int(d) for d in doc_ids])
        return len(doc_ids)

    def delete_by_query(self, pred: Column) -> int:
        """Record tombstones for every live indexed doc matching ``pred``
        (a Column over the doc registry) — the deleteByQuery analog."""
        live = _live_stage(self.spark, self.dir, "analyzed", _commit_record(_read_meta(self.dir)))
        ids = [r[0] for r in live.where(pred).select("doc_id").distinct().collect()]
        self._record_deletes(ids)
        return len(ids)

    def _tombstone_path(self) -> str:
        return os.path.join(self.dir, "tombstones.json")

    def _record_deletes(self, ids: list[int]) -> None:
        """Add the deleted doc ids to the pending tombstones (driver-side,
        written aside and renamed into place)."""
        path = self._tombstone_path()
        with open(path + ".tmp", "w") as f:
            json.dump(sorted(self._tombstones() | set(ids)), f)
        os.replace(path + ".tmp", path)

    def _tombstones(self) -> set[int]:
        """Pending tombstone ids."""
        if not os.path.exists(self._tombstone_path()):
            return set()
        with open(self._tombstone_path()) as f:
            return set(json.load(f))

    def _compact_stage(self, stage: str, dead: Column) -> None:
        """Rewrite a stage without the rows ``dead`` selects (swap via
        rename), then its manifest. Every ``batch=<id>`` directory stays,
        empty if none of its rows does: a merge commits the batches
        ``segments/`` lists, and a doc without tokens has no row there.

        At corpus scale the stages would be partitioned by doc range and
        only partitions containing deleted ids rewritten; the swap
        pattern (write aside, atomic rename) is the same.
        """
        t0 = time.time()
        src = _stage_dir(self.dir, stage)
        df = _read_stage(self.spark, self.dir, stage).where(~dead)
        tmp = src + "__compact"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").partitionBy("batch").parquet(tmp)
        for name in os.listdir(src):
            if name.startswith("batch="):
                os.makedirs(os.path.join(tmp, name), exist_ok=True)
        old = src + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(src, old)
        os.replace(tmp, src)
        shutil.rmtree(old, ignore_errors=True)
        _write_manifest(self.dir, stage, self.config, t0)

    # ------------------------------------------------------------------
    def commit(self) -> InvertedIndex:
        """Hard commit: encode the batches no segment holds yet into one
        new segment and fold the pending tombstones into the committed
        live-docs record; one term_dict partial holds the dictionary's
        change and meta.json the stats moved by it, both O(delta). Old
        segments are never re-encoded, until the merge policy merges them
        all into one (compacting the deleted docs out of the analyzed and
        segments stages first), which is the build's own path. A merge,
        and a commit whose partial would pass the bound on partials, take
        the change from the empty commit point (``base=None``): one full
        partial. A directory's first commit is such a merge.
        Raises ValueError when no batch was ever appended."""
        batches = _batch_ids(self.dir)
        if not batches:
            raise ValueError(f"nothing to commit: no batch was appended to {self.dir}")
        meta = _read_meta(self.dir)
        record = _commit_record(meta)
        segments, deleted = record or ({}, {})
        covered = {b for bs in segments.values() for b in bs}
        fresh = [b for b in batches if b not in covered]
        dead = self._tombstones()
        new = max(segments, default=-1) + 1
        if fresh:
            segments[new] = fresh
        if dead:
            u = max(segments)
            deleted[u] = sorted(set(deleted.get(u, ())) | dead)
        n_dead = sum(len(ids) for ids in deleted.values())
        n_docs = _read_manifest(self.dir, "analyzed")["rows"]
        merge = record is None or merge_due(len(segments), n_dead, n_docs)
        if not (fresh or dead or merge):
            return InvertedIndex(self.spark, self.dir)
        if merge:
            if deleted:
                pred = _dead_rows(deleted, segments, "batch")
                self._compact_stage("analyzed", pred)
                self._compact_stage("segments", pred)
            segments, deleted = {new: _batch_ids(self.dir)}, {}
        _merge(self.spark, self.dir, self.config, False, (segments, deleted),
               new if new in segments else None, meta["commit"] + 1 if record else 0,
               base=None if merge or len(meta["term_dicts"]) >= MERGE_MAX_SEGMENTS else meta)
        if os.path.exists(self._tombstone_path()):
            os.remove(self._tombstone_path())
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
