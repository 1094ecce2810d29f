"""Incremental / NRT indexing: batch-equivalence, checkpointed file
streaming, and commit replay."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from solr_spark.corpus import CORPUS_SCHEMA, synth_corpus
from solr_spark.index.build import IndexConfig, build_index
from solr_spark.query.engine import SearchEngine
from solr_spark.streaming import IncrementalIndexer, stream_directory

BASE = "/tmp/solr_spark_stream_test"


def _topk(idx, q, mode="OR"):
    return [(r["doc_id"], r["score"]) for r in SearchEngine(idx).topk(q, k=10, mode=mode).collect()]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return synth_corpus(spark, 600).persist()


def test_incremental_equals_batch(spark, corpus_df, test_config):
    """Appending in 3 batches + commit must be query-identical to one
    batch build over the full corpus (the control-vs-incremental diff,
    BaseDistributedSearchTestCase-style)."""
    batch_dir, inc_dir = f"{BASE}/batch", f"{BASE}/inc"
    shutil.rmtree(BASE, ignore_errors=True)

    # non-negative unique ids (hash-derived, partitioning-invariant)
    full = corpus_df.withColumn(
        "doc_id", F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10**12))
    )
    batch_idx = build_index(
        spark, full, batch_dir, test_config, text_col="content", id_col="doc_id"
    )

    inc = IncrementalIndexer(spark, inc_dir, test_config)
    splits = [
        full.where(F.pmod(F.col("doc_id"), 3) == i) for i in range(3)
    ]
    total = 0
    for s in splits:
        total += inc.append_batch(s, text_col="content", id_col="doc_id")
    assert total == full.count()
    inc_idx = inc.commit()

    for q, mode in (("server client", "OR"), ("parse json", "AND"), ("import", "OR")):
        assert _topk(inc_idx, q, mode) == _topk(batch_idx, q, mode)
    # global stats identical
    assert inc_idx.n_docs == batch_idx.n_docs
    assert inc_idx.avgdl == pytest.approx(batch_idx.avgdl)


def test_soft_commit_visibility_before_merge(spark, test_config):
    """append_batch alone exposes new docs at segment level (NRT soft
    commit): term_dict rebuild sees them, blocks untouched until commit."""
    d = f"{BASE}/soft"
    shutil.rmtree(d, ignore_errors=True)
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(synth_corpus(spark, 50), text_col="content")
    seg = spark.read.parquet(os.path.join(d, "segments"))
    assert seg.select("doc_id").distinct().count() == 50
    assert not os.path.isdir(os.path.join(d, "blocks"))


def test_commit_is_rerunnable(spark, test_config):
    """tlog-replay analog: re-running commit() after a 'crash' (here:
    simply again) yields the same index."""
    d = f"{BASE}/replay"
    shutil.rmtree(d, ignore_errors=True)
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(synth_corpus(spark, 80), text_col="content")
    idx1 = inc.commit()
    r1 = _topk(idx1, "server")
    idx2 = inc.commit()  # replay
    assert _topk(idx2, "server") == r1


def test_commit_with_nothing_appended_raises(spark, test_config):
    """A commit on a directory no batch was appended to says so, pending
    deletes or not, and writes no commit point."""
    d = f"{BASE}/empty_commit"
    shutil.rmtree(d, ignore_errors=True)
    inc = IncrementalIndexer(spark, d, test_config)
    with pytest.raises(ValueError, match="nothing to commit"):
        inc.commit()
    inc.delete_by_ids([1])
    with pytest.raises(ValueError, match="nothing to commit"):
        inc.commit()
    assert not os.path.exists(os.path.join(d, "meta.json"))


def test_stream_directory_checkpoint_no_redelivery(spark, test_config):
    """topic() analog: files dropped into the watch dir are indexed once;
    restarting the stream with the same checkpoint re-delivers nothing."""
    d = f"{BASE}/topic"
    shutil.rmtree(d, ignore_errors=True)
    watch, ckpt, idxdir = f"{d}/drop", f"{d}/ckpt", f"{d}/idx"
    os.makedirs(watch)

    synth_corpus(spark, 40).coalesce(1).write.mode("append").parquet(watch)
    inc = IncrementalIndexer(spark, idxdir, test_config)
    stream_directory(spark, watch, inc, ckpt, CORPUS_SCHEMA, text_col="content")
    n1 = spark.read.parquet(os.path.join(idxdir, "analyzed")).count()
    assert n1 == 40

    # second drain without new files → nothing indexed
    stream_directory(spark, watch, inc, ckpt, CORPUS_SCHEMA, text_col="content")
    assert spark.read.parquet(os.path.join(idxdir, "analyzed")).count() == 40

    # drop a second file → only the delta is indexed
    synth_corpus(spark, 25).coalesce(1).write.mode("append").parquet(watch)
    stream_directory(spark, watch, inc, ckpt, CORPUS_SCHEMA, text_col="content")
    # 40 originals + 65 rows in the dir now; the second write re-added 25
    # of the same docs as new rows — dedup is not the file-source's job;
    # assert exactly-once FILE delivery: 40 + 25
    assert spark.read.parquet(os.path.join(idxdir, "analyzed")).count() == 65


def test_append_redelivery_is_idempotent(spark, corpus_df, test_config):
    """At-least-once re-delivery of the same batch_id must not duplicate
    docs or postings (ADVICE round 1: batch=<id> overwrite directories)."""
    d = f"{BASE}/idem"
    shutil.rmtree(d, ignore_errors=True)
    full = corpus_df.withColumn(
        "doc_id", F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10**12))
    )
    b0 = full.where(F.pmod(F.col("doc_id"), 2) == 0)
    b1 = full.where(F.pmod(F.col("doc_id"), 2) == 1)
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(b0, text_col="content", id_col="doc_id", batch_id=0)
    inc.append_batch(b0, text_col="content", id_col="doc_id", batch_id=0)  # re-delivery
    inc.append_batch(b1, text_col="content", id_col="doc_id", batch_id=1)
    idx = inc.commit()
    assert idx.n_docs == full.count()
    assert idx.docs.groupBy("doc_id").count().where("count > 1").count() == 0
    # once committed into a segment, a batch id is no longer re-deliverable
    with pytest.raises(ValueError, match="already committed"):
        inc.append_batch(b0, text_col="content", id_col="doc_id", batch_id=0)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_delete_then_commit_equals_batch_over_survivors(spark, corpus_df, test_config, monkeypatch):
    """append + delete + commit == batch build over the surviving docs
    (UpdateLog.java:452 / DeleteStream semantics): same answers, the same
    term_dict and global stats; once the merge policy merges the index,
    the same blocks row for row too — a merge runs the build's path."""
    from solr_spark.streaming import incremental

    d_inc, d_batch = f"{BASE}/del_inc", f"{BASE}/del_batch"
    shutil.rmtree(d_inc, ignore_errors=True)
    shutil.rmtree(d_batch, ignore_errors=True)
    full = corpus_df.withColumn(
        "doc_id", F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10**12))
    )
    inc = IncrementalIndexer(spark, d_inc, test_config)
    inc.append_batch(full.where(F.pmod(F.col("doc_id"), 2) == 0),
                     text_col="content", id_col="doc_id", batch_id=0)
    inc.append_batch(full.where(F.pmod(F.col("doc_id"), 2) == 1),
                     text_col="content", id_col="doc_id", batch_id=1)
    inc.commit()  # first commit: one segment
    n_del = inc.delete_by_query(F.pmod(F.col("doc_id"), 7) == 3)
    assert n_del > 0
    idx = inc.commit()  # second commit: deletes recorded as live docs

    survivors = full.where(F.pmod(F.col("doc_id"), 7) != 3)
    batch_idx = build_index(
        spark, survivors, d_batch, test_config, text_col="content", id_col="doc_id"
    )
    assert (idx.n_docs, idx.avgdl) == (batch_idx.n_docs, batch_idx.avgdl)
    for q, mode in (("server client", "OR"), ("parse json", "AND"), ("import", "OR")):
        assert _topk(idx, q, mode) == _topk(batch_idx, q, mode)
    # deleted docs are gone from the registry too
    assert idx.docs.where(F.pmod(F.col("doc_id"), 7) == 3).count() == 0
    assert _rows(idx.term_dict) == _rows(batch_idx.term_dict)

    monkeypatch.setattr(incremental, "MERGE_MAX_DELETED_FRAC", 0.0)
    merged = inc.commit()  # the policy now merges: compaction + one segment
    assert list(merged.record[0].values()) == [[0, 1]] and merged.deleted == {}
    assert _rows(merged.term_dict) == _rows(batch_idx.term_dict)
    got, want = merged.blocks.drop("segment"), batch_idx.blocks.drop("segment")
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_delta_commits_equal_batch_over_survivors(spark, test_config):
    """A base plus two delta segments, each commit with deletes, equals a
    batch build over the survivors: term_dict row for row, N and avgdl
    exactly, the live decoded postings row for row, and top-k for OR,
    AND, single-term, phrase and θ-forced queries. Only the new batch is
    encoded: the base segment's files are not rewritten."""
    from solr_spark.corpus import synth_corpus_pandas
    from solr_spark.query.phrase import phrase_topk

    d_inc, d_batch = f"{BASE}/delta_inc", f"{BASE}/delta_batch"
    shutil.rmtree(d_inc, ignore_errors=True)
    shutil.rmtree(d_batch, ignore_errors=True)
    pdf = synth_corpus_pandas(500)
    pdf["doc_id"] = range(len(pdf))
    inc = IncrementalIndexer(spark, d_inc, test_config)
    inc.append_batch(spark.createDataFrame(pdf.iloc[:380]), id_col="doc_id")
    inc.commit()
    seg0 = os.path.join(d_inc, "blocks", "segment=0")

    def mtimes():
        return {os.path.join(r, n): os.stat(os.path.join(r, n)).st_mtime_ns
                for r, _d, ns in os.walk(seg0) for n in ns}

    base_files = mtimes()
    dead = [3, 17, 200, 390]
    inc.append_batch(spark.createDataFrame(pdf.iloc[380:450]), id_col="doc_id")
    inc.delete_by_ids(dead[:3])
    inc.commit()
    inc.append_batch(spark.createDataFrame(pdf.iloc[450:]), id_col="doc_id")
    inc.delete_by_ids(dead[3:])
    idx = inc.commit()
    assert sorted(idx.record[0]) == [0, 1, 2] and idx.deleted == {1: dead[:3], 2: dead[3:]}
    assert mtimes() == base_files

    survivors = pdf[~pdf["doc_id"].isin(dead)]
    batch_idx = build_index(spark, spark.createDataFrame(survivors), d_batch, test_config,
                            id_col="doc_id")
    assert (idx.n_docs, idx.avgdl) == (batch_idx.n_docs, batch_idx.avgdl)
    assert _rows(idx.term_dict) == _rows(batch_idx.term_dict)
    eng, ref = SearchEngine(idx), SearchEngine(batch_idx)
    assert _rows(eng.decode(idx.blocks, "positions")) == \
        _rows(ref.decode(batch_idx.blocks, "positions"))
    for q, mode in (("server client", "OR"), ("parse json", "AND"), ("import", "OR")):
        assert _topk(idx, q, mode) == _topk(batch_idx, q, mode), (q, mode)
    assert phrase_topk(eng, "import os", k=10).collect() == \
        phrase_topk(ref, "import os", k=10).collect()
    eng._PRUNE_MIN_POSTINGS = ref._PRUNE_MIN_POSTINGS = 1  # force θ pruning
    for q in ("server client import", "import"):
        assert eng.topk(q, k=5).collect() == ref.topk(q, k=5).collect(), q


def test_readd_after_committed_delete(spark, test_config):
    """Delete an explicit id, commit, re-add the same id with new
    content, commit: the new content is found, the old is not, and a
    term of both versions returns the id once."""
    from solr_spark.corpus import synth_corpus_pandas

    d = f"{BASE}/readd"
    shutil.rmtree(d, ignore_errors=True)
    pdf = synth_corpus_pandas(120)
    pdf["doc_id"] = range(len(pdf))
    pdf.loc[7, "content"] = "zzoldversion zzshared " + pdf.loc[7, "content"]
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(spark.createDataFrame(pdf), id_col="doc_id")
    inc.commit()
    inc.delete_by_ids([7])
    inc.commit()
    again = pdf.iloc[[7]].copy()
    again["content"] = "zznewversion zzshared"
    inc.append_batch(spark.createDataFrame(again), id_col="doc_id")
    idx = inc.commit()
    assert idx.n_docs == 120
    eng = SearchEngine(idx)
    assert [r["doc_id"] for r in eng.topk("zznewversion", k=10).collect()] == [7]
    assert eng.topk("zzoldversion", k=10).collect() == []
    assert [r["doc_id"] for r in eng.topk("zzshared", k=10).collect()] == [7]
    assert [r["stored_text"] for r in idx.docs.where("doc_id = 7").collect()] == \
        ["zznewversion zzshared"]
    assert idx.term_dict.where("term = 'zzshared'").select("df").collect()[0][0] == 1


def test_policy_merge_equals_batch_build(spark, test_config, monkeypatch):
    """When a commit would leave more segments than the merge policy
    allows, it merges: the deleted docs are compacted out of the doc
    store, and the one merged segment's blocks, encoded from the live
    postings decoded from the old blocks, equal a batch build's row for
    row."""
    from solr_spark.corpus import synth_corpus_pandas
    from solr_spark.streaming import incremental

    monkeypatch.setattr(incremental, "MERGE_MAX_SEGMENTS", 2)
    d_inc, d_batch = f"{BASE}/policy_inc", f"{BASE}/policy_batch"
    shutil.rmtree(d_inc, ignore_errors=True)
    shutil.rmtree(d_batch, ignore_errors=True)
    pdf = synth_corpus_pandas(180)
    pdf["doc_id"] = range(len(pdf))
    inc = IncrementalIndexer(spark, d_inc, test_config)
    for lo, hi in ((0, 100), (100, 150)):
        inc.append_batch(spark.createDataFrame(pdf.iloc[lo:hi]), id_col="doc_id")
        inc.commit()
    inc.delete_by_ids([4, 120])
    inc.append_batch(spark.createDataFrame(pdf.iloc[150:]), id_col="doc_id")
    idx = inc.commit()
    assert idx.record == ({2: [0, 1, 2]}, {})
    assert os.listdir(os.path.join(d_inc, "blocks")) == ["segment=2"]
    analyzed = spark.read.parquet(os.path.join(d_inc, "analyzed"))
    assert analyzed.where(F.col("doc_id").isin(4, 120)).count() == 0

    survivors = pdf[~pdf["doc_id"].isin([4, 120])]
    batch_idx = build_index(spark, spark.createDataFrame(survivors), d_batch, test_config,
                            id_col="doc_id")
    assert _rows(idx.term_dict) == _rows(batch_idx.term_dict)
    assert _rows(idx.blocks.drop("segment")) == _rows(batch_idx.blocks.drop("segment"))


def _assert_exact_stats(idx):
    """The dictionary and global stats of ``idx`` equal a from-scratch
    Spark aggregate over the live postings and docs of its committed
    batches: the summed (df, cf)
    of every term, the driver-side df and idf of every term (idf bit for
    bit against Spark's over the from-scratch df), and N, sum_doc_len and
    avgdl in ``meta.json``."""
    eng = SearchEngine(idx)
    agg = idx.segments.groupBy("term").agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    want = {r["term"]: (r["df"], r["cf"], r["idf"])
            for r in agg.select("*", eng.idf(F.col("df")).alias("idf")).collect()}
    got = {r["term"]: (r["df"], r["cf"]) for r in idx.term_dict.select("term", "df", "cf").collect()}
    assert got == {t: w[:2] for t, w in want.items()}
    stats = eng._term_stats(sorted(want) + ["zznotaterm"])
    assert {s.term: (s.df, s.idf) for s in stats} == {t: (w[0], w[2]) for t, w in want.items()}
    docs = idx.live(idx.spark.read.parquet(os.path.join(idx.dir, "analyzed")), "batch")
    committed = F.col("batch").isin([b for bs in idx.record[0].values() for b in bs])
    n, sum_dl = docs.where(committed).agg(F.count("*"), F.sum("doc_len")).collect()[0]
    assert (idx.meta["n_docs"], idx.meta["sum_doc_len"]) == (n, sum_dl)
    assert idx.meta["avgdl"] == sum_dl / n


def _assert_flushed(idx):
    """No staged postings file under ``segments/`` belongs to a batch the
    commit of ``idx`` holds, and the segments manifest's rows count the
    postings its committed blocks hold plus those still staged."""
    from solr_spark.index.build import _parquet_files

    committed = {b for bs in idx.record[0].values() for b in bs}
    staged = _parquet_files(os.path.join(idx.dir, "segments"))
    assert not {int(f["file"].split(os.sep)[0].split("=")[1]) for f in staged} & committed
    held = idx.blocks.agg(F.sum("n_docs")).first()[0]
    assert idx.manifests()["segments"]["rows"] == held + sum(f["rows"] for f in staged)


def test_dictionary_partials_stay_exact_through_the_lifecycle(spark, test_config, monkeypatch):
    """Each commit writes one dictionary partial and meta.json names the
    partials that sum to the dictionary. After every step of an index's
    life the summed dictionary, the driver-side term stats and N,
    sum_doc_len and avgdl equal a from-scratch aggregate over the live
    docs: a base commit; a commit of deletes alone; an append whose
    deletes name an absent id, an already-deleted id, an id in the fresh
    batch and zero-length docs; a killed commit (readers stay on the
    previous commit); a snapshot restore; a policy merge; and commits of
    deletes alone up to the bound on partials, where a commit writes one
    full partial instead. The postings are read from decoded blocks, and
    after every step no staged postings of a committed batch are left."""
    from solr_spark.corpus import synth_corpus_pandas
    from solr_spark.index import build
    from solr_spark.index.build import InvertedIndex, create_snapshot, restore_snapshot
    from solr_spark.streaming import incremental

    d = f"{BASE}/partials"
    shutil.rmtree(d, ignore_errors=True)
    pdf = synth_corpus_pandas(280)
    pdf["doc_id"] = range(len(pdf))
    pdf.loc[[3, 210, 211], "content"] = ""  # docs with no token
    inc = IncrementalIndexer(spark, d, test_config)

    def append(lo, hi):
        inc.append_batch(spark.createDataFrame(pdf.iloc[lo:hi]), id_col="doc_id")

    append(0, 200)
    idx = inc.commit()
    assert idx.dict_gens == [0]
    _assert_exact_stats(idx)
    _assert_flushed(idx)

    inc.delete_by_ids([7, 8])
    idx = inc.commit()
    assert idx.dict_gens == [0, 1] and idx.n_docs == 198
    _assert_exact_stats(idx)
    _assert_flushed(idx)

    append(200, 240)
    inc.delete_by_ids([7, 10_000, 220, 211, 3, 12])
    idx = inc.commit()
    assert idx.dict_gens == [0, 1, 2] and idx.n_docs == 198 + 40 - 4
    _assert_exact_stats(idx)
    _assert_flushed(idx)

    append(240, 260)
    inc.delete_by_ids([15])

    def killed(*_args, **_kwargs):
        raise RuntimeError("killed in the blocks stage")

    with monkeypatch.context() as m:
        m.setattr(build, "_stage_blocks", killed)
        with pytest.raises(RuntimeError, match="killed"):
            inc.commit()
    assert os.path.isdir(os.path.join(d, "term_dict", "commit=3"))
    before = InvertedIndex(spark, d)
    assert before.meta == idx.meta
    _assert_exact_stats(before)
    _assert_flushed(before)
    idx = inc.commit()
    assert idx.dict_gens == [0, 1, 2, 3] and idx.n_docs == 234 + 20 - 1
    _assert_exact_stats(idx)
    _assert_flushed(idx)

    create_snapshot(d, "four")
    append(260, 280)
    inc.delete_by_ids([16])
    assert inc.commit().n_docs == 253 + 20 - 1
    restore_snapshot(d, "four")
    idx = InvertedIndex(spark, d)
    assert idx.dict_gens == [0, 1, 2, 3] and idx.n_docs == 253
    _assert_exact_stats(idx)
    _assert_flushed(idx)

    with monkeypatch.context() as m:
        m.setattr(incremental, "MERGE_MAX_DELETED_FRAC", 0.0)
        inc.delete_by_ids([17])
        idx = inc.commit()
    assert idx.record[1] == {} and idx.dict_gens == [idx.meta["commit"]]
    _assert_exact_stats(idx)
    _assert_flushed(idx)

    monkeypatch.setattr(incremental, "MERGE_MAX_SEGMENTS", 2)
    for dead, n_gens in ((18, 2), (19, 1)):
        inc.delete_by_ids([dead])
        idx = inc.commit()
        assert len(idx.dict_gens) == n_gens and idx.dict_gens[-1] == idx.meta["commit"]
        assert sorted(os.listdir(os.path.join(d, "term_dict"))) == \
            [f"commit={g}" for g in idx.dict_gens]
        _assert_exact_stats(idx)
        _assert_flushed(idx)


def test_index_with_durable_segments_serves_then_flushes(spark, test_config):
    """An index an earlier writer left, which kept the staged postings of
    every committed batch under ``segments/`` (no flush record in the
    manifest) and wrote a snappy doc store, opens and serves as it is at
    the same ``format_version``; its next commit drops the committed
    batches' staged postings and keeps the stats exact."""
    import json
    import time

    from solr_spark.corpus import synth_corpus_pandas
    from solr_spark.index import build
    from solr_spark.index.build import InvertedIndex

    d = f"{BASE}/durable_segments"
    shutil.rmtree(d, ignore_errors=True)
    pdf = synth_corpus_pandas(240)
    pdf["doc_id"] = range(len(pdf))
    inc = IncrementalIndexer(spark, d, test_config)
    for lo, hi, dead in ((0, 200, []), (200, 220, [3])):
        inc.append_batch(spark.createDataFrame(pdf.iloc[lo:hi]), id_col="doc_id")
        inc.delete_by_ids(dead)
        want = _topk(inc.commit(), "server client")

    # the earlier writer's files: every committed batch staged, snappy docs
    for b in (0, 1):
        build._restage(spark, d, test_config, b)
    docs = os.path.join(d, "analyzed")
    spark.read.parquet(docs).write.option("compression", "snappy").partitionBy("batch").parquet(docs + "_snappy")
    shutil.rmtree(docs)
    os.replace(docs + "_snappy", docs)
    build._write_manifest(d, "analyzed", test_config, time.time())
    build._write_manifest(d, "segments", test_config, time.time())
    with open(os.path.join(d, "_MANIFEST_segments.json")) as f:
        assert "flushed" not in json.load(f)
    assert sorted(os.listdir(os.path.join(d, "segments"))) == ["batch=0", "batch=1"]

    idx = InvertedIndex(spark, d)
    assert idx.config.format_version == 3 and _topk(idx, "server client") == want
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(spark.createDataFrame(pdf.iloc[220:]), id_col="doc_id")
    idx = inc.commit()
    assert idx.record == ({0: [0], 1: [1], 2: [2]}, {1: [3]})
    assert os.listdir(os.path.join(d, "segments")) == []
    assert any(n.endswith(".snappy.parquet") for n in os.listdir(os.path.join(docs, "batch=0")))
    _assert_exact_stats(idx)
    _assert_flushed(idx)


@pytest.mark.parametrize("split", [None, "1k"], ids=["one_task", "exchange"])
def test_delta_segment_salts_the_terms_it_holds(spark, split):
    """A delta commit's partial sums a term's added and subtracted
    postings apart, and its segment salts the terms of which it holds
    more than ``hot_df_threshold`` live postings: a term hot in the base
    but rare in the batch is not salted there, and a term the batch adds
    as often as its deletes remove is. Both plans of the aggregate (one
    task while the scanned files fit one scan split, else an exchange)
    keep the stats exact."""
    from solr_spark.corpus import synth_corpus_pandas

    cfg = IndexConfig(hot_df_threshold=5, n_salts=4, block_size=64, n_term_buckets=8)
    d = f"{BASE}/delta_salt_{split}"
    shutil.rmtree(d, ignore_errors=True)
    pdf = synth_corpus_pandas(80)
    pdf["doc_id"] = range(len(pdf))
    for lo, hi, term in ((0, 29, "zzbase"), (60, 62, "zzbase"), (0, 9, "zzchurn"), (60, 67, "zzchurn")):
        pdf.loc[lo:hi, "content"] += f" {term}"
    inc = IncrementalIndexer(spark, d, cfg)
    inc.append_batch(spark.createDataFrame(pdf.iloc[:60]), id_col="doc_id")
    inc.commit()
    inc.append_batch(spark.createDataFrame(pdf.iloc[60:]), id_col="doc_id")
    inc.delete_by_ids(list(range(10)))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    if split:
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
    try:
        idx = inc.commit()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert idx.dict_gens == [0, 1]
    partial = spark.read.parquet(os.path.join(d, "term_dict", "commit=1"))
    assert _rows(partial.where(F.col("term") == "zzchurn").select("df", "cf")) == [(-10, -10), (8, 8)]
    salts = {(r["segment"], r["term"]): r["n"] for r in idx.blocks
             .where(F.col("term").isin("zzbase", "zzchurn"))
             .groupBy("segment", "term").agg(F.countDistinct("salt").alias("n")).collect()}
    assert salts[(1, "zzbase")] == 1 and salts[(1, "zzchurn")] > 1
    assert salts[(0, "zzbase")] > 1
    _assert_exact_stats(idx)


def test_handle_reads_only_committed_batches(spark, test_config):
    """A handle is a snapshot of its commit: a batch appended after it
    opened, and not committed, shows in neither its doc registry nor its
    postings."""
    d = f"{BASE}/snapshot_handle"
    shutil.rmtree(d, ignore_errors=True)
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(synth_corpus(spark, 60))
    idx = inc.commit()
    inc.append_batch(synth_corpus(spark, 10))
    assert idx.docs.count() == idx.n_docs == 60
    assert idx.segments.agg(F.sum("tf")).first()[0] == idx.meta["sum_doc_len"]


def test_delete_commit_scans_only_the_batches_it_deletes_from(spark, test_config, monkeypatch):
    """A commit that deletes only docs of batch 0 reads the docs of
    batch 0 alone to subtract their postings from the dictionary,
    however many batches its base holds, and keeps the stats exact."""
    from solr_spark.index import build

    d = f"{BASE}/delete_scan"
    shutil.rmtree(d, ignore_errors=True)
    inc = IncrementalIndexer(spark, d, test_config)
    for n in (60, 10, 10):
        inc.append_batch(synth_corpus(spark, n))
        inc.commit()
    inc.delete_by_ids([3, 7])
    read, reads = build._read_stage, []

    def spy(spark, out_dir, stage, paths=None, root=None):
        reads.append((stage, paths))
        return read(spark, out_dir, stage, paths, root)

    monkeypatch.setattr(build, "_read_stage", spy)
    idx = inc.commit()
    # the deleted docs' text, analyzed again: no staged postings are left
    assert reads == [("analyzed", ["batch=0"])]
    assert idx.dict_gens == [0, 1, 2, 3] and idx.n_docs == 78
    _assert_exact_stats(idx)


def test_merge_keeps_a_batch_of_docs_without_tokens(spark, test_config, monkeypatch):
    """A policy merge compacts the stages, which drops every row of a
    batch from ``segments/`` when none of its docs has a token; the
    merged commit still holds that batch, so N counts its docs and its
    id is not handed out again."""
    from solr_spark.corpus import synth_corpus_pandas
    from solr_spark.index.build import _batch_ids
    from solr_spark.streaming import incremental

    d = f"{BASE}/empty_batch_merge"
    shutil.rmtree(d, ignore_errors=True)
    pdf = synth_corpus_pandas(53)
    pdf["doc_id"] = range(len(pdf))
    pdf.loc[50:, "content"] = ""
    inc = IncrementalIndexer(spark, d, test_config)
    for lo, hi in ((0, 50), (50, 53)):
        inc.append_batch(spark.createDataFrame(pdf.iloc[lo:hi]), id_col="doc_id")
        inc.commit()
    monkeypatch.setattr(incremental, "MERGE_MAX_DELETED_FRAC", 0.0)
    inc.delete_by_ids([1])
    idx = inc.commit()
    assert idx.record == ({2: [0, 1]}, {}) and idx.n_docs == 52
    assert _batch_ids(d) == [0, 1]
    _assert_exact_stats(idx)


def test_merge_policy_bounds():
    """A commit merges past 8 segments, or past 20% of the indexed docs
    deleted, or past 1,000 deleted docs however large the index: every
    query plans one literal per deleted id."""
    from solr_spark.streaming.incremental import merge_due

    assert not merge_due(8, 0, 10)
    assert merge_due(9, 0, 10)
    assert not merge_due(1, 20, 100)
    assert merge_due(1, 21, 100)
    assert not merge_due(1, 1000, 10**6)
    assert merge_due(1, 1001, 10**6)


def test_windowed_stream_matches_batch(spark):
    """Append-mode watermarked windows must equal the batch window
    aggregation for every finalized window. Emission lags one
    micro-batch (a window is emitted in the first batch AFTER the
    watermark passes its end), so a final empty-ish drain flushes."""
    import datetime as dt

    from solr_spark.streaming import run_windowed_stream, windowed_agg

    base = f"{BASE}/win"
    shutil.rmtree(base, ignore_errors=True)
    watch, out, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    os.makedirs(watch)
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    schema = "ts timestamp, value double"
    aggs = {"n": F.count("*"), "total": F.round(F.sum("value"), 3)}
    rows1 = [(t0 + dt.timedelta(minutes=m), float(m)) for m in range(0, 60, 5)]
    rows2 = [(t0 + dt.timedelta(minutes=m), float(m)) for m in range(60, 130, 5)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(watch)
    run_windowed_stream(spark, watch, schema, "ts", "10 minutes", aggs,
                        out, ckpt, watermark="5 minutes")
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(watch)
    run_windowed_stream(spark, watch, schema, "ts", "10 minutes", aggs,
                        out, ckpt, watermark="5 minutes")
    # flush batch: a much-later row advances the watermark past b1+b2
    spark.createDataFrame([(t0 + dt.timedelta(hours=3), 0.0)], schema) \
        .coalesce(1).write.mode("append").parquet(watch)
    run_windowed_stream(spark, watch, schema, "ts", "10 minutes", aggs,
                        out, ckpt, watermark="5 minutes")

    got = {
        (r["window_start"], r["n"], r["total"])
        for r in spark.read.parquet(out).collect()
    }
    batch = windowed_agg(
        spark.createDataFrame(rows1 + rows2, schema), "ts", "10 minutes", aggs
    )
    expect = {(r["window_start"], r["n"], r["total"]) for r in batch.collect()}
    assert expect  # every b1+b2 window is now finalized
    assert expect <= got


def test_windowed_stream_drops_late_rows(spark):
    """A row older than the checkpointed watermark must be dropped
    (bounded-lateness state contract), not merged into its window."""
    import datetime as dt

    from solr_spark.streaming import run_windowed_stream

    base = f"{BASE}/late"
    shutil.rmtree(base, ignore_errors=True)
    watch, out, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    os.makedirs(watch)
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    schema = "ts timestamp, value double"
    aggs = {"n": F.count("*")}
    # run 1: t=0 plus t=120 → checkpointed watermark = 115 min
    rows1 = [(t0, 1.0), (t0 + dt.timedelta(minutes=120), 1.0)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(watch)
    run_windowed_stream(spark, watch, schema, "ts", "10 minutes", aggs,
                        out, ckpt, watermark="5 minutes")
    # run 2: a VERY late duplicate of t=0 (beyond the 5-minute bound) —
    # must be dropped before aggregation, so the t=0 window emits n=1
    rows2 = [(t0, 1.0), (t0 + dt.timedelta(minutes=130), 1.0)]
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(watch)
    run_windowed_stream(spark, watch, schema, "ts", "10 minutes", aggs,
                        out, ckpt, watermark="5 minutes")
    t0_rows = [r for r in spark.read.parquet(out).collect() if r["window_start"] == t0]
    assert len(t0_rows) == 1 and t0_rows[0]["n"] == 1


def test_doc_expiration_ttl(spark):
    from solr_spark.streaming.incremental import purge_expired, with_expiration

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-10 00:00:00"), (3, "2024-01-19 12:00:00")],
        "id long, ts_s string",
    ).select("id", F.to_timestamp("ts_s").alias("ts"))
    stamped = with_expiration(df, "ts", 72 * 3600)
    assert "expire_at" in stamped.columns
    live = purge_expired(stamped, "2024-01-20 00:00:00")
    # id=3 expires 2024-01-22 12:00 (> now, kept); ids 1,2 expired
    assert [r["id"] for r in live.collect()] == [3]
    # boundary: expire_at == now is expired (strictly-after survives)
    edge = purge_expired(stamped, "2024-01-22 12:00:00")
    assert edge.count() == 0


def test_commit_on_build_index_dir_keeps_base_docs(spark, test_config):
    """An indexer opened on a directory written by ``build_index`` keeps
    its base docs through append + delete + commit — by construction, as
    the build writes them as batch 0 of the indexer's own layout: answers
    equal the oracle over the surviving docs."""
    from solr_spark.corpus import synth_corpus_pandas
    from solr_spark.oracle import BruteForceIndex

    d = f"{BASE}/base_then_nrt"
    shutil.rmtree(d, ignore_errors=True)
    pdf = synth_corpus_pandas(260)
    pdf["doc_id"] = range(len(pdf))
    base, new = pdf.iloc[:220], pdf.iloc[220:]
    build_index(spark, spark.createDataFrame(base), d, test_config, id_col="doc_id")
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(spark.createDataFrame(new), id_col="doc_id")
    dead = [3, 50, 221]
    inc.delete_by_ids(dead)
    idx = inc.commit()

    survivors = pdf[~pdf["doc_id"].isin(dead)]
    oracle = BruteForceIndex(survivors)
    assert idx.n_docs == len(survivors)
    assert idx.docs.count() == len(survivors)
    eng = SearchEngine(idx)
    for q, mode in (("server client", "OR"), ("parse json", "AND"), ("import", "OR")):
        got = eng.topk(q, k=10, mode=mode).collect()
        exp = oracle.topk(q, k=10, mode=mode)
        assert [r["doc_id"] for r in got] == list(exp["doc_id"]), (q, mode)
        for r, es in zip(got, exp["score"]):
            assert abs(r["score"] - float(es)) <= 1e-5 * max(1.0, abs(es)), q

    # a build over the directory reads its corpus again: the batches
    # still hold the deleted docs, so it does not resume from them
    rebuilt = build_index(spark, spark.createDataFrame(survivors), d, test_config, id_col="doc_id")
    assert rebuilt.n_docs == len(survivors) and rebuilt.record == ({0: [0]}, {})


def test_stage_manifests_list_the_stage_files(spark, test_config):
    """The analyzed and segments manifests list exactly the files their
    stages hold: after an append and commit on a built directory (every
    batch, every row; the committed postings are flushed, counted in
    the segments manifest's rows), and after a policy merge compacts
    deleted docs out."""
    import json

    from solr_spark.index.build import _parquet_files

    d = f"{BASE}/manifests"
    shutil.rmtree(d, ignore_errors=True)

    def manifest(stage):
        with open(os.path.join(d, f"_MANIFEST_{stage}.json")) as f:
            m = json.load(f)
        assert m["files"] == _parquet_files(os.path.join(d, stage)), stage
        # segments: the flushed postings of the committed segments count too
        assert m["rows"] == sum(f["rows"] for f in m["files"]) + sum(m.get("flushed", {}).values()), stage
        return m

    build_index(spark, synth_corpus(spark, 200), d, test_config)
    inc = IncrementalIndexer(spark, d, test_config)
    assert inc.append_batch(synth_corpus(spark, 100)) == 100
    idx = inc.commit()
    analyzed = manifest("analyzed")
    assert analyzed["rows"] == 300
    assert {f["file"].split(os.sep)[0] for f in analyzed["files"]} == {"batch=0", "batch=1"}
    assert manifest("segments")["rows"] == idx.segments.count()

    inc.delete_by_ids(list(range(0, 300, 4)))  # 75 of 300 docs: past the 20% bound
    idx = inc.commit()
    assert idx.record == ({2: [0, 1]}, {})  # the policy merged
    assert manifest("analyzed")["rows"] == 225
    assert manifest("segments")["rows"] == idx.segments.count()


def test_resumed_build_ignores_an_indexers_commit(spark, test_config):
    """``build_index(resume=True)`` over a directory an indexer used
    indexes the corpus it is given, not the indexer's batches too:
    after a committed append, an uncommitted append, or a delete not
    committed yet (which must not survive into the rebuilt index)."""
    d = f"{BASE}/resume_foreign"
    shutil.rmtree(d, ignore_errors=True)
    corpus = synth_corpus(spark, 200)
    build_index(spark, corpus, d, test_config)
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(synth_corpus(spark, 100))
    inc.commit()
    idx = build_index(spark, corpus, d, test_config, resume=True)
    assert (idx.n_docs, idx.record) == (200, ({0: [0]}, {}))
    assert idx.docs.count() == 200

    IncrementalIndexer(spark, d, test_config).append_batch(synth_corpus(spark, 50))
    idx = build_index(spark, corpus, d, test_config, resume=True)
    assert (idx.n_docs, idx.docs.count()) == (200, 200)
    assert os.listdir(os.path.join(d, "analyzed")) == ["batch=0"]

    IncrementalIndexer(spark, d, test_config).delete_by_ids([0])
    build_index(spark, corpus, d, test_config, resume=True)
    assert not os.path.exists(os.path.join(d, "tombstones.json"))


def test_append_batch_releases_its_cache(spark, test_config):
    """append_batch persists the doc-id frame while it assigns ids; it
    must leave no persistent RDD behind."""
    d = f"{BASE}/no_leak"
    shutil.rmtree(d, ignore_errors=True)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    IncrementalIndexer(spark, d, test_config).append_batch(synth_corpus(spark, 80))
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= before


def test_killed_commit_keeps_its_deletes(spark, test_config, monkeypatch):
    """A commit killed after it wrote its term_dict partial but before
    it encoded its new segment must, when re-run, still drop
    the deleted docs' postings from every query (commit replay includes
    deletes)."""
    from solr_spark.index import build

    d = f"{BASE}/killed_commit"
    shutil.rmtree(d, ignore_errors=True)
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(synth_corpus(spark, 200))
    dead = [5, 17, 42]
    terms = [r["term"] for r in inc.commit().segments.where(F.col("doc_id").isin(dead))
             .select("term").distinct().limit(30).collect()]
    inc.delete_by_ids(dead)
    inc.append_batch(synth_corpus(spark, 20))

    def killed(*_args, **_kwargs):
        raise RuntimeError("killed in the blocks stage")

    with monkeypatch.context() as m:
        m.setattr(build, "_stage_blocks", killed)
        with pytest.raises(RuntimeError, match="killed"):
            inc.commit()
    idx = inc.commit()  # re-run after the kill
    assert idx.docs.where(F.col("doc_id").isin(dead)).count() == 0
    decoded = SearchEngine(idx).decode(idx.blocks)
    assert decoded.where(F.col("doc_id").isin(dead)).count() == 0
    assert decoded.select("doc_id").distinct().count() == 217
    hits = SearchEngine(idx).topk(" ".join(terms), k=200).collect()
    assert hits and not {r["doc_id"] for r in hits} & set(dead)


def test_restored_snapshot_recommits_pending_batch(spark, test_config):
    """A snapshot taken between an append and its commit, once restored,
    must not count that batch as merged: the next commit puts its
    postings into the blocks."""
    from solr_spark.corpus import synth_corpus_pandas
    from solr_spark.index.build import create_snapshot, restore_snapshot

    d = f"{BASE}/snap_pending"
    shutil.rmtree(d, ignore_errors=True)
    pdf = synth_corpus_pandas(240)
    pdf["doc_id"] = range(len(pdf))
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(spark.createDataFrame(pdf.iloc[:200]), id_col="doc_id")
    inc.commit()
    inc.append_batch(spark.createDataFrame(pdf.iloc[200:]), id_col="doc_id")
    create_snapshot(d, "pending")
    inc.commit()
    restore_snapshot(d, "pending")
    idx = inc.commit()
    assert idx.docs.count() == 240
    decoded = SearchEngine(idx).decode(idx.blocks).select("doc_id").distinct().collect()
    assert {r["doc_id"] for r in decoded} == set(range(240))


def test_append_rejects_repeated_explicit_ids(spark, test_config):
    """Explicit ids must be unique among the indexed docs: a batch whose
    ids repeat inside it or are held by another batch is rejected whole
    (the single-term fast path assumes unique (term, doc_id) postings)."""
    from solr_spark.corpus import synth_corpus_pandas

    d = f"{BASE}/dup_ids"
    shutil.rmtree(d, ignore_errors=True)
    pdf = synth_corpus_pandas(250)
    pdf["doc_id"] = range(len(pdf))
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(spark.createDataFrame(pdf.iloc[:200]), id_col="doc_id", batch_id=0)
    with pytest.raises(ValueError, match="repeat"):
        inc.append_batch(spark.createDataFrame(pdf.iloc[150:]), id_col="doc_id", batch_id=1)
    twice = pdf.iloc[200:].copy()
    twice.iloc[1, twice.columns.get_loc("doc_id")] = 200
    with pytest.raises(ValueError, match="repeat"):
        inc.append_batch(spark.createDataFrame(twice), id_col="doc_id", batch_id=1)
    for stage in ("analyzed", "segments"):
        assert os.listdir(os.path.join(d, stage)) == ["batch=0"]
    inc.append_batch(spark.createDataFrame(pdf.iloc[200:]), id_col="doc_id", batch_id=1)
    idx = inc.commit()
    assert idx.n_docs == 250
    assert idx.docs.groupBy("doc_id").count().where("count > 1").count() == 0


def test_append_rejects_a_source_that_changes_between_writes(spark, test_config, tmp_path):
    """With explicit ids the batch's two writes each evaluate the source.
    A source that answers differently the second time is rejected, not
    indexed with postings that disagree with its docs."""
    seen = str(tmp_path)

    def content(doc_id):
        # a doc's first evaluation gives one token, every later one two
        try:
            os.close(os.open(os.path.join(seen, str(doc_id)), os.O_CREAT | os.O_EXCL))
            return "server"
        except FileExistsError:
            return "server client"

    udf = F.udf(content, "string").asNondeterministic()
    src = spark.range(40).select(F.col("id").alias("doc_id"), udf("id").alias("content"))
    d = f"{BASE}/diverged"
    shutil.rmtree(d, ignore_errors=True)
    with pytest.raises(ValueError, match="different rows"):
        IncrementalIndexer(spark, d, test_config).append_batch(src, id_col="doc_id")
    for stage in ("analyzed", "segments"):
        assert not os.path.exists(os.path.join(d, stage, "batch=0"))
