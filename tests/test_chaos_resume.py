"""Kill/resume chaos at scale (VERDICT r4 item 8): SIGKILL a real build
process MID-BLOCKS-SHUFFLE at 240k docs, resume, and assert the blocks
are byte-identical to an uninterrupted build.

This is the UpdateLog-replay guarantee (``update/UpdateLog.java:178`` —
a crashed commit replays to the same state) expressed for the staged
batch build: manifests journal stage completion, an incomplete stage is
cleared and re-run on resume, and the result is bit-stable because every
stage is deterministic in the corpus (tested at 1200 docs by
test_resume_skips_completed_stages; THIS test does it with a real
process kill and the 240k corpus the scaling runs use).

Gated behind ``SPARK_GRAFT_CHAOS=1`` — it builds the 240k index three
times (~5-8 min on local[8]); run explicitly:

    SPARK_GRAFT_CHAOS=1 python -m pytest tests/test_chaos_resume.py -x -q

The incremental commit's kill test is small and runs in the default
suite: a process that commits an append plus deletes is SIGKILLed while
it writes its new segment, and re-running ``commit`` gives what an
uninterrupted commit gives.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

from pyspark.sql import functions as F

CHAOS = os.environ.get("SPARK_GRAFT_CHAOS") == "1"
N_DOCS = int(os.environ.get("SPARK_GRAFT_CHAOS_DOCS", "240000"))

_BUILD_SNIPPET = """
import sys
sys.path.insert(0, {repo!r})
from solr_spark.corpus import synth_corpus
from solr_spark.index.build import IndexConfig, build_index
from solr_spark.session import get_spark

spark = get_spark("chaos_victim", master="local[16]", shuffle_partitions=64)
corpus = synth_corpus(spark, {n})
cfg = IndexConfig(hot_df_threshold=max(1000, {n} // 4), n_salts=8)
build_index(spark, corpus, {out!r}, cfg, resume=False)
print("BUILD_DONE", flush=True)
"""


def _blocks_fingerprint(idx):
    """Order-insensitive content hash + row count of the blocks stage —
    cheap at 240k (one aggregation, no driver materialization)."""
    row = (
        idx.blocks.select(
            F.xxhash64(
                "term", "salt", "block_no", "n_docs", "min_doc_id",
                "max_doc_id", "doc_offsets", "tfs", "dls",
            )
            .cast("decimal(38,0)")  # summing 64-bit hashes overflows long
            .alias("h")
        )
        .agg(F.sum("h").alias("hsum"), F.count("*").alias("n"))
        .collect()[0]
    )
    return int(row["hsum"]), int(row["n"])


@pytest.mark.skipif(not CHAOS, reason="set SPARK_GRAFT_CHAOS=1 (3 builds at 240k docs)")
def test_sigkill_mid_blocks_then_resume_is_byte_identical(spark):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_kill = f"/tmp/solr_spark_chaos_kill_{N_DOCS}"
    out_ref = f"/tmp/solr_spark_chaos_ref_{N_DOCS}"
    shutil.rmtree(out_kill, ignore_errors=True)
    shutil.rmtree(out_ref, ignore_errors=True)

    # 1. launch a REAL build process and SIGKILL it once the blocks
    # stage is in flight (term_dict manifest journaled, blocks dir
    # created by the in-progress shuffle write, blocks manifest absent)
    proc = subprocess.Popen(
        [sys.executable, "-c", _BUILD_SNIPPET.format(repo=repo, n=N_DOCS, out=out_kill)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    deadline = time.time() + 900
    killed = False
    while time.time() < deadline and proc.poll() is None:
        blocks_started = os.path.isdir(os.path.join(out_kill, "blocks"))
        blocks_done = os.path.isfile(os.path.join(out_kill, "_MANIFEST_blocks.json"))
        if blocks_started and not blocks_done:
            time.sleep(1.0)  # land INSIDE the write, not at its first file
            if not os.path.isfile(os.path.join(out_kill, "_MANIFEST_blocks.json")):
                os.kill(proc.pid, signal.SIGKILL)
                killed = True
                break
        time.sleep(0.2)
    proc.wait(timeout=60)
    assert killed, "blocks stage finished before the kill window — raise N_DOCS"
    assert not os.path.isfile(os.path.join(out_kill, "_MANIFEST_blocks.json"))
    # earlier stages must be journaled complete (that's what resume trusts)
    assert os.path.isfile(os.path.join(out_kill, "_MANIFEST_term_dict.json"))

    # 2. resume in this session — only the blocks stage may rebuild
    from solr_spark.corpus import synth_corpus
    from solr_spark.index.build import IndexConfig, build_index

    corpus = synth_corpus(spark, N_DOCS)
    cfg = IndexConfig(hot_df_threshold=max(1000, N_DOCS // 4), n_salts=8)
    import json

    with open(os.path.join(out_kill, "_MANIFEST_analyzed.json")) as f:
        analyzed_before = json.load(f)["completed_at"]
    idx_resumed = build_index(spark, corpus, out_kill, cfg, resume=True)
    with open(os.path.join(out_kill, "_MANIFEST_analyzed.json")) as f:
        assert json.load(f)["completed_at"] == analyzed_before  # untouched

    # 3. uninterrupted reference build → byte-identical blocks
    idx_ref = build_index(spark, corpus, out_ref, cfg, resume=False)
    assert _blocks_fingerprint(idx_resumed) == _blocks_fingerprint(idx_ref)

    shutil.rmtree(out_kill, ignore_errors=True)
    shutil.rmtree(out_ref, ignore_errors=True)


_COMMIT_SNIPPET = """
import sys
sys.path.insert(0, {repo!r})
from solr_spark.index.build import IndexConfig
from solr_spark.session import get_spark
from solr_spark.streaming import IncrementalIndexer

spark = get_spark("commit_victim", master="local[2]", shuffle_partitions=2)
IncrementalIndexer(spark, {out!r}, IndexConfig(**{cfg!r})).commit()
print("COMMIT_DONE", flush=True)
"""


def test_sigkill_mid_commit_then_recommit_equals_uninterrupted(spark, test_config, tmp_path):
    """SIGKILL a process mid-commit (its new term_dict partial
    written, its new segment's blocks in flight, the commit point not yet
    written). Readers of the killed directory see the last commit only:
    its meta.json, term_dict and segments; re-running ``commit`` gives
    the term_dict, meta.json and top-k of an uninterrupted commit."""
    import dataclasses

    from solr_spark import admin
    from solr_spark.corpus import synth_corpus_pandas
    from solr_spark.index.build import InvertedIndex
    from solr_spark.query.engine import SearchEngine
    from solr_spark.streaming import IncrementalIndexer

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    killed, ref = str(tmp_path / "killed"), str(tmp_path / "ref")
    pdf = synth_corpus_pandas(700)
    pdf["doc_id"] = range(len(pdf))
    inc = IncrementalIndexer(spark, killed, test_config)
    inc.append_batch(spark.createDataFrame(pdf.iloc[:400]), id_col="doc_id")
    last = inc.commit()
    last_meta, last_terms = last.meta, sorted(map(tuple, last.term_dict.collect()))
    inc.append_batch(spark.createDataFrame(pdf.iloc[400:]), id_col="doc_id")
    inc.delete_by_ids([5, 17, 42, 450])
    shutil.copytree(killed, ref)  # the same pending commit, run without a kill

    snippet = _COMMIT_SNIPPET.format(repo=repo, out=killed, cfg=dataclasses.asdict(test_config))
    proc = subprocess.Popen([sys.executable, "-c", snippet],
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    new_segment = os.path.join(killed, "blocks", "segment=1")
    deadline = time.time() + 120
    while time.time() < deadline and proc.poll() is None and not os.path.isdir(new_segment):
        time.sleep(0.02)
    was_running = proc.poll() is None
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait(timeout=60)
    assert was_running and os.path.isdir(new_segment), "the commit ended before the kill"
    # the killed commit had written its own dictionary partial
    assert os.path.isdir(os.path.join(killed, "term_dict", "commit=1"))

    before = InvertedIndex(spark, killed)
    assert before.meta == last_meta  # stats and record of the last commit
    assert sorted(map(tuple, before.term_dict.collect())) == last_terms
    decoded = SearchEngine(before).decode(before.blocks).select("doc_id").distinct()
    assert decoded.count() == 400  # the killed segment is never read
    assert not [r for r in admin.segments_info(before).collect() if "segment=1" in r["stage"]]

    got = IncrementalIndexer(spark, killed, test_config).commit()
    want = IncrementalIndexer(spark, ref, test_config).commit()
    assert got.record == want.record
    assert sorted(map(tuple, got.term_dict.collect())) == sorted(map(tuple, want.term_dict.collect()))
    assert got.meta == want.meta
    for q, mode in (("server client", "OR"), ("parse json", "AND"), ("import", "OR")):
        assert SearchEngine(got).topk(q, k=10, mode=mode).collect() == \
            SearchEngine(want).topk(q, k=10, mode=mode).collect(), (q, mode)
