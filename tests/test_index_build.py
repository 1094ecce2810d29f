"""Index-build invariants: sha256 per row, doc stats, blocks, salting,
lineage manifests, resume, parallelism-invariance."""

import hashlib
import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from solr_spark.corpus import synth_corpus
from solr_spark.index.build import IndexConfig, build_index
from solr_spark.query.engine import SearchEngine


def _lists(cells):
    """Nested Python lists of a toPandas array column (numpy cells)."""
    return [c.tolist() if c.dtype != object else _lists(c) for c in cells]


def test_meta(index, oracle):
    assert index.n_docs == oracle.n_docs
    assert abs(index.avgdl - oracle.avgdl) < 1e-9


def test_content_sha256_invariant(index, oracle_corpus):
    """Per-row invariant (BASELINE.json input_hint): sha256(content) equality."""
    got = {r["doc_id"]: r["content_sha256"] for r in index.docs.select("doc_id", "content_sha256").collect()}
    assert len(got) == len(oracle_corpus)
    for row in oracle_corpus.itertuples():
        expected = hashlib.sha256(row.content.encode()).hexdigest()
        assert got[row.doc_id] == expected


def test_doc_ids_are_global_rank(index, oracle_corpus):
    rows = index.docs.select("doc_id", "repo", "path", "commit").collect()
    got = sorted((r["repo"], r["path"], r["commit"], r["doc_id"]) for r in rows)
    for i, (_, _, _, doc_id) in enumerate(got):
        assert doc_id == i


def test_doc_len_matches_oracle(index, oracle):
    got = {r["doc_id"]: r["doc_len"] for r in index.docs.select("doc_id", "doc_len").collect()}
    for doc_id, dl in zip(oracle.doc_ids, oracle.doc_len):
        assert got[int(doc_id)] == int(dl)


def test_term_dict_matches_oracle(index, oracle):
    """term_dict holds counts only, (term, df, cf); the engine's idf over
    them matches the oracle's."""
    rows = index.term_dict.collect()
    assert len(rows) == len(oracle.postings)
    assert index.term_dict.columns == ["term", "df", "cf"]
    for r in rows:
        t = r["term"]
        assert t in oracle.postings
        assert r["df"] == len(oracle.postings[t][0])
        assert r["cf"] == int(oracle.postings[t][1].sum())
    stats = SearchEngine(index)._term_stats(sorted(oracle.postings))
    assert len(stats) == len(oracle.postings)
    for s in stats:
        assert abs(s.idf - oracle.idf(s.term)) < 1e-12


def test_blocks_decode_to_postings(index, oracle, test_config):
    """Decode every block of a few terms; postings must equal the oracle's."""
    terms = ["import", "value", "config"]
    doc_id_of_row = {i: int(d) for i, d in enumerate(oracle.doc_ids)}
    for term in terms:
        if term not in oracle.postings:
            continue
        blocks = index.blocks.where(F.col("term") == term).collect()
        got = {}
        for b in blocks:
            ids = [b["min_doc_id"] + o for o in b["doc_offsets"]]
            tfs, dls = b["tfs"], b["dls"]
            assert len(ids) == b["n_docs"] == len(tfs) == len(dls)
            assert int(ids[0]) == b["min_doc_id"] and int(ids[-1]) == b["max_doc_id"]
            assert b["n_docs"] <= test_config.block_size
            for d, tf in zip(ids, tfs):
                got[int(d)] = int(tf)
        rows, tfs = oracle.postings[term]
        expected = {doc_id_of_row[int(r)]: int(tf) for r, tf in zip(rows, tfs)}
        assert got == expected


def test_hot_terms_are_salted(index, test_config):
    hot = [r["term"] for r in index.term_dict.where(F.col("df") > test_config.hot_df_threshold).collect()]
    assert hot, "test corpus must contain hot terms above threshold"
    n_salts = (
        index.blocks.where(F.col("term").isin(hot))
        .select("term", "salt").distinct()
        .groupBy("term").count().collect()
    )
    assert any(r["count"] > 1 for r in n_salts), "salting did not split any hot term"
    cold_salts = index.blocks.where(~F.col("term").isin(hot)).select("salt").distinct().collect()
    assert [r["salt"] for r in cold_salts] == [0]


def test_block_bound_metadata_is_sound(index):
    """(max_tf, min_dl) must be the true block extremes, and the derived
    impact bound idf·max_tf/(max_tf+k1(1-b+b·min_dl/avgdl)) must
    dominate every decoded posting's impact (BMW soundness with
    stats-independent metadata)."""
    k1, b, avgdl = index.config.k1, index.config.b, index.avgdl
    idf = {r["term"]: r["idf"] for r in index.term_dict.select(
        "term", SearchEngine(index).idf(F.col("df")).alias("idf")).collect()}
    sample = index.blocks.limit(200).collect()
    for blk in sample:
        tfs = np.asarray(blk["tfs"], dtype=np.float64)
        dls = np.asarray(blk["dls"], dtype=np.float64)
        assert int(tfs.max()) == blk["max_tf"]
        assert int(dls.min()) == blk["min_dl"]
        impacts = idf[blk["term"]] * tfs / (tfs + k1 * (1 - b + b * dls / avgdl))
        mt, mdl = float(blk["max_tf"]), float(blk["min_dl"])
        bound = idf[blk["term"]] * mt / (mt + k1 * (1 - b + b * mdl / avgdl))
        assert impacts.max() <= bound + 1e-12


def test_manifests_lineage(index):
    ms = index.manifests()
    assert set(ms) == {"analyzed", "segments", "term_dict", "blocks"}
    # the build writes its docs and postings as batch 0, the layout an
    # incremental append adds to; the staged postings are flushed once
    # the build's commit lands, and the segments manifest keeps their
    # count as the postings segment 0's blocks hold
    assert os.listdir(os.path.join(index.dir, "analyzed")) == ["batch=0"]
    assert os.listdir(os.path.join(index.dir, "segments")) == []
    held = index.blocks.agg(F.sum("n_docs")).first()[0]
    assert ms["segments"]["flushed"] == {"0": held} and ms["segments"]["files"] == []
    for stage, m in ms.items():
        assert m["rows"] > 0
        assert m["n_files"] == len(m["files"])
        assert sum(f["rows"] for f in m["files"]) + sum(m.get("flushed", {}).values()) == m["rows"]
        assert m["config_hash"] == index.config.config_hash()
        assert m["wall_sec"] >= 0


def test_resume_skips_completed_stages(spark, index, test_config, tmp_path):
    """Delete the blocks stage, resume → only blocks rebuilds, bit-identical."""
    out = str(tmp_path / "resume_idx")
    shutil.copytree(index.dir, out)
    before = spark.read.parquet(os.path.join(out, "blocks"))
    before_pd = before.orderBy("term", "salt", "block_no").toPandas()
    # simulate a crash during the blocks stage
    shutil.rmtree(os.path.join(out, "blocks"))
    os.remove(os.path.join(out, "_MANIFEST_blocks.json"))
    with open(os.path.join(out, "_MANIFEST_analyzed.json")) as f:
        analyzed_before = json.load(f)["completed_at"]

    corpus = synth_corpus(spark, 10)  # wrong corpus — must NOT be re-read
    idx2 = build_index(spark, corpus, out, test_config, resume=True)
    # earlier stages untouched (the tiny corpus would have changed them)
    with open(os.path.join(out, "_MANIFEST_analyzed.json")) as f:
        assert json.load(f)["completed_at"] == analyzed_before
    assert idx2.n_docs == index.n_docs
    after_pd = idx2.blocks.orderBy("term", "salt", "block_no").toPandas()
    assert len(before_pd) == len(after_pd)
    for col in ["term", "salt", "block_no", "n_docs", "min_doc_id", "max_doc_id"]:
        assert list(before_pd[col]) == list(after_pd[col]), col
    for col in ["doc_offsets", "tfs", "dls", "positions"]:
        assert _lists(before_pd[col]) == _lists(after_pd[col]), col


def test_resume_after_the_flush(spark, small_index, tmp_path):
    """A finished build flushed its staged postings. A resume that must
    write its dictionary partial again, or its blocks again, stages
    batch 0's postings again from the doc store first (the wrong corpus
    it is given is not read), writes them row for row as before, and
    flushes them again."""
    ref, _corpus = small_index
    out = str(tmp_path / "flushed")
    shutil.copytree(ref.dir, out)
    wrong = synth_corpus(spark, 10)

    def partial(d):
        return sorted(map(tuple, spark.read.parquet(os.path.join(d, "term_dict", "commit=0")).collect()))

    def blocks(idx):
        return idx.blocks.drop("segment", "term_bucket").orderBy("term", "salt", "block_no").toPandas()

    for stage in ("term_dict", "blocks"):
        os.remove(os.path.join(out, f"_MANIFEST_{stage}.json"))
        idx = build_index(spark, wrong, out, ref.config, resume=True)
        assert (idx.n_docs, idx.meta["sum_doc_len"]) == (ref.n_docs, ref.meta["sum_doc_len"])
        assert partial(out) == partial(ref.dir), stage
        got, want = blocks(idx), blocks(ref)
        assert list(got["term"]) == list(want["term"]) and list(got["salt"]) == list(want["salt"])
        for col in ["block_no", "n_docs", "min_doc_id", "max_doc_id"]:
            assert list(got[col]) == list(want[col]), (stage, col)
        for col in ["doc_offsets", "tfs", "dls", "positions"]:
            assert _lists(got[col]) == _lists(want[col]), (stage, col)
        assert os.listdir(os.path.join(out, "segments")) == []
        assert idx.manifests()["segments"]["rows"] == ref.manifests()["segments"]["rows"]


def test_build_keeps_caller_caches(spark, test_config, tmp_path):
    """build_index releases only the frame it persisted: a DataFrame the
    caller persisted stays cached across the build."""
    from pyspark import StorageLevel

    mine = synth_corpus(spark, 60).persist()
    mine.count()
    build_index(spark, synth_corpus(spark, 80), str(tmp_path / "cache_idx"), test_config)
    assert mine.storageLevel != StorageLevel.NONE
    mine.unpersist()


def test_parallelism_invariance(spark, index, test_config, tmp_path):
    """Same corpus at different partitioning → identical index content.

    This is the property that makes the N vs 4N scaling runs comparable
    and doc_ids stable across cluster sizes."""
    out = str(tmp_path / "par3_idx")
    corpus3 = synth_corpus(spark, 1200, partitions=3)  # vs default 8
    idx3 = build_index(spark, corpus3, out, test_config)
    a = index.blocks.orderBy("term", "salt", "block_no").toPandas()
    b = idx3.blocks.orderBy("term", "salt", "block_no").toPandas()
    assert len(a) == len(b)
    assert list(a["term"]) == list(b["term"])
    assert list(a["min_doc_id"]) == list(b["min_doc_id"])
    for col in ["doc_offsets", "tfs", "positions"]:
        assert _lists(a[col]) == _lists(b[col]), col


def test_xxhash64_py_matches_spark(spark):
    """The driver-side XXH64 mirror must be bit-identical to Spark's
    xxhash64 expression (term → bucket routing depends on it)."""
    from pyspark.sql import functions as F

    from solr_spark.functions.hashing import xxhash64_py

    terms = ["import", "def", "", "a", "x" * 31, "y" * 32, "z" * 100,
             "getUserName", "längër-ünïcode-ßtring", "snake_case_name"]
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", F.xxhash64("term").alias("h"),
                F.pmod(F.xxhash64("term"), F.lit(8)).cast("int").alias("b"))
        .collect()
    )
    for r in rows:
        assert xxhash64_py(r["term"]) == r["h"], r["term"]
        assert xxhash64_py(r["term"]) % 8 == r["b"], r["term"]


def test_payload_postings_roundtrip(spark, tmp_path):
    """with_payloads stores a per-occurrence payload stream (frozen
    function (len(token)+position) mod 8) that survives the codec:
    payload_score(sum) equals a driver-side recompute from stored_text."""
    from solr_spark.query.engine import SearchEngine
    from solr_spark.query.payload import payload_check, payload_score

    cfg = IndexConfig(
        block_size=8, hot_df_threshold=100, n_salts=2, n_term_buckets=4,
        with_payloads=True,
    )
    corpus = synth_corpus(spark, 300)
    idx = build_index(spark, corpus, str(tmp_path / "pidx"), cfg)
    eng = SearchEngine(idx)
    got = {r["doc_id"]: r["score"] for r in payload_score(eng, "import", "sum", k=5).collect()}

    chain = cfg.chain()
    expect = {}
    for r in idx.docs.select("doc_id", "stored_text").collect():
        toks = chain.tokenize_py(r["stored_text"])
        s = sum((len(t) + i) % 8 for i, t in enumerate(toks) if t == "import")
        if any(t == "import" for t in toks):
            expect[r["doc_id"]] = float(s)
    top = dict(sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:5])
    assert got == top

    # payload_check: every hit doc really has an occurrence with pay==3
    for r in payload_check(eng, "import", payload=3, k=5).collect():
        toks = chain.tokenize_py(
            idx.docs.where(F.col("doc_id") == r["doc_id"]).collect()[0]["stored_text"]
        )
        assert any(t == "import" and (len(t) + i) % 8 == 3 for i, t in enumerate(toks))


def test_arrow_postings_kernel_edge_cases(spark):
    """Empty-token docs and unicode terms through the mapInArrow
    postings kernel."""
    import pandas as pd

    from solr_spark.index.build import IndexConfig, build_postings

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "doc_len": [0, 3, 0, 2],
            "tokens": [[], ["héllo", "wörld", "héllo"], [], ["a", "a"]],
        }
    )
    df = spark.createDataFrame(pdf).repartition(2)
    out = build_postings(df, IndexConfig()).orderBy("doc_id", "term").collect()
    got = [(r["doc_id"], r["term"], r["tf"], list(r["positions"])) for r in out]
    assert got == [
        (1, "héllo", 2, [0, 2]),
        (1, "wörld", 1, [1]),
        (3, "a", 2, [0, 1]),
    ]


def test_snapshot_restore_roundtrip(spark, index, test_config, tmp_path):
    """BACKUPCORE/RESTORECORE analog: snapshot, clobber the live blocks,
    restore → queries answer identically to the pre-snapshot state."""
    from solr_spark.index.build import InvertedIndex, create_snapshot, restore_snapshot
    from solr_spark.query.engine import SearchEngine

    out = str(tmp_path / "snap_idx")
    shutil.copytree(index.dir, out)
    eng = SearchEngine(InvertedIndex(spark, out))
    before = [(r["doc_id"], r["score"]) for r in eng.topk("server data", k=10).collect()]

    snap = create_snapshot(out, "pre")
    assert os.path.isdir(os.path.join(snap, "blocks"))
    with pytest.raises(ValueError):
        create_snapshot(out, "pre")  # duplicate names refused

    # clobber the live index (truncate blocks to nothing)
    shutil.rmtree(os.path.join(out, "blocks"))
    os.makedirs(os.path.join(out, "blocks"))

    restore_snapshot(out, "pre")
    eng2 = SearchEngine(InvertedIndex(spark, out))
    after = [(r["doc_id"], r["score"]) for r in eng2.topk("server data", k=10).collect()]
    assert after == before
    # a completed restore leaves no journal marker or temp tree behind
    from solr_spark.index.build import pending_restore
    assert pending_restore(out) is None
    assert not os.path.exists(os.path.join(out, ".restore-tmp"))

    with pytest.raises(ValueError):
        restore_snapshot(out, "nope")

    # interrupted restore: simulate a crash mid-swap (marker written, a
    # live stage already deleted) — pending_restore names the snapshot and
    # re-running it heals the index idempotently
    with open(os.path.join(out, ".restore-inprogress"), "w") as f:
        f.write("pre")
    shutil.rmtree(os.path.join(out, "blocks"))
    assert pending_restore(out) == "pre"
    restore_snapshot(out, pending_restore(out))
    assert pending_restore(out) is None
    eng3 = SearchEngine(InvertedIndex(spark, out))
    healed = [(r["doc_id"], r["score"]) for r in eng3.topk("server data", k=10).collect()]
    assert healed == before


def test_sorted_projection_early_termination(spark, tmp_path):
    """segmentTerminateEarly analog: sorted top-k over the range-sorted
    projection equals a full sort, reads ONLY the covering leading range
    directories (partition pruning), and the desc path mirrors it."""
    from solr_spark.index.sorted import build_sorted_projection

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 37 % 101).alias("key"),
    )
    out = str(tmp_path / "sorted_proj")
    proj = build_sorted_projection(df, out, key="key", tiebreak="doc_id",
                                   num_ranges=8)
    assert len(proj.ranges) == 8 and sum(r["n"] for r in proj.ranges) == 500

    expect = [(r["doc_id"], r["key"]) for r in
              df.orderBy("key", "doc_id").limit(30).collect()]
    got_df = proj.topk(30, fl=["doc_id", "key"])
    got = [(r["doc_id"], r["key"]) for r in got_df.collect()]
    assert got == expect

    # early termination is real: the covering set is a strict subset and
    # the scan's partition filter prunes to it
    picked = proj._covering_ranges(30, desc=False)
    assert picked == [0] or (len(picked) < 8 and picked[0] == 0)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "_srange" in plan

    # ties at the boundary stay deterministic via the tiebreak column
    expect_desc = [(r["doc_id"], r["key"]) for r in
                   df.orderBy(F.desc("key"), F.desc("doc_id")).limit(30).collect()]
    got_desc = [(r["doc_id"], r["key"]) for r in
                proj.topk(30, fl=["doc_id", "key"], desc=True).collect()]
    assert got_desc == expect_desc

    # k spanning several ranges still matches the full sort
    k_wide = 200
    expect_wide = [r["doc_id"] for r in df.orderBy("key", "doc_id").limit(k_wide).collect()]
    got_wide = [r["doc_id"] for r in
                proj.topk(k_wide, fl=["doc_id"]).collect()]
    assert got_wide == expect_wide
    assert len(proj._covering_ranges(k_wide, desc=False)) > 1


def test_iceberg_catalog_gating(spark, index):
    """Iceberg publication is gated: in this sandbox (no
    iceberg-spark-runtime jar) availability is False and publish raises
    a RuntimeError that names the spark-submit fix, without touching
    the index."""
    from solr_spark.index import catalog as cat

    assert cat.iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        cat.publish_index(index, "ice", "solr")
    with pytest.raises(RuntimeError):
        cat.read_stage(spark, "ice", "solr", "blocks")
    # the stage->partition map matches the parquet layout the build writes
    assert cat.STAGE_PARTITIONING["blocks"] == ["segment", "term_bucket"]
    assert cat.STAGE_PARTITIONING["analyzed"] == ["batch"]
    # the postings are published as the live postings decoded from the blocks
    assert cat.STAGE_PARTITIONING["segments"] == ["segment"] and "segment" in index.segments.columns


def test_murmur3_routing_golden_vectors():
    """Vectorized MurmurHash3 x86_32 matches the published test vectors
    (public-domain reference values) — block path, all three tail
    lengths, and the empty string."""
    import pandas as pd

    from solr_spark.index.routing import murmur3_x86_32_batch

    vecs = {
        "": 0x00000000,
        "a": 0x3C2569B2,
        "ab": 0x9BBFD75F,
        "abc": 0xB3DD93FA,
        "abcd": 0x43ED676A,
        "hello": 0x248BFA47,
        "hello, world": 0x149BBB7F,
        "The quick brown fox jumps over the lazy dog": 0x2E4FF723,
    }
    got = murmur3_x86_32_batch(pd.Series(list(vecs)))
    for (s, exp), g in zip(vecs.items(), got):
        assert int(np.uint32(g)) == exp, s


def test_composite_id_routing(spark):
    """route!id blending: same route key -> same top-16 hash bits -> one
    shard (2^16-aligned shard ranges never split a route); plain ids
    spread across shards."""
    from solr_spark.index.routing import composite_id_hash, route_shard

    df = spark.createDataFrame(
        [(f"r{i % 5}!doc{i}",) for i in range(200)]
        + [(f"doc{i}",) for i in range(200)],
        "id string",
    )
    out = df.select(
        "id",
        composite_id_hash(F.col("id")).alias("h"),
        route_shard(F.col("id"), 8).alias("shard"),
    ).collect()
    by_route: dict[str, set] = {}
    plain_shards = set()
    for r in out:
        assert r["shard"] is not None and 0 <= r["shard"] < 8
        if "!" in r["id"]:
            route = r["id"].split("!")[0]
            by_route.setdefault(route, set()).add(r["shard"])
            by_route.setdefault(route + "_top", set()).add(r["h"] & 0xFFFF0000)
        else:
            plain_shards.add(r["shard"])
    for route in ("r0", "r1", "r2", "r3", "r4"):
        assert len(by_route[route]) == 1, route          # co-located
        assert len(by_route[route + "_top"]) == 1, route  # top bits shared
    assert len(plain_shards) > 4  # un-routed ids spread


def test_murmur3_property_vs_scalar_reference():
    """Property test: the vectorized batch murmur3 equals an independent
    scalar implementation on random unicode strings (any length mix in
    one batch — exercises the column-masked block loop + all tails)."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from solr_spark.index.routing import murmur3_x86_32_batch

    def scalar_m3(data: bytes, seed: int = 0) -> int:
        c1, c2, M = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF
        h = seed
        nblocks = len(data) // 4
        for i in range(nblocks):
            k = int.from_bytes(data[4 * i: 4 * i + 4], "little")
            k = (k * c1) & M
            k = ((k << 15 | k >> 17) & M) * c2 & M
            h ^= k
            h = ((h << 13 | h >> 19) & M) * 5 + 0xE6546B64 & M
        tail = data[nblocks * 4:]
        k = 0
        if len(tail) >= 3:
            k ^= tail[2] << 16
        if len(tail) >= 2:
            k ^= tail[1] << 8
        if len(tail) >= 1:
            k ^= tail[0]
            k = (k * c1) & M
            k = ((k << 15 | k >> 17) & M) * c2 & M
            h ^= k
        h ^= len(data)
        h ^= h >> 16
        h = (h * 0x85EBCA6B) & M
        h ^= h >> 13
        h = (h * 0xC2B2AE35) & M
        h ^= h >> 16
        return h

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.text(max_size=40), min_size=1, max_size=30))
    def check(batch):
        got = murmur3_x86_32_batch(pd.Series(batch))
        for s, g in zip(batch, got):
            assert int(np.uint32(g)) == scalar_m3(s.encode("utf-8")), repr(s)

    check()


def test_hot_term_spans_multiple_shuffle_partitions(spark, index, test_config):
    """The blocks shuffle key must include salt: hashing on term_bucket
    alone would put a hot term's entire posting run on ONE reducer (the
    100-TB straggler). Asserted on the real shuffle input builder."""
    from solr_spark.index.build import _blocks_shuffle_input

    shuffled = _blocks_shuffle_input(index.segments, index.term_dict, test_config)
    # hotness comes from a BROADCAST of the (tiny) hot set — never a
    # sort-merge join of the posting stream against the full vocabulary.
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    hot = [r["term"] for r in index.term_dict.where(F.col("df") > test_config.hot_df_threshold).collect()]
    assert hot
    per_term = (
        shuffled.withColumn("pid", F.spark_partition_id())
        .where(F.col("term").isin(hot))
        .groupBy("term")
        .agg(F.countDistinct("pid").alias("n_pids"), F.countDistinct("salt").alias("n_salts"))
        .collect()
    )
    # every hot term is split into >1 salt sub-stream; at least one of
    # those sub-streams lands on a different reducer (with 8 buckets x 4
    # salts hash collisions can co-locate SOME pairs, but not all).
    assert all(r["n_salts"] > 1 for r in per_term)
    assert any(r["n_pids"] > 1 for r in per_term), (
        "salt is not in the shuffle key: hot-term postings all on one reducer"
    )
    # and each (term, salt) group still lives wholly inside one partition
    # (the streaming encoder requires contiguous whole groups).
    split_groups = (
        shuffled.withColumn("pid", F.spark_partition_id())
        .groupBy("term", "salt")
        .agg(F.countDistinct("pid").alias("n_pids"))
        .where("n_pids > 1")
        .count()
    )
    assert split_groups == 0


def test_run_packed_exchange_matches_reference_encoder(spark, index, test_config, tmp_path):
    """The written blocks — run packing, the (term_bucket, salt) exchange,
    the reducer's run concat + segmented decode and the vectorized block
    cut — equal the independent per-block reference encoder run over the
    same salted postings sorted by (term, salt, doc_id). On the shared
    test index (positions) and on a small with_payloads build."""
    from solr_spark.index.build import _BLOCK_COLS, _salted_postings
    from tests.reference_encoder import encode_group_rows

    pcfg = IndexConfig(
        block_size=8, hot_df_threshold=100, n_salts=2, n_term_buckets=4,
        with_payloads=True,
    )
    pidx = build_index(spark, synth_corpus(spark, 300), str(tmp_path / "pidx"), pcfg)
    for idx, cfg in [(index, test_config), (pidx, pcfg)]:
        postings = (
            _salted_postings(idx.segments, idx.term_dict, cfg)
            .toPandas()
            .sort_values(["term", "salt", "doc_id"], kind="stable")
            .reset_index(drop=True)
        )
        ref = encode_group_rows(postings, cfg.block_size, cfg.with_positions, cfg.with_payloads)
        key = lambda r: (r["term"], r["salt"], r["block_no"])  # noqa: E731
        want = sorted(ref.to_dict("records"), key=key)
        got = sorted(
            (r.asDict() for r in idx.blocks.select(*_BLOCK_COLS).collect()), key=key
        )
        assert len(got) == len(want) and len(got) > 0
        assert any(r["salt"] > 0 for r in got)  # hot-term salting exercised
        for g, w in zip(got, want):
            assert g == w, (g["term"], g["salt"], g["block_no"])


@pytest.fixture(scope="module")
def small_index(spark, test_config, tmp_path_factory):
    """A fresh current-layout build of a small corpus, and the corpus."""
    corpus = synth_corpus(spark, 200)
    out = str(tmp_path_factory.mktemp("small") / "idx")
    return build_index(spark, corpus, out, test_config), corpus


def _earlier_layout(src: str, dst: str, layout: str) -> None:
    """Copy the current-layout index ``src`` to ``dst`` as a writer of an
    earlier version left it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.copytree(src, dst)
    if layout in ("no_partials", "reversed_dict", "derived_dict"):
        # one dictionary per commit, before meta.json named the partials
        # that sum to it; earlier still, a reversed copy beside it, and
        # before that, derived columns in it too
        path = os.path.join(dst, "meta.json")
        with open(path) as f:
            meta = json.load(f)
        del meta["term_dicts"]
        with open(path, "w") as f:
            json.dump(meta, f)
        if layout != "no_partials":
            _reversed_dictionary(dst)
        if layout == "derived_dict":
            _derived_dictionary_columns(dst)
        return
    if layout == "tombstones_dir":
        # an indexer that appended a batch and recorded a delete but never
        # committed: no manifests, no meta.json, pending deletes as Parquet
        for n in os.listdir(dst):
            if n not in ("analyzed", "segments"):
                p = os.path.join(dst, n)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        os.makedirs(os.path.join(dst, "tombstones"))
        pq.write_table(pa.table({"doc_id": pa.array([3], pa.int64())}),
                       os.path.join(dst, "tombstones", "part-00000.parquet"))
        return
    # before segments and commit generations: flat blocks and dictionaries,
    # and no commit record in meta.json
    subs = [("blocks", "segment=0"), ("term_dict", "commit=0")]
    if layout != "flat_blocks":  # before batches too: loose stage files
        subs += [("analyzed", "batch=0"), ("segments", "batch=0")]
    for stage, sub in subs:
        part = os.path.join(dst, stage, sub)
        if not os.path.isdir(part):  # the build's staged postings, flushed
            continue
        for n in os.listdir(part):
            os.replace(os.path.join(part, n), os.path.join(dst, stage, n))
        os.rmdir(part)
    strip = {"meta.json": ("commit", "segments", "deleted"),
             "_MANIFEST_term_dict.json": ("schema", "n_docs", "sum_doc_len", "avgdl")}
    for name in os.listdir(dst):
        if name.startswith("_MANIFEST_") or name == "meta.json":
            path = os.path.join(dst, name)
            with open(path) as f:
                m = json.load(f)
            for key in strip.get(name, ("schema",)):
                del m[key]
            if name == "meta.json" and layout == "format_v2":
                m["config"]["format_version"] = 2
            with open(path, "w") as f:
                json.dump(m, f)


#: each earlier layout, and the reason the refusal names
_EARLIER_LAYOUTS = {
    "format_v2": "format_version 2",
    "loose_stages": "no commit record",
    "flat_blocks": "no commit record",
    "tombstones_dir": "tombstones/",
    "no_partials": "names no term_dict partials",
    "reversed_dict": "names no term_dict partials",
    "derived_dict": "names no term_dict partials",
}


@pytest.mark.parametrize("layout", list(_EARLIER_LAYOUTS))
def test_earlier_layout_refused_then_rebuilt(spark, small_index, tmp_path, layout):
    """A directory an earlier version wrote (format v2; loose stage files;
    flat blocks and dictionaries; pending deletes in a ``tombstones/``
    Parquet directory; a meta.json that names no dictionary partials,
    beside a reversed dictionary copy or derived ``idf``/``is_hot``
    columns) is refused by ``InvertedIndex`` and ``IncrementalIndexer``
    with a rebuild hint before any Spark job runs. A resumed
    ``build_index`` rebuilds it from its corpus: it answers like a fresh
    build and keeps nothing of the earlier layout but ``snapshots/``."""
    from solr_spark.index.build import InvertedIndex
    from solr_spark.query.engine import SearchEngine
    from solr_spark.streaming import IncrementalIndexer

    ref, corpus = small_index
    reason = _EARLIER_LAYOUTS[layout]
    d = str(tmp_path / layout)
    _earlier_layout(ref.dir, d, layout)
    sc, group = spark.sparkContext, f"layout_{layout}"
    sc.setJobGroup(group, group)
    try:
        if os.path.exists(os.path.join(d, "meta.json")):
            with pytest.raises(ValueError, match=f"{reason}.*rebuild"):
                InvertedIndex(spark, d)
        with pytest.raises(ValueError, match=f"{reason}.*rebuild"):
            IncrementalIndexer(spark, d, ref.config)
    finally:
        sc.setJobGroup("idle", "idle")
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    os.makedirs(os.path.join(d, "snapshots", "kept"))
    idx = build_index(spark, corpus, d, ref.config, resume=True)
    q = "server data"
    assert SearchEngine(idx).topk(q, k=10).collect() == SearchEngine(ref).topk(q, k=10).collect()
    assert sorted(os.listdir(d)) == sorted(os.listdir(ref.dir) + ["snapshots"])
    assert os.listdir(os.path.join(d, "snapshots")) == ["kept"]
    for stage, kept in (("analyzed", ["batch=0"]), ("segments", []), ("blocks", ["segment=0"]),
                        ("term_dict", ["commit=0"])):
        assert os.listdir(os.path.join(d, stage)) == kept, stage
    assert idx.term_dict.columns == ["term", "df", "cf"] and idx.dict_gens == [0]


def _reversed_dictionary(d: str) -> None:
    """Add the reversed dictionary copy an earlier writer kept:
    ``term_dict_rev/commit=0``, range-sorted by the reversed term."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    t = ds.dataset(os.path.join(d, "term_dict", "commit=0"), format="parquet").to_table()
    t = t.append_column("term_rev", pa.array([x[::-1] for x in t.column("term").to_pylist()]))
    os.makedirs(os.path.join(d, "term_dict_rev", "commit=0"))
    pq.write_table(t.sort_by("term_rev"), os.path.join(d, "term_dict_rev", "commit=0", "part-00000.parquet"))


def _derived_dictionary_columns(d: str) -> None:
    """Add the derived ``idf`` and ``is_hot`` columns an earlier writer
    kept in the ``term_dict`` generation (and its manifest schema)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    n, hot = meta["n_docs"], meta["config"]["hot_df_threshold"]
    gen = os.path.join(d, "term_dict", "commit=0")
    for name in sorted(os.listdir(gen)):
        if name.endswith(".parquet"):
            t = pq.read_table(os.path.join(gen, name))
            df = t.column("df").to_numpy().astype(np.float64)
            t = t.append_column("idf", pa.array(np.log1p((n - df + 0.5) / (df + 0.5))))
            t = t.append_column("is_hot", pc.greater(t.column("df"), hot))
            pq.write_table(t, os.path.join(gen, name))
            os.remove(os.path.join(gen, f".{name}.crc"))  # Hadoop's checksum of the old bytes
    path = os.path.join(d, "_MANIFEST_term_dict.json")
    with open(path) as f:
        m = json.load(f)
    m["schema"]["fields"] += [
        {"name": "idf", "type": "double", "nullable": True, "metadata": {}},
        {"name": "is_hot", "type": "boolean", "nullable": False, "metadata": {}},
    ]
    with open(path, "w") as f:
        json.dump(m, f)


def test_time_routed_partition_pruning(spark, tmp_path):
    """TimeRoutedAlias analog: the time-range read carries a partition
    filter on route_window (Catalyst prunes non-covering directories)
    and returns exactly the rows the raw ts predicate selects."""
    from pyspark.sql import functions as F

    from solr_spark.index.time_routed import read_time_range, write_time_routed

    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 9:02d} 12:00:00", float(i)) for i in range(90)],
        "event_id long, ts_s string, value double",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    path = str(tmp_path / "routed")
    write_time_routed(df, path, ts_col="ts")

    out = read_time_range(spark, path, "2024-01-03 00:00:00", "2024-01-05 00:00:00")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "route_window" in plan and "PartitionFilters" in plan

    got = {r["event_id"] for r in out.collect()}
    exp = {
        r["event_id"]
        for r in df.where(
            (F.col("ts") >= "2024-01-03") & (F.col("ts") < "2024-01-05")
        ).collect()
    }
    assert got == exp and got  # non-empty and exact

    import pytest as _pytest

    with _pytest.raises(ValueError, match="interval"):
        write_time_routed(df, path, interval="fortnight")


def test_time_routed_null_route_raises(spark, tmp_path):
    """A NULL route timestamp must fail the write (the reference's
    TimeRoutedAliasUpdateProcessor throws when the route field is
    missing) — not silently drop the row."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from pyspark.sql import functions as F

    from solr_spark.index.time_routed import write_time_routed

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, None)],
        "event_id long, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))

    import pytest as _pytest

    with _pytest.raises(SparkRuntimeException, match="NULL route field"):
        write_time_routed(df, str(tmp_path / "bad"), ts_col="ts")
