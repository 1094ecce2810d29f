"""Per-query Spark action/job-count guards (VERDICT r4 item 6).

Round 2's bench regression was a driver-round-trip storm — per-term
metadata jobs that multiplied the scheduler job count per query. These
tests pin each headline query shape to its expected job budget so a
future regression of that class fails fast in CI rather than in the
bench. Counted via job groups (``statusTracker``); the budgets allow
the small AQE/scan job splits we measure today but not a per-term loop
(which adds >= len(terms) jobs and grows with the query).

Reference behavior being guarded: SimpleSearch-style one-round-trip
query execution (the reference executes a query as one native scan —
``search/SolrIndexSearcher.java`` — not one pass per term).
"""

from __future__ import annotations

import pytest

from solr_spark.plans import execute_query
from solr_spark.query.engine import SearchEngine

#: plan nodes that run Python workers — none may appear on the BM25 path
_PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "BatchEvalPython", "ArrowEvalPython",
)


def _job_count(spark, name: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    fn()
    sc.setJobGroup("idle", "idle")
    return len(sc.statusTracker().getJobIdsForGroup(name))


@pytest.fixture(scope="module")
def warm(index):
    """One throwaway query absorbs the one-time parquet footer/schema
    jobs so the counted trials measure steady-state query cost."""
    SearchEngine(index).topk("server", k=5).collect()
    return index


def test_or_query_job_budget(warm, spark):
    eng = SearchEngine(warm)
    n = _job_count(spark, "ja_or", lambda: eng.topk("server client", k=10).collect())
    assert 1 <= n <= 2, f"fresh OR query launched {n} jobs (budget 2)"


def test_camel_query_job_budget(warm, spark):
    eng = SearchEngine(warm)
    n = _job_count(spark, "ja_camel", lambda: eng.topk("getUserName", k=10).collect())
    assert 1 <= n <= 2, f"fresh camel query launched {n} jobs (budget 2)"


def test_and_query_job_budget(warm, spark):
    eng = SearchEngine(warm)
    n = _job_count(
        spark, "ja_and", lambda: eng.topk("server client", k=10, mode="AND").collect()
    )
    assert 1 <= n <= 3, f"fresh AND query launched {n} jobs (budget 3)"


def test_theta_seed_job_budget(warm, spark):
    """With block-max pruning forced on, the θ seed adds a bounded number
    of jobs — not one per term or per block."""
    eng = SearchEngine(warm)
    eng._PRUNE_MIN_POSTINGS = 1  # force the prune path at test scale
    n = _job_count(spark, "ja_theta", lambda: eng.topk("server client", k=10).collect())
    assert 1 <= n <= 6, f"θ-pruned OR query launched {n} jobs (budget 6)"


def test_job_count_flat_in_term_count(warm, spark):
    """THE scale invariant: doubling the number of query terms must not
    change the job count (a per-term driver loop would)."""
    e3 = SearchEngine(warm)
    n3 = _job_count(spark, "ja_t3", lambda: e3.topk("server client parse", k=10).collect())
    e6 = SearchEngine(warm)
    n6 = _job_count(
        spark, "ja_t6",
        lambda: e6.topk("server client parse json http import", k=10).collect(),
    )
    assert n6 <= n3, f"6-term query used {n6} jobs vs 3-term {n3} — per-term loop?"


def test_repeat_query_reuses_memoized_stats(warm, spark):
    """A second query on the same engine reuses memoized term stats —
    its job count must not exceed the fresh-query budget."""
    eng = SearchEngine(warm)
    eng.topk("server parse", k=10).collect()
    n = _job_count(spark, "ja_rep", lambda: eng.topk("server json", k=10).collect())
    assert 1 <= n <= 2, f"warm-engine query launched {n} jobs (budget 2)"


def test_term_stats_run_no_job(warm, spark):
    """Term stats of uncached terms are summed from the dictionary
    partials on the driver: no Spark job, present and absent terms
    alike."""
    eng = SearchEngine(warm)
    stats = []
    n = _job_count(spark, "ja_stats",
                   lambda: stats.extend(eng._term_stats(["server", "client", "zzznotaterm"])))
    assert n == 0, f"term stats of uncached terms launched {n} jobs (budget 0)"
    assert [s.term for s in stats] == ["client", "server"]


def test_search_miss_job_budget(warm, spark):
    """A result-cache miss runs the top-k and hands its rows back as a
    local relation: collecting them adds no job (a Python-RDD frame
    would add one)."""
    eng = SearchEngine(warm)
    n = _job_count(spark, "ja_search", lambda: eng.search("server client", k=10).collect())
    assert 1 <= n <= 2, f"search miss + collect launched {n} jobs (budget 2)"


def test_fresh_index_opens_and_plans_without_jobs(warm, spark):
    """Every stage is read with the schema its manifest recorded: opening
    a fresh index and planning a query over term_dict and blocks runs no
    schema-inference job (nor any other)."""
    from pyspark.sql import functions as F

    from solr_spark.index.build import InvertedIndex
    from solr_spark.query.engine import TermStats

    def plan():
        idx = InvertedIndex(spark, warm.dir)
        eng = SearchEngine(idx)
        stats = [TermStats("server", 10, 1.0, 1.0), TermStats("client", 10, 1.0, 1.0)]
        for df in (
            idx.term_dict.where(F.col("term").isin("server", "client")).select("df", eng.idf(F.col("df"))),
            eng.topk_from_stats(stats, k=10),
            eng.topk_from_stats(stats, k=10, mode="AND"),
        ):
            df._jdf.queryExecution().executedPlan()

    assert _job_count(spark, "ja_open", plan) == 0


def test_nrt_cycle_job_budget(spark, test_config):
    """A delete only writes its tombstone ids (no job), and a commit
    after a small append and delete costs the dictionary partial of its
    delta (one job: stats are counted on the driver) plus one new
    segment's blocks (three: the hot terms of that partial, the
    exchange, the write)."""
    import shutil

    from solr_spark.corpus import synth_corpus
    from solr_spark.streaming import IncrementalIndexer

    d = "/tmp/solr_spark_nrt_jobs"
    shutil.rmtree(d, ignore_errors=True)
    inc = IncrementalIndexer(spark, d, test_config)
    inc.append_batch(synth_corpus(spark, 200))
    inc.commit()
    inc.append_batch(synth_corpus(spark, 20))
    n_del = _job_count(spark, "ja_nrt_delete", lambda: inc.delete_by_ids([3, 50, 99]))
    n_commit = _job_count(spark, "ja_nrt_commit", inc.commit)
    assert n_del == 0, f"delete_by_ids launched {n_del} jobs (budget 0)"
    assert n_commit <= 4, f"commit launched {n_commit} jobs (budget 4)"


def test_build_dictionary_stage_job_budget(spark, test_config, monkeypatch, tmp_path):
    """A build writes its dictionary partial, the change from the empty
    commit point, in one job: N and sum_doc_len are counted on the
    driver, and a test-scale build's postings fit one scan split, so one
    task sums them with no exchange."""
    from solr_spark.corpus import synth_corpus
    from solr_spark.index import build

    stage, jobs = build._stage_term_delta, []

    def counted(*args):
        out = []
        jobs.append(_job_count(spark, "ja_build_dict", lambda: out.append(stage(*args))))
        return out[0]

    monkeypatch.setattr(build, "_stage_term_delta", counted)
    build.build_index(spark, synth_corpus(spark, 200), str(tmp_path / "idx"), test_config)
    assert jobs == [1], f"the build's dictionary stage launched {jobs} jobs (budget 1)"


@pytest.fixture
def action_plans(warm, monkeypatch):
    """Optimized plans of every ``collect`` run while the fixture is live
    (the engine's stats lookup and θ seed are collects too)."""
    seen: list[str] = []
    frame_cls = type(warm.blocks)  # the session's concrete DataFrame class
    collect = frame_cls.collect

    def spy(self):
        seen.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", spy)
    return seen


@pytest.mark.parametrize(
    "shape",
    ["or", "and", "single_term", "theta", "search", "lucene_terms"],
)
def test_bm25_path_runs_no_python(warm, action_plans, shape):
    """Every action of a BM25 query (stats lookup, θ seed, decode, score,
    top-k, result rows) plans without a Python node: blocks decode in the
    JVM and driver rows are local relations."""
    eng = SearchEngine(warm)
    if shape == "theta":
        eng._PRUNE_MIN_POSTINGS = 1  # force the θ seed at test scale
    run = {
        "or": lambda: eng.topk("server client", k=10),
        "and": lambda: eng.topk("server client", k=10, mode="AND"),
        "single_term": lambda: eng.topk("import", k=10),
        "theta": lambda: eng.topk("server client", k=10),
        "search": lambda: eng.search("server client", k=10),
        "lucene_terms": lambda: execute_query(eng, "server client", k=10),
    }[shape]
    run().collect()
    assert action_plans
    for plan in action_plans:
        found = [node for node in _PYTHON_NODES if node in plan]
        assert not found, f"{shape}: {found} in\n{plan}"


def test_python_worker_imports_pyspark_outside_archives(spark):
    """A Python task of a local session imports pyspark from a package
    directory and caches no importer of ``pyspark.zip`` or a jar, so the
    per-task ``importlib.invalidate_caches()`` re-reads no archive
    (``solr_spark.worker_daemon``)."""
    import json
    import os

    import pyarrow as pa

    def report(batches):
        import sys

        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "file": [pyspark.__file__],
            "keys": [json.dumps(list(sys.path_importer_cache))],
        })

    row = spark.range(1, numPartitions=1).mapInArrow(report, "file string, keys string").first()

    def in_archive(path):
        return any(part.endswith((".zip", ".jar")) for part in path.split(os.sep))

    assert not in_archive(row.file), row.file
    keys = json.loads(row.keys)
    bad = [k for k in keys if "pyspark.zip" in k or ".jar" in k]
    assert not bad, bad
