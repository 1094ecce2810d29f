"""Benchmark harness: index-build throughput + BM25 query latency.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Workloads (the reference's JMH templates, solr/benchmark/src/java/org/
apache/solr/bench/{index/CloudIndexing,search/SimpleSearch}.java, restated):
- index build over a deterministic synthetic code corpus
  (SPARK_GRAFT_BENCH_DOCS docs, default 20k) → docs/sec
- index build over the driver's documents table at the SF dir
- BM25 top-10 queries (hot single-term, AND, OR) + term-dict and facet
  queries, per-query wall seconds

A dirty window — host steal above ``DIRTY_STEAL_FRAC``, or bracketing
control probes more than ``DIRTY_CONTROL_SPREAD`` apart — is refused:
the record carries ``"dirty": <reason>`` and the run exits non-zero, so
a number timed through a host burst is never taken as the engine's.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

#: window limits: steal fraction of the host's CPU ticks, and relative
#: spread of the start/end 8-wide control probes (larger over smaller)
DIRTY_STEAL_FRAC = 0.005
DIRTY_CONTROL_SPREAD = 0.25


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — the sandbox host has
    bursty CPU steal, and a build timed through a burst measures the
    host, not the engine."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _control_pass(_=None):
    """One memory-bandwidth-bound work unit (sort+cumsum over 80 MB).
    Module-level so ProcessPoolExecutor can pickle it."""
    import numpy as np

    a = np.random.default_rng(1).integers(0, 1000, 10_000_000).astype(np.int64)
    t0 = time.time()
    b = np.sort(a)
    float(b.cumsum()[-1])
    return 1.0 / (time.time() - t0)


def _platform_control() -> dict:
    """Engine-free host probe: numpy sort+cumsum passes/sec at 1-wide
    and 8-wide. The sandbox host throttles memory-bandwidth-heavy work
    far beyond what /proc/stat steal shows (measured: 20% steal while
    bandwidth-bound aggregate capacity was 8x below a clean window, with
    pure-ALU busy loops unaffected) — this control makes each BENCH
    window comparable: engine docs/sec scales with control passes/sec.
    1-wide is best-of-2 (a single pass can land in a throttle burst)."""
    from concurrent.futures import ProcessPoolExecutor

    r1 = max(_control_pass(), _control_pass())
    with ProcessPoolExecutor(8) as ex:
        agg8 = sum(ex.map(_control_pass, range(8)))
    return {
        "sort_passes_per_sec_1w": round(r1, 3),
        "sort_passes_per_sec_8w_agg": round(agg8, 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_synth = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from solr_spark.corpus import synth_corpus
    from solr_spark.index.build import IndexConfig, build_index
    from solr_spark.operators import facet_field
    from solr_spark.query.engine import SearchEngine
    from solr_spark.session import get_spark

    # shuffle partitions sized by data (AQE coalesces excess), not cores
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=max(64, cpus))
    queries: dict[str, float] = {}
    control_start = _platform_control()  # bracket the run: window at t0
    t_total = time.time()
    steal0, ticks0 = _cpu_ticks()

    # --- warmup (JMH-style): a small untimed build amortizes JVM JIT,
    # whole-stage-codegen compilation and Python worker spawn
    warm_out = "/tmp/solr_spark_bench_warmup"
    shutil.rmtree(warm_out, ignore_errors=True)
    build_index(spark, synth_corpus(spark, 2000), warm_out, IndexConfig(), resume=False)
    shutil.rmtree(warm_out, ignore_errors=True)

    # --- workload 1: synthetic code-corpus index build (CloudIndexing analog)
    # BEST-OF-N builds, same protocol as every query below and as
    # scripts/scaling.py: the build is the headline docs/sec number and a
    # single-shot build timed through one host-steal burst measures the
    # host, not the engine (a throttled window has recorded 905 docs/sec
    # where clean windows reproduce ~2850 on identical code).
    # at least one trial: 0 would leave no timing to report
    build_trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_BUILD_TRIALS", "3")))
    synth_out = f"/tmp/solr_spark_bench_synth_{n_synth}"
    corpus = synth_corpus(spark, n_synth).persist()
    n = corpus.count()  # materialize datagen outside the timed window
    cfg = IndexConfig(hot_df_threshold=max(1000, n // 4), n_salts=8)
    build_synth_sec = None
    for _ in range(build_trials):
        shutil.rmtree(synth_out, ignore_errors=True)
        t0 = time.time()
        idx = build_index(spark, corpus, synth_out, cfg, resume=False)
        dt = time.time() - t0
        build_synth_sec = dt if build_synth_sec is None else min(build_synth_sec, dt)
    corpus.unpersist()
    queries["index_build_synth"] = round(build_synth_sec, 3)
    docs_per_sec = n / build_synth_sec

    # --- workload 2: documents-table index build + BM25 queries
    docs_path = os.path.join(sf_dir, "documents.parquet")
    doc_engine = None
    if os.path.exists(docs_path):
        docs = spark.read.parquet(docs_path)
        out = f"/tmp/solr_spark_bench_docs_{sf}"
        dcfg = IndexConfig(block_size=64, hot_df_threshold=1000, n_salts=4, n_term_buckets=8)
        best_docs_build = None
        for _ in range(build_trials):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            didx = build_index(spark, docs, out, dcfg, text_col="text", id_col="doc_id")
            dt = time.time() - t0
            best_docs_build = dt if best_docs_build is None else min(best_docs_build, dt)
        queries["index_build_documents"] = round(best_docs_build, 3)
        doc_engine = SearchEngine(didx)

    # --- workload 3: query latency (SimpleSearch analog) on the synth index
    # Protocol (VERDICT r2): BEST-OF-N clean trials per query — the
    # sandbox host has bursty CPU steal, so a single-shot number measures
    # the host as much as the engine (BENCH_r02's +34% "regression" was
    # partly that). Each trial uses a FRESH SearchEngine so the memoized
    # term-stats path never hides the fresh-query cost; the index handle
    # (parquet listings) is shared, as it would be in a real server.
    n_trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3")))

    from solr_spark.plans import execute_query
    from solr_spark.query.phrase import phrase_topk

    def timed(qname, idx_, fn):
        best = None
        for _ in range(n_trials):
            e = SearchEngine(idx_)
            t0 = time.time()
            fn(e)
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        queries[qname] = round(best, 3)

    timed("q_bm25_hot", idx, lambda e: e.topk("import", k=10).collect())
    timed("q_bm25_and", idx, lambda e: e.topk("server client", k=10, mode="AND").collect())
    timed("q_bm25_or", idx, lambda e: e.topk("parse json http", k=10).collect())
    timed("q_bm25_camel", idx, lambda e: e.topk("getUserName", k=10).collect())
    timed("q_phrase", idx, lambda e: phrase_topk(e, "import os", k=10).collect())
    timed("q_lucene_nested", idx,
          lambda e: execute_query(e, "(server OR client) AND parse -xml", k=10).collect())

    if doc_engine is not None:
        didx = doc_engine.index
        timed("q_docs_bm25_or", didx, lambda e: e.topk("spark merge data", k=10).collect())
        timed("q_docs_bm25_and", didx, lambda e: e.topk("vector customer", k=10, mode="AND").collect())

    # --- workload 4: facet/agg (JsonFaceting analog) — best-of-N like the
    # BM25 queries above (a single trial is hostage to one host-steal burst;
    # r4 saw a lone 1.8s q_facet_lang trial vs its usual ~0.4s)
    timed("q_facet_lang", idx, lambda e: facet_field(e.index.docs, "lang").collect())
    timed("q_terms_top20", idx,
          lambda e: e.index.term_dict.orderBy(F.desc("df")).limit(20).collect())

    # two-cluster-size scaling evidence (measured by scripts/scaling.py —
    # best-of-N protocol under bursty sandbox CPU steal; committed here so
    # every round's BENCH records it without re-paying the ~15 min run)
    # Only the per-axis summary is inlined — the driver parses the LAST
    # ~2000 bytes of stdout as one JSON line, and round 3's full inline
    # copy (trials + notes) pushed the line past that window and broke
    # the parse. Full trial detail stays in SCALING.json.
    # r3 and r4 BOTH overflowed that window (BENCH_r0{3,4}.json "parsed":
    # null) — the line MUST stay well under 2000 bytes, so each axis is a
    # terse triple [n_docs, raw_efficiency, efficiency_vs_platform_ceiling].
    scaling = None
    spath = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALING.json")
    if os.path.exists(spath):
        with open(spath) as f:
            full = json.load(f)
        scaling = {
            axis: [d.get("n_docs"), d.get("scaling_efficiency"),
                   d.get("efficiency_vs_platform_ceiling")]
            for axis, d in full.items()
            if isinstance(d, dict)
        }
        scaling["detail"] = "[n_docs, raw_eff, eff_vs_ceiling]; SCALING.json"

    total = time.time() - t_total
    steal1, ticks1 = _cpu_ticks()
    steal_frac = (steal1 - steal0) / max(1, ticks1 - ticks0)
    control_end = _platform_control()
    # Window-normalized throughput: docs/sec per control pass/sec (8-wide
    # aggregate, averaged over the bracketing probes). Engine docs/sec
    # tracks the control within ~10% across throttle windows (BASELINE.md
    # correlation evidence), so this ratio is comparable across BENCH
    # rows even when the host's bandwidth budget shifts between rounds.
    ctrl = (control_start["sort_passes_per_sec_8w_agg"], control_end["sort_passes_per_sec_8w_agg"])
    ctrl_avg = sum(ctrl) / 2.0
    dirty = []
    if steal_frac > DIRTY_STEAL_FRAC:
        dirty.append(f"steal {steal_frac:.4f} > {DIRTY_STEAL_FRAC}")
    if min(ctrl) <= 0 or max(ctrl) / min(ctrl) - 1 > DIRTY_CONTROL_SPREAD:
        dirty.append(f"controls {ctrl[0]} -> {ctrl[1]} differ by more than {DIRTY_CONTROL_SPREAD:.0%}")
    print(
        json.dumps(
            {
                "metric": "bench_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": queries,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "indexing_docs_per_sec": round(docs_per_sec, 1),
                "synth_docs": n,
                "cpus": cpus,
                "host_steal_frac": round(steal_frac, 4),
                # bracketing host probes, [1-wide, 8-wide-agg] passes/sec
                "control_start_end": [
                    [control_start["sort_passes_per_sec_1w"],
                     control_start["sort_passes_per_sec_8w_agg"]],
                    [control_end["sort_passes_per_sec_1w"],
                     control_end["sort_passes_per_sec_8w_agg"]],
                ],
                "docs_per_sec_per_control": round(docs_per_sec / ctrl_avg, 1)
                if ctrl_avg > 0
                else None,
                "scaling": scaling,
                "dirty": "; ".join(dirty) or None,
            }
        )
    )
    if dirty:
        print("dirty window: " + "; ".join(dirty), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
