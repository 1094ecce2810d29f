"""The repository benchmark: set up, run and check one workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload query --seed 1 --seconds 5 --trace 0

Workloads (details and metric definitions in perfbench/NOTES.md):

- ``query``: one warm ``SearchEngine`` serving a closed-loop, Zipf-popular
  stream of BM25 (cached ``search``), phrase and Lucene-syntax queries.
- ``nrt``: ``IncrementalIndexer`` cycles of append_batch, delete_by_ids,
  commit and a read-after-write probe on a fresh engine.

Both write the seeded corpus to Parquet, run one untimed warm-up pass over
it, then two measured set-up passes: build the index over the table and open
it for serving. A window runs a fixed number of operations. Every answer
is checked against an oracle; a wrong answer counts as a failed operation.
The end-to-end times are CPU seconds of this process and its descendants
(the Spark driver JVM and the Python workers); wall times are per-layer
metrics. The last stdout line is the JSON result. With ``--trace 1`` the
run records spans and a Spark event log and reports the per-layer metrics
instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
BASE_PATH = os.path.join(WORK, "corpus", "base")
BATCH_PATH = os.path.join(WORK, "corpus", "batches")

N_DOCS = 400             # base corpus per run
BATCH_DOCS = N_DOCS // 20  # nrt append: 5% of the base
DELETES_PER_CYCLE = 3
SETUP_PASSES = 2         # measured set-up passes; setup_s is their median
N_TERM_BUCKETS = 4       # fixed, so the index layout never depends on the host
#: a window runs a fixed number of operations, sized from --seconds at this
#: nominal cost per operation on a 4-core host, so that its mix never
#: depends on how fast the host is
QUERY_OP_S = 1.25        # one query
NRT_CYCLE_S = 10.0       # one append/delete/commit/probe cycle
#: driver JVM: C1 only, so JIT warm-up ends within the untimed pass and no
#: C2 compiler threads compete with the measured work (see NOTES.md)
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC"
TOP_K = 10
PROBE_K = 100
UNITS = {  # traced build units → the manifests that mark them done
    "analyze_segments": ("analyzed", "segments"),
    "term_dict": ("term_dict",),
    "blocks": ("blocks",),
}
STAGES = ("analyzed", "segments", "term_dict", "blocks")
QUERY_CLASSES = ("term_hot", "term_rare", "or", "and", "phrase", "lucene")
PER_QUERY = ("plan_s", "exec_s", "jobs_per_query", "postings_decoded_per_query",
             "postings_per_result", "python_run_s_per_query", "shuffle_bytes_per_query")


def log(msg: str) -> None:
    print(f"[{time.time() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs, default=0.0):
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n))
        for r, _d, names in os.walk(path) for n in names if not n.startswith(".")
    )


def file_listing(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime) of every file under ``root``."""
    out = {}
    for r, _d, names in os.walk(root):
        for n in names:
            p = os.path.join(r, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Bench:
    def __init__(self, spark, tracer, workload: str, seed: int, seconds: float):
        from solr_spark.index.build import IndexConfig

        self.spark, self.tracer, self.span = spark, tracer, tracer.span
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.cfg = IndexConfig(
            block_size=64, hot_df_threshold=N_DOCS // 8, n_salts=4, n_term_buckets=N_TERM_BUCKETS
        )
        self.attempted = self.failed = 0
        self.m: dict[str, float] = {}
        self.ops: list[dict] = []

    # -- set-up -----------------------------------------------------------
    def warm_up(self):
        """One untimed set-up pass over the same table: JIT compilation and
        Python worker start-up stay out of the measured passes. A warm-up
        over a smaller table costs as much: the cost is per plan, not per
        row."""
        self.setup_pass(BASE_PATH, os.path.join(WORK, "warm_index"))

    def setup_pass(self, source_path: str, idx_dir: str):
        """Build the index over the source table and open it for serving.
        Returns (wall s, CPU s, build span, index, engine, indexer)."""
        from solr_spark.index.build import build_index
        from solr_spark.query.engine import SearchEngine
        from solr_spark.streaming.incremental import IncrementalIndexer

        from spans import tree_cpu_s
        from streams import WARM_QUERY

        t0, c0 = time.time(), tree_cpu_s()
        source = self.spark.read.parquet(source_path)
        indexer = None
        if self.workload == "nrt":
            # the base is committed through the indexer itself: commits on a
            # build_index directory drop its (unpartitioned) base files
            shutil.rmtree(idx_dir, ignore_errors=True)
            with self.span("index.build.build_index") as b:
                indexer = IncrementalIndexer(self.spark, idx_dir, self.cfg)
                indexer.append_batch(source)
                idx = indexer.commit()
        else:
            with self.span("index.build.build_index") as b:
                idx = build_index(self.spark, source, idx_dir, self.cfg, resume=False)
        engine = SearchEngine(idx)
        with self.span("query.engine.topk"):
            engine.topk(WARM_QUERY, k=TOP_K).collect()
        return time.time() - t0, tree_cpu_s() - c0, b, idx, engine, indexer

    def setup(self):
        """The measured set-up passes, each into its own directory; the
        window runs on the last one."""
        from checks import sha_mismatches

        walls, pass_cpus, builds, build_cpus = [], [], [], []
        for i in range(SETUP_PASSES):
            self.idx_dir = os.path.join(WORK, f"index{i}")
            wall, cpu, b, idx, engine, indexer = self.setup_pass(BASE_PATH, self.idx_dir)
            walls.append(wall)
            pass_cpus.append(cpu)
            builds.append(b["end"] - b["start"])
            build_cpus.append(b["cpu"])
            log(f"setup pass {i}: {wall:.2f} s, {cpu:.2f} cpu-s "
                f"(build {builds[-1]:.2f} s, {b['cpu']:.2f} cpu-s)")
        self.attempted += 1
        self.failed += sha_mismatches(idx, self.corpus) > 0
        self.idx, self.engine, self.indexer = idx, engine, indexer
        self.stage_bytes = {s: dir_bytes(os.path.join(self.idx_dir, s)) for s in STAGES}
        source_bytes = int(self.corpus["content"].str.len().sum())
        self.m["setup_s"] = median(pass_cpus)
        self.m["setup_wall_s"] = median(walls)
        self.m["build_docs_per_s"] = N_DOCS / median(builds)
        self.m["build_docs_per_cpu_s"] = N_DOCS / median(build_cpus)
        self.m["index_bytes_per_source_byte"] = sum(self.stage_bytes.values()) / source_bytes
        self.postings = idx.manifests()["segments"]["rows"]

    # -- query workload ---------------------------------------------------
    def run_query(self, cls: str, q: str) -> dict:
        from solr_spark.plans import execute_query
        from solr_spark.query.parser import parse_lucene
        from solr_spark.query.phrase import phrase_topk

        op = {"cls": cls, "q": q, "spans": []}
        t0 = time.time()
        if cls == "phrase":
            with self.span("query.phrase.phrase_topk") as s1:
                df = phrase_topk(self.engine, q, k=TOP_K)
            with self.span("query.phrase.collect") as s2:
                rows = df.collect()
            op["spans"] = [s1, s2]
        elif cls == "lucene":
            if self.tracer.enabled:  # parse timed on its own; execute_query parses again
                with self.span("query.parser.parse_lucene") as s0:
                    parse_lucene(q)
                op["parse"] = s0
                t0 = time.time()
            with self.span("plans.compiler.execute_query") as s1:
                df = execute_query(self.engine, q, k=TOP_K)
            with self.span("plans.compiler.collect") as s2:
                rows = df.collect()
            op["spans"] = [s1, s2]
        else:
            mode = "AND" if cls == "and" else "OR"
            with self.span("query.engine.search") as s1:
                rows = self.engine.search(q, k=TOP_K, mode=mode).collect()
            op["spans"] = [s1]
            op["mode"] = mode
        op["latency"] = time.time() - t0
        op["cpu"] = sum(s["cpu"] for s in op["spans"])
        op["rows"] = rows
        return op

    def check_query(self, op, phrases) -> bool:
        from checks import bm25_expected, lucene_expected, same_ranking

        if op["cls"] == "phrase":
            return phrases.matches(op["rows"], op["q"], TOP_K)
        if op["cls"] == "lucene":
            return same_ranking(op["rows"], *lucene_expected(self.oracle, op["q"], TOP_K))
        return same_ranking(op["rows"], *bm25_expected(self.oracle, op["q"], TOP_K, op["mode"]))

    def query_window(self):
        """Closed loop over the whole drawn stream, one query at a time."""
        busy = 0.0
        for cls, q in self.stream:
            self.attempted += 1
            try:
                op = self.run_query(cls, q)
            except Exception as e:  # an error is a failed operation, not a crash
                print(f"query failed: {cls} {q!r}: {e}", file=sys.stderr)
                self.failed += 1
                continue
            busy += op["latency"]
            self.ops.append(op)
        for op in self.ops:
            op["ok"] = self.check_query(op, self.phrases)
            if not op["ok"]:
                print(f"wrong answer: {op['cls']} {op['q']!r}", file=sys.stderr)
                self.failed += 1
        self.phrases.close()
        lat = [op["latency"] for op in self.ops]
        self.m["op_cpu_s"] = median(op["cpu"] for op in self.ops)
        self.m["op_p50_s"] = median(lat)
        self.m["query_p50_s"] = self.m["op_p50_s"]
        self.m["query_p90_s"] = float(statistics.quantiles(lat, n=10, method="inclusive")[-1])
        self.m["query_qps"] = len(lat) / busy

    # -- nrt workload -----------------------------------------------------
    def nrt_window(self):
        import numpy as np
        import pandas as pd
        from solr_spark.oracle import BruteForceIndex
        from solr_spark.query.engine import SearchEngine

        from checks import same_ranking, sha_mismatches
        from streams import doc_offset, usable_token, with_doc_ids, write_docs

        rng = np.random.default_rng([self.seed, 3])
        live = self.corpus
        next_id = N_DOCS
        chain = self.oracle.chain
        for cycle in range(nrt_cycles(self.seconds)):
            path = f"{BATCH_PATH}/{cycle}"
            lo = doc_offset(self.seed) + N_DOCS + cycle * BATCH_DOCS
            new = with_doc_ids(write_docs(path, lo, BATCH_DOCS), next_id)
            old_ids = live["doc_id"].to_numpy()
            dead = sorted(int(x) for x in rng.choice(old_ids, DELETES_PER_CYCLE, replace=False))
            after = pd.concat([live[~live["doc_id"].isin(dead)], new], ignore_index=True)
            oracle = BruteForceIndex(after)

            def rarest(text):
                toks = [t for t in set(chain.tokenize_py(text)) if usable_token(chain, t)]
                return min(toks, key=lambda t: (len(oracle.postings.get(t, ((),))[0]), t))

            probe = f"{rarest(new['content'].iloc[0])} {rarest(live.loc[live['doc_id'] == dead[0], 'content'].iloc[0])}"
            want = oracle.topk(probe, k=PROBE_K)
            files_before = file_listing(self.idx_dir)

            self.attempted += 1
            try:
                t0 = time.time()
                with self.span("streaming.incremental.append_batch") as sa:
                    self.indexer.append_batch(self.spark.read.parquet(path))
                with self.span("streaming.incremental.delete_by_ids") as sd:
                    self.indexer.delete_by_ids(dead)
                with self.span("streaming.incremental.commit") as sc:
                    idx = self.indexer.commit()
                with self.span("query.engine.search") as sq:
                    rows = SearchEngine(idx).search(probe, k=PROBE_K).collect()
                visible = time.time() - t0
            except Exception as e:
                print(f"nrt cycle {cycle} failed: {e}", file=sys.stderr)
                self.failed += 1
                break
            ok = same_ranking(rows, want["doc_id"].to_numpy(), want["score"].to_numpy())
            got = {int(r["doc_id"]) for r in rows}
            ok &= not (got & set(dead))
            if not ok:
                print(f"nrt cycle {cycle}: wrong probe answer for {probe!r}", file=sys.stderr)
                self.failed += 1
            files_after = file_listing(self.idx_dir)
            changed = {p for p in files_before.keys() | files_after.keys()
                       if files_before.get(p) != files_after.get(p)}
            written = sum(files_after[p][0] for p in changed if p in files_after)
            blocks_dir = os.path.join(self.idx_dir, "blocks")
            buckets = [b for b in os.listdir(blocks_dir) if b.startswith("term_bucket=")]
            rewritten = [b for b in buckets
                         if any(p.startswith(os.path.join(blocks_dir, b, "")) for p in changed)]
            man = idx.manifests()
            self.ops.append({
                "visible": visible,
                "cpu": sum(s["cpu"] for s in (sa, sd, sc, sq)),
                "append": sa["end"] - sa["start"],
                "commit": sc["end"] - sc["start"],
                "commit_term_dict": man["term_dict"]["wall_sec"],
                "commit_blocks": man["blocks"]["wall_sec"],
                "changed_bucket_frac": len(rewritten) / max(1, len(buckets)),
                "rewrite_ratio": written / int(new["content"].str.len().sum()),
            })
            live, next_id = after, next_id + len(new)
            self.idx = idx
        self.attempted += 1
        self.failed += sha_mismatches(self.idx, live) > 0
        med = {k: median(op[k] for op in self.ops) for k in self.ops[0]} if self.ops else {}
        self.m["op_cpu_s"] = med.get("cpu", 0.0)
        self.m["op_p50_s"] = med.get("visible", 0.0)
        self.m["nrt_visible_p50_s"] = self.m["op_p50_s"]
        self.m["nrt_commit_p50_s"] = med.get("commit", 0.0)
        for k, name in (("append", "append_s"), ("commit_term_dict", "commit_term_dict_s"),
                        ("commit_blocks", "commit_blocks_s"),
                        ("changed_bucket_frac", "changed_bucket_frac"),
                        ("rewrite_ratio", "rewrite_bytes_per_appended_byte")):
            self.m[f"streaming.incremental.{name}"] = med.get(k, 0.0)

    # -- traced extras ----------------------------------------------------
    def build_units(self):
        """Re-run each build unit on its own: in a copy of the set-up index,
        drop only that unit's manifests and resume the build."""
        from solr_spark.index.build import build_index

        # the persisted doc-id frame an earlier append_batch leaves behind
        # would let the analyze unit skip its own work
        self.spark.catalog.clearCache()
        units_dir = os.path.join(WORK, "units")
        shutil.copytree(self.idx_dir, units_dir)
        corpus_df = self.spark.read.parquet(BASE_PATH)
        self.unit_spans = {}
        for unit, stages in UNITS.items():
            for s in stages:
                os.remove(os.path.join(units_dir, f"_MANIFEST_{s}.json"))
            with self.span(f"index.build.{unit}") as s:
                build_index(self.spark, corpus_df, units_dir, self.cfg, resume=True)
            self.unit_spans[unit] = s

    def layer_metrics(self, groups: dict, session: dict):
        from spans import new_group_stats, task_skew

        m = self.m
        empty = new_group_stats()

        def group(span):
            return groups.get(f"{span['name']}#{span['id']}", empty)

        for unit, s in self.unit_spans.items():
            g = group(s)
            m[f"index.build.{unit}_s"] = s["end"] - s["start"]
            m[f"index.build.python_run_s.{unit}"] = g["python_ms"] / 1000
            m[f"index.build.python_bytes_in.{unit}"] = g["py_in"]
            m[f"index.build.python_bytes_out.{unit}"] = g["py_out"]
            m[f"index.build.shuffle_write_bytes.{unit}"] = g["shuffle_write"]
            m[f"index.build.spill_bytes.{unit}"] = g["spill"]
            m[f"index.build.jobs.{unit}"] = g["jobs"]
        m["index.build.task_skew"] = task_skew(group(self.unit_spans["blocks"]))
        for s, nbytes in self.stage_bytes.items():
            m[f"index.build.stage_bytes.{s}"] = nbytes
        m["index.codec.block_bytes_per_posting"] = self.stage_bytes["blocks"] / self.postings

        # per query class; a search call that reads no index bytes is a cache hit
        search = [op for op in self.ops if "mode" in op] if self.workload == "query" else []
        for op in search:
            op["hit"] = group(op["spans"][0])["input_bytes"] == 0
        hits = [op for op in search if op["hit"]]
        misses = [op for op in search if not op["hit"]]
        m["query.cache.hit_rate"] = len(hits) / len(search) if search else 0.0
        m["query.cache.hit_s"] = median(op["latency"] for op in hits)
        m["query.cache.miss_s"] = median(op["latency"] for op in misses)
        for cls in QUERY_CLASSES:
            rows = []
            for op in self.ops if self.workload == "query" else []:
                if op["cls"] != cls or op.get("hit"):
                    continue
                gs = [group(s) for s in op["spans"]]
                if len(op["spans"]) == 1:  # search: plan until the final action is submitted
                    s, g = op["spans"][0], gs[0]
                    split = g["last_submit"] / 1000 if g["last_submit"] else s["end"]
                    plan, exe = split - s["start"], s["end"] - split
                else:
                    plan = op["spans"][0]["end"] - op["spans"][0]["start"]
                    exe = op["spans"][1]["end"] - op["spans"][1]["start"]
                rows.append({
                    "plan_s": plan, "exec_s": exe,
                    "jobs_per_query": sum(g["jobs"] for g in gs),
                    "postings_decoded_per_query": sum(g["decoded_rows"] for g in gs),
                    "python_run_s_per_query": sum(g["python_ms"] for g in gs) / 1000,
                    "shuffle_bytes_per_query": sum(g["shuffle_write"] for g in gs),
                    "results": len(op["rows"]),
                })
            for key in PER_QUERY:
                if key == "postings_per_result":
                    res = sum(r["results"] for r in rows)
                    val = sum(r["postings_decoded_per_query"] for r in rows) / res if res else 0.0
                else:
                    val = median(r[key] for r in rows)
                m[f"query.engine.{key}.{cls}"] = val
        m["query.phrase.exec_s"] = m["query.engine.exec_s.phrase"]
        m["plans.compiler.exec_s"] = m["query.engine.exec_s.lucene"]
        m["query.parser.parse_s"] = median(
            op["parse"]["end"] - op["parse"]["start"] for op in self.ops if "parse" in op
        )
        m["session.jobs"] = session["jobs"]
        m["session.tasks"] = session["tasks"]
        m["session.peak_rss_mb"] = self.tracer.peak_rss / 2**20

    def run(self, inputs: "Inputs"):
        inputs.table_written()
        self.warm_up()
        log("warm-up done")
        self.__dict__.update(inputs.result())
        self.setup()
        if self.tracer.enabled:
            self.build_units()
            log("build units done")
        if self.workload == "query":
            self.query_window()
        else:
            self.nrt_window()
        log(f"window done: {len(self.ops)} ops")


def query_ops(seconds: float) -> int:
    """Whole turns of the query classes, so every run sends the same mix."""
    turn = len(QUERY_CLASSES)
    return turn * max(1, round(seconds / (turn * QUERY_OP_S)))


def nrt_cycles(seconds: float) -> int:
    return max(1, round(seconds / NRT_CYCLE_S))


def prepare_inputs(workload: str, seed: int, seconds: float, out: dict, written: threading.Event) -> None:
    """Driver-side inputs and oracles: the source table, the BM25 oracle
    and, for ``query``, the query stream and the DuckDB phrase oracle."""
    from solr_spark.oracle import BruteForceIndex

    from checks import PhraseOracle
    from streams import build_pool, doc_offset, query_stream, with_doc_ids, write_docs

    out["corpus"] = corpus = with_doc_ids(write_docs(BASE_PATH, doc_offset(seed), N_DOCS), 0)
    written.set()
    out["oracle"] = oracle = BruteForceIndex(corpus)
    if workload == "query":
        pool = build_pool(oracle, corpus, seed)
        with open(os.path.join(WORK, "query_pool.json"), "w") as f:
            json.dump(pool, f)
        out["stream"] = query_stream(pool, seed, query_ops(seconds))
        out["phrases"] = PhraseOracle(corpus)


class Inputs(threading.Thread):
    """:func:`prepare_inputs` on a thread, overlapping JVM start and warm-up."""

    def __init__(self, workload: str, seed: int, seconds: float):
        super().__init__()
        self.args, self.out, self.error = (workload, seed, seconds), {}, None
        self.written = threading.Event()
        self.start()

    def run(self):
        try:
            prepare_inputs(*self.args, self.out, self.written)
        except BaseException as e:  # re-raised on the main thread
            self.error = e
        finally:
            self.written.set()

    def _check(self):
        if self.error is not None:
            raise self.error

    def table_written(self) -> None:
        self.written.wait()
        self._check()

    def result(self) -> dict:
        self.join()
        self._check()
        return self.out


def prepare_env(trace: bool) -> None:
    """Keep every file the run writes inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM of the run (launcher and driver): temp files in the work
    # directory, no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTS}"
    # Python workers import the engine and these modules by name
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"))


def start_session(cores: int, trace: bool):
    from solr_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",  # the default codec needs zstandard
        })
    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every child process."""
    import signal

    from spans import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["query", "nrt"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    trace = bool(args.trace)
    prepare_env(trace)

    from spans import Tracer, control_pass, cpu_ticks, job_group_metrics

    cpus = len(os.sched_getaffinity(0))
    # half the CPUs run Spark tasks; the rest serve the driver JVM, this
    # process and the Python workers, so no more threads are busy than CPUs
    cores = max(1, cpus // 2)
    control_start = control_pass()
    steal0, ticks0 = cpu_ticks()
    inputs = Inputs(args.workload, args.seed, args.seconds)
    spark = None
    try:
        spark = start_session(cores, trace)
        log("session up")
        tracer = Tracer(spark.sparkContext, trace)
        bench = Bench(spark, tracer, args.workload, args.seed, args.seconds)
        bench.run(inputs)
    finally:
        if spark is not None:
            stop_session(spark)
            log("session stopped")
    steal1, ticks1 = cpu_ticks()
    m = bench.m
    m["window.steal_frac"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
    m["window.control_start_per_s"] = control_start
    m["window.control_end_per_s"] = control_pass()
    m["ops_failed_frac"] = bench.failed / bench.attempted
    if trace:
        tracer.dump(os.path.join(WORK, "spans.json"))
        groups, session = job_group_metrics(os.path.join(WORK, "eventlog"))
        bench.layer_metrics(groups, session)
        for w in spec["end_to_end"]:
            m[f"trace.{w['name']}"] = m[w["name"]]
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    # a per-layer metric of a layer this workload never calls reads 0
    metrics = {w["name"]: {"value": float(m[w["name"]] if not trace else m.get(w["name"], 0.0)),
                           "unit": w["unit"]} for w in wanted}
    print(json.dumps({"window": {k: v for k, v in m.items() if k.startswith("window.")},
                      "workload": args.workload, "seed": args.seed, "cpus": cpus, "spark_cores": cores}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
