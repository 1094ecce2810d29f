"""Query compiler: lucene AST → one-aggregation DataFrame plan.

The analog of Solr's QParser → Lucene Query → SolrIndexSearcher chain
(``search/QParserPlugin.java`` → ``SolrIndexSearcher.getDocListC``,
SURVEY.md §3.1). The boolean AST from :func:`parser.parse_lucene` is
compiled into ONE distributed plan:

1. every scoring leaf (term / expanded wildcard / regexp / fuzzy /
   prefix / term-range) contributes rows of a small broadcast mapping
   ``(term, leaf_id, wfactor = idf·boost)``; the pruned posting-block
   decode runs ONCE for all distinct terms and joins that mapping;
2. phrase leaves run the positional verifier
   (:func:`query.phrase.phrase_match_pf`) and emit
   ``(doc_id, leaf_id, contrib)`` — phrases are first-class positional
   clauses, not bag-of-words (fixes the v1 degradation);
3. metadata leaves (``lang:python``, ``n_chars:[100 TO 300]``) emit
   zero-contribution rows from a column-pruned doc-registry scan — the
   ``fq`` filter-DocSet analog (``SolrIndexSearcher.java:1017``);
4. one union → ONE ``groupBy(doc_id)`` computes the summed score and
   the matched-leaf flag set (``collect_set(leaf_id)``); the boolean
   tree evaluates as a pure JVM column expression over the flags
   (whole-stage codegen — no joins per clause, no driver loops);
5. ``orderBy(score desc, doc_id asc).limit(k)`` = TakeOrderedAndProject.

Occur semantics (Lucene BooleanQuery): MUST clauses all required;
SHOULD required (≥1) only when no MUST exists; MUST_NOT excludes.
Metadata field clauses in SHOULD position are treated as filters
(Solr's fq lives outside q) — they restrict but don't lift the
≥1-scoring-should requirement. Scores sum contributions of every
matching scoring leaf, × all enclosing group boosts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solr_spark.query.engine import SearchEngine, no_hits, rank_topk
from solr_spark.query.extras import _expansion_stats
from solr_spark.query.parser import (
    BoolQ,
    ConstQ,
    ExistsQ,
    FuzzyQ,
    MatchAllQ,
    PhraseQ,
    RangeQ,
    RegexQ,
    TermQ,
    WildQ,
    parse_lucene,
)
from solr_spark.session import local_frame

# condition spec mini-algebra (evaluated over the matched-leaf flag set)
_TRUE = ("true",)
_FALSE = ("false",)


def _glob_to_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append("" if ch in "\\" else ("\\" + ch if ch in ".^$+{}[]|()" else ch))
    return "^" + "".join(out) + "$"


@dataclass
class _Ctx:
    engine: SearchEngine
    max_expansions: int
    term_rows: list  # (term, leaf_id, wfactor)
    phrase_leaves: list  # (leaf_id, phrase_text, slop, boost)
    filter_leaves: list  # (leaf_id, Column)
    const_specs: list | None = None  # (condition spec, constant score)
    next_id: int = 0

    def __post_init__(self):
        if self.const_specs is None:
            self.const_specs = []

    def new_leaf(self) -> int:
        self.next_id += 1
        return self.next_id - 1


def _meta_pred(engine: SearchEngine, fieldname: str, node) -> Column | None:
    """Column predicate for a metadata field clause, or None if the
    field is not a doc-registry column."""
    docs = engine.index.docs
    if fieldname not in docs.columns:
        return None
    dtype = dict(docs.dtypes)[fieldname]
    numeric = dtype in ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")

    def lit(v: str):
        return F.lit(float(v) if numeric else v)

    if isinstance(node, (TermQ, PhraseQ)):
        return F.col(fieldname) == lit(node.text)
    if isinstance(node, WildQ):
        # fielded wildcard (lang:py*): a raw column predicate — prefix
        # patterns stay sargable via startswith, the rest via rlike
        pat = node.pattern
        if pat.endswith("*") and "*" not in pat[:-1] and "?" not in pat:
            return F.col(fieldname).startswith(pat[:-1])
        return F.col(fieldname).cast("string").rlike(_glob_to_regex(pat))
    if isinstance(node, RangeQ):
        cond = F.lit(True)
        if node.lo is not None:
            c = F.col(fieldname) >= lit(node.lo) if node.incl_lo else F.col(fieldname) > lit(node.lo)
            cond = cond & c
        if node.hi is not None:
            c = F.col(fieldname) <= lit(node.hi) if node.incl_hi else F.col(fieldname) < lit(node.hi)
            cond = cond & c
        return cond
    return None


def _is_meta(engine: SearchEngine, node) -> bool:
    return (
        isinstance(node, (TermQ, RangeQ, PhraseQ, WildQ))
        and getattr(node, "field", None) not in (None, "text")
        and node.field in engine.index.docs.columns
    )


def _check_field(engine: SearchEngine, node) -> None:
    """Warn on a field name that is neither a doc-registry column nor the
    default text field — the clause still scores against text (Solr's
    lenient dynamic-field analog), but silently is worse than loudly."""
    f = getattr(node, "field", None)
    if f not in (None, "text") and f not in engine.index.docs.columns:
        import warnings

        warnings.warn(
            f"unknown field '{f}': not a doc-registry column; "
            "scoring the value against the default text field",
            stacklevel=2,
        )


def _compile(ctx: _Ctx, node, boost: float):
    """Walk the AST → condition spec; registers leaves in ctx."""
    eng = ctx.engine
    if node is None:
        return _FALSE
    if isinstance(node, BoolQ):
        boost = boost * node.boost
        shoulds = [c for c in node.should if not _is_meta(eng, c)]
        filters = [c for c in node.should if _is_meta(eng, c)]
        parts = []
        for m in node.must:
            parts.append(_compile(ctx, m, boost))
        for f in filters:
            parts.append(_compile(ctx, f, boost))
        if shoulds:
            sub = [_compile(ctx, s, boost) for s in shoulds]
            if not node.must:  # Lucene: shoulds optional when a MUST exists
                parts.append(("or", sub))
            elif sub:  # still register leaves for scoring; no constraint
                parts.append(_TRUE)
        for mn in node.must_not:
            parts.append(("not", _compile(ctx, mn, boost)))
        if not (node.must or filters or shoulds):
            return _FALSE  # pure-negative query matches nothing
        return ("and", parts)

    if isinstance(node, ConstQ):
        # ConstantScoreQuery: compile the wrapped clause with boost 0 so
        # every inner leaf registers for MATCHING but contributes no BM25
        # weight; the constant (× enclosing boosts) is added at the final
        # select, gated on the inner condition spec.
        inner = _compile(ctx, node.node, 0.0)
        if inner not in (_FALSE,):
            ctx.const_specs.append((inner, float(node.score) * boost))
        return inner

    if isinstance(node, MatchAllQ):
        # MatchAllDocsQuery: a lit(True) doc-registry leaf scoring a
        # constant 1.0 (Lucene's score for *:*), × boosts.
        lid = ctx.new_leaf()
        ctx.filter_leaves.append((lid, F.lit(True)))
        ctx.const_specs.append((("leaf", lid), 1.0 * boost * node.boost))
        return ("leaf", lid)

    if isinstance(node, ExistsQ):
        # FieldExistsQuery (field:*): isNotNull over the doc registry,
        # constant score 1.0 like Lucene's norms-based existence query.
        if node.field not in eng.index.docs.columns:
            import warnings

            warnings.warn(
                f"exists query on unknown field '{node.field}': "
                "not a doc-registry column; matches nothing",
                stacklevel=2,
            )
            return _FALSE
        lid = ctx.new_leaf()
        ctx.filter_leaves.append((lid, F.col(node.field).isNotNull()))
        ctx.const_specs.append((("leaf", lid), 1.0 * boost * node.boost))
        return ("leaf", lid)

    if _is_meta(eng, node):
        pred = _meta_pred(eng, node.field, node)
        lid = ctx.new_leaf()
        ctx.filter_leaves.append((lid, pred))
        return ("leaf", lid)

    if isinstance(node, TermQ):
        _check_field(eng, node)
        # raw (TermQParserPlugin): verbatim dictionary lookup — the
        # value must equal the indexed term exactly, no analysis
        toks = [node.text] if node.raw else eng.analyze_query(node.text)
        if not toks or not toks[0]:
            return _FALSE
        if len(toks) > 1:  # multi-token analyzed word → conjunction
            return _compile(ctx, BoolQ(must=[TermQ(t, boost=node.boost) for t in toks]), boost)
        stats = eng._term_stats(toks)
        if not stats:
            return _FALSE
        lid = ctx.new_leaf()
        s = stats[0]
        ctx.term_rows.append((s.term, lid, s.idf * boost * node.boost))
        return ("leaf", lid)

    if isinstance(node, PhraseQ):
        _check_field(eng, node)
        toks = eng.analyze_query(node.text)
        if not toks:
            return _FALSE
        if len(toks) == 1:
            return _compile(ctx, TermQ(toks[0], boost=node.boost), boost)
        if not eng.config.with_positions:
            # positionless index: documented fallback to conjunction
            return _compile(ctx, BoolQ(must=[TermQ(t, boost=node.boost) for t in toks]), boost)
        uniq = sorted(set(toks))
        stats = eng._term_stats(uniq)
        if len(stats) < len(uniq):
            return _FALSE
        lid = ctx.new_leaf()
        ctx.phrase_leaves.append((lid, node.text, node.slop, boost * node.boost))
        return ("leaf", lid)

    # multi-term expansions against the term dictionary
    if isinstance(node, (WildQ, RegexQ, FuzzyQ, RangeQ)):
        if isinstance(node, WildQ):
            _check_field(eng, node)  # unknown field → text-dict expansion, loudly
            pat = node.pattern.lower()
            inner = pat.strip("*")
            plain_inner = "*" not in inner and "?" not in inner
            if pat.endswith("*") and not pat.startswith("*") and plain_inner:
                cond = F.col("term").startswith(inner)
            elif pat.startswith("*") and not pat.endswith("*") and plain_inner:
                cond = F.col("term").endswith(inner)
            elif pat.startswith("*") and pat.endswith("*") and plain_inner and inner:
                cond = F.col("term").contains(inner)
            else:
                cond = F.col("term").rlike(_glob_to_regex(pat))
        elif isinstance(node, RegexQ):
            cond = F.col("term").rlike(f"^(?:{node.pattern})$")
        elif isinstance(node, FuzzyQ):
            w = node.text.lower()
            cond = (F.abs(F.length("term") - F.lit(len(w))) <= node.max_edits) & (
                F.levenshtein(F.col("term"), F.lit(w)) <= node.max_edits
            )
        else:  # term range over the default text field
            cond = F.lit(True)
            if node.lo is not None:
                cond = cond & (
                    F.col("term") >= node.lo.lower() if node.incl_lo else F.col("term") > node.lo.lower()
                )
            if node.hi is not None:
                cond = cond & (
                    F.col("term") <= node.hi.lower() if node.incl_hi else F.col("term") < node.hi.lower()
                )
        stats = _expansion_stats(ctx.engine, cond, ctx.max_expansions)
        if not stats:
            return _FALSE
        lid = ctx.new_leaf()
        b = boost * node.boost
        for s in stats:
            ctx.term_rows.append((s.term, lid, s.idf * b))
        return ("leaf", lid)

    raise TypeError(f"unknown AST node {type(node).__name__}")


def _collect_leaf_terms(engine: SearchEngine, node, out: list[str]) -> None:
    if isinstance(node, BoolQ):
        for c in (*node.should, *node.must, *node.must_not):
            _collect_leaf_terms(engine, c, out)
    elif isinstance(node, ConstQ):
        _collect_leaf_terms(engine, node.node, out)
    elif isinstance(node, (TermQ, PhraseQ)) and not _is_meta(engine, node):
        if getattr(node, "raw", False):
            out.append(node.text)
        else:
            out.extend(engine.analyze_query(node.text))


def _prefetch_stats(engine: SearchEngine, ast) -> None:
    terms: list[str] = []
    _collect_leaf_terms(engine, ast, terms)
    if terms:
        engine._term_stats(sorted(set(terms)))


def _spec_to_column(spec, flags: Column) -> Column:
    kind = spec[0]
    if kind == "true":
        return F.lit(True)
    if kind == "false":
        return F.lit(False)
    if kind == "leaf":
        return F.array_contains(flags, spec[1])
    if kind == "not":
        return ~_spec_to_column(spec[1], flags)
    cols = [_spec_to_column(s, flags) for s in spec[1]]
    if not cols:
        return F.lit(True) if kind == "and" else F.lit(False)
    out = cols[0]
    for c in cols[1:]:
        out = (out & c) if kind == "and" else (out | c)
    return out


def execute_query(
    engine: SearchEngine,
    query: str,
    k: int = 10,
    default_mode: str = "OR",
    max_expansions: int = 50,
) -> DataFrame:
    """Compile and run a lucene-syntax query. Returns (doc_id, score f32)
    ranked (score desc, doc_id asc), at most k rows."""
    return execute_ast(
        engine, parse_lucene(query, default_mode), k=k, max_expansions=max_expansions
    )


def execute_ast(
    engine: SearchEngine,
    ast,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """Compile and run a pre-parsed boolean AST (the shared back half of
    :func:`execute_query`; also the execution target for alternative
    front-end grammars — e.g. the ``simple`` parser)."""
    if not isinstance(ast, BoolQ):
        ast = BoolQ(should=[ast])

    # prefetch term stats for every text leaf in ONE driver action — the
    # per-leaf _term_stats calls below then hit the engine's memo instead
    # of each paying their own collect (profiled: 4 leaves = 4 jobs)
    _prefetch_stats(engine, ast)

    ctx = _Ctx(engine, max_expansions, [], [], [])
    spec = _compile(ctx, ast, 1.0)

    if spec == _FALSE and not (ctx.term_rows or ctx.phrase_leaves or ctx.filter_leaves):
        return no_hits(engine.spark)

    srcs: list[DataFrame] = []
    if ctx.term_rows:
        terms = sorted({t for t, _, _ in ctx.term_rows})
        decoded = engine.decode(engine._blocks_for(terms))
        wmap = local_frame(
            engine.spark, ctx.term_rows, "term string, leaf_id int, wfactor double"
        )
        contrib = engine.bm25(F.col("wfactor"), F.col("tf"), F.col("dl"))
        srcs.append(
            decoded.join(F.broadcast(wmap), "term").select(
                "doc_id", "leaf_id", contrib.alias("contrib")
            )
        )
    if ctx.phrase_leaves:
        from solr_spark.query.phrase import phrase_match_pf

        for lid, text, slop, b in ctx.phrase_leaves:
            pfd, idf_total = phrase_match_pf(engine, text, slop=slop)
            if pfd is None:
                continue
            contrib = engine.bm25(F.lit(idf_total * b), F.col("pf"), F.col("dl"))
            srcs.append(
                pfd.select("doc_id", F.lit(lid).alias("leaf_id"), contrib.alias("contrib"))
            )
    for lid, pred in ctx.filter_leaves:
        srcs.append(
            engine.index.docs.where(pred).select(
                "doc_id", F.lit(lid).alias("leaf_id"), F.lit(0.0).alias("contrib")
            )
        )
    if not srcs:
        return no_hits(engine.spark)

    allrows = srcs[0]
    for s in srcs[1:]:
        allrows = allrows.unionByName(s)
    agg = allrows.groupBy("doc_id").agg(
        F.sum("contrib").alias("score_raw"), F.collect_set("leaf_id").alias("flags")
    )
    cond = _spec_to_column(spec, F.col("flags"))
    score = F.col("score_raw")
    for cspec, cval in ctx.const_specs:
        score = score + F.when(
            _spec_to_column(cspec, F.col("flags")), F.lit(float(cval))
        ).otherwise(F.lit(0.0))
    return rank_topk(agg.where(cond).select("doc_id", score.cast("float").alias("score")), k)
