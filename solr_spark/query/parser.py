"""Lucene-style query parser → boolean AST.

The reference's grammar lives in ``solr/core/src/java/org/apache/solr/
parser/QueryParser.jj`` + ``parser/SolrQueryParserBase.java`` (45
registered QParsers, ``search/QParserPlugin.java:45-93``). This module
covers the core ``lucene`` surface:

- bare terms (analyzed by the query-time chain), implicit OR (``q.op``)
- ``AND``/``&&``, ``OR``/``||``, ``NOT``/``!`` with precedence
  NOT > AND > OR, and ``+must`` / ``-prohibit`` clause prefixes
- parenthesized nesting ``(a OR b) AND c`` (QueryParser.jj clause
  recursion)
- quoted phrases ``"a b"`` with slop ``"a b"~2``
  (SolrQueryParserBase.java:546)
- ranges ``field:[a TO b]`` / ``{a TO b}`` with open ends ``*``
  (SolrQueryParserBase.java:1074, tests TestRangeQuery.java)
- wildcard ``te*t`` / ``te?t`` (:843), regexp ``/re/`` (:1237-1339),
  fuzzy ``term~1``, prefix ``term*``
- per-clause boost ``^2`` on any atom or group (:1339)
- field-qualified clauses ``lang:python``, ``n_chars:[100 TO 300]`` —
  metadata fields compile to fq-style column predicates

Documented deviations from Lucene's (famously irregular) operator
handling: we use a conventional precedence grammar (NOT > AND > OR,
implicit operator = q.op), and a multi-token analyzed word compiles to a
conjunction of its tokens (autoGeneratePhraseQueries=false analog).

The entry point is :func:`parse_lucene`: query string → AST, executed
by ``plans.compiler.execute_query``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# ===========================================================================
# AST
# ===========================================================================


@dataclass
class TermQ:
    text: str
    field: str | None = None
    boost: float = 1.0
    raw: bool = False  # True = verbatim dictionary lookup, no query-time
    # analysis (TermQParserPlugin semantics: match the indexed term as-is)


@dataclass
class PhraseQ:
    text: str
    slop: int = 0
    boost: float = 1.0
    field: str | None = None  # None = default text field


@dataclass
class WildQ:  # glob pattern with * / ? (PrefixQuery is the trailing-* case)
    pattern: str
    boost: float = 1.0
    field: str | None = None  # None/'text' = term-dict expansion; a
    # doc-registry column = fq-style predicate (SolrQueryParserBase
    # dispatches fielded wildcards per field type the same way)


@dataclass
class RegexQ:
    pattern: str
    boost: float = 1.0


@dataclass
class FuzzyQ:
    text: str
    max_edits: int = 2
    boost: float = 1.0


@dataclass
class RangeQ:
    field: str | None  # None = default text field (term range)
    lo: str | None     # None = open end (*)
    hi: str | None
    incl_lo: bool = True
    incl_hi: bool = True
    boost: float = 1.0


@dataclass
class BoolQ:
    should: list = field(default_factory=list)
    must: list = field(default_factory=list)
    must_not: list = field(default_factory=list)
    boost: float = 1.0


@dataclass
class ExistsQ:
    """``field:*`` — Lucene FieldExistsQuery (Solr standard-parser
    "find any document where the field exists"); constant-scores 1.0."""

    field: str
    boost: float = 1.0


@dataclass
class MatchAllQ:
    """``*:*`` — MatchAllDocsQuery, Solr's default q; scores 1.0."""

    boost: float = 1.0


@dataclass
class ConstQ:
    """``clause^=N`` — ConstantScoreQuery (Solr standard parser's
    constant-score operator): the wrapped clause matches as usual but
    contributes exactly ``score`` instead of its computed score."""

    node: object
    score: float


_LEX = re.compile(
    r"""
    \s*(?:
        (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<and>AND\b|&&)
      | (?P<or>OR\b|\|\|)
      | (?P<not>NOT\b|!)
      | (?P<plus>\+)
      | (?P<minus>-)
      | (?P<quoted>"[^"]*"(?:~\d+)?(?:\^=?[0-9.]+)?)
      | (?P<regex>/(?:[^/\\]|\\.)+/(?:\^=?[0-9.]+)?)
      | (?P<range>[\[{][^\]}]*?\sTO\s[^\]}]*?[\]}](?:\^=?[0-9.]+)?)
      | (?P<fieldname>[A-Za-z_][A-Za-z0-9_]*:)
      | (?P<word>[^\s()"]+)
    )
    """,
    re.VERBOSE,
)

_BOOST_RE = re.compile(r"\^([0-9.]+)$")
_CONST_RE = re.compile(r"\^=([0-9.]+)$")
_FUZZ_RE = re.compile(r"~(\d*)$")


def _lex(q: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(q):
        m = _LEX.match(q, pos)
        if not m or m.end() == pos:
            pos += 1
            continue
        pos = m.end()
        for name, val in m.groupdict().items():
            if val is not None:
                toks.append((name, val))
                break
    return toks


def _strip_boost(s: str) -> tuple[str, float]:
    m = _BOOST_RE.search(s)
    if m:
        return s[: m.start()], float(m.group(1))
    return s, 1.0


def _strip_const(s: str) -> tuple[str, float | None]:
    """Split a trailing ``^=N`` constant-score marker off a token."""
    m = _CONST_RE.search(s)
    if m:
        return s[: m.start()], float(m.group(1))
    return s, None


def _word_node(w: str, boost: float, fieldname: str | None):
    if w == "*:*":  # MatchAllDocsQuery (Solr's default q)
        return MatchAllQ(boost=boost)
    m = _FUZZ_RE.search(w)
    if m and m.start() > 0:  # fuzzy term~  /  term~1
        base = w[: m.start()]
        edits = int(m.group(1)) if m.group(1) else 2
        return FuzzyQ(base, max_edits=edits, boost=boost)
    if "*" in w or "?" in w:
        return WildQ(w, boost=boost, field=fieldname)
    return TermQ(w, field=fieldname, boost=boost)


def _range_node(body: str, boost: float, fieldname: str | None) -> RangeQ:
    incl_lo = body[0] == "["
    incl_hi = body[-1] == "]"
    inner = body[1:-1]
    lo_s, _, hi_s = inner.partition(" TO ")
    lo = lo_s.strip() or "*"
    hi = hi_s.strip() or "*"
    return RangeQ(
        fieldname,
        None if lo == "*" else lo,
        None if hi == "*" else hi,
        incl_lo,
        incl_hi,
        boost,
    )


class _Parser:
    def __init__(self, toks: list[tuple[str, str]], default_op: str):
        self.toks = toks
        self.i = 0
        self.default_op = default_op

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    # query := clause (op clause)*  — implicit op between adjacent clauses
    def parse_or(self):
        clauses: list[tuple[str, object]] = []  # (occur, node)
        occur_next: str | None = None
        while True:
            t = self.peek()
            if t is None or t[0] == "rparen":
                break
            kind, _ = t
            if kind == "or":
                self.next()
                continue
            if kind == "and":
                self.next()
                # bind previous clause and the next unary into a MUST group;
                # a dangling AND (no right operand) degrades to its operand
                node = self.parse_unary()
                if node is None:
                    continue
                if clauses:
                    prev_occ, prev = clauses.pop()
                    grp = BoolQ()
                    occ = prev_occ
                    if prev_occ == "must_not":
                        # `NOT x AND y` — precedence NOT > AND: the negation
                        # binds to x only, so x joins the group's must_not
                        # and the group itself is a plain clause
                        grp.must_not.append(prev)
                        occ = "should"
                    else:
                        self._and_merge(grp, prev)
                    self._and_merge(grp, node)
                    while self.peek() and self.peek()[0] == "and":
                        self.next()
                        nxt = self.parse_unary()
                        if nxt is not None:
                            self._and_merge(grp, nxt)
                    clauses.append((occ, grp))
                else:
                    clauses.append(("should", node))
                continue
            if kind in ("not", "minus"):
                self.next()
                occur_next = "must_not"
                continue
            if kind == "plus":
                self.next()
                occur_next = "must"
                continue
            node = self.parse_unary()
            occ = occur_next or ("must" if self.default_op == "AND" else "should")
            occur_next = None
            clauses.append((occ, node))
        return self._build_bool(clauses)

    def parse_unary(self):
        t = self.peek()
        if t is None:
            return None
        kind, val = t
        if kind in ("not", "minus"):
            self.next()
            inner = self.parse_unary()
            return BoolQ(must_not=[inner])
        return self.parse_primary()

    def parse_primary(self):
        kind, val = self.next()
        const = None
        if kind in ("quoted", "regex", "range", "word"):
            val, const = _strip_const(val)
        node = self._primary(kind, val)
        if const is not None and node is not None:
            return ConstQ(node, const)
        return node

    def _primary(self, kind, val):
        if kind == "lparen":
            node = self.parse_or()
            if self.peek() and self.peek()[0] == "rparen":
                self.next()
            # group boost `(a b)^2` / group constant score `(a b)^=2` —
            # lexed as a trailing word starting with ^
            t = self.peek()
            if t and t[0] == "word" and t[1].startswith("^="):
                self.next()
                try:
                    return ConstQ(node, float(t[1][2:]))
                except ValueError:
                    pass
            elif t and t[0] == "word" and t[1].startswith("^"):
                self.next()
                try:
                    node.boost = float(t[1][1:])
                except ValueError:
                    pass
            return node
        if kind == "quoted":
            body, boost = _strip_boost(val)
            slop = 0
            m = re.search(r'"~(\d+)$', body)
            if m:
                slop = int(m.group(1))
                body = body[: m.start() + 1]
            return PhraseQ(body.strip('"'), slop=slop, boost=boost)
        if kind == "regex":
            body, boost = _strip_boost(val)
            return RegexQ(body[1:-1], boost=boost)
        if kind == "range":
            body, const = _strip_const(val)
            body, boost = _strip_boost(body)
            node = _range_node(body, boost, None)
            return ConstQ(node, const) if const is not None else node
        if kind == "fieldname":
            fname = val[:-1]
            t = self.peek()
            if t is None:
                return TermQ(fname)
            nkind, nval = t
            if nkind == "range":
                self.next()
                # strip the ^=N constant-score marker before ^N boost —
                # the lexer keeps both attached to range tokens
                body, const = _strip_const(nval)
                body, boost = _strip_boost(body)
                node = _range_node(body, boost, fname)
                return ConstQ(node, const) if const is not None else node
            if nkind == "quoted":
                # field:"a b" keeps quoted (phrase) semantics — the
                # compiler maps metadata fields to equality filters and
                # text-field phrases to the positional verifier
                self.next()
                body, const = _strip_const(nval)
                body, boost = _strip_boost(body)
                slop = 0
                m = re.search(r'"~(\d+)$', body)
                if m:
                    slop = int(m.group(1))
                    body = body[: m.start() + 1]
                node = PhraseQ(body.strip('"'), slop=slop, boost=boost, field=fname)
                return ConstQ(node, const) if const is not None else node
            if nkind == "word":
                self.next()
                w, const = _strip_const(nval)
                w, boost = _strip_boost(w)
                if w == "*":  # field:* — FieldExistsQuery
                    node = ExistsQ(fname, boost=boost)
                else:
                    node = _word_node(w, boost, fname)
                return ConstQ(node, const) if const is not None else node
            return TermQ(fname)
        if kind == "word":
            w, boost = _strip_boost(val)
            return _word_node(w, boost, None)
        # operators in primary position — treat their text as a term
        return TermQ(val)

    @staticmethod
    def _and_merge(grp: BoolQ, node) -> None:
        """Add an AND operand to a MUST group: a pure-negative BoolQ
        (produced by ``NOT x`` / ``-x``) hoists into the group's
        must_not — Lucene's ``+a -b`` — instead of nesting as an
        unsatisfiable MUST clause (the flattening _build_bool already
        does at the top level)."""
        if isinstance(node, BoolQ) and node.must_not and not (node.must or node.should):
            grp.must_not.extend(node.must_not)
        else:
            grp.must.append(node)

    @staticmethod
    def _build_bool(clauses):
        if len(clauses) == 1 and clauses[0][0] == "should":
            return clauses[0][1]
        b = BoolQ()
        for occ, node in clauses:
            if node is None:
                continue
            if occ == "must_not" or (
                isinstance(node, BoolQ)
                and node.must_not
                and not (node.must or node.should)
            ):
                # flatten unary-NOT wrappers
                inner = (
                    node.must_not
                    if isinstance(node, BoolQ) and not (node.must or node.should)
                    else [node]
                )
                b.must_not.extend(inner)
            elif occ == "must":
                b.must.append(node)
            else:
                b.should.append(node)
        return b


def parse_lucene(q: str, default_op: str = "OR"):
    """Parse a lucene-syntax query string into the boolean AST."""
    node = _Parser(_lex(q), default_op).parse_or()
    return node if node is not None else BoolQ()


# ===========================================================================
# `simple` grammar (SimpleQParserPlugin / Lucene SimpleQueryParser):
# `+` = AND, `|` = OR (AND binds tighter), `-` = NOT, `"..."` phrase
# (`~N` slop), trailing `*` prefix, `~N` fuzzy, `(...)` grouping,
# whitespace = default operator. NEVER throws: malformed pieces degrade
# to literal terms / get dropped (the parser's defining property —
# reference search/SimpleQParserPlugin.java).
# ===========================================================================

_SIMPLE_LEX = re.compile(
    r"""
    \s*(?:
        (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<orop>\|)
      | (?P<andop>\+)
      | (?P<minus>-)
      | (?P<quoted>"[^"]*(?:"(?:~\d+)?)?)
      | (?P<word>[^\s()|+\-"]+)
    )
    """,
    re.VERBOSE,
)


class _SimpleParser:
    def __init__(self, toks: list[tuple[str, str]], default_op: str):
        self.toks = toks
        self.i = 0
        self.default_op = default_op

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    @staticmethod
    def _join(nodes: list, occur: str):
        nodes = [n for n in nodes if n is not None]
        if not nodes:
            return None
        if len(nodes) == 1:
            return nodes[0]
        b = BoolQ()
        for n in nodes:
            if isinstance(n, BoolQ) and n.must_not and not (n.must or n.should):
                b.must_not.extend(n.must_not)  # hoist `-x` into the group
            elif occur == "must":
                b.must.append(n)
            else:
                b.should.append(n)
        return b

    def parse_or(self):
        parts = [self.parse_and()]
        while self.peek() and self.peek()[0] == "orop":
            self.next()
            parts.append(self.parse_and())
        return self._join(parts, "should")

    def parse_and(self):
        parts = [self.parse_unary()]
        explicit_and = False
        while True:
            t = self.peek()
            if t is None or t[0] in ("orop", "rparen"):
                break
            if t[0] == "andop":
                self.next()
                explicit_and = True
                parts.append(self.parse_unary())
                continue
            # adjacency: whitespace joins with the default operator
            parts.append(self.parse_unary())
        occur = "must" if (explicit_and or self.default_op == "AND") else "should"
        return self._join(parts, occur)

    def parse_unary(self):
        t = self.peek()
        if t is None:
            return None
        kind, _ = t
        if kind == "minus":
            self.next()
            inner = self.parse_unary()
            return BoolQ(must_not=[inner]) if inner is not None else None
        return self.parse_primary()

    def parse_primary(self):
        t = self.peek()
        if t is None:
            return None
        kind, val = self.next()
        if kind == "lparen":
            node = self.parse_or()
            if self.peek() and self.peek()[0] == "rparen":
                self.next()  # lenient: unclosed group is fine
            return node
        if kind == "rparen":  # stray ')' — drop it, keep parsing
            return self.parse_primary() if self.peek() else None
        if kind == "quoted":
            body = val
            slop = 0
            m = re.search(r'"~(\d+)$', body)
            if m:
                slop = int(m.group(1))
                body = body[: m.start() + 1]
            return PhraseQ(body.strip('"'), slop=slop)
        m = _FUZZ_RE.search(val)
        if m and m.start() > 0:
            edits = int(m.group(1)) if m.group(1) else 2
            return FuzzyQ(val[: m.start()], max_edits=edits)
        if val.endswith("*") and len(val) > 1:
            return WildQ(val)
        return TermQ(val.replace("*", ""))  # inner '*' not simple syntax


def parse_simple(q: str, default_op: str = "OR"):
    """Parse ``simple`` syntax into the same boolean AST
    :func:`parse_lucene` produces (executed by plans.execute_ast)."""
    toks, pos = [], 0
    while pos < len(q):
        m = _SIMPLE_LEX.match(q, pos)
        if not m or m.end() == pos:
            pos += 1
            continue
        pos = m.end()
        for name, v in m.groupdict().items():
            if v is not None:
                toks.append((name, v))
                break
    node = _SimpleParser(toks, default_op).parse_or()
    return node if node is not None else BoolQ()


# ---------------------------------------------------------------------------
# XML query parser ({!xmlparser} — XmlQParserPlugin)
# ---------------------------------------------------------------------------

def parse_xml_query(xml: str):
    """Parse the Lucene XML query DSL into the shared boolean AST.

    Reference: ``search/XmlQParserPlugin.java`` delegates to Lucene's
    ``queryparser/xml/CoreParser`` element builders; the subset mapped
    here covers the builders the reference registers that our engine
    can execute:

    - ``<BooleanQuery>`` + ``<Clause occurs="must|should|mustNot|filter">``
      (filter = required but scoreless → ConstQ(node, 0.0), exactly
      Lucene's FILTER occur)
    - ``<TermQuery fieldName boost>``, ``<TermsQuery>`` (whitespace-split
      disjunction), ``<MatchAllDocsQuery/>``
    - ``<RangeQuery fieldName lowerTerm upperTerm includeLower
      includeUpper>`` (TermRangeQueryBuilder semantics)
    - ``<ConstantScoreQuery boost>`` wrapping any child
    - ``<UserQuery>`` (classic-syntax escape hatch → parse_lucene)
    - ``<SpanNear slop inOrder>`` of ``<SpanTerm>`` children → phrase
      with slop when inOrder (the engine's positional verify)

    Executed by ``plans.execute_ast`` like every other front-end grammar.
    """
    import xml.etree.ElementTree as ET

    return _xml_node(ET.fromstring(xml))


def _xml_node(el):
    tag = el.tag
    boost = float(el.get("boost", "1"))
    field = el.get("fieldName")
    if tag == "BooleanQuery":
        node = BoolQ(boost=boost)
        for cl in el:
            if cl.tag != "Clause":
                raise ValueError(f"BooleanQuery child must be Clause, got {cl.tag}")
            occurs = cl.get("occurs", "should")
            children = list(cl)
            if len(children) != 1:
                raise ValueError("Clause must wrap exactly one query element")
            sub = _xml_node(children[0])
            if occurs == "must":
                node.must.append(sub)
            elif occurs == "mustNot":
                node.must_not.append(sub)
            elif occurs == "filter":
                node.must.append(ConstQ(sub, 0.0))
            else:
                node.should.append(sub)
        return node
    if tag == "TermQuery":
        return TermQ((el.text or "").strip(), field=field, boost=boost)
    if tag == "TermsQuery":
        terms = (el.text or "").split()
        return BoolQ(
            should=[TermQ(t, field=field) for t in terms], boost=boost
        )
    if tag == "MatchAllDocsQuery":
        return MatchAllQ(boost=boost)
    if tag == "RangeQuery":
        lo, hi = el.get("lowerTerm"), el.get("upperTerm")
        return RangeQ(
            field=field, lo=lo, hi=hi,
            incl_lo=el.get("includeLower", "true").lower() == "true",
            incl_hi=el.get("includeUpper", "true").lower() == "true",
            boost=boost,
        )
    if tag == "ConstantScoreQuery":
        children = list(el)
        if len(children) != 1:
            raise ValueError("ConstantScoreQuery must wrap exactly one child")
        return ConstQ(_xml_node(children[0]), boost)
    if tag == "UserQuery":
        inner = parse_lucene((el.text or "").strip())
        if boost != 1.0:
            inner.boost = getattr(inner, "boost", 1.0) * boost
        return inner
    if tag == "SpanNear":
        terms = [(c.text or "").strip() for c in el if c.tag == "SpanTerm"]
        if el.get("inOrder", "true").lower() != "true":
            raise ValueError("unordered SpanNear: use the surround parser (N operator)")
        return PhraseQ(" ".join(terms), slop=int(el.get("slop", "0")), boost=boost)
    raise ValueError(f"unsupported XML query element: {tag}")


def parse_json_query(node):
    """Parse one JSON Query DSL node into the shared boolean AST.

    Reference: the JSON Request API's query converter
    (``core/src/java/org/apache/solr/request/json/JsonQueryConverter.java``,
    envelope handling in ``request/json/RequestUtil.java``; docs
    "JSON Query DSL"). A node is either a bare string (parsed by the
    default ``lucene`` grammar) or a one-key object
    ``{"<parser_name>": <params>}``. Mapped parser names:

    - ``lucene``: ``{"query"/"v": str, "q.op": "AND"|"OR"}`` →
      :func:`parse_lucene`
    - ``bool``: ``must`` / ``should`` / ``must_not`` / ``filter``
      clause lists (each entry itself a DSL node); ``filter`` is
      required-but-scoreless, exactly Lucene's FILTER occur →
      ``ConstQ(sub, 0.0)`` in ``must`` (BoolQParserPlugin.java)
    - ``field``: analyzed as one unit — single token → term, several →
      phrase (FieldQParserPlugin.java semantics)
    - ``term``: raw single term (TermQParserPlugin.java — the value is
      matched against the indexed term verbatim, bypassing query-time
      analysis; ``{"term": {"v": "Spark"}}`` misses a lowercased index)
    - ``prefix``: ``{"f":..., "query": "sp"}`` → ``sp*``
      (PrefixQParserPlugin.java; the default text field expands against
      the term dictionary, a doc-registry ``f`` compiles to a column
      predicate)

    A one-key object whose key starts with ``#`` is a *tagged* clause
    (used by multi-select faceting's ``excludeTags``); the tag is
    transparent here — the wrapped node is parsed as usual.
    ``{"param": ...}`` dereference has no request-parameter layer in
    this engine and raises. Executed by ``plans.execute_ast`` like the
    lucene / simple / xmlparser front-ends.
    """
    if isinstance(node, str):
        return parse_lucene(node)
    if not isinstance(node, dict) or len(node) != 1:
        raise ValueError(f"JSON query node must be a string or one-key object: {node!r}")
    (name, params), = node.items()
    if name.startswith("#"):  # tagged clause — tag is facet-domain metadata
        return parse_json_query(params)
    if name == "param":
        raise ValueError("JSON DSL param dereference requires a request-params layer")
    boost = 1.0
    if isinstance(params, dict) and "boost" in params and name != "bool":
        boost = float(params["boost"])
    if name == "lucene":
        if isinstance(params, str):
            return parse_lucene(params)
        q = params.get("query", params.get("v"))
        if not isinstance(q, str):
            raise ValueError(f"lucene node needs a 'query' or 'v' string: {params!r}")
        ast = parse_lucene(q, default_op=params.get("q.op", "OR"))
        if boost != 1.0:
            ast.boost = getattr(ast, "boost", 1.0) * boost
        return ast
    if name == "bool":
        out = BoolQ(boost=float(params.get("boost", 1.0)))

        def clauses(key):
            v = params.get(key, [])
            return v if isinstance(v, list) else [v]

        for sub in clauses("must"):
            out.must.append(parse_json_query(sub))
        for sub in clauses("should"):
            out.should.append(parse_json_query(sub))
        for sub in clauses("must_not"):
            out.must_not.append(parse_json_query(sub))
        for sub in clauses("filter"):
            out.must.append(ConstQ(parse_json_query(sub), 0.0))
        return out
    if name == "field":
        text = str(params.get("query", params.get("v", "")))
        f = params.get("f")
        toks = text.split()
        if len(toks) <= 1:
            return TermQ(text.strip(), field=f, boost=boost)
        return PhraseQ(text, field=f, boost=boost)
    if name == "term":
        # TermQParserPlugin: the value is NOT analyzed — it must match
        # the indexed (already-analyzed) term byte-for-byte
        return TermQ(str(params.get("v", params.get("query", ""))).strip(),
                     field=params.get("f"), boost=boost, raw=True)
    if name == "prefix":
        return WildQ(str(params.get("query", params.get("v", ""))) + "*",
                     boost=boost, field=params.get("f"))
    raise ValueError(f"unsupported JSON DSL parser name: {name}")


def parse_json_request(body):
    """Parse a JSON Request API envelope ``{"query": ..., "filter":
    [...], "limit": N, "offset": N}`` into ``(ast, limit, offset)``.

    Reference: ``request/json/RequestUtil.java`` maps ``query``→``q``,
    ``filter``→``fq`` (each filter required but scoreless), ``limit``→
    ``rows``, ``offset``→``start``. ``body`` may be a dict or a JSON
    string.
    """
    import json as _json

    if isinstance(body, str):
        body = _json.loads(body)
    ast = parse_json_query(body.get("query", "*:*"))
    filters = body.get("filter", [])
    if not isinstance(filters, list):
        filters = [filters]
    if filters:
        if not isinstance(ast, BoolQ) or ast.should and not ast.must:
            ast = BoolQ(must=[ast])
        for fq in filters:
            ast.must.append(ConstQ(parse_json_query(fq), 0.0))
    return ast, int(body.get("limit", 10)), int(body.get("offset", 0))
