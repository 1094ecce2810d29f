"""Standalone token-array filters — the widely-used Lucene/Solr analysis
filters beyond the frozen chain slots, each in TWO byte-equal forms:

- a Spark ``Column`` higher-order expression (JVM-side, codegen'd — the
  100 TB form: no Python in the analyzer), and
- a DuckDB SQL fragment twin for the oracle gate.

References (Solr factories wiring the Lucene filters):
``EdgeNGramFilterFactory`` / ``NGramFilterFactory`` (autocomplete
indexing), ``LengthFilterFactory``, ``PatternReplaceFilterFactory``,
``KeepWordFilterFactory``, ``CommonGramsFilterFactory``
(``commongrams/CommonGramsFilter.java`` — unigram + joined bigram when a
member is common), ``TruncateTokenFilterFactory``,
``ReverseStringFilterFactory``, ``LimitTokenCountFilterFactory``
(all registered via ``solr/core/src/java/org/apache/solr/analysis`` +
the Lucene analysis-common factories the reference schema exposes).

Filters compose over any chain's ``tokens()`` output, mirroring
schema.xml filter ordering.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _q(s: str) -> str:
    return s.replace("'", "''")


# ---------------------------------------------------------------------------
# EdgeNGram / NGram
# ---------------------------------------------------------------------------


def edge_ngrams(toks: Column, min_n: int = 2, max_n: int = 5) -> Column:
    """Per-token leading-edge n-grams, min_n..min(max_n, len) — the
    autocomplete index form (EdgeNGramFilterFactory)."""
    empty = F.array().cast("array<string>")
    return F.flatten(
        F.transform(
            toks,
            # guard: Spark sequence(a, b) runs DESCENDING when b < a, so
            # short tokens must yield [] explicitly
            lambda t: F.when(
                F.length(t) >= min_n,
                F.transform(
                    F.sequence(F.lit(min_n), F.least(F.lit(max_n), F.length(t))),
                    lambda i: t.substr(F.lit(1), i),
                ),
            ).otherwise(empty),
        )
    )


def edge_ngrams_sql(tt: str, min_n: int = 2, max_n: int = 5) -> str:
    return (
        f"flatten(list_transform({tt}, t -> list_transform("
        f"range({min_n}, least({max_n}, len(t)) + 1), i -> substr(t, 1, CAST(i AS INT)))))"
    )


def char_ngrams(toks: Column, n: int = 3) -> Column:
    """Per-token character n-grams (NGramFilterFactory, fixed n)."""
    empty = F.array().cast("array<string>")
    return F.flatten(
        F.transform(
            toks,
            lambda t: F.when(
                F.length(t) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.length(t) - F.lit(n - 1)),
                    lambda i: t.substr(i, F.lit(n)),
                ),
            ).otherwise(empty),
        )
    )


def char_ngrams_sql(tt: str, n: int = 3) -> str:
    return (
        f"flatten(list_transform({tt}, t -> list_transform("
        f"range(1, greatest(len(t) - {n - 1}, 0) + 1), "
        f"i -> substr(t, CAST(i AS INT), {n}))))"
    )


# ---------------------------------------------------------------------------
# Length / KeepWord / PatternReplace / Truncate / Reverse / LimitCount
# ---------------------------------------------------------------------------


def length_filter(toks: Column, lo: int, hi: int) -> Column:
    """Keep tokens with lo <= len <= hi (LengthFilterFactory)."""
    return F.filter(toks, lambda t: (F.length(t) >= lo) & (F.length(t) <= hi))


def length_filter_sql(tt: str, lo: int, hi: int) -> str:
    return f"list_filter({tt}, t -> len(t) >= {lo} AND len(t) <= {hi})"


def keep_words(toks: Column, keep: list[str]) -> Column:
    """Keep only whitelisted tokens (KeepWordFilterFactory)."""
    kws = sorted(keep)
    return F.filter(toks, lambda t: t.isin(kws))


def keep_words_sql(tt: str, keep: list[str]) -> str:
    kws = ", ".join(f"'{_q(w)}'" for w in sorted(keep))
    return f"list_filter({tt}, t -> t IN ({kws}))"


def pattern_replace(toks: Column, pattern: str, replacement: str) -> Column:
    """Per-token regex replace (PatternReplaceFilterFactory, replace=all)."""
    return F.transform(toks, lambda t: F.regexp_replace(t, pattern, replacement))


def pattern_replace_sql(tt: str, pattern: str, replacement: str) -> str:
    return (
        f"list_transform({tt}, t -> regexp_replace(t, '{_q(pattern)}', "
        f"'{_q(replacement)}', 'g'))"
    )


def truncate_tokens(toks: Column, length: int) -> Column:
    """Truncate every token to a max length (TruncateTokenFilterFactory)."""
    return F.transform(toks, lambda t: t.substr(F.lit(1), F.lit(length)))


def truncate_tokens_sql(tt: str, length: int) -> str:
    return f"list_transform({tt}, t -> substr(t, 1, {length}))"


def reverse_tokens(toks: Column) -> Column:
    """Reverse each token (ReverseStringFilterFactory), an analysis-chain
    filter. The index keeps no reversed dictionary: a leading wildcard
    (``*suffix``) expands with ``endswith`` over term_dict."""
    return F.transform(toks, lambda t: F.reverse(t))


def reverse_tokens_sql(tt: str) -> str:
    return f"list_transform({tt}, t -> reverse(t))"


def limit_token_count(toks: Column, max_count: int) -> Column:
    """Keep the first N tokens (LimitTokenCountFilterFactory)."""
    return F.slice(toks, 1, max_count)


def limit_token_count_sql(tt: str, max_count: int) -> str:
    return f"list_slice({tt}, 1, {max_count})"


# ---------------------------------------------------------------------------
# CommonGrams
# ---------------------------------------------------------------------------


def common_grams(toks: Column, common: list[str], sep: str = "_") -> Column:
    """CommonGramsFilter: every unigram, plus the joined bigram whenever
    either member is a common word (phrase-speed trick for stop-heavy
    queries; ref commongrams/CommonGramsFilter.java)."""
    cws = sorted(common)

    def per_pos(i: Column) -> Column:
        uni = F.element_at(toks, i)
        nxt = F.element_at(toks, i + F.lit(1))
        bigram = F.concat_ws(sep, uni, nxt)
        emit_bi = (i < F.size(toks)) & (uni.isin(cws) | nxt.isin(cws))
        return F.when(emit_bi, F.array(uni, bigram)).otherwise(F.array(uni))

    return F.when(
        F.size(toks) > 0,
        F.flatten(F.transform(F.sequence(F.lit(1), F.size(toks)), per_pos)),
    ).otherwise(F.array().cast("array<string>"))


def common_grams_sql(tt: str, common: list[str], sep: str = "_") -> str:
    cws = ", ".join(f"'{_q(w)}'" for w in sorted(common))
    return (
        f"flatten(list_transform(range(1, len({tt}) + 1), i -> "
        f"CASE WHEN i < len({tt}) AND ({tt}[i] IN ({cws}) OR {tt}[i+1] IN ({cws})) "
        f"THEN [{tt}[i], {tt}[i] || '{_q(sep)}' || {tt}[i+1]] "
        f"ELSE [{tt}[i]] END))"
    )


# ---------------------------------------------------------------------------
# the probe pack: one frozen parameterization per filter, in both forms
# (single source of truth so the entry and its oracle cannot drift)
# ---------------------------------------------------------------------------

PACK_KEEP = ["spark", "merge", "table"]
PACK_COMMON = ["data", "spark"]


def pack_columns(toks: Column) -> list[tuple[str, Column]]:
    return sorted(
        [
            ("edge_ngram", edge_ngrams(toks, 2, 4)),
            ("char_ngram", char_ngrams(toks, 3)),
            ("length_3_6", length_filter(toks, 3, 6)),
            ("keep_words", keep_words(toks, PACK_KEEP)),
            ("pattern_replace", pattern_replace(toks, "[0-9]+", "#")),
            ("truncate_4", truncate_tokens(toks, 4)),
            ("reverse", reverse_tokens(toks)),
            ("limit_5", limit_token_count(toks, 5)),
            ("common_grams", common_grams(toks, PACK_COMMON)),
        ]
    )


def pack_sql_exprs(tt: str) -> list[tuple[str, str]]:
    return sorted(
        [
            ("edge_ngram", edge_ngrams_sql(tt, 2, 4)),
            ("char_ngram", char_ngrams_sql(tt, 3)),
            ("length_3_6", length_filter_sql(tt, 3, 6)),
            ("keep_words", keep_words_sql(tt, PACK_KEEP)),
            ("pattern_replace", pattern_replace_sql(tt, "[0-9]+", "#")),
            ("truncate_4", truncate_tokens_sql(tt, 4)),
            ("reverse", reverse_tokens_sql(tt)),
            ("limit_5", limit_token_count_sql(tt, 5)),
            ("common_grams", common_grams_sql(tt, PACK_COMMON)),
        ]
    )
