"""Function-query scalars — the reference's ValueSource surface.

Solr registers 105 function-query parsers (``search/ValueSourceParser
.java:162-1361``). Most collapse to stock ``pyspark.sql.functions`` (sqrt,
pow, abs, log, if/exists/def → when/coalesce, strdist → levenshtein …); the
ones with Solr-specific semantics are restated here as thin, documented
column expressions so the query compiler can reference them by name.

The relevance accessors (docfreq/idf/tf/norm/numdocs/maxdoc/totaltermfreq)
are NOT here — they are first-class columns of the engine's ``term_dict``
/ ``postings`` / ``docs`` tables, idf the engine's one expression over df
(``SearchEngine.idf``) (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def recip(x: Column, m: float, a: float, b: float) -> Column:
    """``recip(x,m,a,b) = a/(m*x+b)`` (ValueSourceParser ``recip``) — the
    classic recency boost shape."""
    return F.lit(a) / (F.lit(m) * x + F.lit(b))


def linear(x: Column, m: float, c: float) -> Column:
    """``linear(x,m,c) = m*x + c``."""
    return F.lit(m) * x + F.lit(c)


def scale_expr(x: Column, min_x: Column, max_x: Column, lo: float, hi: float) -> Column:
    """``scale(x,lo,hi)``: min-max rescale into [lo, hi]. Solr computes the
    field min/max over the index first; callers pass them in (an ``agg``)."""
    span = max_x - min_x
    frac = F.when(span == 0, F.lit(0.5)).otherwise((x - min_x) / span)
    return F.lit(lo) + frac * F.lit(hi - lo)


def map_value(x: Column, lo: float, hi: float, target: float) -> Column:
    """``map(x,min,max,target)``: remap values in [lo,hi] to target."""
    return F.when((x >= lo) & (x <= hi), F.lit(target)).otherwise(x)


def strdist(a: Column, b: Column) -> Column:
    """``strdist(a,b,edit)`` → similarity in [0,1] = 1 - lev/maxlen
    (Lucene LevenshteinDistance.getDistance semantics)."""
    maxlen = F.greatest(F.length(a), F.length(b))
    return F.when(maxlen == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b).cast("double") / maxlen
    )


def ms(a: Column, b: Column | None = None) -> Column:
    """``ms(a,b)``: millisecond difference of two timestamps (``ms(a)`` =
    millis since epoch)."""
    am = (F.unix_micros(a) / 1000).cast("long")
    if b is None:
        return am
    return am - (F.unix_micros(b) / 1000).cast("long")


def frange(x: Column, lower: float | None, upper: float | None,
           incl_lower: bool = True, incl_upper: bool = True) -> Column:
    """``{!frange l=.. u=..}`` — boolean mask for a function-value range
    (``FunctionRangeQParserPlugin``)."""
    cond = F.lit(True)
    if lower is not None:
        cond = cond & (x >= lower if incl_lower else x > lower)
    if upper is not None:
        cond = cond & (x <= upper if incl_upper else x < upper)
    return cond
