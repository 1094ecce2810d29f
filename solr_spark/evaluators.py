"""Math/stat stream evaluators — the most-used slice of the reference's
300+ streaming evaluators (``solr/solrj-streaming/src/java/org/apache/
solr/client/solrj/io/eval/`` — CorrelationEvaluator, CovarianceEvaluator,
RegressionEvaluator, HistogramEvaluator, PercentileEvaluator,
DescribeEvaluator; test ``io/stream/MathExpressionTest.java``), restated
Spark-first:

the reference evaluates these DRIVER-side over materialized tuple
streams (a ``let``/``col`` lambda layer); at 100 TB that is exactly
wrong, so here each evaluator is a distributed grouped AGGREGATION —
built-in JVM aggregate functions (``corr``, ``covar_samp``,
``regr_slope`` …), map-side partial aggregation for free, one shuffle
per evaluator call, no driver materialization of the stream.

Cross-engine float policy: results are rounded in the entry layer (the
aggregates are order-of-merge dependent in the last ulps); DuckDB's
``corr/covar_samp/regr_*/quantile_cont`` implement the same estimators
(sample covariance, least-squares fit, linear-interpolation quantiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def describe(df: DataFrame, col: str, by: str | None = None) -> DataFrame:
    """DescribeEvaluator analog: n/mean/stddev(sample)/min/max/sum,
    optionally per group."""
    aggs = [
        F.count(col).alias("n"),
        F.mean(col).alias("mean"),
        F.stddev_samp(col).alias("stddev"),
        F.min(col).alias("min"),
        F.max(col).alias("max"),
        F.sum(col).alias("sum"),
    ]
    return df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)


def hist(df: DataFrame, col: str, lo: float, width: float, n_bins: int) -> DataFrame:
    """HistogramEvaluator analog with FIXED bins (deterministic across
    engines): bin i covers [lo + i·width, lo + (i+1)·width); values at or
    past the top edge clamp into the last bin. Returns (bin, bin_lo, n)."""
    raw = F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("int")
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count("*").alias("n"))
        .withColumn("bin_lo", (F.lit(lo) + F.col("bin") * F.lit(width)).cast("double"))
        .select("bin", "bin_lo", "n")
    )


def corr_regress(df: DataFrame, x: str, y: str, by: str | None = None) -> DataFrame:
    """Correlation + covariance + least-squares regression of y on x
    (CorrelationEvaluator / CovarianceEvaluator / RegressionEvaluator):
    one grouped aggregation, all JVM built-ins."""
    aggs = [
        F.count(x).alias("n"),
        F.corr(x, y).alias("corr"),
        F.covar_samp(x, y).alias("cov"),
        F.regr_slope(F.col(y), F.col(x)).alias("slope"),
        F.regr_intercept(F.col(y), F.col(x)).alias("intercept"),
        F.regr_r2(F.col(y), F.col(x)).alias("r2"),
    ]
    return df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)


def percentiles(df: DataFrame, col: str, ps: list[float], by: str | None = None) -> DataFrame:
    """PercentileEvaluator analog: EXACT linear-interpolation quantiles
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``), one row per p."""
    p_arr = F.array(*[F.lit(float(p)) for p in ps])
    agg = F.expr(
        f"percentile({col}, array({', '.join(repr(float(p)) for p in ps)}))"
    ).alias("qs")
    base = df.groupBy(by).agg(agg) if by else df.agg(agg)
    keep = [by] if by else []
    return base.select(
        *keep, F.explode(F.arrays_zip(p_arr.alias("p"), F.col("qs").alias("q"))).alias("z")
    ).select(*keep, F.col("z.p").alias("p"), F.col("z.q").alias("q"))


def moving_avg(
    df: DataFrame, order_col: str, val_col: str, n: int, by: str | None = None
) -> DataFrame:
    """MovingAverageEvaluator analog (``io/eval/MovingAverageEvaluator.
    java``): trailing mean over the last ``n`` points of an ordered
    series, per group.

    Scale shape: ``Window.partitionBy(group)`` — each group's series
    sorts inside one task, groups spread across the cluster. (An
    un-grouped call funnels the whole series into one partition — callers
    at scale must group; the reference evaluator is driver-side and has
    the same ceiling at 1 machine.) First n-1 points average what is
    available so far, matching a shrinking head window.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(*( [by] if by else [] ))
        .orderBy(order_col)
        .rowsBetween(-(n - 1), 0)
    )
    keep = [by] if by else []
    return df.select(
        *keep, order_col, F.avg(val_col).over(w).alias("moving_avg")
    )


def series_diff(
    df: DataFrame, order_col: str, val_col: str, by: str | None = None
) -> DataFrame:
    """DiffEvaluator analog (serial difference x_t - x_{t-1}) — LAG over
    the per-group ordered series; the first point of each group is NULL
    (no predecessor), matching the reference's series shortening by one.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*( [by] if by else [] )).orderBy(order_col)
    keep = [by] if by else []
    return df.select(
        *keep,
        order_col,
        (F.col(val_col) - F.lag(val_col, 1).over(w)).alias("diff"),
    )


def zscores(df: DataFrame, val_col: str, by: str | None = None) -> DataFrame:
    """NormalizeEvaluator / ``zscores`` analog: (x - mean) / stddev_samp
    per group.

    Deliberately NOT a window function: group stats come from one
    grouped aggregation broadcast-joined back, so no per-group sort and
    no single-partition funnel — two narrow passes over the data instead
    of a global window sort. (Ref evaluates driver-side over a
    materialized vector.)
    """
    keep = [by] if by else []
    if by:
        stats = df.groupBy(by).agg(
            F.mean(val_col).alias("_mu"), F.stddev_samp(val_col).alias("_sd")
        )
        joined = df.join(F.broadcast(stats), by)
    else:
        stats = df.agg(
            F.mean(val_col).alias("_mu"), F.stddev_samp(val_col).alias("_sd")
        )
        joined = df.crossJoin(F.broadcast(stats))
    return joined.select(
        *df.columns, ((F.col(val_col) - F.col("_mu")) / F.col("_sd")).alias("zscore")
    )


def ema(
    df: DataFrame,
    order_col: str,
    val_col: str,
    window: int,
    alpha: float | None = None,
    by: str | None = None,
) -> DataFrame:
    """ExponentialMovingAverageEvaluator analog (``io/eval/
    ExponentialMovingAverageEvaluator.java:115-140``): seed = mean of the
    first ``window`` points, then ``y = alpha*(x - y_prev) + y_prev`` for
    every later point; ``alpha`` defaults to ``2/(window+1)``. Output
    rows start at the window-th point of each group (the reference
    shortens the series the same way).

    Scale shape: grouped ``applyInPandas`` — the recurrence is inherently
    serial *within* a series, so each group runs in one task (pandas'
    C-loop ewm, not a Python loop) while groups spread across the
    cluster. The reference evaluates driver-side over one materialized
    vector; one machine per series is the same ceiling, minus the
    single-driver funnel.
    """
    import pandas as pd

    a = 2.0 / (window + 1.0) if alpha is None else float(alpha)
    keep = [by] if by else []
    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.select(*keep, order_col).dtypes]
        + ["ema double"]
    )

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        if len(pdf) < window:
            return pdf.iloc[0:0][[*keep, order_col]].assign(ema=pd.Series(dtype="float64"))
        x = pdf[val_col].astype("float64")
        seed = float(x.iloc[:window].mean())
        # y_0 = seed; y_t = (1-a)*y_{t-1} + a*x_t  ==  ewm(adjust=False)
        # over [seed, x_w, x_{w+1}, ...]
        series = pd.concat([pd.Series([seed]), x.iloc[window:]], ignore_index=True)
        y = series.ewm(alpha=a, adjust=False).mean()
        res = pdf.iloc[window - 1 :][[*keep, order_col]].reset_index(drop=True)
        res["ema"] = y.values
        return res

    if by:
        return df.groupBy(by).applyInPandas(_one, out_schema)
    return df.groupBy().applyInPandas(_one, out_schema)


def welch_ttest(
    df: DataFrame, val_col: str, group_col: str, g1: str, g2: str
) -> DataFrame:
    """TTestEvaluator analog (``io/eval/TTestEvaluator.java:88`` — the
    two-sample form delegates to commons-math ``TTest.t``, Welch's
    unequal-variance statistic). Returns one row
    ``(t_stat, df)`` with the Satterthwaite degrees of freedom.

    Pure grouped aggregation + scalar crossjoin — no UDF, no collect;
    the p-value (a t-CDF lookup over two scalars) is left to the caller
    since it is O(1) driver work.
    """
    st = (
        df.where(F.col(group_col).isin([g1, g2]))
        .groupBy(group_col)
        .agg(
            F.mean(val_col).alias("m"),
            F.var_samp(val_col).alias("v"),
            F.count(val_col).cast("double").alias("n"),
        )
    )
    a = st.where(F.col(group_col) == g1).select(
        F.col("m").alias("m1"), F.col("v").alias("v1"), F.col("n").alias("n1")
    )
    b = st.where(F.col(group_col) == g2).select(
        F.col("m").alias("m2"), F.col("v").alias("v2"), F.col("n").alias("n2")
    )
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    return a.crossJoin(b).select(
        ((F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)).alias("t_stat"),
        (
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1))
        ).alias("df"),
    )


def minmax_scale(
    df: DataFrame, val_col: str, lo: float = 0.0, hi: float = 1.0, by: str | None = None
) -> DataFrame:
    """MinMaxScaleEvaluator analog: rescale to [lo, hi] per group via
    ``lo + (x - min) * (hi - lo) / (max - min)``. Same broadcast-stats
    shape as :func:`zscores` — no window, no per-group sort.
    """
    if by:
        stats = df.groupBy(by).agg(
            F.min(val_col).alias("_mn"), F.max(val_col).alias("_mx")
        )
        joined = df.join(F.broadcast(stats), by)
    else:
        stats = df.agg(F.min(val_col).alias("_mn"), F.max(val_col).alias("_mx"))
        joined = df.crossJoin(F.broadcast(stats))
    span = F.col("_mx") - F.col("_mn")
    return joined.select(
        *df.columns,
        (
            F.lit(float(lo))
            + (F.col(val_col) - F.col("_mn")) * F.lit(float(hi) - float(lo))
            / span
        ).alias("scaled"),
    )


def rank_transform(df: DataFrame, val_col: str, by: str | None = None) -> DataFrame:
    """RankEvaluator analog (``io/eval/RankEvaluator.java`` — commons-math
    NaturalRanking with ties=average): fractional/average ranks.

    Scale shape: ranks are computed over DISTINCT values, not rows — one
    groupBy collapses the column to (value, count), a cumulative-sum
    window over that (much smaller) value dictionary yields
    ``avg_rank(v) = #less(v) + (ties(v)+1)/2``, and a join fans the rank
    back to rows. The per-group value dictionary sorts in one task;
    rows never funnel through a single partition. (The reference ranks a
    driver-side materialized vector — same math, one-machine ceiling.)
    """
    keep = [by] if by else []
    return df.join(_rank_dict(df, val_col, by), [*keep, val_col])


def _rank_dict(df: DataFrame, val_col: str, by: str | None) -> DataFrame:
    """(group, value) → average rank, computed over the DISTINCT-value
    dictionary: ``avg_rank(v) = #less(v) + (ties(v)+1)/2`` via one
    cumulative-sum window over the (small) dictionary."""
    from pyspark.sql.window import Window

    keep = [by] if by else []
    per_val = df.groupBy(*keep, val_col).agg(F.count("*").alias("_t"))
    w = (
        Window.partitionBy(*keep)
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return per_val.select(
        *keep,
        val_col,
        (
            F.coalesce(F.sum("_t").over(w), F.lit(0)).cast("double")
            + (F.col("_t") + 1) / 2.0
        ).alias("rank"),
    )


def spearman_corr(df: DataFrame, x: str, y: str, by: str | None = None) -> DataFrame:
    """CorrelationEvaluator type=spearmans analog (``io/eval/
    CorrelationEvaluator.java:119`` — commons-math SpearmansCorrelation =
    Pearson over average-ranked vectors). Two rank transforms (each a
    value-dictionary window + join-back, see :func:`rank_transform`) and
    one grouped ``corr`` aggregation; everything JVM-side."""
    keep = [by] if by else []
    rx = _rank_dict(df, x, by).withColumnRenamed("rank", "_rx")
    ry = _rank_dict(df, y, by).withColumnRenamed("rank", "_ry")
    # rank is a function of the value, so joining the two dictionaries
    # back on (group, value) re-pairs the rank vectors through the rows
    both = df.select(*keep, x, y).join(rx, [*keep, x]).join(ry, [*keep, y])
    aggs = [F.count("*").alias("n"), F.corr("_rx", "_ry").alias("spearman")]
    return both.groupBy(by).agg(*aggs) if by else both.agg(*aggs)


def mann_whitney(
    df: DataFrame, val_col: str, group_col: str, g1: str, g2: str
) -> DataFrame:
    """MannWhitneyUEvaluator analog (``io/eval/MannWhitneyUEvaluator.
    java`` — commons-math MannWhitneyUTest): rank-sum U over the pooled
    sample with average ranks for ties. Returns one row
    ``(u1, u2, z)`` where z is the tie-corrected normal approximation
    ``(u1 - n1*n2/2) / sigma`` (the reference's p-value is the normal
    CDF over this scalar — O(1) driver work left to the caller).

    Pooled ranks come from the value-dictionary trick (groupBy value →
    cumulative window over distinct values), so the only window runs
    over the value dictionary, and the tie-correction term
    ``Σ(t³-t)`` falls out of the same dictionary for free.
    """
    from pyspark.sql.window import Window

    d = df.where(F.col(group_col).isin([g1, g2])).select(
        F.col(val_col).alias("_v"), F.col(group_col).alias("_g")
    )
    per_val = d.groupBy("_v").agg(
        F.count("*").alias("_t"),
        F.sum(F.when(F.col("_g") == g1, 1).otherwise(0)).alias("_t1"),
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_val.select(
        "_t",
        "_t1",
        (
            F.coalesce(F.sum("_t").over(w), F.lit(0)).cast("double")
            + (F.col("_t") + 1) / 2.0
        ).alias("_rank"),
    )
    st = ranked.agg(
        F.sum(F.col("_t1") * F.col("_rank")).alias("r1"),
        F.sum("_t1").cast("double").alias("n1"),
        F.sum("_t").cast("double").alias("n"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t"))
        .cast("double")
        .alias("ties"),
    )
    n1, n = F.col("n1"), F.col("n")
    n2 = n - n1
    u1 = F.col("r1") - n1 * (n1 + 1) / 2.0
    u2 = n1 * n2 - u1
    mu = n1 * n2 / 2.0
    sigma = F.sqrt(
        n1 * n2 / 12.0 * ((n + 1) - F.col("ties") / (n * (n - 1)))
    )
    return st.select(
        u1.alias("u1"), u2.alias("u2"), ((u1 - mu) / sigma).alias("z")
    )


def chi_square(df: DataFrame, a: str, b: str) -> DataFrame:
    """ChiSquareDataSetEvaluator analog (``io/eval/
    ChiSquareDataSetEvaluator.java`` — independence test over a
    contingency table). One groupBy builds the observed table; row/col
    totals are tiny aggregates broadcast back; returns one row
    ``(chi2, dof, n)``. Expected counts never materialize a dense
    table — only observed cells contribute, plus the missing-cell
    correction ``n - Σ_observed e`` (a cell with o=0 contributes e)."""
    obs = df.groupBy(a, b).agg(F.count("*").cast("double").alias("o"))
    ra = obs.groupBy(a).agg(F.sum("o").alias("_ra"))
    cb = obs.groupBy(b).agg(F.sum("o").alias("_cb"))
    # the category counts as the sizes of the category sets (collect_set
    # skips nulls, as countDistinct does): two countDistinct in one agg
    # plan an Expand whose printed plan varies between runs, and the sets
    # are as small as the totals broadcast below
    tot = obs.agg(
        F.sum("o").alias("_n"),
        F.size(F.collect_set(a)).cast("double").alias("_ka"),
        F.size(F.collect_set(b)).cast("double").alias("_kb"),
    )
    j = (
        obs.join(F.broadcast(ra), a)
        .join(F.broadcast(cb), b)
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("_ra") * F.col("_cb") / F.col("_n")
    # Σ (o-e)²/e over observed cells + Σ e over unobserved cells;
    # the latter equals n - Σ_observed e because Σ_all e = n.
    return j.agg(
        (
            F.sum((F.col("o") - e) * (F.col("o") - e) / e)
            + F.first("_n")
            - F.sum(e)
        ).alias("chi2"),
        ((F.first("_ka") - 1) * (F.first("_kb") - 1)).alias("dof"),
        F.first("_n").alias("n"),
    )


def anova1(df: DataFrame, val_col: str, by: str) -> DataFrame:
    """AnovaEvaluator analog (``io/eval/AnovaEvaluator.java`` —
    commons-math OneWayAnova): one-way F statistic. One grouped
    aggregation to per-group (n, mean, var), a broadcast of the grand
    totals, and a final k-row aggregation — no collect, no window."""
    g = df.groupBy(by).agg(
        F.count(val_col).cast("double").alias("_ng"),
        F.mean(val_col).alias("_mg"),
        F.var_samp(val_col).alias("_vg"),
    )
    grand = g.agg(
        F.sum("_ng").alias("_n"), F.sum(F.col("_ng") * F.col("_mg")).alias("_s")
    )
    j = g.crossJoin(F.broadcast(grand))
    gm = F.col("_s") / F.col("_n")
    st = j.agg(
        F.sum(F.col("_ng") * (F.col("_mg") - gm) * (F.col("_mg") - gm)).alias("ssb"),
        F.sum((F.col("_ng") - 1) * F.col("_vg")).alias("ssw"),
        F.count("*").cast("double").alias("k"),
        F.first("_n").alias("n"),
    )
    df1 = F.col("k") - 1
    df2 = F.col("n") - F.col("k")
    return st.select(
        ((F.col("ssb") / df1) / (F.col("ssw") / df2)).alias("f_stat"),
        df1.alias("df1"),
        df2.alias("df2"),
    )


def moments(df: DataFrame, col: str, by: str | None = None) -> DataFrame:
    """Higher-moment + mean-family evaluators (``io/eval/`` Skewness/
    Kurtosis via commons-math DescriptiveStatistics; GeometricMean /
    HarmonicMean): population skewness ``m3/m2^1.5``, EXCESS kurtosis
    ``m4/m2² - 3``, geometric and harmonic means — one grouped
    aggregation from raw power sums.

    Numerical note: raw fourth moments cancel catastrophically when
    |x| ≫ 1 — callers should pre-scale the column (skew/kurtosis are
    scale-invariant; the entry divides price by 1e4) so E[x⁴] stays
    O(1..1e6) and the subtraction keeps ~10 clean digits.
    """
    x = F.col(col).cast("double")
    aggs = [
        F.count(col).cast("double").alias("n"),
        F.mean(x).alias("mean"),
        F.mean(x * x).alias("_e2"),
        F.mean(x * x * x).alias("_e3"),
        F.mean(x * x * x * x).alias("_e4"),
        F.exp(F.mean(F.log(x))).alias("geo_mean"),
        (F.count(col) / F.sum(F.lit(1.0) / x)).alias("harm_mean"),
    ]
    base = df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)
    mu = F.col("mean")
    m2 = F.col("_e2") - mu * mu
    m3 = F.col("_e3") - 3 * mu * F.col("_e2") + 2 * mu * mu * mu
    m4 = (
        F.col("_e4")
        - 4 * mu * F.col("_e3")
        + 6 * mu * mu * F.col("_e2")
        - 3 * mu * mu * mu * mu
    )
    keep = [by] if by else []
    return base.select(
        *keep,
        "n",
        "mean",
        (m3 / F.pow(m2, 1.5)).alias("skewness"),
        (m4 / (m2 * m2) - 3.0).alias("kurtosis"),
        "geo_mean",
        "harm_mean",
    )


def outliers_normal(
    df: DataFrame, col: str, low: float, high: float, by: str | None = None
) -> DataFrame:
    """OutliersEvaluator analog (``io/eval/OutliersEvaluator.java`` —
    rows whose fitted-distribution CDF falls below ``low`` or above
    ``high``; normalDistribution fit). For the normal fit,
    ``CDF(x) < low  ⟺  z < Φ⁻¹(low)``, so the inverse CDF is computed
    ONCE driver-side (stdlib ``statistics.NormalDist``) and the filter
    is a pure JVM z-score comparison — no erf needed executor-side.
    Broadcast-stats join, same shape as :func:`zscores`."""
    from statistics import NormalDist

    z_lo = NormalDist().inv_cdf(low)
    z_hi = NormalDist().inv_cdf(high)
    scored = zscores(df, col, by=by)
    return scored.where(
        (F.col("zscore") < F.lit(z_lo)) | (F.col("zscore") > F.lit(z_hi))
    )


def _full_window(order_col: str, n: int, by: str | None):
    from pyspark.sql.window import Window

    keep = [by] if by else []
    w = Window.partitionBy(*keep).orderBy(order_col).rowsBetween(-(n - 1), 0)
    rn = Window.partitionBy(*keep).orderBy(order_col)
    return keep, w, rn


def moving_median(
    df: DataFrame, order_col: str, val_col: str, n: int, by: str | None = None
) -> DataFrame:
    """MovingMedianEvaluator analog (``io/eval/MovingMedianEvaluator.
    java``): median of each full n-point trailing window; the first n-1
    points are dropped (the reference shortens the series).

    All-JVM: collect_list over the grouped window + array_sort +
    element_at — no Python stage, no per-group funnel beyond the
    grouped sort every trailing-window evaluator needs.
    """
    keep, w, rn = _full_window(order_col, n, by)
    arr = F.array_sort(F.collect_list(F.col(val_col).cast("double")).over(w))
    m = F.size(arr)
    mid_hi = (m / 2 + 1).cast("int")          # upper middle (1-based)
    mid_lo = ((m + 1) / 2).cast("int")        # lower middle (1-based)
    med = (F.element_at(arr, mid_lo) + F.element_at(arr, mid_hi)) / 2.0
    return (
        df.select(
            *keep, order_col,
            med.alias("moving_median"),
            F.row_number().over(rn).alias("_rn"),
        )
        .where(F.col("_rn") >= n)
        .drop("_rn")
    )


def moving_mad(
    df: DataFrame, order_col: str, val_col: str, n: int, by: str | None = None
) -> DataFrame:
    """MovingMADEvaluator analog (``io/eval/MovingMADEvaluator.java:70-82``):
    mean absolute deviation around each full n-point window's mean,
    Σ|x - mean|/n; first n-1 points dropped.

    All-JVM higher-order functions over the window-collected array
    (aggregate for the mean, transform+aggregate for the deviations).
    """
    keep, w, rn = _full_window(order_col, n, by)
    arr = F.collect_list(F.col(val_col).cast("double")).over(w)
    mean = F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v) / F.size(arr)

    def _mad_of(a, m):
        dev = F.transform(a, lambda v: F.abs(v - m))
        return F.aggregate(dev, F.lit(0.0), lambda acc, v: acc + v) / F.size(a)

    return (
        df.select(
            *keep, order_col,
            _mad_of(arr, mean).alias("moving_mad"),
            F.row_number().over(rn).alias("_rn"),
        )
        .where(F.col("_rn") >= n)
        .drop("_rn")
    )


def integrate_trapezoid(
    df: DataFrame, x_col: str, y_col: str, by: str | None = None
) -> DataFrame:
    """IntegrateEvaluator analog (``io/eval/IntegrateEvaluator.java:76``
    cumulative form — out[0]=0, out[i] integrates the sampled function
    up to x[i]; the reference Romberg-integrates a spline through the
    samples, which reduces to the trapezoid rule on linear segments):
    cumulative trapezoid ``Σ (x_i - x_{i-1})·(y_i + y_{i-1})/2`` via one
    grouped ordered window — no Python, no funnel beyond the per-group
    sort every series evaluator needs."""
    from pyspark.sql.window import Window

    keep = [by] if by else []
    w = Window.partitionBy(*keep).orderBy(x_col)
    seg = (
        (F.col(x_col) - F.lag(x_col).over(w))
        * (F.col(y_col) + F.lag(y_col).over(w))
        / 2.0
    )
    cum = F.sum(F.coalesce(seg, F.lit(0.0))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.select(*keep, x_col, cum.alias("integral"))


def convolve(
    df: DataFrame,
    order_col: str,
    val_col: str,
    kernel: list[float],
    by: str | None = None,
) -> DataFrame:
    """ConvolutionEvaluator analog (``io/eval/ConvolutionEvaluator.
    java`` — commons-math MathArrays.convolve, FULL convolution, output
    length n+m-1): each series row (i, y) contributes ``kernel[j]·y`` to
    output position ``t = i+j`` — one posexplode of the m-element
    kernel per row (m ≪ n) and one grouped sum. No quadratic blowup,
    no driver materialization; the only window is the per-group
    row-index sort.

    Returns (group?, t, conv) with t = 0..n+m-2 per group.
    """
    from pyspark.sql.window import Window

    keep = [by] if by else []
    w = Window.partitionBy(*keep).orderBy(order_col)
    k = F.array(*[F.lit(float(v)) for v in kernel])
    idx = df.select(
        *keep,
        (F.row_number().over(w) - 1).alias("_i"),
        F.col(val_col).cast("double").alias("_y"),
    )
    expl = idx.select(
        *keep, "_i", "_y", F.posexplode(k).alias("_j", "_kj")
    )
    return (
        expl.groupBy(*keep, (F.col("_i") + F.col("_j")).alias("t"))
        .agg(F.sum(F.col("_y") * F.col("_kj")).alias("conv"))
    )


def derivative_fd(
    df: DataFrame, x_col: str, y_col: str, by: str | None = None
) -> DataFrame:
    """DerivativeEvaluator analog (``io/eval/DerivativeEvaluator.java``
    differentiates the fitted spline; this is the finite-difference
    form): central difference ``(y_{i+1}-y_{i-1})/(x_{i+1}-x_{i-1})``
    interior, one-sided at the ends — the coalesce-to-self trick makes
    one expression cover all three cases in a single ordered window."""
    from pyspark.sql.window import Window

    keep = [by] if by else []
    w = Window.partitionBy(*keep).orderBy(x_col)
    y, x = F.col(y_col).cast("double"), F.col(x_col).cast("double")
    dy = F.coalesce(F.lead(y_col).over(w).cast("double"), y) - F.coalesce(
        F.lag(y_col).over(w).cast("double"), y
    )
    dx = F.coalesce(F.lead(x_col).over(w).cast("double"), x) - F.coalesce(
        F.lag(x_col).over(w).cast("double"), x
    )
    return df.select(*keep, x_col, (dy / dx).alias("derivative"))


def find_delay(
    df: DataFrame, order_col: str, a_col: str, b_col: str, by: str | None = None
) -> DataFrame:
    """FindDelayEvaluator analog (``io/eval/FindDelayEvaluator.java:83-95``
    — convolve a with reversed b = cross-correlation, take the index of
    the max |value|, report ``(idx+1) - len(b)``): the lag at which
    series b best aligns with series a.

    Scale shape: FFT cross-correlation per group — O((n+m)·log(n+m))
    instead of the O(n·m) full pair convolution (kept as
    :func:`find_delay_pairs`, the oracle twin). Each group's two series
    run in one ``applyInPandas`` task (numpy rfft — the convolution
    theorem), groups spread across the cluster; the reference evaluates
    driver-side over one materialized vector, so one machine per series
    is the same ceiling minus the single-driver funnel. FFT rounding
    could flip the arg-max between near-tied lags, so the top FFT
    candidates (everything within an fp-noise band of the max) are
    re-scored with EXACT direct dot products before the final
    (|r| desc, t asc) reference tie-break — exactness restored at
    O(k·n) for k≈1 candidates.
    """
    import numpy as np
    import pandas as pd

    keep = [by] if by else []
    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.select(*keep).dtypes] + ["delay bigint"]
    )

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        a = pdf[a_col].to_numpy(dtype="float64")
        b = pdf[b_col].to_numpy(dtype="float64")
        n = m = len(pdf)
        size = n + m - 1
        # r[t] = sum_i a[i]*b[i - (t - (m-1))]  — np.convolve(a, b[::-1])
        # via rfft at the next power of two >= size
        nfft = 1 << (size - 1).bit_length()
        r = np.fft.irfft(
            np.fft.rfft(a, nfft) * np.fft.rfft(b[::-1], nfft), nfft
        )[:size]
        absr = np.abs(r)
        # exact re-score of near-max candidates (fp-noise band)
        band = max(1e-6, 1e-9 * float(absr.max())) if size else 0.0
        cand = np.nonzero(absr >= absr.max() - band)[0] if size else []
        best_t, best_v = -1, -1.0
        for t in cand:
            lo_i, hi_i = max(0, t - (m - 1)), min(n - 1, t)
            # j = i + (m-1) - t over the valid overlap
            i_idx = np.arange(lo_i, hi_i + 1)
            v = abs(float(np.dot(a[i_idx], b[i_idx + (m - 1) - t])))
            if v > best_v or (v == best_v and t < best_t):
                best_t, best_v = int(t), v
        out = pdf.iloc[0:1][[*keep]].copy() if keep else pd.DataFrame(index=[0])
        out["delay"] = int(best_t + 1 - m)
        return out

    if by:
        return df.groupBy(by).applyInPandas(_one, out_schema)
    return df.groupBy().applyInPandas(_one, out_schema)


#: Hard ceiling for the quadratic oracle twins below (VERDICT r4 item 7)
QUADRATIC_TWIN_MAX_ROWS = 100_000


def _guard_quadratic_twin(df: DataFrame, name: str, fast_name: str) -> None:
    n = df.count()
    if n > QUADRATIC_TWIN_MAX_ROWS:
        raise ValueError(
            f"{name} is the O(n²) oracle twin — {n} rows exceeds "
            f"QUADRATIC_TWIN_MAX_ROWS={QUADRATIC_TWIN_MAX_ROWS}; use "
            f"{fast_name} for real corpora"
        )


def find_delay_pairs(
    df: DataFrame, order_col: str, a_col: str, b_col: str, by: str | None = None
) -> DataFrame:
    """ORACLE TWIN of :func:`find_delay`: the exact O(n·m) pair-join
    convolution (the reference's own driver-side asymptotics, spread).
    Retained for cross-checking the FFT path — do not point it at long
    series; :func:`find_delay` returns identical results in
    O((n+m)·log(n+m)). Refuses inputs above 100k rows (fail fast beats
    a silent quadratic join).
    """
    _guard_quadratic_twin(df, "find_delay_pairs", "find_delay")
    from pyspark.sql.window import Window

    keep = [by] if by else []
    w = Window.partitionBy(*keep).orderBy(order_col)
    idx = df.select(
        *keep,
        (F.row_number().over(w) - 1).alias("_i"),
        F.col(a_col).cast("double").alias("_a"),
        F.col(b_col).cast("double").alias("_b"),
    )
    a = idx.select(*keep, F.col("_i").alias("_ia"), "_a")
    m_df = idx.groupBy(*keep).agg(F.count("*").alias("_m"))
    b = idx.select(*keep, F.col("_i").alias("_jb"), "_b").join(
        F.broadcast(m_df), keep
    ) if by else idx.select("_i", "_b").withColumnRenamed("_i", "_jb").crossJoin(
        F.broadcast(m_df)
    )
    pairs = a.join(b, keep) if by else a.crossJoin(b)
    conv = (
        pairs.groupBy(
            *keep,
            (F.col("_ia") + F.col("_m") - 1 - F.col("_jb")).alias("_t"),
            F.col("_m"),
        )
        .agg(F.sum(F.col("_a") * F.col("_b")).alias("_r"))
    )
    # arg-max by (|r| desc, t asc): max of struct(|r|, -t) is exact
    best = conv.groupBy(*keep).agg(
        F.max(F.struct(F.abs(F.col("_r")).alias("s"), (-F.col("_t")).alias("nt"))).alias("_mx"),
        F.first("_m").alias("_m2"),
    )
    return best.select(
        *keep,
        ((-F.col("_mx.nt")) + 1 - F.col("_m2")).cast("long").alias("delay"),
    )


def kendall_tau(df: DataFrame, x: str, y: str, by: str | None = None) -> DataFrame:
    """CorrelationEvaluator type=kendalls analog (``io/eval/
    CorrelationEvaluator.java:111`` — commons-math KendallsCorrelation,
    tau-b with tie correction) in O(n log n) per group — Knight's
    algorithm (W.R. Knight 1966, the same algorithm commons-math uses
    internally), not pair counting.

    Sort by (x, y); discordant pairs = inversions of the y sequence
    (counted by a numpy merge with ``searchsorted`` cross-counts);
    tie terms n1/n2/n3 from group sizes:
    ``tau_b = (n0 - n1 - n2 + n3 - 2·swaps) / sqrt((n0-n1)·(n0-n2))``.
    Each group runs in one ``applyInPandas`` task (vectorized numpy),
    groups spread across the cluster — the reference materializes the
    whole vector driver-side, so one machine per group is the same
    ceiling minus the single-driver funnel. The exact pair-join form is
    retained as :func:`kendall_tau_pairs` (oracle twin).
    """
    import numpy as np
    import pandas as pd

    keep = [by] if by else []
    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in df.select(*keep).dtypes] + ["kendall_tau double"]
    )

    def _inversions(arr: "np.ndarray") -> int:
        # pairs i<j with arr[i] > arr[j]; strict (> not >=) so tied
        # values are NOT swaps — they're the n2/n3 tie terms
        def rec(a):
            n = a.size
            if n <= 1:
                return a, 0
            l, il = rec(a[: n // 2])
            r, ir = rec(a[n // 2 :])
            cross = int((l.size - np.searchsorted(l, r, side="right")).sum())
            merged = np.concatenate([l, r])
            merged.sort(kind="mergesort")
            return merged, il + ir + cross
        return rec(arr)[1]

    def _tie_term(vals: "np.ndarray") -> int:
        _, counts = np.unique(vals, return_counts=True)
        return int((counts * (counts - 1) // 2).sum())

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        xv = pdf[x].to_numpy(dtype="float64")
        yv = pdf[y].to_numpy(dtype="float64")
        order = np.lexsort((yv, xv))  # sort by (x asc, y asc)
        xs, ys = xv[order], yv[order]
        n = len(xs)
        n0 = n * (n - 1) // 2
        n1 = _tie_term(xs)
        n2 = _tie_term(ys)
        n3 = _tie_term(xs + 1j * ys)  # joint (x, y) ties
        swaps = _inversions(ys)
        den = float(np.sqrt(float(n0 - n1) * float(n0 - n2)))
        tau = (n0 - n1 - n2 + n3 - 2 * swaps) / den if den else float("nan")
        out = pdf.iloc[0:1][[*keep]].copy() if keep else pd.DataFrame(index=[0])
        out["kendall_tau"] = tau
        return out

    if by:
        return df.groupBy(by).applyInPandas(_one, out_schema)
    return df.groupBy().applyInPandas(_one, out_schema)


def kendall_tau_pairs(df: DataFrame, x: str, y: str, by: str | None = None) -> DataFrame:
    """ORACLE TWIN of :func:`kendall_tau`: explicit concordant/discordant
    pair counting via an i<j pair join — O(n²), the reference's own
    driver-side asymptotics spread across the cluster. Retained for
    cross-checking Knight's algorithm; refuses inputs above 100k rows
    (fail fast beats a silent quadratic join).
    """
    _guard_quadratic_twin(df, "kendall_tau_pairs", "kendall_tau")
    from pyspark.sql.window import Window

    keep = [by] if by else []
    w = Window.partitionBy(*keep).orderBy(x, y)
    idx = df.select(
        *keep,
        (F.row_number().over(w)).alias("_i"),
        F.col(x).cast("double").alias("_x"),
        F.col(y).cast("double").alias("_y"),
    )
    l = idx.select(*keep, F.col("_i").alias("_il"), F.col("_x").alias("_xl"), F.col("_y").alias("_yl"))
    r = idx.select(*keep, F.col("_i").alias("_ir"), F.col("_x").alias("_xr"), F.col("_y").alias("_yr"))
    pairs = (l.join(r, keep) if by else l.crossJoin(r)).where(F.col("_il") < F.col("_ir"))
    s = (F.col("_xl") - F.col("_xr")) * (F.col("_yl") - F.col("_yr"))
    agg = pairs.groupBy(by).agg(
        F.sum((s > 0).cast("long")).alias("c"),
        F.sum((s < 0).cast("long")).alias("d"),
        F.sum((F.col("_xl") == F.col("_xr")).cast("long")).alias("tx"),
        F.sum((F.col("_yl") == F.col("_yr")).cast("long")).alias("ty"),
        F.count("*").alias("n0"),
    ) if by else pairs.agg(
        F.sum((s > 0).cast("long")).alias("c"),
        F.sum((s < 0).cast("long")).alias("d"),
        F.sum((F.col("_xl") == F.col("_xr")).cast("long")).alias("tx"),
        F.sum((F.col("_yl") == F.col("_yr")).cast("long")).alias("ty"),
        F.count("*").alias("n0"),
    )
    tau = (F.col("c") - F.col("d")) / F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double")
        * (F.col("n0") - F.col("ty")).cast("double")
    )
    return agg.select(*keep, tau.alias("kendall_tau"))


def corr_matrix(df: DataFrame, cols: list[str], by: str | None = None) -> DataFrame:
    """CorrelationEvaluator / CovarianceEvaluator matrix form
    (``io/eval/CorrelationEvaluator.java:87-110`` — a matrix argument
    yields the full correlation matrix; commons-math PearsonsCorrelation
    / Covariance): all k·(k+1)/2 column pairs in ONE grouped
    aggregation — k² tiny aggregate expressions beat k² separate jobs,
    and map-side partials make it one shuffle total. Returns long-form
    rows (col_x, col_y, corr, cov) for the upper triangle incl. the
    diagonal."""
    pair_aggs = []
    names = []
    for i, cx in enumerate(cols):
        for cy in cols[i:]:
            pair_aggs += [
                F.corr(cx, cy).alias(f"_r_{cx}_{cy}"),
                F.covar_samp(cx, cy).alias(f"_c_{cx}_{cy}"),
            ]
            names.append((cx, cy))
    base = df.groupBy(by).agg(*pair_aggs) if by else df.agg(*pair_aggs)
    keep = [by] if by else []
    rows = F.array(
        *[
            F.struct(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                F.col(f"_r_{cx}_{cy}").alias("corr"),
                F.col(f"_c_{cx}_{cy}").alias("cov"),
            )
            for cx, cy in names
        ]
    )
    return base.select(*keep, F.explode(rows).alias("_p")).select(
        *keep, "_p.col_x", "_p.col_y", "_p.corr", "_p.cov"
    )


def dft_magnitude(
    df: DataFrame, order_col: str, val_col: str, by: str | None = None
) -> DataFrame:
    """FFTEvaluator analog (``io/eval/FFTEvaluator.java`` — commons-math
    FastFourierTransformer over a driver-side vector; this is the DFT
    restated as a distributed pair join, same O(n²) work as the naive
    transform but spread across the cluster — the reference's FFT needs
    the whole series on one machine, which is the one-machine ceiling
    this engine avoids):

    ``X_k = Σ_i y_i · e^(-2πi·k·i/n)`` — index the series once (per-group
    ordered window), cross the (i, y) rows with the k = 0..n-1 frequency
    bins inside each group, and reduce re/im with one grouped sum.
    Returns (group?, k, re, im, magnitude).
    """
    import math

    from pyspark.sql.window import Window

    keep = [by] if by else []
    w = Window.partitionBy(*keep).orderBy(order_col)
    idx = df.select(
        *keep,
        (F.row_number().over(w) - 1).alias("_i"),
        F.col(val_col).cast("double").alias("_y"),
    )
    n = idx.groupBy(*keep).agg(F.count("*").alias("_n"))
    bins = n.select(*keep, "_n", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("k"))
    pairs = idx.join(bins, keep) if keep else idx.crossJoin(bins)
    theta = F.lit(-2.0 * math.pi) * F.col("k") * F.col("_i") / F.col("_n")
    return (
        pairs.groupBy(*keep, "k")
        .agg(
            F.sum(F.col("_y") * F.cos(theta)).alias("re"),
            F.sum(F.col("_y") * F.sin(theta)).alias("im"),
        )
        .select(
            *keep, "k", "re", "im",
            F.sqrt(F.col("re") ** 2 + F.col("im") ** 2).alias("magnitude"),
        )
    )


def frequency_table(df: DataFrame, val_col: str, by: str | None = None) -> DataFrame:
    """FrequencyTableEvaluator analog (``io/eval/FrequencyTableEvaluator.
    java`` — commons-math Frequency: per value count/pct/cumFreq/cumPct).
    One groupBy collapses rows to the (value, count) dictionary; the
    cumulative window runs over that small dictionary, never over rows
    (same scale shape as :func:`rank_transform`)."""
    from pyspark.sql.window import Window

    keep = [by] if by else []
    per_val = df.groupBy(*keep, val_col).agg(F.count("*").alias("count"))
    wtot = Window.partitionBy(*keep)
    wcum = (
        Window.partitionBy(*keep)
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = F.sum("count").over(wtot)
    cum = F.sum("count").over(wcum)
    return per_val.select(
        *keep,
        val_col,
        "count",
        (F.col("count") / tot).alias("pct"),
        cum.alias("cum_freq"),
        (cum / tot).alias("cum_pct"),
    )


def mode_value(df: DataFrame, val_col: str, by: str | None = None) -> DataFrame:
    """ModeEvaluator analog (``io/eval/ModeEvaluator.java``): the most
    frequent value per group, smallest-value tie-break — max_by over the
    (value, count) dictionary, no row-level window."""
    keep = [by] if by else []
    per_val = df.groupBy(*keep, val_col).agg(F.count("*").alias("_c"))
    winner = F.min_by(
        F.col(val_col), F.struct((F.lit(0) - F.col("_c")).alias("_nc"), F.col(val_col))
    ).alias("mode")
    g = per_val.groupBy(*keep) if keep else per_val.groupBy()
    return g.agg(winner, F.max("_c").alias("mode_count"))


def distance_family(
    df: DataFrame, a_col: str, b_col: str, by: str | None = None
) -> DataFrame:
    """Distance/similarity evaluator family over two paired series —
    EuclideanDistanceEvaluator, ManhattanEvaluator, CanberraEvaluator,
    ChebyshevDistanceEvaluator, CosineSimilarityEvaluator,
    DotProductEvaluator (``io/eval/*.java``, each commons-math
    DistanceMeasure over driver vectors): all six reduce over the same
    paired rows, so they are ONE grouped aggregation — one shuffle for
    the whole family, map-side partials for free."""
    a = F.col(a_col).cast("double")
    b = F.col(b_col).cast("double")
    d = a - b
    aggs = [
        F.sqrt(F.sum(d * d)).alias("euclidean"),
        F.sum(F.abs(d)).alias("manhattan"),
        F.max(F.abs(d)).alias("chebyshev"),
        F.sum(
            F.when(F.abs(a) + F.abs(b) > 0, F.abs(d) / (F.abs(a) + F.abs(b))).otherwise(0.0)
        ).alias("canberra"),
        (
            F.sum(a * b) / (F.sqrt(F.sum(a * a)) * F.sqrt(F.sum(b * b)))
        ).alias("cosine_similarity"),
        F.sum(a * b).alias("dot_product"),
    ]
    return df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)


def normalize_family(df: DataFrame, val_col: str, by: str | None = None) -> DataFrame:
    """Norm/normalize evaluator family — L1NormEvaluator, NormEvaluator
    (L2), LInfNormEvaluator, NormalizeSumEvaluator (x/Σx), UnitEvaluator
    (x/‖x‖₂), NormalizeEvaluator (standardize; the ``zscores`` twin)
    (``io/eval/*.java``): one stats aggregation per group, broadcast
    join-back, all JVM expressions — same shape as :func:`minmax_scale`."""
    x = F.col(val_col).cast("double")
    stats_aggs = [
        F.sum(x).alias("_s1"),
        F.sum(F.abs(x)).alias("_l1"),
        F.sqrt(F.sum(x * x)).alias("_l2"),
        F.max(F.abs(x)).alias("_linf"),
        F.avg(x).alias("_mu"),
        F.stddev_samp(x).alias("_sd"),
    ]
    if by:
        stats = df.groupBy(by).agg(*stats_aggs)
        joined = df.join(F.broadcast(stats), by)
    else:
        stats = df.agg(*stats_aggs)
        joined = df.crossJoin(F.broadcast(stats))
    return joined.select(
        *df.columns,
        F.col("_l1").alias("l1_norm"),
        F.col("_l2").alias("l2_norm"),
        F.col("_linf").alias("linf_norm"),
        (x / F.col("_s1")).alias("normalize_sum"),
        (x / F.col("_l2")).alias("unitize"),
        ((x - F.col("_mu")) / F.col("_sd")).alias("standardize"),
    )


def polyfit2(
    df: DataFrame, x_col: str, y_col: str, by: str | None = None
) -> DataFrame:
    """PolyFitEvaluator / PolyFitDerivativeEvaluator analog
    (``io/eval/PolyFitEvaluator.java`` — commons-math PolynomialCurveFitter,
    default degree 3; degree-2 here): least-squares parabola via the
    normal equations. The Vandermonde power sums S0..S4, T0..T2 are ONE
    grouped aggregation; the 3×3 Cramer solve is a closed-form JVM
    expression over those sums — no driver matrix, no second pass.
    Returns (group?, c0, c1, c2) for ŷ = c0 + c1·x + c2·x² plus the
    derivative coefficients (d0, d1) of ŷ' = c1 + 2·c2·x."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    aggs = [
        F.count("*").cast("double").alias("s0"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
        F.sum(y).alias("t0"),
        F.sum(x * y).alias("t1"),
        F.sum(x * x * y).alias("t2"),
    ]
    base = df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)
    s0, s1, s2, s3, s4 = (F.col(c) for c in ("s0", "s1", "s2", "s3", "s4"))
    t0, t1, t2 = (F.col(c) for c in ("t0", "t1", "t2"))
    det = (
        s0 * (s2 * s4 - s3 * s3)
        - s1 * (s1 * s4 - s2 * s3)
        + s2 * (s1 * s3 - s2 * s2)
    )
    c0 = (
        t0 * (s2 * s4 - s3 * s3)
        - s1 * (t1 * s4 - t2 * s3)
        + s2 * (t1 * s3 - t2 * s2)
    ) / det
    c1 = (
        s0 * (t1 * s4 - t2 * s3)
        - t0 * (s1 * s4 - s2 * s3)
        + s2 * (s1 * t2 - s2 * t1)
    ) / det
    c2 = (
        s0 * (s2 * t2 - s3 * t1)
        - s1 * (s1 * t2 - s2 * t1)
        + t0 * (s1 * s3 - s2 * s2)
    ) / det
    keep = [by] if by else []
    return base.select(
        *keep,
        c0.alias("c0"),
        c1.alias("c1"),
        c2.alias("c2"),
        c1.alias("d0"),
        (F.lit(2.0) * c2).alias("d1"),
    )


def ks_two_sample(
    df: DataFrame, val_col: str, group_col: str, g1: str, g2: str
) -> DataFrame:
    """KolmogorovSmirnovEvaluator analog (``io/eval/
    KolmogorovSmirnovEvaluator.java`` — commons-math
    kolmogorovSmirnovTest; two-sample form): D = max |F1(v) − F2(v)|
    over the pooled sample. Scale shape: both ECDFs are step functions
    that only change at DISTINCT values, so one groupBy collapses the
    pool to the (value, n1(v), n2(v)) dictionary, a cumulative window
    over that small dictionary yields both ECDFs, and one max finishes.
    Rows never funnel through a single partition."""
    from pyspark.sql.window import Window

    pool = df.where(F.col(group_col).isin([g1, g2]))
    per_val = pool.groupBy(val_col).agg(
        F.sum(F.when(F.col(group_col) == g1, 1).otherwise(0)).alias("_a"),
        F.sum(F.when(F.col(group_col) == g2, 1).otherwise(0)).alias("_b"),
    )
    tot = per_val.agg(
        F.sum("_a").cast("double").alias("_n1"),
        F.sum("_b").cast("double").alias("_n2"),
    )
    wcum = Window.orderBy(val_col).rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_val.select(
        F.sum("_a").over(wcum).alias("_ca"),
        F.sum("_b").over(wcum).alias("_cb"),
    )
    return ecdf.crossJoin(F.broadcast(tot)).agg(
        F.max("_n1").cast("long").alias("n1"),
        F.max("_n2").cast("long").alias("n2"),
        F.max(F.abs(F.col("_ca") / F.col("_n1") - F.col("_cb") / F.col("_n2"))).alias(
            "ks_d"
        ),
    )


def paired_ttest(df: DataFrame, a_col: str, b_col: str, by: str | None = None) -> DataFrame:
    """PairedTTestEvaluator / MeanDifferenceEvaluator /
    SumDifferenceEvaluator analog (``io/eval/PairedTTestEvaluator.java``
    — commons-math TTest.pairedTTest): t = mean(d) / (sd(d)/√n) over the
    per-row differences; one grouped aggregation."""
    d = F.col(a_col).cast("double") - F.col(b_col).cast("double")
    aggs = [
        F.count("*").alias("n"),
        F.sum(d).alias("sum_difference"),
        F.avg(d).alias("mean_difference"),
        (F.avg(d) / (F.stddev_samp(d) / F.sqrt(F.count("*")))).alias("t_stat"),
    ]
    return df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)


def matrix_multiply(
    dfa: DataFrame, dfb: DataFrame, i: str = "i", k: str = "k", j: str = "j", v: str = "v"
) -> DataFrame:
    """MatrixMultiplyEvaluator analog (``io/eval/MatrixMultiplyEvaluator.
    java`` — commons-math RealMatrix.multiply over driver matrices; here
    the COO sparse form: matrices are (i, k, v) row streams):
    C(i,j) = Σ_k A(i,k)·B(k,j) — a join on the inner dimension plus one
    grouped sum, the canonical distributed matmul. At 100 TB the inner-
    dimension join shuffles both sides on k; a skewed k (dense column)
    is exactly the hot-term problem and AQE skew-join splits it."""
    a = dfa.select(F.col(i).alias("_i"), F.col(k).alias("_k"), F.col(v).alias("_va"))
    b = dfb.select(F.col(k).alias("_k"), F.col(j).alias("_j"), F.col(v).alias("_vb"))
    return (
        a.join(b, "_k")
        .groupBy(F.col("_i").alias(i), F.col("_j").alias(j))
        .agg(F.sum(F.col("_va") * F.col("_vb")).alias(v))
    )


def markov_transitions(
    df: DataFrame,
    order_col: str | list[str],
    state_col: str,
    seq_col: str | None = None,
    by: str | None = None,
) -> DataFrame:
    """MarkovChainEvaluator analog (``io/eval/MarkovChainEvaluator.java:27,60``
    — builds a row-stochastic transition matrix from a sequence of
    states). The reference holds the whole chain on the driver; here the
    transition COUNTS are the distributed object: a per-sequence ``lead``
    window pairs each state with its successor (``seq_col`` bounds each
    chain, e.g. one chain per user), one groupBy counts the
    (state, next_state) cells across all chains, and the row-normalizing
    total is a window over the tiny cell dictionary — raw rows never
    leave the cluster. Returns (group?, state, next_state, transitions,
    prob)."""
    from pyspark.sql.window import Window

    keep = [by] if by else []
    part = keep + ([seq_col] if seq_col else [])
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(*part).orderBy(*order)
    pairs = df.select(
        *keep,
        F.col(state_col).alias("state"),
        F.lead(state_col).over(w).alias("next_state"),
    ).where(F.col("next_state").isNotNull())
    cells = pairs.groupBy(*keep, "state", "next_state").agg(
        F.count("*").alias("transitions")
    )
    wrow = Window.partitionBy(*keep, "state")
    return cells.select(
        *keep,
        "state",
        "next_state",
        "transitions",
        (F.col("transitions") / F.sum("transitions").over(wrow)).alias("prob"),
    )


def earth_movers(df: DataFrame, order_col: str, a_col: str, b_col: str) -> DataFrame:
    """EarthMoversEvaluator analog (``io/eval/EarthMoversEvaluator.java:27``
    — commons-math ``EarthMoversDistance`` over two bin-aligned
    histograms: ``emd_{i+1} = a_i + emd_i - b_i``, distance = Σ|emd_i|).
    The recurrence is a plain prefix sum of (a−b), so one cumulative
    window over the bin axis + one sum of absolutes — same scale shape
    as :func:`ks_two_sample` (windows run over the bin dictionary, not
    the raw rows)."""
    from pyspark.sql.window import Window

    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    run = df.select(
        F.sum(F.col(a_col).cast("double") - F.col(b_col).cast("double"))
        .over(w)
        .alias("_emd")
    )
    return run.agg(F.sum(F.abs(F.col("_emd"))).alias("emd"))


def ols_regress2(
    df: DataFrame, y_col: str, x1_col: str, x2_col: str, by: str | None = None
) -> DataFrame:
    """OLSRegressionEvaluator analog (``io/eval/OLSRegressionEvaluator.java:31,41``
    — commons-math OLSMultipleLinearRegression; two-feature form):
    ŷ = b0 + b1·x1 + b2·x2 by the normal equations. The Gram sums are
    ONE grouped aggregation; the 3×3 Cramer solve and R² are closed-form
    JVM expressions over those sums (same shape as :func:`polyfit2` —
    no driver matrix, no second pass). Returns (group?, b0, b1, b2,
    r_squared)."""
    x1 = F.col(x1_col).cast("double")
    x2 = F.col(x2_col).cast("double")
    y = F.col(y_col).cast("double")
    aggs = [
        F.count("*").cast("double").alias("s0"),
        F.sum(x1).alias("sx1"),
        F.sum(x2).alias("sx2"),
        F.sum(x1 * x1).alias("sx11"),
        F.sum(x1 * x2).alias("sx12"),
        F.sum(x2 * x2).alias("sx22"),
        F.sum(y).alias("sy"),
        F.sum(x1 * y).alias("sx1y"),
        F.sum(x2 * y).alias("sx2y"),
        F.sum(y * y).alias("syy"),
    ]
    base = df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)
    s0 = F.col("s0")
    a, b, c = F.col("sx1"), F.col("sx2"), F.col("sx11")
    d, e = F.col("sx12"), F.col("sx22")
    t0, t1, t2 = F.col("sy"), F.col("sx1y"), F.col("sx2y")
    # | s0 a  b |   | t0 |
    # | a  c  d | · | t1 |   (symmetric Gram matrix)
    # | b  d  e |   | t2 |
    det = s0 * (c * e - d * d) - a * (a * e - d * b) + b * (a * d - c * b)
    b0 = (t0 * (c * e - d * d) - a * (t1 * e - t2 * d) + b * (t1 * d - t2 * c)) / det
    b1 = (s0 * (t1 * e - t2 * d) - t0 * (a * e - b * d) + b * (a * t2 - t1 * b)) / det
    b2 = (s0 * (c * t2 - d * t1) - a * (a * t2 - b * t1) + t0 * (a * d - c * b)) / det
    sse = (
        F.col("syy")
        - b0 * t0
        - b1 * t1
        - b2 * t2
    )
    sst = F.col("syy") - t0 * t0 / s0
    keep = [by] if by else []
    return base.select(
        *keep,
        b0.alias("b0"),
        b1.alias("b1"),
        b2.alias("b2"),
        (F.lit(1.0) - sse / sst).alias("r_squared"),
    )


def predict_poly2(
    coef_df: DataFrame, points_df: DataFrame, x_col: str, by: str | None = None
) -> DataFrame:
    """PredictEvaluator analog (``io/eval/PredictEvaluator.java:29`` —
    applies a fitted model to new points). The coefficient frame is one
    row per group (output of :func:`polyfit2`), so it broadcasts; the
    points stay distributed and the prediction is a pure JVM expression
    — the canonical broadcast-model-apply pattern."""
    j = (
        points_df.join(F.broadcast(coef_df), by)
        if by
        else points_df.crossJoin(F.broadcast(coef_df))
    )
    x = F.col(x_col).cast("double")
    keep = [by] if by else []
    return j.select(
        *keep,
        x.alias(x_col),
        (F.col("c0") + F.col("c1") * x + F.col("c2") * x * x).alias("predicted"),
    )


def matrix_ebe_sums(
    dfa: DataFrame, dfb: DataFrame, i: str = "i", j: str = "j", v: str = "v"
) -> DataFrame:
    """EBEAdd/EBESubtract/EBEMultiply + SumRows/SumColumns/GrandSum +
    Transpose analog (``io/eval/EBEAddEvaluator.java:28``,
    ``GrandSumEvaluator.java:24``, ``SumRowsEvaluator``,
    ``TransposeEvaluator.java:25`` — commons-math dense RealMatrix ops
    on the driver). COO form: element-wise ops are a full-outer join on
    the (i, j) key with absent cells as 0; row/col/grand sums are
    windows over the joined cells; transpose is the same data with the
    key swapped (exposed here by also emitting the transposed-B cell).
    Returns (i, j, add, sub, mul, row_sum, col_sum, grand_sum) where the
    sums run over the ``add`` matrix."""
    from pyspark.sql.window import Window

    a = dfa.select(F.col(i).alias("i"), F.col(j).alias("j"), F.col(v).alias("_va"))
    bt = dfb.select(  # transpose: swap the key
        F.col(j).alias("i"), F.col(i).alias("j"), F.col(v).alias("_vb")
    )
    cells = (
        a.join(bt, ["i", "j"], "full_outer")
        .select(
            "i",
            "j",
            F.coalesce("_va", F.lit(0.0)).alias("_a"),
            F.coalesce("_vb", F.lit(0.0)).alias("_b"),
        )
    )
    add = F.col("_a") + F.col("_b")
    return cells.select(
        "i",
        "j",
        add.alias("add"),
        (F.col("_a") - F.col("_b")).alias("sub"),
        (F.col("_a") * F.col("_b")).alias("mul"),
        F.sum(add).over(Window.partitionBy("i")).alias("row_sum"),
        F.sum(add).over(Window.partitionBy("j")).alias("col_sum"),
        F.sum(add).over(Window.partitionBy()).alias("grand_sum"),
    )


def temporal_family(df: DataFrame, ts_col: str) -> DataFrame:
    """TemporalEvaluator family analog (``io/eval/TemporalEvaluatorYear.java:27``
    and siblings: Quarter/Month/Week/Day/DayOfYear/DayOfQuarter/Hour/
    Minute/Second/Epoch — per-tuple field extraction). Pure column
    expressions; stays inside whole-stage codegen."""
    ts = F.col(ts_col)
    return df.select(
        ts.alias(ts_col),
        F.year(ts).alias("year"),
        F.quarter(ts).alias("quarter"),
        F.month(ts).alias("month"),
        F.weekofyear(ts).alias("week"),
        F.dayofmonth(ts).alias("day"),
        F.dayofyear(ts).alias("day_of_year"),
        (F.datediff(F.to_date(ts), F.to_date(F.date_trunc("quarter", ts))) + 1).alias(
            "day_of_quarter"
        ),
        F.hour(ts).alias("hour"),
        F.minute(ts).alias("minute"),
        F.second(ts).alias("second"),
        F.unix_timestamp(ts).alias("epoch"),
    )


def gtest(df: DataFrame, a: str, b: str) -> DataFrame:
    """GTestDataSetEvaluator analog (``io/eval/GTestDataSetEvaluator.java:28``
    — commons-math GTest log-likelihood-ratio independence test):
    G = 2·Σ o·ln(o/e) over the contingency table. Same distributed
    shape as :func:`chi_square` — one groupBy builds observed cells,
    row/col totals broadcast back; cells with o=0 contribute 0 to G
    (o·ln(o/e) → 0), so the dense table never materializes at all."""
    obs = df.groupBy(a, b).agg(F.count("*").cast("double").alias("o"))
    ra = obs.groupBy(a).agg(F.sum("o").alias("_ra"))
    cb = obs.groupBy(b).agg(F.sum("o").alias("_cb"))
    tot = obs.agg(
        F.sum("o").alias("_n"),
        F.countDistinct(a).cast("double").alias("_ka"),
        F.countDistinct(b).cast("double").alias("_kb"),
    )
    jn = (
        obs.join(F.broadcast(ra), a)
        .join(F.broadcast(cb), b)
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("_ra") * F.col("_cb") / F.col("_n")
    return jn.agg(
        (F.lit(2.0) * F.sum(F.col("o") * F.log(F.col("o") / e))).alias("g_stat"),
        ((F.first("_ka") - 1) * (F.first("_kb") - 1)).alias("dof"),
        F.first("_n").cast("long").alias("n"),
    )


def knn_regress(
    df: DataFrame,
    x_col: str,
    y_col: str,
    query_points: list[float],
    k: int = 5,
) -> DataFrame:
    """KnnRegressionEvaluator analog (``io/eval/KnnRegressionEvaluator.java:33,57``
    — predict y at a query point as the mean y of its k nearest training
    rows; 1-D feature form). The query points are a LITERAL broadcast
    array (exploded), distances are JVM expressions, and the per-query
    top-k is a window rank — the training rows never leave the cluster
    and never cross-join each other, only the O(|queries|) fan-out.
    Tie-break on (distance, x, y) is total, so results are deterministic
    cross-engine. Returns (query_x, k, predicted)."""
    from pyspark.sql.window import Window

    qs = F.array(*[F.lit(float(p)) for p in query_points])
    fan = df.select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
        F.explode(qs).alias("query_x"),
    )
    dist = F.abs(F.col("_x") - F.col("query_x"))
    w = Window.partitionBy("query_x").orderBy(
        dist.asc(), F.col("_x").asc(), F.col("_y").asc()
    )
    ranked = fan.select("query_x", "_y", F.row_number().over(w).alias("_r"))
    return (
        ranked.where(F.col("_r") <= k)
        .groupBy("query_x")
        .agg(F.lit(k).alias("k"), F.avg("_y").alias("predicted"))
    )


def corr_significance(
    df: DataFrame, x: str, y: str, by: str | None = None
) -> DataFrame:
    """CorrelationSignificanceEvaluator analog (``io/eval/
    CorrelationSignificanceEvaluator.java`` — t statistic of a Pearson
    correlation: t = r·√((n−2)/(1−r²))). One grouped aggregation."""
    r = F.corr(F.col(x).cast("double"), F.col(y).cast("double"))
    n = F.count("*").cast("double")
    aggs = [
        F.count("*").alias("n"),
        r.alias("corr"),
        (r * F.sqrt((n - 2) / (1 - r * r))).alias("t_stat"),
    ]
    return df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)

def cosine_similarity(df: DataFrame, x: str, y: str, by: str | None = None) -> DataFrame:
    """CosineSimilarityEvaluator / CosineDistanceEvaluator analog
    (``io/eval/CosineSimilarityEvaluator.java:40-56``): cosine of two
    aligned series — Σxy / (‖x‖₂·‖y‖₂) — as ONE grouped aggregation
    (three sums fused into a single shuffle; the reference materializes
    both vectors driver-side)."""
    xs = F.col(x).cast("double")
    ys = F.col(y).cast("double")
    sim = F.sum(xs * ys) / (F.sqrt(F.sum(xs * xs)) * F.sqrt(F.sum(ys * ys)))
    aggs = [
        F.count("*").alias("n"),
        sim.alias("cosine_sim"),
        (F.lit(1.0) - sim).alias("cosine_dist"),
    ]
    return df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)


def loess_smooth(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bandwidth: float,
    by: str | None = None,
) -> DataFrame:
    """LoessEvaluator analog (``io/eval/LoessEvaluator.java:40-70``)
    restated as tricube-kernel local regression (degree 0, fixed-width
    bandwidth): ŷᵢ = Σⱼ wᵢⱼ·yⱼ / Σⱼ wᵢⱼ with
    wᵢⱼ = (1 − (|xᵢ−xⱼ|/h)³)³ for |xᵢ−xⱼ| < h, else 0.

    Scale shape: NOT an O(n²) self-join. Each point's neighbors live in
    its own or an adjacent width-h bucket, so the join key is
    (group, bucket) with the probe side exploded to its three candidate
    buckets — candidate pairs are O(n · points-per-3-buckets), the join
    is a plain hash join Catalyst can shuffle on, and the kernel cutoff
    filter runs JVM-side before the aggregation."""
    xs = F.col(x_col).cast("double")
    h = float(bandwidth)
    keep = [F.col(by)] if by else []
    left = df.select(
        *keep,
        xs.alias("_xi"),
        F.explode(
            F.array(
                (F.floor(xs / h) - 1).cast("long"),
                F.floor(xs / h).cast("long"),
                (F.floor(xs / h) + 1).cast("long"),
            )
        ).alias("_bkt"),
    )
    right = df.select(
        *keep,
        xs.alias("_xj"),
        F.col(y_col).cast("double").alias("_yj"),
        F.floor(xs / h).cast("long").alias("_bkt"),
    )
    on = [by, "_bkt"] if by else ["_bkt"]
    pairs = left.join(right, on=on)
    dist = F.abs(F.col("_xi") - F.col("_xj"))
    w = F.pow(F.lit(1.0) - F.pow(dist / F.lit(h), F.lit(3.0)), F.lit(3.0))
    grp = [by, "_xi"] if by else ["_xi"]
    return (
        pairs.where(dist < h)
        .groupBy(*grp)
        .agg((F.sum(w * F.col("_yj")) / F.sum(w)).alias("smoothed"))
        .withColumnRenamed("_xi", x_col)
    )


def poisson_pmf(
    df: DataFrame, k_col: str, by: str | None = None
) -> DataFrame:
    """PoissonDistributionEvaluator + ProbabilityEvaluator analog
    (``io/eval/PoissonDistributionEvaluator.java:38-48``,
    ``io/eval/ProbabilityEvaluator.java``): fit λ = mean(k) per group,
    then P(K=k) = exp(−λ + k·ln λ − ln k!) for each observed k.

    ln k! is computed JVM-side as Σ_{i=1..k} ln i via a higher-order
    ``aggregate`` over ``sequence(1, k)`` (Spark has no lgamma builtin;
    the sum is exact for the modest counts a distribution fit sees, and
    overflow-free where ``factorial()`` is not past k=20)."""
    k = F.col(k_col).cast("int")
    if by:
        lam_df = df.groupBy(by).agg(F.avg(k).alias("_lam"))
        joined = df.join(F.broadcast(lam_df), by)
    else:
        lam_df = df.agg(F.avg(k).alias("_lam"))
        joined = df.crossJoin(F.broadcast(lam_df))
    ln_fact = F.aggregate(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        F.lit(0.0),
        lambda acc, i: acc + F.log(i.cast("double")),
    )
    pmf = F.exp(-F.col("_lam") + k * F.log(F.col("_lam")) - ln_fact)
    keep = [by] if by else []
    return joined.select(
        *keep, k.alias(k_col), F.col("_lam").alias("lam"), pmf.alias("pmf")
    )


def lerp(
    known: DataFrame,
    grid: DataFrame,
    x_col: str,
    y_col: str,
    grid_x: str,
    by: str | None = None,
) -> DataFrame:
    """LerpEvaluator analog (``io/eval/LerpEvaluator.java:40-60``):
    piecewise-linear interpolation of the known (x, y) points onto the
    query grid. Known points become segments via one ``lead()`` window
    per group (tiny dictionary side), then the grid range-joins to its
    bracketing segment — the same banded-join family as
    :func:`loess_smooth`; AQE handles the range-join skew."""
    w = Window.partitionBy(by) if by else Window.partitionBy()
    w = w.orderBy("_x0")
    seg = known.select(
        *([by] if by else []),
        F.col(x_col).cast("double").alias("_x0"),
        F.col(y_col).cast("double").alias("_y0"),
    ).withColumns(
        {
            "_x1": F.lead("_x0").over(w),
            "_y1": F.lead("_y0").over(w),
        }
    ).where(F.col("_x1").isNotNull())
    g_cols = [F.col(by).alias("_gby")] if by else []
    g = grid.select(*g_cols, F.col(grid_x).cast("double").alias("_gx"))
    on = F.col("_gby") == F.col(by) if by else F.lit(True)
    cond = on & (F.col("_gx") >= F.col("_x0")) & (F.col("_gx") < F.col("_x1"))
    t = (F.col("_gx") - F.col("_x0")) / (F.col("_x1") - F.col("_x0"))
    out_by = [F.col("_gby").alias(by)] if by else []
    return seg.join(g, cond).select(
        *out_by,
        F.col("_gx").alias(grid_x),
        (F.col("_y0") + t * (F.col("_y1") - F.col("_y0"))).alias("lerp_y"),
    )


def kmeans_step_1d(
    df: DataFrame, val_col: str, centroids: list[float]
) -> DataFrame:
    """KmeansEvaluator analog (``io/eval/KmeansEvaluator.java:45-76``):
    ONE distributed Lloyd iteration over a scalar feature with the
    current centroids frozen as literals — assignment is a pure JVM
    expression (argmin over k distances, ties to the lowest cluster id),
    the update is one grouped aggregation returning each cluster's size
    and new centroid. Iterating = re-calling with the returned means
    (the reference loops the same two steps driver-side)."""
    x = F.col(val_col).cast("double")
    dists = [F.abs(x - F.lit(float(c))) for c in centroids]
    best = F.least(*dists)
    cluster = F.lit(None).cast("int")
    for j in range(len(centroids) - 1, -1, -1):
        cluster = F.when(dists[j] == best, F.lit(j)).otherwise(cluster)
    return (
        df.where(x.isNotNull())
        .groupBy(cluster.alias("cluster"))
        .agg(F.count("*").alias("n"), F.avg(x).alias("new_centroid"))
    )


def fuzzy_kmeans_step_1d(
    df: DataFrame, val_col: str, centroids: list[float], m: float = 2.0
) -> DataFrame:
    """FuzzyKmeansEvaluator analog (``io/eval/FuzzyKmeansEvaluator.java:
    47-80``, commons-math FuzzyKMeansClusterer): ONE fuzzy-c-means step
    with the current centroids frozen as literals. Membership
    uᵢⱼ = dᵢⱼ^(−2/(m−1)) / Σₖ dᵢₖ^(−2/(m−1)); the update
    centroidⱼ′ = Σᵢ uᵢⱼᵐ·xᵢ / Σᵢ uᵢⱼᵐ (plus the soft count Σᵢ uᵢⱼ) is
    2k sums fused into ONE single-pass aggregation — all JVM
    expressions, no shuffle beyond the final single-row agg."""
    x = F.col(val_col).cast("double")
    p = 2.0 / (m - 1.0)
    eps = F.lit(1e-12)
    inv = [F.pow(F.greatest(F.abs(x - F.lit(float(c))), eps), F.lit(-p)) for c in centroids]
    denom = inv[0]
    for t in inv[1:]:
        denom = denom + t
    aggs = []
    for j in range(len(centroids)):
        u = inv[j] / denom
        um = F.pow(u, F.lit(m))
        aggs += [
            F.sum(u).alias(f"_n{j}"),
            (F.sum(um * x) / F.sum(um)).alias(f"_c{j}"),
        ]
    wide = df.where(x.isNotNull()).agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(j).alias("cluster"),
            F.col(f"_n{j}").alias("soft_n"),
            F.col(f"_c{j}").alias("new_centroid"),
        )
        for j in range(len(centroids))
    ])
    return wide.select(F.explode(pairs).alias("r")).select(
        "r.cluster", "r.soft_n", "r.new_centroid"
    )


def harmonic_fit(
    df: DataFrame, x_col: str, y_col: str, omega: float, by: str | None = None
) -> DataFrame:
    """HarmonicFitEvaluator analog (``io/eval/HarmonicFitEvaluator.java:
    40-62``) at a KNOWN angular frequency ω (the reference's harmfit
    refines ω iteratively; with ω fixed the model y = a + b·sin(ωx) +
    c·cos(ωx) is linear least squares): the 3×3 normal equations are
    solved in closed form (Cramer) from NINE sums computed in ONE grouped
    aggregation — the same det-expansion shape as :func:`polyfit2`."""
    xx = F.col(x_col).cast("double")
    yy = F.col(y_col).cast("double")
    s = F.sin(F.lit(float(omega)) * xx)
    c = F.cos(F.lit(float(omega)) * xx)
    aggs = [
        F.count("*").cast("double").alias("n"),
        F.sum(s).alias("ss"), F.sum(c).alias("sc"),
        F.sum(s * s).alias("sss"), F.sum(c * c).alias("scc"),
        F.sum(s * c).alias("ssc"),
        F.sum(yy).alias("sy"), F.sum(yy * s).alias("sys"),
        F.sum(yy * c).alias("syc"),
    ]
    g = df.groupBy(by).agg(*aggs) if by else df.agg(*aggs)
    n, ss, sc = F.col("n"), F.col("ss"), F.col("sc")
    sss, scc, ssc = F.col("sss"), F.col("scc"), F.col("ssc")
    sy, sys_, syc = F.col("sy"), F.col("sys"), F.col("syc")
    det = (
        n * (sss * scc - ssc * ssc)
        - ss * (ss * scc - ssc * sc)
        + sc * (ss * ssc - sss * sc)
    )
    da = (
        sy * (sss * scc - ssc * ssc)
        - ss * (sys_ * scc - ssc * syc)
        + sc * (sys_ * ssc - sss * syc)
    )
    db = (
        n * (sys_ * scc - ssc * syc)
        - sy * (ss * scc - ssc * sc)
        + sc * (ss * syc - sys_ * sc)
    )
    dc = (
        n * (sss * syc - sys_ * ssc)
        - ss * (ss * syc - sys_ * sc)
        + sy * (ss * ssc - sss * sc)
    )
    keep = [by] if by else []
    return g.select(
        *keep,
        (da / det).alias("fit_a"),
        (db / det).alias("fit_b"),
        (dc / det).alias("fit_c"),
    )


def matrix_sums(df: DataFrame, i_col: str, j_col: str, v_col: str) -> DataFrame:
    """GrandSumEvaluator / SumRowsEvaluator / SumColumnsEvaluator analog
    (``io/eval/GrandSumEvaluator.java``, ``SumRowsEvaluator.java``,
    ``SumColumnsEvaluator.java``) over a COO matrix (i, j, v): row sums,
    column sums, and the grand sum in one result — each axis is one
    grouped aggregation (map-side partials), unioned with a tag column
    so the result is a single DataFrame."""
    v = F.col(v_col).cast("double")
    rows = df.groupBy(F.col(i_col).cast("long").alias("idx")).agg(
        F.sum(v).alias("total")
    ).select(F.lit("row").alias("axis"), "idx", "total")
    cols = df.groupBy(F.col(j_col).cast("long").alias("idx")).agg(
        F.sum(v).alias("total")
    ).select(F.lit("col").alias("axis"), "idx", "total")
    grand = df.agg(F.sum(v).alias("total")).select(
        F.lit("grand").alias("axis"), F.lit(None).cast("long").alias("idx"), "total"
    )
    return rows.unionByName(cols).unionByName(grand)


def ecdf(df: DataFrame, val_col: str, by: str | None = None) -> DataFrame:
    """EmpiricalDistributionEvaluator + CumulativeProbabilityEvaluator
    analog (``io/eval/EmpiricalDistributionEvaluator.java``,
    ``CumulativeProbabilityEvaluator.java``): F̂(x) = #{xᵢ ≤ x} / n for
    each DISTINCT observed value.

    Shape: aggregate to the value dictionary first (one groupBy), then a
    running sum over the dictionary — the window sorts |distinct values|
    rows, not |rows|, the same dictionary trick as the rank/Spearman
    evaluators."""
    keep = [by] if by else []
    counts = df.where(F.col(val_col).isNotNull()).groupBy(
        *keep, F.col(val_col).cast("double").alias("x")
    ).agg(F.count("*").cast("double").alias("_c"))
    w = (Window.partitionBy(by) if by else Window.partitionBy()).orderBy("x")
    totals = (
        counts.groupBy(*keep).agg(F.sum("_c").alias("_n"))
        if by
        else counts.agg(F.sum("_c").alias("_n"))
    )
    cum = counts.withColumn("_cum", F.sum("_c").over(w))
    joined = cum.join(F.broadcast(totals), on=keep) if by else cum.crossJoin(
        F.broadcast(totals)
    )
    return joined.select(
        *keep, "x", (F.col("_cum") / F.col("_n")).alias("cdf")
    )


def _erf_expr(x):
    """erf(x) as a JVM column expression — Abramowitz & Stegun 7.1.26
    (max abs error 1.5e-7), the frozen cross-engine approximation: the
    SQL oracle evaluates the SAME polynomial, so engine and oracle agree
    to far more digits than the entry-layer rounding keeps."""
    sign = F.when(x < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    ax = F.abs(x)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * ax)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * t * t
        + F.lit(1.421413741) * t * t * t
        - F.lit(1.453152027) * t * t * t * t
        + F.lit(1.061405429) * t * t * t * t * t
    )
    return sign * (F.lit(1.0) - poly * F.exp(-ax * ax))


def normal_cdf(df: DataFrame, x_col: str, by: str | None = None) -> DataFrame:
    """NormalDistributionEvaluator + CumulativeProbabilityEvaluator
    analog (``io/eval/NormalDistributionEvaluator.java:38-47``,
    ``CumulativeProbabilityEvaluator.java:40-55``): fit (μ, σ) per group
    in one aggregation, broadcast back, then Φ(x) = ½(1 + erf(z/√2)) as
    a pure JVM expression — the reference materializes the vector and
    asks commons-math; here the fit is map-side partials and the CDF
    never leaves codegen."""
    x = F.col(x_col).cast("double")
    keep = [by] if by else []
    if by:
        stats = df.groupBy(by).agg(
            F.avg(x).alias("_mu"), F.stddev_samp(x).alias("_sd")
        )
        joined = df.join(F.broadcast(stats), by)
    else:
        stats = df.agg(F.avg(x).alias("_mu"), F.stddev_samp(x).alias("_sd"))
        joined = df.crossJoin(F.broadcast(stats))
    z = (x - F.col("_mu")) / (F.col("_sd") * F.lit(2.0 ** 0.5))
    return joined.select(
        *keep,
        x.alias(x_col),
        F.col("_mu").alias("mu"),
        F.col("_sd").alias("sigma"),
        (F.lit(0.5) * (F.lit(1.0) + _erf_expr(z))).alias("cdf"),
    )


def binomial_pmf(
    df: DataFrame, k_col: str, n_trials: int, by: str | None = None
) -> DataFrame:
    """BinomialDistributionEvaluator + ProbabilityEvaluator analog
    (``io/eval/BinomialDistributionEvaluator.java:38-48``): fit
    p̂ = mean(k)/n per group, then P(K=k) = C(n,k)·p̂ᵏ·(1−p̂)ⁿ⁻ᵏ.
    ln C(n,k) = ln n! − ln k! − ln (n−k)!; the constant ln n! folds to a
    Python float (n is a parameter), the k-dependent factorials are JVM
    higher-order sequence-sums exactly as :func:`poisson_pmf`."""
    import math

    k = F.col(k_col).cast("int")
    n = int(n_trials)
    keep = [by] if by else []
    if by:
        p_df = df.groupBy(by).agg((F.avg(k) / F.lit(float(n))).alias("_p"))
        joined = df.join(F.broadcast(p_df), by)
    else:
        p_df = df.agg((F.avg(k) / F.lit(float(n))).alias("_p"))
        joined = df.crossJoin(F.broadcast(p_df))

    def _ln_fact(col):
        return F.aggregate(
            F.sequence(F.lit(1), F.greatest(col, F.lit(1))),
            F.lit(0.0),
            lambda acc, i: acc + F.log(i.cast("double")),
        )

    ln_choose = F.lit(math.lgamma(n + 1.0)) - _ln_fact(k) - _ln_fact(F.lit(n) - k)
    p = F.col("_p")
    pmf = F.exp(ln_choose + k * F.log(p) + (F.lit(n) - k) * F.log(F.lit(1.0) - p))
    return joined.select(
        *keep, k.alias(k_col), p.alias("p_hat"), pmf.alias("pmf")
    )


def dbscan_1d(
    df: DataFrame,
    x_col: str,
    eps: float,
    min_pts: int,
    by: str | None = None,
) -> DataFrame:
    """DbscanEvaluator analog (``io/eval/DbscanEvaluator.java:42-70`` —
    commons-math DBSCANClusterer over driver vectors) for 1-D values,
    fully distributed:

    1. aggregate to the per-group VALUE DICTIONARY (x, multiplicity) —
       every later step is over distinct values, the same dictionary
       trick as :func:`ecdf`;
    2. neighbour counts within ±eps via a banded bucket join (bucket
       width eps, each value probes its own and adjacent buckets — never
       a cross join), summing multiplicities → core flag
       (count ≥ min_pts, self included);
    3. clusters = runs of core values with gap ≤ eps: one lag-window
       over CORE dictionary values per group, running sum of breaks;
    4. border values attach to the nearest core cluster within eps via
       the same banded join; everything else is noise (label −1).
    """
    keep = [by] if by else []
    x = F.col(x_col).cast("double")
    dic = (
        df.where(x.isNotNull())
        .groupBy(*keep, x.alias("x"))
        .agg(F.count("*").alias("_m"))
    )
    b = F.floor(F.col("x") / F.lit(float(eps)))
    probe = dic.select(
        *keep, "x", "_m", F.explode(F.array(b - 1, b, b + 1)).alias("_b")
    )
    host = dic.select(
        *[F.col(c).alias(f"_h_{c}") for c in keep],
        F.col("x").alias("_hx"),
        F.col("_m").alias("_hm"),
        F.floor(F.col("x") / F.lit(float(eps))).alias("_b"),
    )
    cond = F.abs(F.col("x") - F.col("_hx")) <= F.lit(float(eps))
    j = probe.join(
        host,
        on=[probe["_b"] == host["_b"]]
        + [probe[c] == host[f"_h_{c}"] for c in keep],
    ).where(cond)
    nbrs = j.groupBy(*[probe[c] for c in keep], probe["x"]).agg(
        F.sum("_hm").alias("_n_nbrs")
    )
    flagged = dic.join(nbrs, on=keep + ["x"]).select(
        *keep, "x", "_m", (F.col("_n_nbrs") >= F.lit(int(min_pts))).alias("is_core")
    )
    w = Window.partitionBy(*keep).orderBy("x")
    core = (
        flagged.where("is_core")
        .withColumn(
            "_brk",
            F.when(
                (F.col("x") - F.lag("x").over(w)) > F.lit(float(eps)), 1
            ).otherwise(0),
        )
        .withColumn("label", F.sum("_brk").over(w).cast("long"))
        .drop("_brk")
    )
    core_host = core.select(
        *[F.col(c).alias(f"_h_{c}") for c in keep],
        F.col("x").alias("_hx"),
        F.col("label").alias("_hlabel"),
        F.floor(F.col("x") / F.lit(float(eps))).alias("_b"),
    )
    border_probe = flagged.where(~F.col("is_core")).select(
        *keep, "x", F.explode(F.array(b - 1, b, b + 1)).alias("_b")
    )
    border = (
        border_probe.join(
            core_host,
            on=[border_probe["_b"] == core_host["_b"]]
            + [border_probe[c] == core_host[f"_h_{c}"] for c in keep],
        )
        .where(F.abs(F.col("x") - F.col("_hx")) <= F.lit(float(eps)))
        .groupBy(*[border_probe[c] for c in keep], border_probe["x"])
        .agg(F.min("_hlabel").alias("label"))
        .withColumn("is_core", F.lit(False))
    )
    noise = (
        flagged.where(~F.col("is_core"))
        .join(border.select(*keep, "x"), on=keep + ["x"], how="left_anti")
        .select(*keep, "x", F.lit(-1).cast("long").alias("label"),
                F.lit(False).alias("is_core"))
    )
    return (
        core.select(*keep, "x", "label", "is_core")
        .unionByName(border.select(*keep, "x", "label", "is_core"))
        .unionByName(noise)
    )


def gauss_fit(
    df: DataFrame, x_col: str, y_col: str, by: str | None = None
) -> DataFrame:
    """GaussFitEvaluator analog (``io/eval/GaussFitEvaluator.java:40-60``
    — commons-math GaussianCurveFitter, iterative Levenberg-Marquardt):
    frozen here as the classical log-quadratic linearization — fit
    ln y = c0 + c1·x + c2·x² by least squares (delegates to
    :func:`polyfit2`'s one-aggregation Cramer solve), then
    σ² = −1/(2c2), μ = c1·σ², A = exp(c0 + μ²/(2σ²)). Exact when the
    data IS a Gaussian; deterministic and SQL-expressible where the
    reference's iterative fitter is not."""
    ln = df.where(F.col(y_col) > 0).withColumn(
        "_lny", F.log(F.col(y_col).cast("double"))
    )
    fit = polyfit2(ln, x_col, "_lny", by=by)
    sigma2 = F.lit(-0.5) / F.col("c2")
    mu = F.col("c1") * sigma2
    amp = F.exp(F.col("c0") + mu * mu / (F.lit(2.0) * sigma2))
    keep = [by] if by else []
    return fit.select(
        *keep,
        mu.alias("mu"),
        F.sqrt(sigma2).alias("sigma"),
        amp.alias("amplitude"),
    )


def dist_cdf_family(
    df: DataFrame, x_col: str, by: str | None = None, weibull_shape: float = 1.5
) -> DataFrame:
    """Exponential / Weibull / log-normal CDF family —
    ExponentialDistributionEvaluator, WeibullDistributionEvaluator,
    LogNormalDistributionEvaluator + CumulativeProbabilityEvaluator
    (``io/eval/ExponentialDistributionEvaluator.java:38-47`` etc., test
    ``io/stream/MathExpressionTest.java``): the reference materializes
    the series and asks commons-math per point; here one stats
    aggregation per group fits every parameter (exponential MLE mean,
    the Weibull scale at the frozen shape parameter, (mu, sigma) of
    ln x for the log-normal over x > 0), broadcast join-back, and all
    three CDFs are closed-form JVM expressions — erf via the frozen
    A&S 7.1.26 polynomial shared with the SQL oracle:

        exp_cdf      = 1 - e^(-x/mean)
        weibull_cdf  = 1 - e^(-(x/mean)^shape)
        lognorm_cdf  = Phi((ln x - mu_l)/sigma_l)
    """
    x = F.col(x_col).cast("double")
    pos = df.where(x > 0)
    lnx = F.log(x)
    aggs = [
        F.avg(x).alias("_mean"),
        F.avg(lnx).alias("_lmu"),
        F.stddev_samp(lnx).alias("_lsd"),
    ]
    if by:
        stats = pos.groupBy(by).agg(*aggs)
        joined = pos.join(F.broadcast(stats), by)
    else:
        stats = pos.agg(*aggs)
        joined = pos.crossJoin(F.broadcast(stats))
    keep = [by] if by else []
    z = (lnx - F.col("_lmu")) / (F.col("_lsd") * F.lit(2.0 ** 0.5))
    return joined.select(
        *keep,
        x.alias(x_col),
        F.col("_mean").alias("mean"),
        (F.lit(1.0) - F.exp(-x / F.col("_mean"))).alias("exp_cdf"),
        (
            F.lit(1.0)
            - F.exp(-F.pow(x / F.col("_mean"), F.lit(float(weibull_shape))))
        ).alias("weibull_cdf"),
        (F.lit(0.5) * (F.lit(1.0) + _erf_expr(z))).alias("lognormal_cdf"),
    )


def akima_midpoints(
    df: DataFrame, x_col: str, y_col: str, by: str | None = None
) -> DataFrame:
    """AkimaEvaluator analog (``io/eval/AkimaEvaluator.java`` —
    commons-math AkimaSplineInterpolator): interpolated value at the
    midpoint of every INTERIOR knot interval. Frozen cross-engine
    semantics: only intervals whose four neighbouring slopes
    m_{i-2}..m_{i+1} (and m_{i+2} for the right endpoint slope) all
    exist are emitted — the reference's synthetic endpoint
    extrapolation is excluded from the contract.

        m_i = (y_{i+1} - y_i) / (x_{i+1} - x_i)
        s_i = (|m_{i+1}-m_i| m_{i-1} + |m_{i-1}-m_{i-2}| m_i)
              / (|m_{i+1}-m_i| + |m_{i-1}-m_{i-2}|)
              (average of the two central slopes when the denominator
              is zero — the Akima tie rule)
        H(1/2) = (y_i + y_{i+1})/2 + dx (s_i - s_{i+1})/8

    All lag/lead window expressions over (group, x) — ONE shuffle on
    the group key (a per-series sort at scale; series length is the
    window, group count is the parallelism), no UDF, no driver
    materialization (the reference interpolates driver-side)."""
    grp = [by] if by else []
    w = Window.partitionBy(*grp).orderBy(x_col)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    d = df.withColumn("_m", (F.lead(y, 1).over(w) - y) / (F.lead(x, 1).over(w) - x))
    mm2, mm1 = F.lag("_m", 2).over(w), F.lag("_m", 1).over(w)
    m0, mp1, mp2 = F.col("_m"), F.lead("_m", 1).over(w), F.lead("_m", 2).over(w)

    def _akima_slope(a, b, c, dd):
        # slope at the knot between b and c: weights |d-c| and |b-a|
        den = F.abs(dd - c) + F.abs(b - a)
        return F.when(den > 0, (F.abs(dd - c) * b + F.abs(b - a) * c) / den).otherwise(
            (b + c) / F.lit(2.0)
        )

    s0 = _akima_slope(mm2, mm1, m0, mp1)
    s1 = _akima_slope(mm1, m0, mp1, mp2)
    dx = F.lead(x, 1).over(w) - x
    out = d.select(
        *grp,
        ((x + F.lead(x, 1).over(w)) / F.lit(2.0)).alias("mid_x"),
        (
            (y + F.lead(y, 1).over(w)) / F.lit(2.0) + dx * (s0 - s1) / F.lit(8.0)
        ).alias("mid_y"),
        mm2.alias("_g0"),
        mp2.alias("_g1"),
    )
    return out.where(
        F.col("_g0").isNotNull() & F.col("_g1").isNotNull()
    ).drop("_g0", "_g1")


def idft_reconstruct(
    df: DataFrame, k_col: str, re_col: str, im_col: str, by: str | None = None
) -> DataFrame:
    """IFFTEvaluator analog (``io/eval/IFFTEvaluator.java`` —
    commons-math inverse FastFourierTransformer, driver-side): the real
    part of the inverse transform,

        y_i = (1/n) * sum_k ( re_k cos(2*pi*k*i/n) - im_k sin(2*pi*k*i/n) )

    as the same distributed group-keyed pair join as
    :func:`dft_magnitude` — spectrum rows x the i = 0..n-1 sample grid,
    one grouped sum. dft -> idft is the reference's roundtrip test
    (``io/stream/MathExpressionTest.java`` fft/ifft)."""
    import math

    keep = [by] if by else []
    n = df.groupBy(*keep).agg(F.count("*").alias("_n"))
    grid = n.select(
        *keep, "_n", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("_i")
    )
    pairs = df.join(grid, keep) if keep else df.crossJoin(grid)
    theta = F.lit(2.0 * math.pi) * F.col(k_col) * F.col("_i") / F.col("_n")
    return (
        pairs.groupBy(*keep, "_i")
        .agg(
            (
                F.sum(F.col(re_col) * F.cos(theta) - F.col(im_col) * F.sin(theta))
                / F.max("_n")
            ).alias("y")
        )
        .select(*keep, F.col("_i").alias("i"), "y")
    )


def gamma_pdf(
    df: DataFrame, x_col: str, shape: float, by: str | None = None
) -> DataFrame:
    """GammaDistributionEvaluator + DensityEvaluator analog
    (``io/eval/GammaDistributionEvaluator.java``,
    ``DensityEvaluator.java`` — commons-math GammaDistribution): scale
    fit by method of moments at the frozen shape k (theta = mean/k),
    density

        f(x) = exp( (k-1) ln x - x/theta - lnGamma(k) - k ln theta )

    lnGamma(k) folds to a Python literal (k is a parameter, exactly the
    ln-factorial trick of :func:`binomial_pmf`); the fit is one stats
    aggregation and the density never leaves JVM codegen."""
    import math

    k = float(shape)
    x = F.col(x_col).cast("double")
    pos = df.where(x > 0)
    keep = [by] if by else []
    if by:
        stats = pos.groupBy(by).agg(F.avg(x).alias("_mean"))
        joined = pos.join(F.broadcast(stats), by)
    else:
        stats = pos.agg(F.avg(x).alias("_mean"))
        joined = pos.crossJoin(F.broadcast(stats))
    theta = F.col("_mean") / F.lit(k)
    logpdf = (
        F.lit(k - 1.0) * F.log(x)
        - x / theta
        - F.lit(math.lgamma(k))
        - F.lit(k) * F.log(theta)
    )
    return joined.select(
        *keep,
        x.alias(x_col),
        F.col("_mean").alias("mean"),
        F.exp(logpdf).alias("pdf"),
    )


def zipf_pmf(df: DataFrame, k_col: str, n_ranks: int, s: float) -> DataFrame:
    """ZipFDistributionEvaluator analog
    (``io/eval/ZipFDistributionEvaluator.java`` — commons-math
    ZipfDistribution): pmf(k) = k^-s / H(N, s). Both parameters are
    frozen, so the generalized harmonic number H folds to a Python
    literal and the pmf is a pure JVM expression per row — zero
    shuffles beyond whatever produced ``k_col``."""
    h = sum(j ** -float(s) for j in range(1, int(n_ranks) + 1))
    kk = F.col(k_col).cast("double")
    return df.withColumn("pmf", F.pow(kk, F.lit(-float(s))) / F.lit(h))


def convex_hull(
    df: DataFrame, x_col: str, y_col: str, id_col: str
) -> DataFrame:
    """ConvexHullEvaluator + GetVerticesEvaluator analog
    (``io/eval/ConvexHullEvaluator.java``,
    ``GetVerticesEvaluator.java`` — commons-math MonotoneChain over a
    driver-side matrix): distributed two-level hull.

    Level 1 prunes per partition with a monotone-chain kernel
    (vectorized pandas batch, popping only on strictly-clockwise turns
    so collinear boundary points SURVIVE); a global hull vertex is a
    hull vertex of every subset containing it, so pruning is sound.
    Level 2 confirms hull edges exactly over the small candidate set:
    pair join + one grouped min/max of the cross product
    (b-a) x (p-a); an edge is on the hull iff every other candidate
    lies on one closed side, and the hull vertices are the edge
    endpoints. Every level-2 expression is JVM-side and the same
    closed-side test is the SQL oracle (over ALL points — equivalence
    holds because interior points are convex combinations of
    candidates). Returns (pid, px, py) hull vertices."""
    pts = df.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x_col).cast("double").alias("px"),
        F.col(y_col).cast("double").alias("py"),
    )

    def _local_hull(batches):
        for pdf in batches:
            if len(pdf) <= 3:
                yield pdf
                continue
            pdf = pdf.sort_values(["px", "py"]).reset_index(drop=True)
            rows = list(pdf.itertuples(index=False))  # (pid, px, py)

            def chain(seq):
                h = []
                for r in seq:
                    while len(h) >= 2:
                        cross = (h[-1].px - h[-2].px) * (r.py - h[-2].py) - (
                            h[-1].py - h[-2].py
                        ) * (r.px - h[-2].px)
                        if cross < 0:  # strictly clockwise: pop
                            h.pop()
                        else:
                            break
                    h.append(r)
                return h

            keep = {r.pid for r in chain(rows)} | {r.pid for r in chain(rows[::-1])}
            yield pdf[pdf["pid"].isin(keep)]

    cand = pts.mapInPandas(_local_hull, schema="pid long, px double, py double")
    a = cand.select(
        F.col("pid").alias("apid"), F.col("px").alias("ax"), F.col("py").alias("ay")
    )
    b = cand.select(
        F.col("pid").alias("bpid"), F.col("px").alias("bx"), F.col("py").alias("by")
    )
    pairs = a.join(b, F.col("apid") != F.col("bpid"))
    tri = pairs.join(
        cand, (F.col("pid") != F.col("apid")) & (F.col("pid") != F.col("bpid"))
    ).select(
        "apid",
        "bpid",
        (
            (F.col("bx") - F.col("ax")) * (F.col("py") - F.col("ay"))
            - (F.col("by") - F.col("ay")) * (F.col("px") - F.col("ax"))
        ).alias("cr"),
    )
    edges = (
        tri.groupBy("apid", "bpid")
        .agg(F.min("cr").alias("mn"), F.max("cr").alias("mx"))
        .where((F.col("mn") >= 0) | (F.col("mx") <= 0))
    )
    verts = edges.select(F.col("apid").alias("pid")).distinct()
    return verts.join(cand, "pid").select("pid", "px", "py")


def enclosing_disk(
    df: DataFrame, x_col: str, y_col: str, id_col: str
) -> DataFrame:
    """EnclosingDiskEvaluator + GetCenter/GetRadius analog
    (``io/eval/EnclosingDiskEvaluator.java`` — commons-math
    WelzlEncloser, an inherently SEQUENTIAL randomized algorithm): the
    scalable determinization. The minimal enclosing disk is determined
    by 2 or 3 vertices of the convex hull, so: take the two-level
    distributed hull (:func:`convex_hull`), enumerate every pair circle
    (diameter) and triple circle (circumcircle, skipping degenerate
    collinear triples), test coverage against the hull vertices with
    one grouped max of the squared distance (covers-hull iff
    covers-everything), and return the smallest covering circle
    (cx, cy, r). Coverage uses a 1e-9 relative slack so the determining
    points — at distance exactly r by construction — always pass; the
    SQL oracle applies the identical slack."""
    hull = convex_hull(df, x_col, y_col, id_col)
    a = hull.select(
        F.col("pid").alias("aid"), F.col("px").alias("ax"), F.col("py").alias("ay")
    )
    b = hull.select(
        F.col("pid").alias("bid"), F.col("px").alias("bx"), F.col("py").alias("by")
    )
    c = hull.select(
        F.col("pid").alias("cid"), F.col("px").alias("cx0"), F.col("py").alias("cy0")
    )
    ax, ay = F.col("ax"), F.col("ay")
    bx, by = F.col("bx"), F.col("by")
    cx0, cy0 = F.col("cx0"), F.col("cy0")

    pair = (
        a.join(b, F.col("aid") < F.col("bid"))
        .select(
            ((ax + bx) / F.lit(2.0)).alias("ccx"),
            ((ay + by) / F.lit(2.0)).alias("ccy"),
            (
                ((ax - bx) * (ax - bx) + (ay - by) * (ay - by)) / F.lit(4.0)
            ).alias("r2"),
        )
    )
    d = F.lit(2.0) * (ax * (by - cy0) + bx * (cy0 - ay) + cx0 * (ay - by))
    ux = (
        (ax * ax + ay * ay) * (by - cy0)
        + (bx * bx + by * by) * (cy0 - ay)
        + (cx0 * cx0 + cy0 * cy0) * (ay - by)
    ) / d
    uy = (
        (ax * ax + ay * ay) * (cx0 - bx)
        + (bx * bx + by * by) * (ax - cx0)
        + (cx0 * cx0 + cy0 * cy0) * (bx - ax)
    ) / d
    # guard the division with CASE (ANSI mode evaluates projections
    # even for rows a Filter would drop): degenerate collinear triples
    # yield NULL circles, dropped below
    gux = F.when(F.abs(d) > 1e-12, ux)
    guy = F.when(F.abs(d) > 1e-12, uy)
    triple = (
        a.join(b, F.col("aid") < F.col("bid"))
        .join(c, F.col("bid") < F.col("cid"))
        .select(
            gux.alias("ccx"),
            guy.alias("ccy"),
            ((ax - gux) * (ax - gux) + (ay - guy) * (ay - guy)).alias("r2"),
        )
        .where(F.col("ccx").isNotNull())
    )
    circles = pair.unionByName(triple)
    dist2 = (F.col("px") - F.col("ccx")) * (F.col("px") - F.col("ccx")) + (
        F.col("py") - F.col("ccy")
    ) * (F.col("py") - F.col("ccy"))
    covered = (
        circles.crossJoin(hull)
        .groupBy("ccx", "ccy", "r2")
        .agg(F.max(dist2).alias("maxd"))
        .where(F.col("maxd") <= F.col("r2") * F.lit(1.0 + 1e-9))
    )
    return (
        covered.orderBy("r2", "ccx", "ccy")
        .limit(1)
        .select(
            F.col("ccx").alias("center_x"),
            F.col("ccy").alias("center_y"),
            F.sqrt(F.col("r2")).alias("radius"),
        )
    )


def oscillate(spark, n: int, amplitude: float, angular_freq: float, phase: float) -> DataFrame:
    """OscillateEvaluator analog (``io/eval/OscillateEvaluator.java``;
    the harmonic-fit accessors GetAmplitude/GetAngularFrequency/GetPhase
    read these back from :func:`harmonic_fit`): sample the sinusoid
    A·sin(ω·i + φ) at i = 0..n-1. ``spark.range`` partitions the domain
    so generation is distributed; the wave is a pure JVM expression."""
    i = F.col("id").cast("double")
    return spark.range(n).select(
        F.col("id").alias("i"),
        (F.lit(float(amplitude))
         * F.sin(F.lit(float(angular_freq)) * i + F.lit(float(phase)))).alias("wave"),
    )


def primes(spark, limit: int) -> DataFrame:
    """PrimesEvaluator analog (``io/eval/PrimesEvaluator.java`` — the
    reference enumerates primes driver-side with commons-math): all
    primes ≤ limit, as a distributed sieve join — candidates 2..limit
    LEFT ANTI JOIN their nontrivial divisors 2..√limit on c % d = 0.
    The divisor side is tiny (√limit rows) so Spark broadcasts it; the
    candidate scan partitions with ``spark.range``. No driver loop."""
    import math

    cand = spark.range(2, limit + 1).select(F.col("id").alias("c"))
    div = spark.range(2, int(math.isqrt(limit)) + 1).select(F.col("id").alias("d"))
    composite = (F.col("c") % F.col("d") == 0) & (F.col("c") != F.col("d"))
    return cand.join(F.broadcast(div), composite, "left_anti").orderBy("c")


def montecarlo_exponential(
    spark, n: int, lam: float, moment: int = 2
) -> DataFrame:
    """MonteCarloEvaluator analog (``io/eval/MonteCarloEvaluator.java``
    runs a lambda over per-iteration distribution samples, driver-side):
    estimate E[Xᵐ] for X ~ Exponential(λ) by inverse-CDF sampling,
    distributed over ``spark.range``. The uniforms are a DETERMINISTIC
    Weyl/multiplicative sequence u_i = ((i+1)·2654435761 mod 2³²+0.5)/2³²
    — pure integer arithmetic both engines reproduce bit-identically, so
    the estimate is oracle-checkable (the reference's PRNG stream is
    just as fixed, only seeded differently). X = −ln(1−u)/λ."""
    knuth = F.lit(2654435761)
    u = (((F.col("id") + 1) * knuth) % F.lit(2**32) + F.lit(0.5)) / F.lit(float(2**32))
    x = -F.log(F.lit(1.0) - u) / F.lit(float(lam))
    g = F.pow(x, F.lit(float(moment)))
    return spark.range(n).select(g.alias("g")).agg(
        F.count("*").alias("n"),
        F.avg("g").alias("estimate"),
        F.stddev_samp("g").alias("stddev"),
    )


def precision_matrix(df: DataFrame, x: str, y: str) -> DataFrame:
    """PrecisionEvaluator analog (``io/eval/PrecisionEvaluator.java`` —
    commons-math inverts the covariance matrix driver-side): the 2×2
    precision (inverse sample-covariance) matrix in closed form from ONE
    distributed aggregation — inv = 1/det·[[v_y, −c], [−c, v_x]] with
    det = v_x·v_y − c². Higher dimensions use :func:`corr_matrix`'s k²
    aggregate expressions + a driver-side O(k³) inverse on the k×k
    result (constant cost at any corpus size)."""
    stats = df.agg(
        F.var_samp(x).alias("vx"),
        F.var_samp(y).alias("vy"),
        F.covar_samp(x, y).alias("cxy"),
    )
    det = F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy")
    return stats.select(
        (F.col("vy") / det).alias("p_xx"),
        (-F.col("cxy") / det).alias("p_xy"),
        (F.col("vx") / det).alias("p_yy"),
    )


def pair_sort(df: DataFrame, key_arr: str, val_arr: str) -> DataFrame:
    """PairSortEvaluator analog (``io/eval/PairSortEvaluator.java``):
    sort two parallel numeric arrays by the first. ``arrays_zip`` +
    ``sort_array`` orders struct elements field-by-field (key, then
    value — the reference's tie behavior is unspecified; value-order
    ties are frozen here), then the halves are re-projected with
    ``transform``. All JVM higher-order functions, no Python."""
    zipped = F.sort_array(F.arrays_zip(F.col(key_arr), F.col(val_arr)))
    return df.withColumn("_z", zipped).select(
        *df.columns,
        F.transform("_z", lambda s: s[key_arr]).alias("sorted_keys"),
        F.transform("_z", lambda s: s[val_arr]).alias("sorted_vals"),
    ).drop("_z")


def multi_kmeans_step_1d(
    df: DataFrame, val_col: str, restarts: list[list[float]]
) -> DataFrame:
    """MultiKmeansEvaluator analog (``io/eval/MultiKmeansEvaluator.java``
    — commons-math MultiKMeansPlusPlusClusterer runs K restarts and
    keeps the lowest within-cluster-sum-of-squares): R restarts × one
    Lloyd step, FUSED into a single aggregation pass — for each restart
    the argmin assignment, per-cluster sums and the WCSS are all JVM
    expressions over the same scan, so R restarts cost one job, not R.
    Returns the winning restart's id, its WCSS, and each cluster's size
    and updated centroid."""
    x = F.col(val_col).cast("double")
    aggs = []
    for r, cents in enumerate(restarts):
        dists = [F.abs(x - F.lit(float(c))) for c in cents]
        best = F.least(*dists)
        aggs.append(F.sum(best * best).alias(f"_wcss{r}"))
        for j in range(len(cents)):
            is_j = dists[j] == best
            for jj in range(j):  # ties go to the LOWEST cluster id
                is_j = is_j & (dists[jj] != best)
            aggs += [
                F.sum(F.when(is_j, 1).otherwise(0)).alias(f"_n{r}_{j}"),
                F.sum(F.when(is_j, x)).alias(f"_s{r}_{j}"),
            ]
    wide = df.where(x.isNotNull()).agg(*aggs)
    wcss = F.array(*[F.col(f"_wcss{r}") for r in range(len(restarts))])
    best_r = F.lit(0)
    for r in range(len(restarts) - 1, -1, -1):
        best_r = F.when(F.col(f"_wcss{r}") == F.array_min(wcss), F.lit(r)).otherwise(best_r)
    rows = []
    for r, cents in enumerate(restarts):
        for j in range(len(cents)):
            rows.append(
                F.struct(
                    F.lit(r).alias("restart"),
                    F.lit(j).alias("cluster"),
                    F.col(f"_n{r}_{j}").alias("n"),
                    (F.col(f"_s{r}_{j}") / F.col(f"_n{r}_{j}")).alias("new_centroid"),
                    F.col(f"_wcss{r}").alias("wcss"),
                )
            )
    return (
        wide.select(best_r.alias("_best"), F.explode(F.array(*rows)).alias("r"))
        .where((F.col("r.restart") == F.col("_best")) & (F.col("r.n") > 0))
        .select("r.restart", "r.cluster", "r.n", "r.new_centroid", "r.wcss")
    )
