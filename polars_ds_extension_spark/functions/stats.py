"""Statistics — Spark-native re-expression of the reference's stats module
(reference: python/polars_ds/exprs/stats.py).

Shapes:
  * aggregate Column expressions (weighted moments, cosine_sim, hmean,
    t-statistics, normality K²) — composable inside ``groupBy().agg()``,
    map-side combinable, no shuffle beyond the groupBy;
  * DataFrame-level tests that need ranks/contingency (KS, Mann-Whitney,
    chi2, one-way F) — one window + one aggregation;
  * random generators — pure `rand()`/`randn()` transforms (JVM).

p-values: where the CDF is elementary (normal, chi2 with 2 dof, erf-based)
they are computed JVM-side; Student-t / general chi2 / F p-values use the
pure-numpy special functions in `_special.py` applied on the *aggregated*
(tiny) result via mapInPandas — never on raw rows.
"""

from __future__ import annotations

import math
from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .._utils import (to_col, group_window, ordered_window,
                      materialize, with_global_totals)


def _sf2(fn, a: Column, b: Column) -> Column:
    """Apply a python survival function to two aggregated columns via an
    Arrow-batched pandas UDF — runs on the tiny post-agg frame only."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _u(x: "pd.Series", y: "pd.Series") -> "pd.Series":
        return pd.Series([
            float(fn(float(xi), float(yi))) if xi is not None and yi is not None
            else float("nan")
            for xi, yi in zip(x, y)
        ])

    return _u(a, b)


def _sf3(fn, a: Column, b: Column, c: Column) -> Column:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _u(x: "pd.Series", y: "pd.Series", z: "pd.Series") -> "pd.Series":
        return pd.Series([
            float(fn(float(xi), float(yi), float(zi)))
            if xi is not None and yi is not None and zi is not None
            else float("nan")
            for xi, yi, zi in zip(x, y, z)
        ])

    return _u(a, b, c)

__all__ = [
    "hmean", "weighted_hmean", "gmean", "weighted_gmean",
    "weighted_mean", "weighted_var", "weighted_cov", "weighted_corr",
    "cosine_sim", "weighted_cosine_sim",
    "ttest_1samp_stat", "ttest_ind_stat", "ttest_ind_from_stats", "ttest_ind",
    "normal_test", "winsorize", "winsorize_df",
    "ks_2samp", "mann_whitney_u", "chi2", "f_test",
    "corr", "xi_corr", "bicor", "kendall_tau",
    "random", "random_int", "random_normal", "random_exp",
    "random_binomial", "random_str", "random_null", "jitter", "perturb",
    "add_noise",
]


# ----------------------------------------------------------- agg expressions

def hmean(x) -> Column:
    """Harmonic mean (agg). Ref stats.py:756."""
    xx = to_col(x)
    return F.count(xx) / F.sum(F.lit(1.0) / xx)


def weighted_hmean(x, weights) -> Column:
    """Weighted harmonic mean (agg). Ref stats.py:769."""
    xx, ww = to_col(x), to_col(weights)
    return F.sum(ww) / F.sum(ww / xx)


def gmean(x) -> Column:
    """Geometric mean (agg). Ref stats.py:793."""
    return F.exp(F.avg(F.log(to_col(x))))


def weighted_gmean(x, weights) -> Column:
    """Weighted geometric mean (agg). Ref stats.py:805."""
    xx, ww = to_col(x), to_col(weights)
    return F.exp(F.sum(ww * F.log(xx)) / F.sum(ww))


def weighted_mean(x, weights) -> Column:
    """sum(x*w)/sum(w) (agg). Ref stats.py:827."""
    xx, ww = to_col(x), to_col(weights)
    return F.sum(xx * ww) / F.sum(ww)


def weighted_var(x, weights, freq_weights: bool = False) -> Column:
    """Weighted variance (agg), algebraically expanded so it is a single
    map-side-combinable aggregation (no two-pass mean). Ref stats.py:852.

    freq_weights=True → divide by (sum(w) - 1); else by sum(w).
    """
    xx, ww = to_col(x).cast("double"), to_col(weights).cast("double")
    sw = F.sum(ww)
    swx = F.sum(ww * xx)
    swx2 = F.sum(ww * xx * xx)
    num = swx2 - swx * swx / sw
    denom = (sw - 1) if freq_weights else sw
    return num / denom


def weighted_cov(x, y, weights) -> Column:
    """Weighted covariance (agg, single pass). Ref stats.py:881."""
    xx, yy, ww = to_col(x).cast("double"), to_col(y).cast("double"), to_col(weights).cast("double")
    sw = F.sum(ww)
    return (F.sum(ww * xx * yy) - F.sum(ww * xx) * F.sum(ww * yy) / sw) / sw


def weighted_corr(x, y, weights) -> Column:
    """Weighted Pearson correlation (agg, single pass). Ref stats.py:906."""
    return weighted_cov(x, y, weights) / F.sqrt(
        weighted_var(x, weights) * weighted_var(y, weights)
    )


def cosine_sim(x, y) -> Column:
    """Column-wise cosine similarity (agg). Ref stats.py:934."""
    xx, yy = to_col(x), to_col(y)
    return F.sum(xx * yy) / F.sqrt(F.sum(xx * xx) * F.sum(yy * yy))


def weighted_cosine_sim(x, y, weights) -> Column:
    """Weighted cosine similarity (agg). Ref stats.py:951."""
    xx, yy, ww = to_col(x), to_col(y), to_col(weights)
    return F.sum(ww * xx * yy) / F.sqrt(F.sum(ww * xx * xx) * F.sum(ww * yy * yy))


def ttest_1samp_stat(x, pop_mean: float) -> Column:
    """One-sample t statistic (agg). Ref stats.py:134 (statistic field;
    p-value via _special.t_sf on the aggregated row)."""
    xx = to_col(x)
    n = F.count(xx).cast("double")
    return (F.mean(xx) - F.lit(pop_mean)) / (F.stddev_samp(xx) / F.sqrt(n))


def ttest_ind_stat(x, y, equal_var: bool = False) -> Column:
    """Two-sample (Welch by default) t statistic for two columns of the
    same frame (agg). Ref stats.py:58."""
    xx, yy = to_col(x), to_col(y)
    mx, my = F.mean(xx), F.mean(yy)
    vx, vy = F.var_samp(xx), F.var_samp(yy)
    nx, ny = F.count(xx).cast("double"), F.count(yy).cast("double")
    if equal_var:
        sp = ((nx - 1) * vx + (ny - 1) * vy) / (nx + ny - 2)
        return (mx - my) / F.sqrt(sp * (1 / nx + 1 / ny))
    return (mx - my) / F.sqrt(vx / nx + vy / ny)


def ttest_ind_from_stats(mean1, std1, cnt1, mean2, std2, cnt2,
                         equal_var: bool = False) -> Column:
    """t statistic from already-aggregated stats (elementwise).
    Ref stats.py:170."""
    m1, s1, n1 = to_col(mean1), to_col(std1), to_col(cnt1).cast("double")
    m2, s2, n2 = to_col(mean2), to_col(std2), to_col(cnt2).cast("double")
    if equal_var:
        sp = ((n1 - 1) * s1 * s1 + (n2 - 1) * s2 * s2) / (n1 + n2 - 2)
        return (m1 - m2) / F.sqrt(sp * (1 / n1 + 1 / n2))
    return (m1 - m2) / F.sqrt(s1 * s1 / n1 + s2 * s2 / n2)


def ttest_ind(df: DataFrame, x, y, equal_var: bool = False) -> DataFrame:
    """Two-sample t test between two columns of the same frame →
    one row (statistic, dof, pvalue). Ref stats.py:58 (reference returns
    statistic+p like scipy). One aggregation; Welch–Satterthwaite dof for
    the unequal-variance default; p via the t survival function on the
    aggregated row."""
    from ._special import t_sf

    xx, yy = to_col(x), to_col(y)
    agg = df.agg(
        F.mean(xx).alias("mx"), F.mean(yy).alias("my"),
        F.var_samp(xx).alias("vx"), F.var_samp(yy).alias("vy"),
        F.count(xx).cast("double").alias("nx"),
        F.count(yy).cast("double").alias("ny"),
    )
    mx, my = F.col("mx"), F.col("my")
    vx, vy, nx, ny = F.col("vx"), F.col("vy"), F.col("nx"), F.col("ny")
    if equal_var:
        sp = ((nx - 1) * vx + (ny - 1) * vy) / (nx + ny - 2)
        stat = (mx - my) / F.sqrt(sp * (1 / nx + 1 / ny))
        dof = nx + ny - 2
    else:
        stat = (mx - my) / F.sqrt(vx / nx + vy / ny)
        dof = (
            F.pow(vx / nx + vy / ny, 2)
            / (F.pow(vx / nx, 2) / (nx - 1) + F.pow(vy / ny, 2) / (ny - 1))
        )
    out = agg.select(stat.alias("statistic"), dof.alias("dof"))
    two_sided = lambda t, d: 2.0 * t_sf(abs(t), d)  # noqa: E731
    return out.select(
        "statistic", "dof",
        _sf2(two_sided, F.col("statistic"), F.col("dof")).alias("pvalue"))


def normal_test(x) -> Column:
    """D'Agostino-Pearson K² omnibus normality test (agg) → struct
    (statistic, pvalue). Ref stats.py:493.

    Both the skew/kurtosis Z-transforms and the chi2(2dof) survival
    function exp(-k2/2) are elementary → fully JVM-side including p-value.
    """
    xx = to_col(x).cast("double")
    n = F.count(xx).cast("double")
    b1 = F.skewness(xx)          # m3 / m2^1.5 (population, matches scipy)
    b2 = F.kurtosis(xx) + 3.0    # Spark returns excess kurtosis

    # skewtest (D'Agostino 1970)
    y = b1 * F.sqrt((n + 1) * (n + 3) / (6 * (n - 2)))
    beta2 = 3 * (n * n + 27 * n - 70) * (n + 1) * (n + 3) / ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    w2 = -1 + F.sqrt(2 * (beta2 - 1))
    delta = 1 / F.sqrt(F.lit(0.5) * F.log(w2))
    alpha = F.sqrt(2.0 / (w2 - 1))
    y_safe = F.when(y == 0, F.lit(1.0)).otherwise(y)
    zs = delta * F.log(y_safe / alpha + F.sqrt(F.pow(y_safe / alpha, 2) + 1))
    zs = F.when(y == 0, F.lit(0.0)).otherwise(zs)

    # kurtosistest (Anscombe & Glynn 1983)
    e = 3 * (n - 1) / (n + 1)
    var_b2 = 24 * n * (n - 2) * (n - 3) / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    xk = (b2 - e) / F.sqrt(var_b2)
    sqrt_beta1 = (
        6 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
        * F.sqrt(6 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    )
    a = 6 + 8 / sqrt_beta1 * (2 / sqrt_beta1 + F.sqrt(1 + 4 / (sqrt_beta1 * sqrt_beta1)))
    term = (1 - 2 / a) / (1 + xk * F.sqrt(2 / (a - 4)))
    # signed cube root — F.pow(negative, 1/3) is NaN, but term < 0 happens
    # for strongly platykurtic samples (scipy uses np.sign(term)*|term|^(1/3))
    cbrt_term = F.signum(term) * F.pow(F.abs(term), F.lit(1.0) / 3)
    zk = ((1 - 2 / (9 * a)) - cbrt_term) / F.sqrt(2 / (9 * a))

    k2 = zs * zs + zk * zk
    pval = F.exp(-k2 / 2)  # chi2(2 dof) survival function
    return F.struct(k2.alias("statistic"), pval.alias("pvalue"))


def kaplan_meier(df: DataFrame, time: str, event: str,
                 n_parts: int | None = None,
                 small_threshold: int = 100_000) -> DataFrame:
    """Kaplan-Meier survival estimator S(t) over event times.

    Ref exprs/survival.py:11 (query_kaplan_meier). Distributed shape:
    one groupBy(time) reduces to per-time (deaths, at-risk-delta)
    partials; both cumulatives — the reverse at-risk count and the
    forward log-survival product — run through the two-pass range-bucket
    prefix plan (plans/ranks.global_cumsum). Distinct event times are
    unbounded for continuous time, so no single-partition ordered window
    appears anywhere in the plan.
    Output: (<time>, survival), one row per time with d_t < n_t.
    """
    from ..plans.ranks import _PID, _offsets, _ranged
    d = to_col(event).cast("double")
    at_risk = df.groupBy(to_col(time).alias("__t")).agg(
        F.sum(d).alias("__d"),
        F.count(F.lit(1)).cast("double").alias("__c"),
    )
    # The per-time frame is pinned so the size probe / offsets collects /
    # final job don't each replay the raw-event scan + groupBy. Adaptive:
    # when distinct times fit one task (the usual case — the frame is
    # post-aggregation), both cumulatives run as one ordered window over
    # that small frame; only a genuinely large frame (continuous times at
    # scale) pays the two-pass range-bucket plan's extra collects.
    at_risk = materialize(with_global_totals(at_risk, __tot=F.sum("__c")))
    if at_risk.count() <= small_threshold:
        ws = Window.orderBy("__t").rangeBetween(Window.unboundedPreceding, 0)
        n_t = F.col("__tot") - F.sum("__c").over(ws) + F.col("__c")
        km = at_risk.withColumn("__n", n_t) \
            .where(F.col("__d") < F.col("__n")) \
            .withColumn("__lg", F.log(1.0 - F.col("__d") / F.col("__n")))
        return km.select(F.col("__t").alias(time),
                         F.exp(F.sum("__lg").over(ws)).alias("survival"))
    # ONE range-bucket pass serves both cumulatives: the reverse at-risk
    # count is total − forward_cumsum + own-row count (times are distinct
    # post-groupBy), and the log-product prefix reuses the same buckets.
    part = _ranged(at_risk, "__t", [], n_parts)
    w = Window.partitionBy(_PID).orderBy("__t") \
        .rangeBetween(Window.unboundedPreceding, 0)
    part = part.withColumn("__loc_c", F.sum("__c").over(w))
    part = part.join(_offsets(part, [], {"__c": F.sum("__c")}), [_PID])
    n_t = F.col("__tot") - (F.col("__loc_c") + F.col("__off___c")) + F.col("__c")
    km = part.withColumn("__n", n_t) \
        .where(F.col("__d") < F.col("__n")) \
        .withColumn("__lg", F.log(1.0 - F.col("__d") / F.col("__n")))
    km = km.withColumn("__loc_lg", F.sum("__lg").over(w))
    km = km.join(_offsets(km, [], {"__lg": F.sum("__lg")}), [_PID])
    return km.select(F.col("__t").alias(time),
                     F.exp(F.col("__loc_lg") + F.col("__off___lg"))
                     .alias("survival"))


def winsorize(x, lower: float = 0.05, upper: float = 0.95,
              by: Sequence | None = None) -> Column:
    """Percentile clip within the group (windowed). Ref stats.py:375.

    NB: as a Column expression, ``by=None`` means a GLOBAL window — one
    partition at scale. For ungrouped winsorizing of a large frame use
    :func:`winsorize_df` (or pipeline.Winsorize), which computes the
    clip bounds in a separate aggregation instead.
    """
    xx = to_col(x)
    w = group_window(by)
    lo = F.percentile(xx, F.lit(lower)).over(w)
    hi = F.percentile(xx, F.lit(upper)).over(w)
    return F.when(xx < lo, lo).when(xx > hi, hi).otherwise(xx)


def winsorize_df(df: DataFrame, cols: Sequence[str],
                 lower: float = 0.05, upper: float = 0.95) -> DataFrame:
    """Ungrouped winsorize at scale: every column's EXACT clip bounds
    come from the distributed selection plan (plans/ranks.
    exact_quantiles — F.percentile's global agg buffers every value in
    one reducer), then the clip rides the scan as literals. No window,
    no extra shuffle of the big side."""
    from ..plans.ranks import exact_quantiles

    qs = exact_quantiles(df, {c: [lower, upper] for c in cols})
    out = df
    for c in cols:
        lo, hi = float(qs[c][0]), float(qs[c][1])
        xx = to_col(c)
        out = out.withColumn(
            c, F.when(xx < lo, F.lit(lo)).when(xx > hi, F.lit(hi)).otherwise(xx))
    return out


# ------------------------------------------------------ DataFrame-level tests

def _two_group_labels(df: DataFrame, g: Column,
                      groups: Sequence | None, fn: str) -> list[str]:
    if groups is not None:
        vals = [str(v) for v in groups]
        if len(vals) != 2:
            raise ValueError(f"{fn}: groups must have exactly 2 values")
        return vals
    gvals = sorted(
        r[0] for r in df.select(g.cast("string")).distinct().limit(3).collect()
    )
    if len(gvals) != 2:
        raise ValueError(f"{fn}: group column must have exactly 2 values")
    return gvals


def ks_2samp(df: DataFrame, x: str, group: str,
             by: Sequence[str] | None = None,
             groups: Sequence | None = None) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the two values of
    ``group``. Ref stats.py:232.

    Pass ``groups=(a, b)`` to skip label discovery (one less job).
    Grouped path: ECDF via cumulative windows partitioned on ``by``
    (parallel across groups). Global path: the two-pass range-partitioned
    prefix-sum plan (plans/ranks.py) — no single-partition sort.
    Output: ``by`` + `statistic`.
    """
    keys = list(by) if by else []
    g = to_col(group)
    gvals = _two_group_labels(df, g, groups, "ks_2samp")
    is_a = (g.cast("string") == gvals[0]).cast("double")
    is_b = (g.cast("string") == gvals[1]).cast("double")
    step = df.select(*keys, to_col(x).alias("__x"), is_a.alias("__a"), is_b.alias("__b"))
    from ._special import ks_sf

    if keys:
        wc = Window.partitionBy(*keys).orderBy("__x") \
            .rangeBetween(Window.unboundedPreceding, 0)
        gw = group_window(keys)
        d = F.abs(
            F.sum("__a").over(wc) / F.sum("__a").over(gw)
            - F.sum("__b").over(wc) / F.sum("__b").over(gw)
        )
        agg = step.select(*keys, "__a", "__b", d.alias("__d")) \
            .groupBy(*keys).agg(F.max("__d").alias("statistic"),
                                F.sum("__a").alias("__na"),
                                F.sum("__b").alias("__nb"))
        return agg.select(
            *keys, "statistic",
            _sf3(ks_sf, F.col("statistic"), F.col("__na"),
                 F.col("__nb")).alias("pvalue"))
    from ..plans import global_cumsum
    # r15: group totals ride the cumsum plan's offsets collect
    # (with_totals) — the separate .first() aggregation was a full
    # extra scan job for two scalars the prefix pass already summed.
    cum = global_cumsum(step, "__x", ["__a", "__b"], with_totals=True)
    d = F.abs(F.col("cum___a") / F.col("tot___a")
              - F.col("cum___b") / F.col("tot___b"))
    agg = cum.select(d.alias("__d"), "tot___a", "tot___b") \
        .agg(F.max("__d").alias("statistic"),
             F.max("tot___a").alias("__na"),
             F.max("tot___b").alias("__nb"))
    return agg.select(
        "statistic",
        _sf3(ks_sf, F.col("statistic"), F.col("__na"),
             F.col("__nb")).alias("pvalue"))


def mann_whitney_u(df: DataFrame, x: str, group: str,
                   by: Sequence[str] | None = None,
                   groups: Sequence | None = None) -> DataFrame:
    """Mann-Whitney U statistic (two-sided rank-sum, tie-averaged ranks).

    Ref stats.py:331. Pass ``groups=(a, b)`` to skip label discovery.
    Grouped path: rank windows partitioned on ``by`` (parallel). Global
    path: two-pass range-partitioned ranks (plans/ranks.py) — no
    single-partition sort. Output: ``by`` + `u1`, `u2`, `statistic`
    (= max(u1, u2), scipy's two-sided convention).
    """
    keys = list(by) if by else []
    g = to_col(group)
    gvals = _two_group_labels(df, g, groups, "mann_whitney_u")
    is_a = (g.cast("string") == gvals[0]).cast("double")
    if keys:
        wo = Window.partitionBy(*keys).orderBy(to_col(x))
        wt = Window.partitionBy(*keys, to_col(x))
        avg_rank = F.rank().over(wo) + (F.count(F.lit(1)).over(wt) - 1) / 2.0
        step = df.select(*keys, avg_rank.alias("__r"), is_a.alias("__a"))
    else:
        from ..plans import global_avg_rank
        pre = df.select(to_col(x).alias("__x"), is_a.alias("__a"))
        step = global_avg_rank(pre, "__x", out_name="__r")
    aggs = [
        F.sum(F.col("__r") * F.col("__a")).alias("__r1"),
        F.sum("__a").alias("__n1"),
        F.sum(F.lit(1.0) - F.col("__a")).alias("__n2"),
    ]
    agg = step.groupBy(*keys).agg(*aggs) if keys else step.agg(*aggs)
    # tie correction Σ(t³−t) from distinct-value counts (tiny frame)
    tie_src = df.select(*keys, to_col(x).alias("__x"))
    tie_cnt = tie_src.groupBy(*keys, "__x").agg(F.count(F.lit(1)).alias("__c"))
    tie_aggs = [F.sum(F.pow(F.col("__c"), 3) - F.col("__c")).alias("__ties")]
    ties = (tie_cnt.groupBy(*keys).agg(*tie_aggs) if keys
            else tie_cnt.agg(*tie_aggs))
    agg = agg.join(ties, keys) if keys else agg.crossJoin(ties)
    u1 = F.col("__r1") - F.col("__n1") * (F.col("__n1") + 1) / 2
    u2 = F.col("__n1") * F.col("__n2") - u1
    from ._special import mann_whitney_p
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _p4(u: "pd.Series", n1: "pd.Series", n2: "pd.Series",
            t: "pd.Series") -> "pd.Series":
        return pd.Series([
            float(mann_whitney_p(float(a), float(b), float(c), float(d)))
            for a, b, c, d in zip(u, n1, n2, t)
        ])

    return agg.select(*keys, u1.alias("u1"), u2.alias("u2"),
                      F.greatest(u1, u2).alias("statistic"),
                      _p4(F.greatest(u1, u2), F.col("__n1"), F.col("__n2"),
                          F.col("__ties")).alias("pvalue"))


def chi2(df: DataFrame, var1: str, var2: str) -> DataFrame:
    """Chi-square statistic of independence between two discrete columns.

    Ref stats.py:301. Contingency counts via one groupBy; expected
    frequencies via two windowed margins over the (tiny) contingency
    table. Output: one row `statistic`, `dof`.
    """
    obs = df.groupBy(var1, var2).agg(F.count(F.lit(1)).cast("double").alias("o"))
    obs = with_global_totals(obs, __tot=F.sum("o"))
    w1 = Window.partitionBy(var1)
    w2 = Window.partitionBy(var2)
    e = F.sum("o").over(w1) * F.sum("o").over(w2) / F.col("__tot")
    cells = obs.select(
        ((F.col("o") - e) * (F.col("o") - e) / e).alias("cell"),
        F.col(var1), F.col(var2),
    )
    from ._special import chi2_sf

    agg = cells.agg(
        F.sum("cell").alias("statistic"),
        ((F.count_distinct(F.col(var1)) - 1)
         * (F.count_distinct(F.col(var2)) - 1)).alias("dof"),
    )
    return agg.select(
        "statistic", "dof",
        _sf2(chi2_sf, F.col("statistic"),
             F.col("dof").cast("double")).alias("pvalue"))


def f_test(df: DataFrame, x: str, group: str) -> DataFrame:
    """One-way ANOVA F statistic of x across the levels of ``group``.

    Ref stats.py:280. Per-level partial aggregates (sum, sumsq, count) →
    tiny table; between/within mean squares assembled there.
    Output: one row `statistic`, `df_between`, `df_within`.
    """
    lev = df.groupBy(group).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(to_col(x)).alias("s"),
        F.sum(to_col(x) * to_col(x)).alias("ss"),
    )
    lev = with_global_totals(lev, __gn=F.sum("n"), __gs=F.sum("s"),
                             __k=F.count(F.lit(1)).cast("double"))
    grand_n = F.col("__gn")
    grand_s = F.col("__gs")
    k = F.col("__k")
    between_cell = F.col("s") * F.col("s") / F.col("n")
    within_cell = F.col("ss") - between_cell
    lev2 = lev.select(
        between_cell.alias("b"), within_cell.alias("wi"),
        (grand_s * grand_s / grand_n).alias("corr_term"),
        grand_n.alias("N"), k.alias("k"),
    )
    from ._special import f_sf

    agg = lev2.agg(
        (
            (F.sum("b") - F.first("corr_term")) / (F.first("k") - 1)
            / ((F.sum("wi")) / (F.first("N") - F.first("k")))
        ).alias("statistic"),
        (F.first("k") - 1).alias("df_between"),
        (F.first("N") - F.first("k")).alias("df_within"),
    )
    return agg.select(
        "statistic", "df_between", "df_within",
        _sf3(f_sf, F.col("statistic"), F.col("df_between"),
             F.col("df_within")).alias("pvalue"))


def corr(df: DataFrame, x: str, y: str, method: str = "pearson",
         by: Sequence[str] | None = None) -> DataFrame:
    """Correlation between two columns: pearson | spearman | kendall |
    xi | bicor. Ref stats.py:1083. Output: ``by`` + `corr`."""
    keys = list(by) if by else []
    if method == "pearson":
        agg = [F.corr(to_col(x), to_col(y)).alias("corr")]
        return df.groupBy(*keys).agg(*agg) if keys else df.agg(*agg)
    if method == "spearman":
        if keys:
            wx = Window.partitionBy(*keys).orderBy(to_col(x))
            wy = Window.partitionBy(*keys).orderBy(to_col(y))
            wtx = Window.partitionBy(*keys, to_col(x))
            wty = Window.partitionBy(*keys, to_col(y))
            rx = F.rank().over(wx) + (F.count(F.lit(1)).over(wtx) - 1) / 2.0
            ry = F.rank().over(wy) + (F.count(F.lit(1)).over(wty) - 1) / 2.0
            step = df.select(*keys, rx.alias("__rx"), ry.alias("__ry"))
            return step.groupBy(*keys).agg(F.corr("__rx", "__ry").alias("corr"))
        # global: fused two-column two-pass ranks (r15 — one boundary
        # agg, one pin, one offsets-grid collect instead of two chained
        # single-column plans)
        from ..plans.ranks import global_rank_pair
        step = df.select(to_col(x).alias("__x"), to_col(y).alias("__y"))
        step = global_rank_pair(step, "__x", "__y", "__rx", "__ry")
        return step.agg(F.corr("__rx", "__ry").alias("corr"))
    if method == "xi":
        return xi_corr(df, x, y, by=keys or None)
    if method == "bicor":
        return bicor(df, x, y, by=keys or None)
    if method == "kendall":
        return kendall_tau(df, x, y, by=keys or None)
    raise ValueError(f"unknown method {method}")


def xi_corr(df: DataFrame, x: str, y: str, by: Sequence[str] | None = None) -> DataFrame:
    """Chatterjee's xi correlation (no-ties formulation, matching the
    reference's default). Ref stats.py:1039.

    xi = 1 - 3 * sum|r_{i+1} - r_i| / (n² - 1), where r is the rank of y
    ordered by x. Grouped: two partitioned windows (parallel). Global:
    range-partitioned rank + cross-partition lag (plans/ranks.py).
    """
    keys = list(by) if by else []
    if keys:
        wy = Window.partitionBy(*keys).orderBy(to_col(y))
        r = F.rank().over(wy).cast("double")
        step = df.select(*keys, to_col(x).alias("__x"), r.alias("__r"))
        wx = Window.partitionBy(*keys).orderBy("__x")
        dr = F.abs(F.col("__r") - F.lag("__r").over(wx))
        step2 = step.select(*keys, dr.alias("__dr"))
    else:
        # r15: fused rank-then-lag plan — one boundary agg, one pin,
        # one grid collect instead of two chained two-pass plans
        from ..plans.ranks import global_rank_then_lag
        pre = df.select(to_col(x).alias("__x"), to_col(y).alias("__y"))
        lagged = global_rank_then_lag(pre, "__x", "__y",
                                      rank_name="__r", lag_name="__lr")
        dr = F.abs(F.col("__r") - F.col("__lr"))
        step2 = lagged.select(dr.alias("__dr"))
    # lag nulls the first row's diff but count() over lit(1) still counts
    # every row, so n here IS the sample size (no +1).
    n = F.count(F.lit(1)).cast("double")
    aggs = [(F.lit(1.0) - 3.0 * F.sum("__dr") / (n * n - 1)).alias("corr")]
    return step2.groupBy(*keys).agg(*aggs) if keys else step2.agg(*aggs)


def bicor(df: DataFrame, x: str, y: str, c: float = 9.0,
          by: Sequence[str] | None = None) -> DataFrame:
    """Biweight midcorrelation. Ref stats.py:1001.

    Pass 1 (windowed): per-group median and MAD for both columns;
    pass 2: weighted products aggregation. Two shuffles on ``by``.
    """
    keys = list(by) if by else []
    gw = group_window(keys or None)
    xx, yy = to_col(x).cast("double"), to_col(y).cast("double")
    mx, my = F.median(xx).over(gw), F.median(yy).over(gw)
    step = df.select(*keys, xx.alias("__x"), yy.alias("__y"),
                     (xx - mx).alias("__dx"), (yy - my).alias("__dy"))
    gw2 = group_window(keys or None)
    madx = F.median(F.abs(F.col("__dx"))).over(gw2)
    mady = F.median(F.abs(F.col("__dy"))).over(gw2)
    ux = F.col("__dx") / (F.lit(c) * madx)
    uy = F.col("__dy") / (F.lit(c) * mady)
    wx_ = F.when(F.abs(ux) < 1, F.pow(1 - ux * ux, 2)).otherwise(F.lit(0.0))
    wy_ = F.when(F.abs(uy) < 1, F.pow(1 - uy * uy, 2)).otherwise(F.lit(0.0))
    ax = F.col("__dx") * wx_
    ay = F.col("__dy") * wy_
    step2 = step.select(*keys, (ax * ay).alias("__xy"), (ax * ax).alias("__x2"),
                        (ay * ay).alias("__y2"))
    aggs = [(F.sum("__xy") / F.sqrt(F.sum("__x2") * F.sum("__y2"))).alias("corr")]
    return step2.groupBy(*keys).agg(*aggs) if keys else step2.agg(*aggs)


def _tau_b_numpy(xv, yv) -> float:
    """Kendall tau-b on two 1-D float arrays — pure numpy Knight O(n log n):
    sort by (x, y), count discordant pairs as y-inversions via a
    divide-and-conquer searchsorted merge; tie corrections from run lengths.
    (pandas' kendall delegates to scipy, which isn't installed here.)
    """
    import numpy as np

    mask = ~(np.isnan(xv) | np.isnan(yv))
    x, y = xv[mask], yv[mask]
    n = x.size
    if n < 2:
        return float("nan")
    perm = np.lexsort((y, x))  # sort by x, ties broken by y ascending
    x, y = x[perm], y[perm]

    def _inv(a):
        # returns (sorted a, #inversions) — strict inversions a[i] > a[j], i<j
        m = a.size
        if m <= 1:
            return a, 0
        l, cl = _inv(a[: m // 2])
        r, cr = _inv(a[m // 2:])
        # cross pairs (i in left, j in right) with l_i > r_j
        cross = int(np.sum(l.size - np.searchsorted(l, r, side="right")))
        merged = np.empty(m, dtype=a.dtype)
        idx = np.searchsorted(l, r, side="left") + np.arange(r.size)
        rmask = np.zeros(m, dtype=bool)
        rmask[idx] = True
        merged[rmask], merged[~rmask] = r, l
        return merged, cl + cr + cross

    # within equal-x runs y is ascending → inversions only cross x groups,
    # and equal y never counts (strict) → dis = discordant pair count
    _, dis = _inv(y)

    def _tie_term(a):
        _, cnt = np.unique(a, return_counts=True)
        return int((cnt * (cnt - 1) // 2).sum())

    xtie = _tie_term(x)
    ytie = _tie_term(y)
    # joint ties: runs of equal (x, y) — already sorted lexicographically
    both = np.flatnonzero(np.r_[True, (x[1:] != x[:-1]) | (y[1:] != y[:-1]), True])
    cnt = np.diff(both).astype("int64")
    ntie = int((cnt * (cnt - 1) // 2).sum())

    tot = n * (n - 1) // 2
    if tot == xtie or tot == ytie:
        return float("nan")
    con_minus_dis = tot - xtie - ytie + ntie - 2 * dis
    return float(con_minus_dis / math.sqrt(tot - xtie) / math.sqrt(tot - ytie))


def kendall_tau(df: DataFrame, x: str, y: str,
                by: Sequence[str] | None = None) -> DataFrame:
    """Kendall's tau-b. Ref stats.py:978.

    Distributed strategy: tau-b needs concordant/discordant pair counts —
    computed per group with an Arrow-batched applyInPandas running the
    numpy Knight kernel above. Groups must fit an executor; for the
    global case on huge data, pre-aggregate or sample first.
    """
    import pandas as pd

    keys = list(by) if by else []
    # preserve key dtypes — build the output schema from the input schema
    key_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema_keys = ", ".join(f"{k} {key_fields[k]}" for k in keys)
    schema = (schema_keys + ", " if keys else "") + "corr double"

    def _tau(pdf: pd.DataFrame) -> pd.DataFrame:
        t = _tau_b_numpy(
            pdf[x].to_numpy(dtype="float64"), pdf[y].to_numpy(dtype="float64")
        )
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["corr"] = [t]
        return pd.DataFrame(out)

    if keys:
        return df.select(*keys, x, y).groupBy(*keys).applyInPandas(_tau, schema)
    return (
        df.select(F.lit(1).alias("__g"), x, y)
        .groupBy("__g")
        .applyInPandas(_tau, "corr double")
    )


# ------------------------------------------------------------------ random

def random(lower: float = 0.0, upper: float = 1.0, seed: int | None = None) -> Column:
    """Uniform random in [lower, upper). Ref stats.py:523."""
    r = F.rand(seed) if seed is not None else F.rand()
    return F.lit(lower) + r * F.lit(upper - lower)


def random_int(lower: int, upper: int, seed: int | None = None) -> Column:
    """Uniform random int in [lower, upper). Ref stats.py:578."""
    r = F.rand(seed) if seed is not None else F.rand()
    return F.floor(F.lit(lower) + r * F.lit(upper - lower)).cast("int")


def random_normal(mean: float = 0.0, std: float = 1.0, seed: int | None = None) -> Column:
    """Gaussian random. Ref stats.py:721."""
    r = F.randn(seed) if seed is not None else F.randn()
    return F.lit(mean) + r * F.lit(std)


def random_exp(lambda_: float = 1.0, seed: int | None = None) -> Column:
    """Exponential via inverse CDF. Ref stats.py:692."""
    r = F.rand(seed) if seed is not None else F.rand()
    return -F.log1p(-r) / F.lit(lambda_)


def random_binomial(n: int, p: float, seed: int | None = None) -> Column:
    """Binomial as a sum of n Bernoulli draws, built with higher-order
    array functions (JVM-side, no UDF). Ref stats.py:655."""
    base = F.rand(seed) if seed is not None else F.rand()
    # n independent-ish draws from one uniform stream via splitmix-style
    # re-hash of (row uniform, trial index) — deterministic given the seed.
    draws = F.transform(
        F.sequence(F.lit(1), F.lit(n)),
        lambda i: (
            F.pmod(F.hash((base * 1e9).cast("long"), i), F.lit(1000000)).cast("double")
            / 1e6 < F.lit(p)
        ).cast("int"),
    )
    return F.aggregate(draws, F.lit(0), lambda acc, v: acc + v)


_ALPHANUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def random_str(min_size: int = 1, max_size: int = 10, seed: int | None = None) -> Column:
    """Random alphanumeric string with length in [min_size, max_size].
    Ref stats.py:618."""
    base = F.rand(seed) if seed is not None else F.rand()
    ln = F.floor(F.lit(min_size) + base * F.lit(max_size - min_size + 1)).cast("int")
    chars = F.transform(
        F.sequence(F.lit(1), ln),
        lambda i: F.substring(
            F.lit(_ALPHANUM),
            (F.pmod(F.hash((base * 1e9).cast("long"), i), F.lit(len(_ALPHANUM))) + 1).cast("int"),
            1,
        ),
    )
    return F.array_join(chars, "")


def random_null(x, pct: float, seed: int | None = None) -> Column:
    """Null out ~pct of values. Ref stats.py:556."""
    r = F.rand(seed) if seed is not None else F.rand()
    return F.when(r < F.lit(pct), F.lit(None)).otherwise(to_col(x))


def jitter(x, std: float = 1.0, seed: int | None = None) -> Column:
    """Add N(0, std) noise. Ref stats.py:443."""
    r = F.randn(seed) if seed is not None else F.randn()
    return to_col(x) + r * F.lit(std)


def perturb(x, lower: float, upper: float, seed: int | None = None) -> Column:
    """Add U(lower, upper) noise. Ref stats.py:406."""
    return to_col(x) + random(lower, upper, seed)


def add_noise(x, noise_type: str = "gaussian", **kwargs) -> Column:
    """Dispatch: gaussian → jitter, uniform → perturb. Ref stats.py:471."""
    if noise_type == "gaussian":
        return jitter(x, kwargs.get("std", 1.0), kwargs.get("seed"))
    if noise_type == "uniform":
        return perturb(x, kwargs.get("lower", -1.0), kwargs.get("upper", 1.0), kwargs.get("seed"))
    raise ValueError(f"unknown noise_type {noise_type}")
