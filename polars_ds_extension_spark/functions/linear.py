"""Linear models — Spark-native re-expression of the reference's linear
module (ref exprs/expr_linear.py:44 simple_lin_reg, :105 lin_reg, :277
logistic_reg, :413/:482 recursive/rolling, :561 lin_reg_report;
linear_models.py:127 LR, :343 ElasticNet).

Design for 100 TB:
  * everything reduces to ONE distributed aggregation of sufficient
    statistics (X'X upper triangle + X'y — k(k+3)/2 doubles for k
    features), map-side combinable, then a k×k solve on the driver.
    No row ever leaves the executors; the shuffle payload is O(k²)
    per partition regardless of data size;
  * logistic regression is IRLS: each iteration is one such aggregation
    pass (X'WX, X'(y-p)) with the current β broadcast as literals;
  * rolling/grouped simple regression stays fully distributed (windowed
    or grouped covariance algebra — no driver involvement).
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .._utils import to_col

__all__ = [
    "simple_lin_reg_coeffs", "simple_lin_reg", "rolling_lin_reg",
    "recursive_lin_reg", "lin_reg", "lin_reg_predict", "lin_reg_report",
    "logistic_reg",
]


# ------------------------------------------------------- simple (closed form)

def simple_lin_reg_coeffs(x, y) -> Column:
    """Aggregate expression → struct(slope, intercept) of y ~ x.
    Single-pass expanded moments (map-side combinable). Ref
    expr_linear.py:44."""
    xx, yy = to_col(x).cast("double"), to_col(y).cast("double")
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum(xx), F.sum(yy)
    sxx, sxy = F.sum(xx * xx), F.sum(xx * yy)
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    intercept = (sy - slope * sx) / n
    return F.struct(slope.alias("slope"), intercept.alias("intercept"))


def simple_lin_reg(df: DataFrame, x: str, y: str,
                   by: Sequence[str] | None = None) -> DataFrame:
    """Per-group slope/intercept DataFrame. Output: by + slope, intercept."""
    keys = list(by) if by else []
    agg = simple_lin_reg_coeffs(x, y).alias("c")
    out = df.groupBy(*keys).agg(agg) if keys else df.agg(agg)
    return out.select(*keys, F.col("c.slope").alias("slope"),
                      F.col("c.intercept").alias("intercept"))


def rolling_lin_reg(df: DataFrame, x: str, y: str, order_by, window: int,
                    by: Sequence[str] | None = None,
                    out_name: str = "rolling_slope") -> DataFrame:
    """Rolling-window slope of y ~ x ordered by ``order_by`` within
    groups. Ref expr_linear.py:482. Windowed moment sums — one
    sort-shuffle on the group key, no driver round-trip."""
    keys = list(by) if by else []
    w = (Window.partitionBy(*keys) if keys else Window.partitionBy()) \
        .orderBy(to_col(order_by)).rowsBetween(-(window - 1), 0)
    xx, yy = to_col(x).cast("double"), to_col(y).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx, sy = F.sum(xx).over(w), F.sum(yy).over(w)
    sxx, sxy = F.sum(xx * xx).over(w), F.sum(xx * yy).over(w)
    # CASE guards the division: ANSI mode (Spark 4 default) errors on the
    # 1-row window's 0/0 instead of returning NaN
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    return df.withColumn(out_name, slope)


def recursive_lin_reg(df: DataFrame, x: str, y: str, order_by,
                      by: Sequence[str] | None = None,
                      out_name: str = "recursive_slope") -> DataFrame:
    """Expanding-window (recursive) slope — every prefix of the ordered
    series. Ref expr_linear.py:413. Same shape as rolling with an
    unbounded-preceding frame.

    Grouped: per-group ordered windows (parallel). Global: ONE two-pass
    range-bucket prefix pass (plans/ranks.global_cumsum) accumulates all
    five moment sums — no single-partition sort. NB the global path uses
    range (ties-together) frames; with tied order values the grouped
    rows-frame result is order-dependent anyway.
    """
    keys = list(by) if by else []
    xx, yy = to_col(x).cast("double"), to_col(y).cast("double")
    if keys:
        w = Window.partitionBy(*keys) \
            .orderBy(to_col(order_by)).rowsBetween(Window.unboundedPreceding, 0)
        n = F.count(F.lit(1)).over(w).cast("double")
        sx, sy = F.sum(xx).over(w), F.sum(yy).over(w)
        sxx, sxy = F.sum(xx * xx).over(w), F.sum(xx * yy).over(w)
    else:
        from ..plans import global_cumsum
        pre = df.select("*", F.lit(1.0).alias("__m1"), xx.alias("__mx"),
                        yy.alias("__my"), (xx * xx).alias("__mxx"),
                        (xx * yy).alias("__mxy"))
        cum = global_cumsum(pre, order_by,
                            ["__m1", "__mx", "__my", "__mxx", "__mxy"])
        n, sx, sy = F.col("cum___m1"), F.col("cum___mx"), F.col("cum___my")
        sxx, sxy = F.col("cum___mxx"), F.col("cum___mxy")
        df = cum
    # CASE guards the division: ANSI mode (Spark 4 default) errors on the
    # 1-row window's 0/0 instead of returning NaN
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    out = df.withColumn(out_name, slope)
    if not keys:
        out = out.drop("__m1", "__mx", "__my", "__mxx", "__mxy",
                       "cum___m1", "cum___mx", "cum___my", "cum___mxx",
                       "cum___mxy")
    return out


# ------------------------------------------------ multi-feature (normal eq.)

def _apply_null_policy(df: DataFrame, features: Sequence[str], target: str,
                       null_policy: str | float) -> DataFrame:
    """The reference's lin-reg null handling (ref expr_linear.py:116
    ``null_policy``): 'skip' = listwise row deletion (default — Spark's
    per-expression null-skipping would otherwise delete PAIRWISE, giving
    inconsistent normal equations), 'raise' = error on any null,
    'zero'/'one'/numeric = fill features with the constant (nulls in the
    target still drop the row), 'ignore' = leave nulls to the
    aggregates."""
    cols = [to_col(f) for f in features]
    tgt = to_col(target)
    if null_policy == "ignore":
        return df
    if null_policy == "raise":
        anynull = F.lit(False)
        for c in [*cols, tgt]:
            anynull = anynull | c.isNull()
        n_bad = df.where(anynull).limit(1).count()
        if n_bad:
            raise ValueError("null values in lin-reg inputs with "
                             "null_policy='raise'")
        return df
    if null_policy == "skip":
        cond = tgt.isNotNull()
        for c in cols:
            cond = cond & c.isNotNull()
        return df.where(cond)
    fill = {"zero": 0.0, "one": 1.0}.get(null_policy, null_policy)
    if not isinstance(fill, (int, float)):
        raise ValueError(f"invalid null_policy {null_policy!r}")
    out = df
    for f in features:
        out = out.withColumn(f, F.coalesce(to_col(f).cast("double"),
                                           F.lit(float(fill))))
    return out.where(to_col(target).isNotNull())


def _suffstats(df: DataFrame, features: Sequence[str], target: str,
               add_bias: bool,
               null_policy: str | float = "skip"
               ) -> tuple[np.ndarray, np.ndarray, float]:
    """One aggregation pass → (X'X, X'y, n) as numpy. The collect is a
    single row of k(k+3)/2 + 1 doubles — O(k²), independent of |df|."""
    df = _apply_null_policy(df, features, target, null_policy)
    cols = [to_col(f).cast("double") for f in features]
    if add_bias:
        cols = cols + [F.lit(1.0)]
    yy = to_col(target).cast("double")
    k = len(cols)
    aggs = []
    for i in range(k):
        for j in range(i, k):
            aggs.append(F.sum(cols[i] * cols[j]).alias(f"xx_{i}_{j}"))
        aggs.append(F.sum(cols[i] * yy).alias(f"xy_{i}"))
    aggs.append(F.count(F.lit(1)).cast("double").alias("n"))
    row = df.agg(*aggs).first()
    xtx = np.zeros((k, k))
    xty = np.zeros(k)
    for i in range(k):
        for j in range(i, k):
            xtx[i, j] = xtx[j, i] = row[f"xx_{i}_{j}"]
        xty[i] = row[f"xy_{i}"]
    return xtx, xty, float(row["n"])


def lin_reg(df: DataFrame, features: Sequence[str], target: str,
            add_bias: bool = True, l2: float = 0.0,
            null_policy: str | float = "skip") -> list[float]:
    """OLS / ridge coefficients via distributed X'X, X'y + driver solve.
    Ref expr_linear.py:105 (incl. its null_policy: skip/raise/zero/one/
    fill-value/ignore). Returns [coef_0..coef_{k-1}(, bias)]."""
    xtx, xty, _ = _suffstats(df, features, target, add_bias, null_policy)
    if l2 > 0.0:
        reg = np.eye(xtx.shape[0]) * l2
        if add_bias:
            reg[-1, -1] = 0.0  # bias is conventionally unpenalized
        xtx = xtx + reg
    return np.linalg.solve(xtx, xty).tolist()


def lin_reg_predict(df: DataFrame, features: Sequence[str], target: str,
                    add_bias: bool = True, l2: float = 0.0,
                    out_name: str = "pred") -> DataFrame:
    """Fit (one pass) then attach predictions/residuals as JVM column
    expressions — the coefficients ride along as literals, so scoring is
    scan-speed with zero Python."""
    beta = lin_reg(df, features, target, add_bias, l2)
    pred = F.lit(float(beta[-1])) if add_bias else F.lit(0.0)
    for i, f in enumerate(features):
        pred = pred + F.lit(float(beta[i])) * to_col(f).cast("double")
    return df.withColumn(out_name, pred).withColumn(
        "resid", to_col(target).cast("double") - F.col(out_name)
    )


def lin_reg_report(df: DataFrame, features: Sequence[str], target: str,
                   add_bias: bool = True,
                   null_policy: str | float = "skip") -> DataFrame:
    """Coefficients with std errors / t values / p values.
    Ref expr_linear.py:561.

    Needs (X'X)⁻¹ and SSE: one extra aggregation for SSE using the fitted
    β (two passes total, each a tiny collect). p-values via the survival
    function of t_{n-k} computed with a numpy continued fraction — on k
    numbers, driver-side.
    """
    from ._special import t_sf

    xtx, xty, n = _suffstats(df, features, target, add_bias, null_policy)
    beta = np.linalg.solve(xtx, xty)
    names = list(features) + (["__bias__"] if add_bias else [])
    pred = F.lit(float(beta[-1])) if add_bias else F.lit(0.0)
    for i, f in enumerate(features):
        pred = pred + F.lit(float(beta[i])) * to_col(f).cast("double")
    resid = to_col(target).cast("double") - pred
    sse = float(df.agg(F.sum(resid * resid)).first()[0])
    k = len(names)
    dof = n - k
    sigma2 = sse / dof
    cov = np.linalg.inv(xtx) * sigma2
    se = np.sqrt(np.diag(cov))
    tvals = beta / se
    pvals = [2.0 * t_sf(abs(float(t)), dof) for t in tvals]
    spark = df.sparkSession
    return spark.createDataFrame(
        [(names[i], float(beta[i]), float(se[i]), float(tvals[i]), float(pvals[i]))
         for i in range(k)],
        "feature string, coef double, std_err double, t_value double, p_value double",
    )


# ----------------------------------------------------------------- logistic

def logistic_reg(df: DataFrame, features: Sequence[str], target: str,
                 add_bias: bool = True, n_iters: int = 8,
                 l2: float = 0.0,
                 null_policy: str | float = "skip") -> list[float]:
    """Logistic regression via IRLS / Newton. Ref expr_linear.py:277.

    Per iteration: broadcast current β as literals, aggregate X'WX and
    the score X'(y−p) in ONE pass (k(k+3)/2 doubles), Newton step on the
    driver. n_iters passes total; each is a full scan but shuffles only
    the tiny partial aggregates — the 100 TB shape for GLM fitting.
    """
    df = _apply_null_policy(df, features, target, null_policy)
    cols = [to_col(f).cast("double") for f in features]
    if add_bias:
        cols = cols + [F.lit(1.0)]
    yy = to_col(target).cast("double")
    k = len(cols)
    # project the needed doubles once and materialize them: every IRLS
    # pass then reads the narrow cached frame instead of replaying the
    # scan (the same input-caching contract MLlib's iterative optimizers
    # use); the fit consumes it, so it is owned by the fit alone
    from .._utils import materialize, owned, spread

    beta = np.zeros(k)
    with owned():
        df = materialize(spread(df.select(
            *[c.alias(f"__f{i}") for i, c in enumerate(cols)],
            yy.alias("__y"))))
        cols = [F.col(f"__f{i}") for i in range(k)]
        yy = F.col("__y")
        for _ in range(n_iters):
            eta = F.lit(float(beta[-1])) if add_bias else F.lit(0.0)
            for i in range(k - 1 if add_bias else k):
                eta = eta + F.lit(float(beta[i])) * cols[i]
            if not add_bias:
                eta = sum((F.lit(float(beta[i])) * cols[i] for i in range(k)),
                          F.lit(0.0))
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
            w = p * (F.lit(1.0) - p)
            aggs = []
            for i in range(k):
                for j in range(i, k):
                    aggs.append(F.sum(w * cols[i] * cols[j]).alias(f"h_{i}_{j}"))
                aggs.append(F.sum((yy - p) * cols[i]).alias(f"g_{i}"))
            row = df.agg(*aggs).first()
            hess = np.zeros((k, k))
            grad = np.zeros(k)
            for i in range(k):
                for j in range(i, k):
                    hess[i, j] = hess[j, i] = row[f"h_{i}_{j}"]
                grad[i] = row[f"g_{i}"]
            if l2 > 0.0:
                reg = np.eye(k) * l2
                if add_bias:
                    reg[-1, -1] = 0.0
                hess += reg
                grad -= l2 * np.where(
                    np.arange(k) == k - 1, 0.0, beta) if add_bias else l2 * beta
            step = np.linalg.solve(hess, grad)
            beta = beta + step
            if float(np.max(np.abs(step))) < 1e-10:
                break
    return beta.tolist()


def lin_reg_rcond(df: DataFrame, features: Sequence[str], target: str,
                  add_bias: bool = True, rcond: float = 1e-15,
                  null_policy: str | float = "skip") -> list[float]:
    """OLS via pseudo-inverse with singular-value cutoff — the
    rank-deficient-safe variant (ref expr_linear.py lin_reg_w_rcond).
    Same one-pass sufficient statistics; pinv on the k×k driver matrix."""
    xtx, xty, _ = _suffstats(df, features, target, add_bias, null_policy)
    return (np.linalg.pinv(xtx, rcond=rcond) @ xty).tolist()


def elastic_net(df: DataFrame, features: Sequence[str], target: str,
                l1: float = 0.1, l2: float = 0.1,
                add_bias: bool = True, n_iters: int = 200,
                tol: float = 1e-10,
                null_policy: str | float = "skip") -> list[float]:
    """Elastic net via cyclic coordinate descent on the SUFFICIENT
    STATISTICS (ref linear_models.py:343 ElasticNet).

    One distributed pass builds X'X / X'y; every descent iteration is
    then pure O(k²) driver arithmetic — the data is never rescanned, so
    fitting cost is independent of row count beyond the single pass.
    Penalties follow the reference (objective ½‖y−Xβ‖²/n + λ₁‖β‖₁ +
    ½λ₂‖β‖²; bias unpenalized).
    """
    xtx, xty, n = _suffstats(df, features, target, add_bias, null_policy)
    k = xtx.shape[0]
    beta = np.zeros(k)
    pen_mask = np.ones(k)
    if add_bias:
        pen_mask[-1] = 0.0
    for _ in range(n_iters):
        max_delta = 0.0
        for j in range(k):
            # partial residual correlation: r_j = (X'y - X'X β)_j + X'X_jj β_j
            rho = xty[j] - xtx[j] @ beta + xtx[j, j] * beta[j]
            denom = xtx[j, j] + n * l2 * pen_mask[j]
            if pen_mask[j]:
                thr = n * l1
                new = np.sign(rho) * max(abs(rho) - thr, 0.0) / denom
            else:
                new = rho / denom
            max_delta = max(max_delta, abs(new - beta[j]))
            beta[j] = new
        if max_delta < tol:
            break
    return beta.tolist()


_GLM_FAMILIES = ("gaussian", "binomial", "poisson")


def glm(df: DataFrame, features: Sequence[str], target: str,
        family: str = "gaussian", add_bias: bool = True,
        n_iters: int = 12, l2: float = 0.0,
        null_policy: str | float = "skip") -> list[float]:
    """GLM with canonical link via IRLS (ref linear_models.py:698).

    gaussian/identity collapses to one OLS solve; binomial/logit and
    poisson/log run Newton steps, each ONE distributed aggregation of
    X'WX and the score X'(y−μ) with β broadcast as literals — the same
    O(k²)-shuffle shape as lin_reg/logistic_reg.
    """
    if family not in _GLM_FAMILIES:
        raise ValueError(f"family must be one of {_GLM_FAMILIES}")
    if family == "gaussian":
        return lin_reg(df, features, target, add_bias, l2,
                       null_policy=null_policy)
    df = _apply_null_policy(df, features, target, null_policy)
    cols = [to_col(f).cast("double") for f in features]
    if add_bias:
        cols = cols + [F.lit(1.0)]
    yy = to_col(target).cast("double")
    k = len(cols)
    from .._utils import materialize, owned, spread

    beta = np.zeros(k)
    with owned():  # the IRLS input cache, as in logistic_reg
        df = materialize(spread(df.select(
            *[c.alias(f"__f{i}") for i, c in enumerate(cols)],
            yy.alias("__y"))))
        cols = [F.col(f"__f{i}") for i in range(k)]
        yy = F.col("__y")
        for _ in range(n_iters):
            eta = F.lit(0.0)
            for i in range(k):
                eta = eta + F.lit(float(beta[i])) * cols[i]
            if family == "binomial":
                mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
                w = mu * (F.lit(1.0) - mu)
            else:  # poisson, log link: var = mu
                mu = F.exp(eta)
                w = mu
            aggs = []
            for i in range(k):
                for j in range(i, k):
                    aggs.append(F.sum(w * cols[i] * cols[j]).alias(f"h_{i}_{j}"))
                aggs.append(F.sum((yy - mu) * cols[i]).alias(f"g_{i}"))
            row = df.agg(*aggs).first()
            hess = np.zeros((k, k))
            grad = np.zeros(k)
            for i in range(k):
                for j in range(i, k):
                    hess[i, j] = hess[j, i] = row[f"h_{i}_{j}"]
                grad[i] = row[f"g_{i}"]
            if l2 > 0.0:
                reg = np.eye(k) * l2
                if add_bias:
                    reg[-1, -1] = 0.0
                hess += reg
                # penalized score: the gradient must carry -l2*β too, else the
                # Newton fixed point is the UNPENALIZED MLE (bias unpenalized)
                grad -= reg @ beta
            step = np.linalg.solve(hess, grad)
            beta = beta + step
            if float(np.max(np.abs(step))) < 1e-10:
                break
    return beta.tolist()
