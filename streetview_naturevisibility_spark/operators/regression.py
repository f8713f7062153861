"""Gap-fill regression (reference predict_missing_gvi.py:34-87).

The reference fits sklearn LinearRegression on rows with known GVI and
predicts the missing ones (single feature: mean NDVI). The engine does
the same with Spark built-ins: OLS slope/intercept via ``regr_slope`` /
``regr_intercept`` aggregates (closed form, one pass, partial+final
automatic — no iterative solver needed for one feature), then a
crossJoin of the 1-row fit onto the missing rows. Known rows keep their
value; output unions both (predict_missing_gvi.py:56-62).

For multi-feature fits, ``fit_ols_normal_equations`` solves X'X b = X'y
from a single aggregate pass over squared/cross terms (driver-side
solve of a (k+1)x(k+1) system — k is tiny).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gap_fill_linear(
    df: DataFrame, feature: str, target: str, flag: str = "missing"
) -> DataFrame:
    """df(point_id, flag, target, feature) -> + gvi_filled column where
    missing rows get intercept + slope * feature."""
    known = df.where(F.col(target).isNotNull())
    fit = known.agg(
        F.regr_slope(F.col(target), F.col(feature)).alias("_slope"),
        F.regr_intercept(F.col(target), F.col(feature)).alias("_icept"),
    )
    out = df.crossJoin(F.broadcast(fit))
    return out.withColumn(
        "gvi_filled",
        F.when(F.col(target).isNotNull(), F.col(target)).otherwise(
            F.col("_icept") + F.col("_slope") * F.col(feature)
        ),
    ).drop("_slope", "_icept")


def gap_fill_cv_metrics(
    df: DataFrame,
    feature: str,
    target: str,
    folds: int = 5,
    order_col: str = "point_id",
) -> DataFrame:
    """k-fold CV quality metrics for the linear gap-fill — the engine
    twin of the reference's model-selection printout
    (predict_missing_gvi.py:64-85: cross_val_score cv=5 RMSE and R²,
    AIC = n*ln(avg_rmse²) + 2k with k = n_features+1 = 2).

    Fold assignment mirrors sklearn KFold(shuffle=False): contiguous
    splits in ``order_col`` order with the first n%k folds one row
    larger — exactly ``ntile(k)``. Each fold's OLS fit and its
    held-out RMSE/R² come CLOSED-FORM from two moment aggregates
    (train moments = total − fold; SSR expands over test moments), so
    the whole metric is one DAG with no per-fold refit loop and no
    collect. The global ntile window sorts the KNOWN set only — the
    bounded side the reference fits in sklearn.

    Returns one row: (n_known, avg_rmse, avg_r2, aic).
    """
    from pyspark.sql import Window

    known = df.where(F.col(target).isNotNull()).select(
        F.col(order_col).alias("_ord"),
        F.col(feature).cast("double").alias("x"),
        F.col(target).cast("double").alias("y"),
    )
    kf = known.withColumn("_fold", F.ntile(folds).over(Window.orderBy("_ord")))

    def moments(prefix: str):
        return [
            F.count(F.lit(1)).cast("double").alias(f"{prefix}n"),
            F.sum("x").alias(f"{prefix}sx"),
            F.sum("y").alias(f"{prefix}sy"),
            F.sum(F.col("x") * F.col("x")).alias(f"{prefix}sxx"),
            F.sum(F.col("x") * F.col("y")).alias(f"{prefix}sxy"),
            F.sum(F.col("y") * F.col("y")).alias(f"{prefix}syy"),
        ]

    per = kf.groupBy("_fold").agg(*moments(""))
    tot = kf.agg(*moments("t"))
    j = per.crossJoin(F.broadcast(tot))
    # train = total minus held-out fold
    rn = F.col("tn") - F.col("n")
    rx = F.col("tsx") - F.col("sx")
    ry = F.col("tsy") - F.col("sy")
    rxx = F.col("tsxx") - F.col("sxx")
    rxy = F.col("tsxy") - F.col("sxy")
    # Degenerate-fold guards: a training split with constant x has
    # rn*rxx - rx*rx == 0 (no slope is identifiable) — emit null
    # instead of Inf/NaN propagating silently into the averages.
    sdenom = rn * rxx - rx * rx
    slope = (rn * rxy - rx * ry) / F.when(sdenom != 0, sdenom)
    icept = (ry - slope * rx) / rn
    fitted = j.select(
        "n", "sx", "sy", "sxx", "sxy", "syy", "tn",
        slope.alias("b"), icept.alias("a"),
    )
    # SSR over the held-out fold, expanded over its moments:
    # sum((y - a - b x)^2) = syy - 2a sy - 2b sxy + 2ab sx + a^2 n + b^2 sxx
    ssr = (
        F.col("syy")
        - 2 * F.col("a") * F.col("sy")
        - 2 * F.col("b") * F.col("sxy")
        + 2 * F.col("a") * F.col("b") * F.col("sx")
        + F.col("a") * F.col("a") * F.col("n")
        + F.col("b") * F.col("b") * F.col("sxx")
    )
    # constant-y test fold: sst == 0 makes R² undefined — null, not Inf
    sst = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    scored = fitted.select(
        F.sqrt(ssr / F.col("n")).alias("rmse"),
        (F.lit(1.0) - ssr / F.when(sst != 0, sst)).alias("r2"),
        "tn",
    )
    k_params = 2.0  # slope + intercept
    return scored.agg(
        F.first("tn").cast("long").alias("n_known"),
        F.avg("rmse").alias("avg_rmse"),
        F.avg("r2").alias("avg_r2"),
        (
            F.first("tn") * F.log(F.avg("rmse") * F.avg("rmse"))
            + F.lit(2.0 * k_params)
        ).alias("aic"),
    )


def gam_cv_metrics(
    df: DataFrame,
    feature: str,
    target: str,
    folds: int = 5,
    n_splines: int = 25,
    order_col: str = "point_id",
) -> dict:
    """k-fold CV RMSE + AIC for the GAM gap-fill (reference
    predict_missing_gvi.py:128-144). The known set is bounded, so folds
    fit driver-side (same contiguous KFold splits as
    ``gap_fill_cv_metrics``); each fold re-runs the lambda gridsearch
    like cross_val_score refitting the pygam estimator. If any fold
    cannot be fit (an empty test fold when n < folds, or a training
    split no lambda solves), every metric but ``n_known`` is None."""
    known = (
        df.where(F.col(target).isNotNull())
        .select(order_col, feature, target)
        .orderBy(order_col)
        .toPandas()
    )
    x = known[feature].to_numpy(dtype=np.float64)
    y = known[target].to_numpy(dtype=np.float64)
    n = len(y)
    null = {"n_known": n, "avg_rmse": None, "avg_r2": None, "aic": None}
    if n < folds:  # some test fold is empty
        return null
    q, r = divmod(n, folds)
    bounds = np.cumsum([0] + [q + 1] * r + [q] * (folds - r))
    rmses = []
    r2s = []
    for f in range(folds):
        lo, hi = bounds[f], bounds[f + 1]
        test = np.zeros(n, dtype=bool)
        test[lo:hi] = True
        try:
            gam = LinearGAM1D(n_splines=n_splines).fit(x[~test], y[~test])
        except ValueError:
            return null
        pred = gam.predict(x[test])
        resid = y[test] - pred
        rmses.append(float(np.sqrt(np.mean(resid**2))))
        sst = float(((y[test] - y[test].mean()) ** 2).sum())
        r2s.append(float(1.0 - (resid**2).sum() / sst) if sst > 0 else None)
    avg_rmse = float(np.mean(rmses))
    aic = n * np.log(avg_rmse**2) + 2 * 2
    valid_r2 = [v for v in r2s if v is not None]
    avg_r2 = float(np.mean(valid_r2)) if valid_r2 else None
    return {"n_known": n, "avg_rmse": avg_rmse, "avg_r2": avg_r2, "aic": float(aic)}


def _bspline_basis(x: np.ndarray, knots: np.ndarray, degree: int = 3) -> np.ndarray:
    """Cox-de Boor B-spline basis matrix (pure NumPy)."""
    t = np.concatenate([[knots[0]] * degree, knots, [knots[-1]] * degree])
    n_basis = len(t) - degree - 1
    B = np.zeros((len(x), n_basis))
    # degree 0; intervals past n_basis are empty (repeated end knots).
    # The last non-empty one ends at knots[-1] and is right-closed, so
    # x == knots[-1] (where predict clips every larger x) has a basis.
    for j in range(n_basis):
        left, right = t[j], t[j + 1]
        if j == n_basis - 1:
            B0 = (x >= left) & (x <= right)
        else:
            B0 = (x >= left) & (x < right)
        B[:, j] = B0.astype(float)
    # elevate degree
    Bk = B.copy()
    for k in range(1, degree + 1):
        Bk_new = np.zeros_like(Bk)
        for j in range(n_basis):
            denom1 = t[j + k] - t[j]
            denom2 = t[j + k + 1] - t[j + 1]
            term = np.zeros(len(x))
            if denom1 > 0:
                term += (x - t[j]) / denom1 * Bk[:, j]
            if denom2 > 0 and j + 1 < n_basis:
                term += (t[j + k + 1] - x) / denom2 * Bk[:, j + 1]
            Bk_new[:, j] = term
        Bk = Bk_new
    return Bk


class LinearGAM1D:
    """Minimal penalized B-spline GAM for one feature — the engine's
    analog of the reference's pygam LinearGAM(s(0, n_splines=25))
    .gridsearch(lam=logspace(-5,5,20)) (predict_missing_gvi.py:109-118).
    Second-difference penalty, GCV-selected lambda. Fits driver-side on
    the (small) known set; predictions broadcast back."""

    def __init__(self, n_splines: int = 25, degree: int = 3):
        self.n_splines = n_splines
        self.degree = degree
        self.coef_: np.ndarray | None = None
        self.lam_: float | None = None
        self.knots_: np.ndarray | None = None

    def _basis(self, x: np.ndarray) -> np.ndarray:
        xc = np.clip(x, self.knots_[0], self.knots_[-1])
        return _bspline_basis(xc, self.knots_, self.degree)

    def fit(self, x: np.ndarray, y: np.ndarray, lams: np.ndarray | None = None) -> "LinearGAM1D":
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        if lams is None:
            lams = np.logspace(-5, 5, 20)
        n_interior = self.n_splines - self.degree + 1
        self.knots_ = np.quantile(x, np.linspace(0, 1, max(n_interior, 2)))
        self.knots_ = np.unique(self.knots_)
        B = self._basis(x)
        m = B.shape[1]
        D = np.diff(np.eye(m), n=2, axis=0)
        P = D.T @ D
        BtB = B.T @ B
        Bty = B.T @ y
        best = (np.inf, None, None)
        n = len(y)
        for lam in lams:
            A = BtB + lam * P
            try:
                coef = np.linalg.solve(A, Bty)
            except np.linalg.LinAlgError:
                continue
            fitted = B @ coef
            # GCV: n * rss / (n - tr(H))^2
            H_trace = np.trace(np.linalg.solve(A, BtB))
            rss = float(((y - fitted) ** 2).sum())
            gcv = n * rss / max((n - H_trace) ** 2, 1e-12)
            if gcv < best[0]:
                best = (gcv, coef, lam)
        if best[1] is None:
            raise ValueError(f"no GAM smoothing penalty solves the fit on n={n} known points")
        self.coef_ = best[1]
        self.lam_ = best[2]
        return self

    def predict(self, x: np.ndarray) -> np.ndarray:
        return self._basis(np.asarray(x, dtype=np.float64)) @ self.coef_


def gap_fill_gam(
    df: DataFrame, feature: str, target: str, n_splines: int = 25
) -> DataFrame:
    """GAM gap-fill: fit on known rows (collected — the known set is
    bounded), predict missing via a broadcast pandas UDF. Raises
    ``ValueError`` when the known rows admit no fit."""
    from pyspark.sql.types import DoubleType

    # point_id order: B'B sums the same rows in the same order on any plan
    known = df.where(F.col(target).isNotNull()).orderBy("point_id")
    known = known.select(feature, target).toPandas()
    gam = LinearGAM1D(n_splines=n_splines).fit(
        known[feature].to_numpy(), known[target].to_numpy()
    )
    knots = gam.knots_
    coef = gam.coef_
    degree = gam.degree

    @F.pandas_udf(DoubleType())
    def gam_predict(x: pd.Series) -> pd.Series:
        model = LinearGAM1D(n_splines=n_splines, degree=degree)
        model.knots_ = knots
        model.coef_ = coef
        return pd.Series(model.predict(x.to_numpy()))

    return df.withColumn(
        "gvi_filled",
        F.when(F.col(target).isNotNull(), F.col(target)).otherwise(
            gam_predict(F.col(feature))
        ),
    )


def fit_ols_normal_equations(df: DataFrame, features: list[str], target: str) -> np.ndarray:
    """Multi-feature OLS via one aggregate pass (X'X, X'y moments) and a
    driver-side solve. Returns [intercept, b1..bk]."""
    cols = ["__one"] + features
    d = df.where(F.col(target).isNotNull()).withColumn("__one", F.lit(1.0))
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"xx_{a}_{b}"))
        aggs.append(F.sum(F.col(a) * F.col(target)).alias(f"xy_{a}"))
    row = d.agg(*aggs).collect()[0].asDict()
    k = len(cols)
    xtx = np.zeros((k, k))
    xty = np.zeros(k)
    for i, a in enumerate(cols):
        for j in range(i, k):
            b = cols[j]
            xtx[i, j] = xtx[j, i] = row[f"xx_{a}_{b}"]
        xty[i] = row[f"xy_{a}"]
    return np.linalg.solve(xtx, xty)
