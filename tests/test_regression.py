"""Gap-fill regression: OLS vs NumPy lstsq oracle; GAM captures
non-linear structure that the linear fit cannot."""

import numpy as np
import pandas as pd
import pytest

from streetview_naturevisibility_spark.operators.regression import (
    LinearGAM1D,
    _bspline_basis,
    fit_ols_normal_equations,
    gap_fill_cv_metrics,
    gap_fill_gam,
    gap_fill_linear,
)


def _toy(spark, n=400, nonlinear=False, seed=11):
    rng = np.random.RandomState(seed)
    x = rng.rand(n)
    y = np.sin(x * 6.0) * 0.4 + 0.5 if nonlinear else 0.3 + 0.4 * x
    y = y + rng.randn(n) * 0.01
    missing = rng.rand(n) < 0.3
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "ndvi": x,
            "gvi": np.where(missing, np.nan, y),
            "missing": missing,
        }
    )
    return spark.createDataFrame(pdf), pdf, y


class TestLinear:
    def test_matches_numpy_lstsq(self, spark):
        df, pdf, y_true = _toy(spark)
        out = gap_fill_linear(df, "ndvi", "gvi").orderBy("point_id").toPandas()
        known = pdf[~pdf["missing"]]
        A = np.column_stack([np.ones(len(known)), known["ndvi"].to_numpy()])
        coef, *_ = np.linalg.lstsq(A, known["gvi"].to_numpy(), rcond=None)
        pred = coef[0] + coef[1] * pdf["ndvi"].to_numpy()
        expected = np.where(pdf["missing"], pred, pdf["gvi"])
        assert np.abs(out["gvi_filled"].to_numpy() - expected).max() < 1e-9

    def test_normal_equations_multifeature(self, spark):
        rng = np.random.RandomState(5)
        n = 500
        x1, x2 = rng.rand(n), rng.rand(n)
        y = 1.0 + 2.0 * x1 - 3.0 * x2 + rng.randn(n) * 1e-6
        df = spark.createDataFrame(pd.DataFrame({"x1": x1, "x2": x2, "y": y}))
        beta = fit_ols_normal_equations(df, ["x1", "x2"], "y")
        assert np.abs(beta - np.array([1.0, 2.0, -3.0])).max() < 1e-3


class TestGAM:
    def test_gam_fill_does_not_depend_on_partitioning(self, spark):
        """The driver fit reads the known rows in ``point_id`` order, so
        the same rows in 1 or in 7 partitions fill bit-identical values."""
        df, _, _ = _toy(spark, nonlinear=True)
        a, b = (
            gap_fill_gam(df.repartition(k), "ndvi", "gvi")
            .orderBy("point_id").toPandas()["gvi_filled"].to_numpy()
            for k in (1, 7)
        )
        assert np.array_equal(a, b)

    def test_gam_beats_linear_on_nonlinear_signal(self, spark):
        df, pdf, y_true = _toy(spark, nonlinear=True)
        lin = gap_fill_linear(df, "ndvi", "gvi").orderBy("point_id").toPandas()
        gam = gap_fill_gam(df, "ndvi", "gvi").orderBy("point_id").toPandas()
        miss = pdf["missing"].to_numpy()
        lin_rmse = np.sqrt(((lin["gvi_filled"].to_numpy()[miss] - y_true[miss]) ** 2).mean())
        gam_rmse = np.sqrt(((gam["gvi_filled"].to_numpy()[miss] - y_true[miss]) ** 2).mean())
        assert gam_rmse < lin_rmse * 0.5
        assert gam_rmse < 0.05

    def test_gam_driver_side_fit_quality(self):
        rng = np.random.RandomState(3)
        x = rng.rand(800)
        y = np.cos(x * 5) + rng.randn(800) * 0.05
        gam = LinearGAM1D(n_splines=25).fit(x, y)
        pred = gam.predict(x)
        assert np.sqrt(((pred - np.cos(x * 5)) ** 2).mean()) < 0.05
        # smoothing lambda chosen by GCV from the reference's grid
        assert gam.lam_ is not None
        # the basis sums to 1 on [knots[0], knots[-1]], both ends included
        xs = np.linspace(gam.knots_[0], gam.knots_[-1], 101)
        assert np.allclose(_bspline_basis(xs, gam.knots_).sum(axis=1), 1.0)
        # at and above the largest known x the fit holds its edge value
        # (predict clips to the last knot) instead of dropping to 0.0
        edge = np.cos(x.max() * 5)
        assert np.abs(gam.predict(np.array([x.max(), x.max() + 0.1])) - edge).max() < 0.05


def _sklearn_style_cv(x, y, folds=5):
    """Independent oracle: per-fold lstsq refit + held-out metrics, the
    literal loop sklearn's cross_val_score runs (KFold shuffle=False:
    contiguous splits, first n%k folds one row larger)."""
    n = len(y)
    q, r = divmod(n, folds)
    sizes = [q + 1] * r + [q] * (folds - r)
    bounds = np.cumsum([0] + sizes)
    rmses, r2s = [], []
    for f in range(folds):
        test = np.zeros(n, dtype=bool)
        test[bounds[f] : bounds[f + 1]] = True
        A = np.column_stack([np.ones((~test).sum()), x[~test]])
        coef, *_ = np.linalg.lstsq(A, y[~test], rcond=None)
        pred = coef[0] + coef[1] * x[test]
        resid = y[test] - pred
        rmses.append(float(np.sqrt((resid**2).mean())))
        r2s.append(float(1.0 - (resid**2).sum() / ((y[test] - y[test].mean()) ** 2).sum()))
    avg_rmse = float(np.mean(rmses))
    return avg_rmse, float(np.mean(r2s)), float(n * np.log(avg_rmse**2) + 4.0)


class TestCVMetrics:
    def test_linear_cv_matches_per_fold_lstsq(self, spark):
        from streetview_naturevisibility_spark.operators.regression import (
            gap_fill_cv_metrics,
        )

        df, pdf, _ = _toy(spark)
        got = gap_fill_cv_metrics(df, "ndvi", "gvi", folds=5).collect()[0]
        known = pdf[~pdf["missing"]].sort_values("point_id")
        rmse, r2, aic = _sklearn_style_cv(
            known["ndvi"].to_numpy(), known["gvi"].to_numpy()
        )
        assert got.n_known == len(known)
        assert got.avg_rmse == pytest.approx(rmse, abs=1e-9)
        assert got.avg_r2 == pytest.approx(r2, abs=1e-9)
        assert got.aic == pytest.approx(aic, abs=1e-6)
        # signal is linear with sigma=0.01 noise -> CV must recover it
        assert got.avg_rmse < 0.02
        assert got.avg_r2 > 0.9

    def test_gam_cv_metrics(self, spark):
        from streetview_naturevisibility_spark.operators.regression import (
            gam_cv_metrics,
            gap_fill_cv_metrics,
        )

        df, pdf, _ = _toy(spark, nonlinear=True)
        gam = gam_cv_metrics(df, "ndvi", "gvi", folds=5)
        lin = gap_fill_cv_metrics(df, "ndvi", "gvi", folds=5).collect()[0]
        known = pdf[~pdf["missing"]].sort_values("point_id")
        assert gam["n_known"] == len(known)
        # independent fold oracle for the GAM: refit LinearGAM1D with
        # the same contiguous splits, computed by different code
        n = gam["n_known"]
        q, r = divmod(n, 5)
        bounds = np.cumsum([0] + [q + 1] * r + [q] * (5 - r))
        x = known["ndvi"].to_numpy()
        y = known["gvi"].to_numpy()
        rmses = []
        for f in range(5):
            test = np.zeros(n, dtype=bool)
            test[bounds[f] : bounds[f + 1]] = True
            m = LinearGAM1D(n_splines=25).fit(x[~test], y[~test])
            rmses.append(float(np.sqrt(((y[test] - m.predict(x[test])) ** 2).mean())))
        assert gam["avg_rmse"] == pytest.approx(float(np.mean(rmses)), abs=1e-12)
        # the reference's README finding: GAM beats linear on GVI data
        assert gam["avg_rmse"] < lin.avg_rmse


class TestDegenerateCV:
    def test_constant_x_folds_yield_null_not_inf(self, spark):
        """ADVICE r2: a training split with constant x used to divide
        by zero (slope denominator) -> Inf/NaN propagated into the
        averages. Guarded denominators must emit null instead."""
        pdf = pd.DataFrame(
            {
                "point_id": range(10),
                "ndvi": [1.0] * 10,  # constant x everywhere
                "gvi": [float(i % 3) for i in range(10)],
            }
        )
        df = spark.createDataFrame(pdf)
        row = gap_fill_cv_metrics(df, "ndvi", "gvi", folds=5).collect()[0]
        assert row.n_known == 10
        # every fold is degenerate -> averages are null, never Inf/NaN
        assert row.avg_rmse is None or not np.isinf(row.avg_rmse)
        assert row.avg_r2 is None

    def test_constant_y_test_fold_r2_null(self, spark):
        """A constant-y test fold has sst == 0 -> R^2 undefined (null),
        while RMSE stays finite; non-degenerate folds still average."""
        # y constant within the first contiguous fold only
        y = [5.0, 5.0] + [float(i) for i in range(8)]
        pdf = pd.DataFrame(
            {"point_id": range(10), "ndvi": [float(i) for i in range(10)], "gvi": y}
        )
        df = spark.createDataFrame(pdf)
        row = gap_fill_cv_metrics(df, "ndvi", "gvi", folds=5).collect()[0]
        assert row.avg_rmse is not None and np.isfinite(row.avg_rmse)
        # avg_r2 averages the 4 non-degenerate folds (nulls ignored)
        assert row.avg_r2 is not None and np.isfinite(row.avg_r2)
