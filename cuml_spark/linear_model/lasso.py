"""Lasso — cuML ``Lasso`` (python/cuml/linear_model/lasso.pyx:25), which
delegates to the CD solver (cpp/src/solver/cd.h:80, cyclic coordinate descent
with soft-thresholding).

Spark design: L1 has no closed form, but the optimum depends on the data only
through the Gram matrix XᵀX and Xᵀy (both tiny).  So: ONE distributed pass for
the Gram aggregate (same as OLS), then cyclic coordinate descent on the driver
over the d×d system — this is mathematically identical to the reference's CD
updates, which also precompute per-feature squared norms.  No per-iteration
cluster round-trips (contrast MLlib's OWL-QN which scans data every iteration).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from cuml_spark.core.validation import check_features
from cuml_spark.linear_model.linear_regression import LinearRegression
from cuml_spark.ops.linalg import moment_aggregate


def _cd_solve(gram: np.ndarray, corr: np.ndarray, n: int, l1: float, l2: float,
              max_iter: int, tol: float) -> np.ndarray:
    """Cyclic coordinate descent on the Gram system (covariance updates).

    Minimizes (1/2n)‖y−Xβ‖² + l1·‖β‖₁ + (l2/2)·‖β‖² — sklearn/cuML objective
    (cd.h:80 uses the same soft-threshold update order).
    """
    d = gram.shape[0]
    beta = np.zeros(d)
    # residual correlation r_j = X_jᵀy − Σ_k G_jk β_k maintained incrementally
    for _ in range(max_iter):
        max_delta = 0.0
        for j in range(d):
            g_jj = gram[j, j]
            if g_jj == 0.0:
                continue
            rho = corr[j] - gram[j] @ beta + g_jj * beta[j]
            bj = np.sign(rho) * max(abs(rho) - n * l1, 0.0) / (g_jj + n * l2)
            max_delta = max(max_delta, abs(bj - beta[j]))
            beta[j] = bj
        if max_delta < tol:
            break
    return beta


class Lasso(LinearRegression):
    def __init__(self, alpha: float = 1.0, fit_intercept: bool = True,
                 normalize: bool = False, max_iter: int = 1000, tol: float = 1e-3,
                 selection: str = "cyclic", **kwargs):
        super().__init__(fit_intercept=fit_intercept, normalize=normalize, **kwargs)
        self.alpha = alpha
        self.max_iter = max_iter
        self.tol = tol
        self.selection = selection
        self._l1_ratio = 1.0

    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str) -> "Lasso":
        data = check_features(df, [*feature_cols, label_col])
        n, m = moment_aggregate(data, feature_cols, label_col)
        xtx, xty = m[:, :-1], m[:, -1]
        l1 = self.alpha * self._l1_ratio
        l2 = self.alpha * (1.0 - self._l1_ratio)
        if self.fit_intercept:
            xbar = xtx[0, 1:] / n
            ybar = xty[0] / n
            gram = xtx[1:, 1:] - n * np.outer(xbar, xbar)
            corr = xty[1:] - n * xbar * ybar
            beta = _cd_solve(gram, corr, n, l1, l2, self.max_iter, self.tol)
            self.coef_ = beta
            self.intercept_ = float(ybar - xbar @ beta)
        else:
            beta = _cd_solve(xtx[1:, 1:], xty[1:], n, l1, l2, self.max_iter, self.tol)
            self.coef_ = beta
            self.intercept_ = 0.0
        self._cols = list(feature_cols)
        return self
