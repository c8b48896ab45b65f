"""Ordinary least squares, closed form — cuML ``LinearRegression``.

Reference: python/cuml/linear_model/linear_regression.pyx:78 (fit :222,
predict :312); C++ ``olsFit`` cpp/src/glm/ols.h:54 with algorithms eig/svd/qr
over the normal equations; intercept handled by pre-centering
(cpp/src/glm/preprocess.h).

Spark-first design — the distributed part is ONE aggregate pass:
    executors compute the Gram partials  XᵀX (d×d)  and  Xᵀy (d)
    as ``sum(x_i*x_j)`` / ``sum(x_i*y)`` expressions (map-side combined,
    whole-stage codegen, shuffle = a single row),
then the driver solves the (d+1)×(d+1) system with numpy — the same
architecture as the reference's SPMG path (glm_spmg.h: workers reduce partials,
one rank solves) and as MLlib's ``solver='normal'`` WLS.  d is feature count
(≲ thousands), so the driver solve is trivial at any data scale.

``predict`` is a pure column expression — no shuffle, fully fused by Catalyst.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.exprs import sql_dot, sql_double, sql_double_col
from cuml_spark.core.validation import check_features
from cuml_spark.ops.linalg import moment_aggregate


class LinearRegression(Base):
    """OLS with cuML's constructor vocabulary (algorithm ∈ {eig, svd, qr}).

    All algorithms solve the same normal equations; ``algorithm`` selects the
    driver-side factorization exactly as ols.h:54 dispatches {svd,eig,qr}.
    """

    def __init__(self, algorithm: str = "eig", fit_intercept: bool = True,
                 normalize: bool = False, **kwargs):
        super().__init__(**kwargs)
        if algorithm not in ("eig", "svd", "qr"):
            raise ValueError(f"algorithm must be eig|svd|qr, got {algorithm!r}")
        self.algorithm = algorithm
        self.fit_intercept = fit_intercept
        self.normalize = normalize
        self.coef_: np.ndarray | None = None
        self.intercept_: float = 0.0
        self._cols: list[str] | None = None

    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str) -> "LinearRegression":
        data = check_features(df, [*feature_cols, label_col])
        _, m = moment_aggregate(data, feature_cols, label_col)
        xtx, xty = m[:, :-1], m[:, -1]
        if not self.fit_intercept:
            xtx, xty = xtx[1:, 1:], xty[1:]
        if self.normalize and self.fit_intercept:
            # cuML 'normalize' divides centered features by their L2 norm
            # before solving, then rescales coefs back (glm/preprocess.h).
            # Solving the unnormalized normal equations gives the identical
            # optimum; normalize only affects conditioning, handled by lstsq.
            pass
        if self.algorithm == "svd":
            beta, *_ = np.linalg.lstsq(xtx, xty, rcond=None)
        elif self.algorithm == "qr":
            q, r = np.linalg.qr(xtx)
            beta = np.linalg.solve(r, q.T @ xty)
        else:  # eig — solve SPD system directly
            beta = np.linalg.solve(xtx, xty)
        if self.fit_intercept:
            self.intercept_ = float(beta[0])
            self.coef_ = beta[1:]
        else:
            self.intercept_ = 0.0
            self.coef_ = beta
        self._cols = list(feature_cols)
        return self

    def prediction_expr(self, feature_cols: list[str] | None = None) -> Column:
        """ŷ as a pure column expression (fusable, no shuffle)."""
        cols = feature_cols or self._cols
        if self.coef_ is None or cols is None:
            raise RuntimeError("model not fitted")
        return F.expr(sql_dot(sql_double(self.intercept_), map(sql_double_col, cols), self.coef_))

    def predict(self, df: DataFrame, feature_cols: list[str] | None = None,
                out_col: str = "prediction") -> DataFrame:
        return df.withColumn(out_col, self.prediction_expr(feature_cols))

    def score(self, df: DataFrame, feature_cols: list[str], label_col: str) -> float:
        from cuml_spark.metrics.regression import r2_score

        pred = self.predict(df, feature_cols)
        return r2_score(pred, label_col, "prediction")
