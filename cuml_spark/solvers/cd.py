"""CD solver — cuML ``cuml.solvers.CD`` (python/cuml/solvers/cd.pyx:89, ctor
:160; C++ cpp/src/solver/cd.h:80 cyclic coordinate descent with
soft-thresholding, cd.h:223 predict).

Spark shape (same as Lasso/ElasticNet, which delegate to this solver in the
reference too, lasso.pyx:161-197): ONE distributed Gram-aggregate pass
(XᵀX, Xᵀy), then cyclic CD over the tiny d×d system on the driver — no
per-iteration cluster round-trips.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.validation import check_features
from cuml_spark.linear_model.lasso import _cd_solve
from cuml_spark.ops.linalg import moment_aggregate


class CD(Base):
    def __init__(self, loss: str = "squared_loss", alpha: float = 1e-4,
                 l1_ratio: float = 0.15, fit_intercept: bool = True,
                 normalize: bool = False, max_iter: int = 1000,
                 tol: float = 1e-3, **kwargs):
        super().__init__(**kwargs)
        if loss != "squared_loss":
            raise ValueError("CD supports loss='squared_loss' (cd.pyx:160)")
        self.loss = loss
        self.alpha = alpha
        self.l1_ratio = l1_ratio
        self.fit_intercept = fit_intercept
        self.normalize = normalize
        self.max_iter = max_iter
        self.tol = tol
        self.coef_: np.ndarray | None = None
        self.intercept_: float = 0.0
        self._cols: list[str] | None = None

    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str) -> "CD":
        data = check_features(df, [*feature_cols, label_col])
        n, m = moment_aggregate(data, feature_cols, label_col)
        xtx, xty = m[:, :-1], m[:, -1]
        l1 = self.alpha * self.l1_ratio
        l2 = self.alpha * (1.0 - self.l1_ratio)
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

    def predict(self, df: DataFrame, out_col: str = "prediction") -> DataFrame:
        if self.coef_ is None or self._cols is None:
            raise RuntimeError("fit() first")
        z = F.lit(float(self.intercept_))
        for c, wj in zip(self._cols, self.coef_):
            z = z + F.col(c).cast("double") * float(wj)
        return df.withColumn(out_col, z)
