"""Ridge regression, closed form — cuML ``Ridge``.

Reference: python/cuml/linear_model/ridge.pyx:83 (fit :239), C++ ``ridgeFit``
cpp/src/glm/ridge.h:144.  Semantics: minimize ‖y−Xβ‖² + α‖β‖² with the
intercept NOT penalized (reference pre-centers, solves, then recovers the
intercept — glm/preprocess.h).

Same one-pass Gram aggregate as OLS; the driver adds α·I to the
feature block of XᵀX (never the intercept row/col) and solves.  Note the
contrast with MLlib's ``regParam`` which scales by n and by feature std —
this class keeps cuML/sklearn semantics exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from cuml_spark.core.validation import check_features
from cuml_spark.linear_model.linear_regression import LinearRegression
from cuml_spark.ops.linalg import moment_aggregate


class Ridge(LinearRegression):
    def __init__(self, alpha: float = 1.0, solver: str = "eig",
                 fit_intercept: bool = True, normalize: bool = False, **kwargs):
        super().__init__(algorithm="eig" if solver == "cd" else solver,
                         fit_intercept=fit_intercept, normalize=normalize, **kwargs)
        self.alpha = alpha
        self.solver = solver

    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str) -> "Ridge":
        data = check_features(df, [*feature_cols, label_col])
        n, m = moment_aggregate(data, feature_cols, label_col)
        xtx, xty = m[:, :-1], m[:, -1]
        d = len(feature_cols)
        if self.fit_intercept:
            # center via the Gram identities instead of a second data pass:
            # Xc'Xc = X'X − n·x̄x̄',  Xc'yc = X'y − n·x̄·ȳ
            xbar = xtx[0, 1:] / n
            ybar = xty[0] / n
            a = xtx[1:, 1:] - n * np.outer(xbar, xbar) + self.alpha * np.eye(d)
            b = xty[1:] - n * xbar * ybar
            beta = np.linalg.solve(a, b)
            self.coef_ = beta
            self.intercept_ = float(ybar - xbar @ beta)
        else:
            a = xtx[1:, 1:] + self.alpha * np.eye(d)
            beta = np.linalg.solve(a, xty[1:])
            self.coef_ = beta
            self.intercept_ = 0.0
        self._cols = list(feature_cols)
        return self
