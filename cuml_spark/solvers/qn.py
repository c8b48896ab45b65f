"""QN solver — cuML ``cuml.solvers.QN`` (python/cuml/solvers/qn.pyx:105, ctor
:215: loss ∈ {sigmoid, softmax, normal}, l1_strength, l2_strength,
lbfgs_memory; C++ cpp/src/glm/qn/qn.h:59, L-BFGS/OWL-QN solvers
qn_solvers.h:70,191).

MLlib's GLM estimators run the SAME breeze L-BFGS/OWL-QN family, so this
facade maps each loss to the matching estimator and converts the
regularization vocabulary (cuML strengths are per-sum-of-loss; MLlib's
regParam is per-mean — multiply by 1/n happens inside the wrapped classes).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from cuml_spark.core.base import Base

_LOSSES = ("sigmoid", "softmax", "normal")


class QN(Base):
    def __init__(self, loss: str = "sigmoid", fit_intercept: bool = True,
                 l1_strength: float = 0.0, l2_strength: float = 0.0,
                 max_iter: int = 1000, tol: float = 1e-3,
                 lbfgs_memory: int = 5, **kwargs):
        super().__init__(**kwargs)
        if loss not in _LOSSES:
            raise ValueError(f"loss must be one of {_LOSSES} (qn.pyx:215)")
        self.loss = loss
        self.fit_intercept = fit_intercept
        self.l1_strength = l1_strength
        self.l2_strength = l2_strength
        self.max_iter = max_iter
        self.tol = tol
        self.lbfgs_memory = lbfgs_memory
        self.coef_: np.ndarray | None = None
        self.intercept_: np.ndarray | float | None = None
        self._impl = None

    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str) -> "QN":
        total = self.l1_strength + self.l2_strength
        if self.loss in ("sigmoid", "softmax"):
            from cuml_spark.linear_model import LogisticRegression

            if total == 0.0:
                penalty, C, l1_ratio = "none", 1.0, None
            else:
                l1_ratio = self.l1_strength / total
                penalty = (
                    "l1" if l1_ratio == 1.0
                    else "l2" if l1_ratio == 0.0
                    else "elasticnet"
                )
                C = 1.0 / total  # LogisticRegression facade multiplies by n itself
            self._impl = LogisticRegression(
                penalty=penalty, C=C, l1_ratio=l1_ratio,
                fit_intercept=self.fit_intercept,
                max_iter=self.max_iter, tol=self.tol,
            ).fit(df, feature_cols, label_col)
        else:  # normal → least squares (+elastic net via CD)
            if total == 0.0:
                from cuml_spark.linear_model import LinearRegression

                self._impl = LinearRegression(
                    fit_intercept=self.fit_intercept
                ).fit(df, feature_cols, label_col)
            else:
                from cuml_spark.solvers.cd import CD

                self._impl = CD(
                    alpha=total,
                    l1_ratio=self.l1_strength / total,
                    fit_intercept=self.fit_intercept,
                    max_iter=self.max_iter,
                ).fit(df, feature_cols, label_col)
        self.coef_ = np.asarray(self._impl.coef_)
        self.intercept_ = self._impl.intercept_
        return self

    def predict(self, df: DataFrame, out_col: str = "prediction") -> DataFrame:
        if self._impl is None:
            raise RuntimeError("fit() first")
        return self._impl.predict(df, out_col=out_col)
