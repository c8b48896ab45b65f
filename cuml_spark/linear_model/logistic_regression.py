"""LogisticRegression — cuML python/cuml/linear_model/logistic_regression.pyx:33.

Reference solves the GLM objective with L-BFGS / OWL-QN (cpp/src/glm/qn/qn.h:59,
qn_solvers.h:70,191).  MLlib's LogisticRegression uses the SAME breeze
L-BFGS/OWL-QN family, so we wrap it with a cuML-vocabulary facade and convert
parameters:

- cuML ``C`` (inverse regularization)  →  regParam = 1/(n·C)
  (MLlib's objective divides the loss by n; cuML/sklearn's does not)
- penalty ∈ {none, l1, l2, elasticnet}  →  (regParam, elasticNetParam)

Distributed shape: each L-BFGS iteration is a treeAggregate of gradient
partials — identical communication pattern to the reference's multi-GPU
allreduce path.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.classification import LogisticRegression as MLLogReg
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.exprs import sql_dot, sql_double, sql_double_col
from cuml_spark.core.validation import check_features


class LogisticRegression(Base):
    def __init__(self, penalty: str = "l2", C: float = 1.0, tol: float = 1e-4,
                 max_iter: int = 1000, fit_intercept: bool = True,
                 l1_ratio: float | None = None, solver: str = "qn", **kwargs):
        super().__init__(**kwargs)
        if penalty not in ("none", "l1", "l2", "elasticnet"):
            raise ValueError(f"unknown penalty {penalty!r}")
        self.penalty = penalty
        self.C = C
        self.tol = tol
        self.max_iter = max_iter
        self.fit_intercept = fit_intercept
        self.l1_ratio = l1_ratio
        self.solver = solver
        self.coef_: np.ndarray | None = None
        self.intercept_: np.ndarray | None = None
        self.classes_: np.ndarray | None = None
        self.n_iter_: int | None = None
        self._model = None
        self._cols: list[str] | None = None

    def _reg_params(self, n: int) -> tuple[float, float]:
        if self.penalty == "none":
            return 0.0, 0.0
        reg = 1.0 / (n * self.C)
        if self.penalty == "l2":
            return reg, 0.0
        if self.penalty == "l1":
            return reg, 1.0
        return reg, self.l1_ratio if self.l1_ratio is not None else 0.5

    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str) -> "LogisticRegression":
        from cuml_spark.core.session import right_size

        # OWL-QN runs one treeAggregate per iteration over MLlib's cached
        # frame — right-size small inputs so each iteration isn't sliced
        # into near-empty tasks (measured 4.3s @ 8 parts vs 4.8s @ 32 in
        # SCALE.md; no-op at scale)
        # NOTE (r13): an explicit select(*feature_cols, label) here was
        # A/B'd consistently SLOWER (3.6-3.9 -> 3.9-4.6 s on
        # logreg_rule_accuracy in 3/3 interleaved pairs): the projection
        # shrinks right_size's sizeInBytes estimate and over-coalesces the
        # frame the ~20 OWL-QN treeAggregate jobs iterate over, and MLlib
        # already projects to (label, weight, features) before its
        # internal persist — so the wide frame never reaches the cache
        # anyway.  Left unprojected on that evidence.
        data = right_size(
            check_features(df, [*feature_cols, label_col])
        ).withColumnRenamed(label_col, "__label")
        n = data.count()
        reg, enet = self._reg_params(n)
        assembled = VectorAssembler(
            inputCols=feature_cols, outputCol="__features"
        ).transform(data)
        lr = MLLogReg(
            featuresCol="__features", labelCol="__label",
            regParam=reg, elasticNetParam=enet, tol=self.tol,
            maxIter=self.max_iter, fitIntercept=self.fit_intercept,
            standardization=False,
        )
        self._model = lr.fit(assembled)
        if self._model.numClasses == 2:
            self.coef_ = np.array(self._model.coefficients).reshape(1, -1)
            self.intercept_ = np.array([self._model.intercept])
        else:
            self.coef_ = self._model.coefficientMatrix.toArray()
            self.intercept_ = np.array(self._model.interceptVector)
        self.classes_ = np.arange(self._model.numClasses)
        # read off the training summary MLlib kept from the fit: no job
        self.n_iter_ = int(self._model.summary.totalIterations)
        self._cols = list(feature_cols)
        return self

    def predict(self, df: DataFrame, feature_cols: list[str] | None = None,
                out_col: str = "prediction") -> DataFrame:
        cols = feature_cols or self._cols
        if self._model is None:
            raise RuntimeError("model not fitted")
        casted = df.select(
            *[c for c in df.columns if c not in cols],
            *[F.col(c).cast("double").alias(c) for c in cols],
        )
        assembled = VectorAssembler(inputCols=cols, outputCol="__features").transform(casted)
        out = self._model.transform(assembled)
        pred_col = self._model.getPredictionCol()
        out = out.drop(
            "__features", self._model.getRawPredictionCol(), self._model.getProbabilityCol()
        )
        if out_col != pred_col:
            out = out.withColumnRenamed(pred_col, out_col)
        return out

    def predict_proba_expr(self):
        """Sigmoid scoring as a pure column expression for binary models."""
        if self.coef_ is None or self._cols is None:
            raise RuntimeError("model not fitted")
        z = sql_dot(sql_double(self.intercept_[0]), map(sql_double_col, self._cols), self.coef_[0])
        return F.expr(f"1.0D / (exp(-({z})) + 1.0D)")
