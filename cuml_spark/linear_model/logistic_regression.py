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
        # frame: right-size it by bytes so a small input is one task per
        # iteration with no final-aggregate shuffle stage (perfbench
        # logreg_fit on 4 cores: 28 → 27 jobs, 0.104 → 0 shuffle MB;
        # a no-op at scale).  check_features already projects to the
        # feature and label columns, so the estimate is of what MLlib
        # caches.
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
        model = lr.fit(assembled)
        if model.numClasses == 2:
            self.coef_ = np.array(model.coefficients).reshape(1, -1)
            self.intercept_ = np.array([model.intercept])
        else:
            self.coef_ = model.coefficientMatrix.toArray()
            self.intercept_ = np.array(model.interceptVector)
        self.classes_ = np.arange(model.numClasses)
        # read off the training summary MLlib kept from the fit: no job
        self.n_iter_ = int(model.summary.totalIterations)
        self._cols = list(feature_cols)
        return self

    def _margins(self, cols: list[str]) -> list[str]:
        terms = [sql_double_col(c) for c in cols]
        return [sql_dot(sql_double(b), terms, w) for w, b in zip(self.coef_, self.intercept_)]

    def predict(self, df: DataFrame, feature_cols: list[str] | None = None,
                out_col: str = "prediction") -> DataFrame:
        """Class labels as one parsed expression over ``coef_`` and
        ``intercept_``, MLlib's decision rule: binary ``z > 0`` (the 0.5
        probability threshold), multinomial the argmax of the margins
        with ties to the lowest class.  A row with a null or NaN feature
        gets a null prediction (MLlib's ``VectorAssembler`` raised on a
        null)."""
        cols = feature_cols or self._cols
        if self.coef_ is None or cols is None:
            raise RuntimeError("model not fitted")
        margins = self._margins(cols)
        if len(margins) == 1:
            label = f"CAST(nanvl({margins[0]}, NULL) > 0.0D AS DOUBLE)"
        else:
            # least over (-margin, class): the largest margin wins, and a
            # tie goes to the lower class
            best = ", ".join(f"named_struct('m', -({m}), 'i', {i})"
                             for i, m in enumerate(margins))
            label = (f"CASE WHEN nanvl({margins[0]}, NULL) IS NULL THEN NULL "
                     f"ELSE CAST(least({best}).i AS DOUBLE) END")
        return df.withColumn(out_col, F.expr(label))

    def predict_proba_expr(self):
        """Sigmoid scoring as a pure column expression for binary models."""
        if self.coef_ is None or self._cols is None:
            raise RuntimeError("model not fitted")
        return F.expr(f"1.0D / (exp(-({self._margins(self._cols)[0]})) + 1.0D)")
