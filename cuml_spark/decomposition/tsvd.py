"""TruncatedSVD — cuML ``TruncatedSVD`` (python/cuml/decomposition/tsvd.pyx:93).

Reference (cpp/src/tsvd/tsvd.h:166): eig of XᵀX WITHOUT mean-centering —
the sparse-friendly SVD semantics.  Same one-pass Gram aggregate as PCA minus
the centering; singular values = sqrt(λ), explained variance computed from the
transformed column variances (tsvd.h:217 fitTransform semantics).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from cuml_spark.core.base import Base
from cuml_spark.core.exprs import sql_dot, sql_double_col, sql_ident
from cuml_spark.core.validation import check_features
from cuml_spark.decomposition.pca import _sign_flip
from cuml_spark.ops.linalg import moment_aggregate


class TruncatedSVD(Base):
    def __init__(self, n_components: int = 1, algorithm: str = "full",
                 n_iter: int = 15, tol: float = 1e-7, random_state: int | None = None,
                 **kwargs):
        super().__init__(**kwargs)
        self.n_components = n_components
        self.algorithm = algorithm
        self.n_iter = n_iter
        self.tol = tol
        self.random_state = random_state
        self.components_: np.ndarray | None = None
        self.singular_values_: np.ndarray | None = None
        self.explained_variance_: np.ndarray | None = None
        self.explained_variance_ratio_: np.ndarray | None = None
        self._cols: list[str] | None = None

    def fit(self, df: DataFrame, feature_cols: list[str]) -> "TruncatedSVD":
        data = check_features(df, feature_cols)
        n, m = moment_aggregate(data, feature_cols)
        s, g = m[0, 1:], m[1:, 1:]
        evals, evecs = np.linalg.eigh(g)  # XᵀX, no centering
        order = np.argsort(evals)[::-1]
        evals = np.maximum(evals[order], 0.0)
        evecs = evecs[:, order]
        k = self.n_components
        self.components_ = _sign_flip(evecs[:, :k].T)
        self.singular_values_ = np.sqrt(evals[:k])
        # explained variance of the projected coordinates (sample variance)
        mean = s / n
        proj_mean = self.components_ @ mean
        # var(Xv) = vᵀ(G/n)v − (vᵀmean)²  scaled to sample variance
        ev = []
        for i in range(k):
            v = self.components_[i]
            second = v @ g @ v / n
            ev.append((second - proj_mean[i] ** 2) * n / (n - 1))
        self.explained_variance_ = np.array(ev)
        total_var = np.trace(g / n - np.outer(mean, mean)) * n / (n - 1)
        self.explained_variance_ratio_ = (
            self.explained_variance_ / total_var if total_var > 0 else self.explained_variance_
        )
        self._cols = list(feature_cols)
        return self

    def transform(self, df: DataFrame, feature_cols: list[str] | None = None,
                  prefix: str = "sv") -> DataFrame:
        cols = feature_cols or self._cols
        if self.components_ is None:
            raise RuntimeError("model not fitted")
        xs = [sql_double_col(c) for c in cols]
        out = [f"{sql_dot('0.0D', xs, comp)} AS {sql_ident(f'{prefix}{i}')}"
               for i, comp in enumerate(self.components_)]
        keep = [sql_ident(c) for c in df.columns if c not in cols]
        return df.selectExpr(*keep, *out)

    def fit_transform(self, df: DataFrame, feature_cols: list[str]) -> DataFrame:
        return self.fit(df, feature_cols).transform(df, feature_cols)

    def inverse_transform(self, df: DataFrame, prefix: str = "sv") -> DataFrame:
        if self.components_ is None:
            raise RuntimeError("model not fitted")
        svs = [sql_double_col(f"{prefix}{i}") for i in range(len(self.components_))]
        out = [f"{sql_dot('0.0D', svs, self.components_[:, j])} AS {sql_ident(c)}"
               for j, c in enumerate(self._cols)]
        keep = [sql_ident(c) for c in df.columns if not c.startswith(prefix)]
        return df.selectExpr(*keep, *out)
