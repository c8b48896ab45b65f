"""PCA — cuML ``PCA`` (python/cuml/decomposition/pca.pyx:115).

Reference pipeline (cpp/src/pca/pca.h:76 pcaFit): column means
(stats/mean.h:82) → covariance (stats/cov.h:48) → symmetric eig
(linalg/eig.h:44) → truncate + deterministic sign flip (pca.h:134);
singular_values = sqrt(λ·(n−1)) (pca.h:102-104).

Spark-native translation of the same dataflow:
- means + full d×d second-moment matrix in ONE distributed aggregate
  (the Gram trick — sum(x_i·x_j) expressions, map-side combined);
- eigendecomposition of the d×d covariance on the DRIVER with numpy
  (d is feature count; at 100 TB d stays small while n is huge — identical
  architecture to the reference's single-GPU eig and to its Dask MNMG path,
  which also reduces partial covariances then solves once);
- transform / inverse_transform are pure column expressions over the
  broadcast components — map-only, no shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from cuml_spark.core.base import Base
from cuml_spark.core.exprs import sql_dot, sql_double, sql_double_col, sql_ident
from cuml_spark.core.validation import check_features
from cuml_spark.ops.linalg import moment_aggregate


def _sign_flip(components: np.ndarray) -> np.ndarray:
    """Deterministic sign convention: largest-|loading| coordinate positive
    (mirrors the reference's signFlip, pca.h:134)."""
    out = components.copy()
    for i in range(out.shape[0]):
        j = int(np.argmax(np.abs(out[i])))
        if out[i, j] < 0:
            out[i] = -out[i]
    return out


class PCA(Base):
    def __init__(self, n_components: int = 1, svd_solver: str = "auto",
                 whiten: bool = False, iterated_power: int = 15, tol: float = 1e-7,
                 copy: bool = True, random_state: int | None = None, **kwargs):
        super().__init__(**kwargs)
        self.n_components = n_components
        self.svd_solver = svd_solver
        self.whiten = whiten
        self.iterated_power = iterated_power
        self.tol = tol
        self.copy = copy
        self.random_state = random_state
        self.components_: np.ndarray | None = None
        self.explained_variance_: np.ndarray | None = None
        self.explained_variance_ratio_: np.ndarray | None = None
        self.singular_values_: np.ndarray | None = None
        self.mean_: np.ndarray | None = None
        self.noise_variance_: float | None = None
        self._cols: list[str] | None = None

    def fit(self, df: DataFrame, feature_cols: list[str]) -> "PCA":
        data = check_features(df, feature_cols)
        n, m = moment_aggregate(data, feature_cols)
        mean = m[0, 1:] / n
        g = m[1:, 1:]
        cov = (g - n * np.outer(mean, mean)) / (n - 1)
        evals, evecs = np.linalg.eigh(cov)  # ascending
        order = np.argsort(evals)[::-1]
        evals = np.maximum(evals[order], 0.0)
        evecs = evecs[:, order]
        k = self.n_components
        self.mean_ = mean
        self.components_ = _sign_flip(evecs[:, :k].T)
        self.explained_variance_ = evals[:k]
        total_var = evals.sum()
        self.explained_variance_ratio_ = evals[:k] / total_var if total_var > 0 else evals[:k]
        self.singular_values_ = np.sqrt(evals[:k] * (n - 1))
        d = len(feature_cols)
        self.noise_variance_ = float(evals[k:].mean()) if k < d else 0.0
        self._cols = list(feature_cols)
        return self

    def transform(self, df: DataFrame, feature_cols: list[str] | None = None,
                  prefix: str = "pc") -> DataFrame:
        """Project onto components: pure expressions, keyed columns pc0..pc{k-1}."""
        cols = feature_cols or self._cols
        if self.components_ is None:
            raise RuntimeError("model not fitted")
        centered = [f"({sql_double_col(c)} - {sql_double(m)})" for c, m in zip(cols, self.mean_)]
        out = []
        for i, comp in enumerate(self.components_):
            e = sql_dot("0.0D", centered, comp)
            if self.whiten:
                e = f"({e}) / {sql_double(np.sqrt(self.explained_variance_[i]) or 1.0)}"
            out.append(f"{e} AS {sql_ident(f'{prefix}{i}')}")
        keep = [sql_ident(c) for c in df.columns if c not in cols]
        return df.selectExpr(*keep, *out)

    def fit_transform(self, df: DataFrame, feature_cols: list[str]) -> DataFrame:
        return self.fit(df, feature_cols).transform(df, feature_cols)

    def inverse_transform(self, df: DataFrame, prefix: str = "pc") -> DataFrame:
        """Back-project pc columns to feature space (pca.pyx:454)."""
        if self.components_ is None:
            raise RuntimeError("model not fitted")
        k = len(self.components_)
        pcs = [sql_double_col(f"{prefix}{i}") for i in range(k)]
        if self.whiten:
            pcs = [f"({p} * {sql_double(np.sqrt(self.explained_variance_[i]))})"
                   for i, p in enumerate(pcs)]
        out = [f"{sql_dot(sql_double(self.mean_[j]), pcs, self.components_[:, j])} AS {sql_ident(c)}"
               for j, c in enumerate(self._cols)]
        keep = [sql_ident(c) for c in df.columns if not c.startswith(prefix)]
        return df.selectExpr(*keep, *out)
