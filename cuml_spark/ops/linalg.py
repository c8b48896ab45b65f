"""Distributed linear-algebra primitives over column-matrix DataFrames.

Reference prims (cpp/src_prims/linalg/):
- ``gemm`` Xᵀ X / Xᵀ y accumulation (gemm.h:78)   → :func:`gram_matrix`
- ``rowNorm`` (norm.h:49) / ``colNorm`` (norm.h:82) → :func:`row_norms` / :func:`col_norms`
- ``qrGetQ/qrGetQR`` (qr.h:40,84)                  → :func:`tall_skinny_qr`
- ``svdQR/svdEig`` (svd.h:54,101)                  → :func:`svd_tall`
- ``rsvdFixedRank`` (rsvd.h:55)                    → :func:`randomized_svd`

A "matrix" is a DataFrame with d numeric columns (n rows, distributed).  All
reductions are single-pass JVM-side hash aggregates producing a d×d (or d×k)
driver array — the same shape contraction the reference's GEMM kernels
perform, with Spark's treeAggregate playing the role of the device reduction.
Driver-side numpy then handles the tiny d×d factorizations, mirroring how the
reference calls cuSOLVER on device-resident d×d Grams.

Scale note: one shuffle-free pass over the data, about d²/2 sums in one
array aggregate; valid while d ≲ a few hundred (the regime every caller in
this library is in — PCA/TSVD/OLS Grams).  For d beyond that, move to block
outer-product accumulation via mapInPandas (not needed by any current
consumer).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.exprs import sql_double, sql_double_col


def moment_aggregate(df: DataFrame, cols: list[str], y: str | None = None,
                     *, intercept: bool = True) -> tuple[int, np.ndarray]:
    """Σ zᵢzⱼ over the rows of z = [1, x₁ … x_d] (the 1 only with
    ``intercept``), and Σ zᵢ·y when ``y`` is given, in ONE pass: one
    ``array(count, Σxᵢ, Σxᵢxⱼ, Σxᵢy, …)`` aggregate parsed from one SQL
    string.  Returns (n, G): the exact row count and the symmetric Gram of
    z, with Σ z·y as an extra last column.  The moments of PCA/TSVD, the
    normal equations of OLS/Ridge/Lasso/CD and :func:`gram_matrix` all
    read this one aggregate."""
    rows = [None] * intercept + [sql_double_col(c) for c in cols]
    right = rows + ([sql_double_col(y)] if y is not None else [])
    cells = [(i, j) for i in range(len(rows)) for j in range(i, len(right))]
    terms = ["count(1)"]
    for i, j in cells:
        a, b = rows[i], right[j]
        terms.append("count(1)" if b is None else f"sum({b})" if a is None
                     else f"sum({a} * {b})")
    vals = np.array(df.agg(F.expr(f"array({', '.join(terms)})")).first()[0], dtype=float)
    g = np.zeros((len(rows), len(right)))
    for (i, j), v in zip(cells, vals[1:]):
        g[i, j] = v
        if j < len(rows):
            g[j, i] = v
    return int(vals[0]), g


def gram_matrix(df: DataFrame, cols: list[str]) -> np.ndarray:
    """XᵀX as a d×d numpy array — one aggregate pass (gemm.h:78 role)."""
    return moment_aggregate(df, cols, intercept=False)[1]


def gram_vector(df: DataFrame, cols: list[str], y: str) -> np.ndarray:
    """Xᵀy as a length-d numpy array, same single pass."""
    return moment_aggregate(df, cols, y, intercept=False)[1][:, -1]


def row_norms(df: DataFrame, cols: list[str], out_col: str = "row_norm",
              squared: bool = False) -> DataFrame:
    """Per-row L2 norm over the feature columns (norm.h:49) — pure codegen."""
    s = None
    for c in cols:
        t = F.col(c).cast("double") * F.col(c).cast("double")
        s = t if s is None else s + t
    return df.withColumn(out_col, s if squared else F.sqrt(s))


def col_norms(df: DataFrame, cols: list[str], squared: bool = False) -> DataFrame:
    """Per-column L2 norms (norm.h:82) → long (col, norm) result."""
    agg = df.agg(
        *[F.sum(F.col(c).cast("double") * F.col(c).cast("double")).alias(c)
          for c in cols]
    ).first()
    rows = [(c, float(agg[c]) if squared else float(agg[c]) ** 0.5) for c in cols]
    spark = df.sparkSession
    return spark.createDataFrame(rows, "col string, norm double")


def _with_linear_map(df: DataFrame, cols: list[str], coef: np.ndarray,
                     prefix: str) -> DataFrame:
    """Append ``{prefix}j`` = Σᵢ colᵢ·coef[i, j] over the nonzero
    coefficients, summed left to right (0.0 when all are zero)."""
    return df.withColumns({
        f"{prefix}{j}": F.expr(" + ".join(
            f"{sql_double_col(c)} * {sql_double(w)}" for c, w in zip(cols, coef[:, j]) if w != 0.0
        ) or "0.0D")
        for j in range(coef.shape[1])
    })


def tall_skinny_qr(df: DataFrame, cols: list[str]) -> tuple[DataFrame, np.ndarray]:
    """QR of a tall-skinny matrix (qr.h:40): R = chol(XᵀX)ᵀ from one Gram
    pass; Q = X·R⁻¹ applied as a codegen'd linear map — no row shuffle.
    Returns (Q as DataFrame with q_0..q_{d-1} appended, R d×d)."""
    g = gram_matrix(df, cols)
    r = np.linalg.cholesky(g).T          # X = QR with R upper-triangular
    return _with_linear_map(df, cols, np.linalg.inv(r), "q_"), r


def svd_tall(df: DataFrame, cols: list[str], k: int | None = None
             ) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """SVD of a tall-skinny matrix (svd.h:101 ``svdEig`` — eig of the d×d
    Gram, the reference's own tall-matrix strategy).  Returns
    (U as DataFrame with u_0..u_{k-1} appended, singular values, Vᵀ)."""
    g = gram_matrix(df, cols)
    w, v = np.linalg.eigh(g)             # ascending
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    k = k or len(cols)
    sv = np.sqrt(np.maximum(w[:k], 0.0))
    vt = v[:, :k].T
    coef = np.divide(v[:, :k], sv, out=np.zeros((len(cols), k)), where=sv > 0)
    return _with_linear_map(df, cols, coef, "u_"), sv, vt


def randomized_svd(df: DataFrame, cols: list[str], k: int,
                   n_oversamples: int = 10, seed: int = 0
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Randomized SVD sketch (rsvd.h:55, Halko et al. 2011): project onto a
    seeded Gaussian test matrix (codegen'd linear map — one pass), QR the
    small sketch Gram, then exact SVD of the projected d×l system on the
    driver.  Returns (singular values, Vᵀ k×d); U obtainable via
    :func:`svd_tall`-style mapping if needed."""
    d = len(cols)
    l = min(d, k + n_oversamples)
    rng = np.random.default_rng(seed)
    omega = rng.standard_normal((d, l))
    # Y = X·Ω accumulated as Gram-style sums: YᵀY = Ωᵀ(XᵀX)Ω and XᵀY = (XᵀX)Ω
    # — both derivable from one XᵀX pass since d is small.
    g = gram_matrix(df, cols)
    b = g @ omega                         # d×l = Xᵀ(XΩ)
    q, _ = np.linalg.qr(b)                # orthonormal range approximation
    small = q.T @ g @ q                   # l×l projected Gram
    w, v = np.linalg.eigh(small)
    order = np.argsort(w)[::-1][:k]
    sv = np.sqrt(np.maximum(w[order], 0.0))
    vt = (q @ v[:, order]).T
    return sv, vt


__all__ = [
    "gram_matrix", "gram_vector", "row_norms", "col_norms",
    "tall_skinny_qr", "svd_tall", "randomized_svd",
]
