"""Linear family vs numpy closed-form / sklearn-objective oracles.

Mirrors reference tier-1 strategy (python/cuml/test/test_linear_model.py):
fit ours and a trusted CPU implementation on the same data, compare coefs.
"""

from __future__ import annotations

import numpy as np
import pytest

from cuml_spark.linear_model import ElasticNet, Lasso, LinearRegression, LogisticRegression, Ridge

FEATURES = ["l_quantity", "l_discount", "l_tax"]
TARGET = "l_extendedprice"


@pytest.fixture(scope="module")
def xy(lineitem):
    pdf = lineitem.select(*FEATURES, TARGET).toPandas()
    return pdf[FEATURES].to_numpy(), pdf[TARGET].to_numpy()


@pytest.mark.parametrize("algorithm", ["eig", "svd", "qr"])
def test_ols_matches_numpy(lineitem, xy, algorithm):
    X, y = xy
    model = LinearRegression(algorithm=algorithm).fit(lineitem, FEATURES, TARGET)
    A = np.column_stack([np.ones(len(X)), X])
    beta, *_ = np.linalg.lstsq(A, y, rcond=None)
    assert model.intercept_ == pytest.approx(beta[0], rel=1e-6)
    np.testing.assert_allclose(model.coef_, beta[1:], rtol=1e-6)


def test_ols_no_intercept(lineitem, xy):
    X, y = xy
    model = LinearRegression(fit_intercept=False).fit(lineitem, FEATURES, TARGET)
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    np.testing.assert_allclose(model.coef_, beta, rtol=1e-6)
    assert model.intercept_ == 0.0


def test_ols_predict_score(lineitem, xy):
    X, y = xy
    model = LinearRegression().fit(lineitem, FEATURES, TARGET)
    r2 = model.score(lineitem, FEATURES, TARGET)
    A = np.column_stack([np.ones(len(X)), X])
    beta, *_ = np.linalg.lstsq(A, y, rcond=None)
    pred = A @ beta
    exp_r2 = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()
    assert r2 == pytest.approx(exp_r2, rel=1e-6)


def test_ridge_matches_sklearn_semantics(lineitem, xy):
    X, y = xy
    alpha = 10.0
    model = Ridge(alpha=alpha).fit(lineitem, FEATURES, TARGET)
    # closed form with centered data, intercept unpenalized (sklearn/cuML semantics)
    Xc = X - X.mean(axis=0)
    yc = y - y.mean()
    beta = np.linalg.solve(Xc.T @ Xc + alpha * np.eye(X.shape[1]), Xc.T @ yc)
    np.testing.assert_allclose(model.coef_, beta, rtol=1e-6)
    assert model.intercept_ == pytest.approx(y.mean() - X.mean(axis=0) @ beta, rel=1e-6)


def _lasso_kkt_violation(X, y, coef, intercept, alpha, l1_ratio=1.0):
    """Max KKT violation for (1/2n)‖y−Xβ‖² + α·l1‖β‖₁ + (α(1−l1)/2)‖β‖².

    At the optimum: (1/n)Xᵀr − α(1−l1)β ∈ α·l1·∂‖β‖₁  (sklearn/cuML objective).
    Non-circular optimality check usable without sklearn/scipy in the env.
    """
    n = len(y)
    r = y - X @ coef - intercept
    g = X.T @ r / n - alpha * (1 - l1_ratio) * coef
    l1 = alpha * l1_ratio
    viol = 0.0
    for j in range(len(coef)):
        if coef[j] != 0:
            viol = max(viol, abs(g[j] - l1 * np.sign(coef[j])))
        else:
            viol = max(viol, max(0.0, abs(g[j]) - l1))
    if intercept != 0.0:
        viol = max(viol, abs(r.mean()))
    return viol


def test_lasso_kkt_optimal(lineitem, xy):
    X, y = xy
    alpha = 0.5
    model = Lasso(alpha=alpha, max_iter=10000, tol=1e-12).fit(lineitem, FEATURES, TARGET)
    scale = max(1.0, np.abs(X.T @ y / len(y)).max())
    assert _lasso_kkt_violation(X, y, model.coef_, model.intercept_, alpha) < 1e-6 * scale


def test_elastic_net_kkt_optimal(lineitem, xy):
    X, y = xy
    model = ElasticNet(alpha=0.5, l1_ratio=0.5, max_iter=10000, tol=1e-12).fit(
        lineitem, FEATURES, TARGET
    )
    scale = max(1.0, np.abs(X.T @ y / len(y)).max())
    assert (
        _lasso_kkt_violation(X, y, model.coef_, model.intercept_, 0.5, l1_ratio=0.5)
        < 1e-6 * scale
    )


def test_elastic_net_zero_l1_matches_ridge_path(lineitem, xy):
    """ElasticNet(l1_ratio=0) objective = (1/2n)‖r‖² + (α/2)‖β‖² → closed form."""
    X, y = xy
    alpha = 1.0
    model = ElasticNet(alpha=alpha, l1_ratio=0.0, max_iter=20000, tol=1e-14).fit(
        lineitem, FEATURES, TARGET
    )
    n = len(y)
    Xc = X - X.mean(axis=0)
    yc = y - y.mean()
    beta = np.linalg.solve(Xc.T @ Xc + n * alpha * np.eye(X.shape[1]), Xc.T @ yc)
    np.testing.assert_allclose(model.coef_, beta, rtol=1e-5, atol=1e-8)


def test_logistic_binary(lineitem):
    df = lineitem.withColumn(
        "is_high", (lineitem["l_extendedprice"] > 30000).cast("int")
    )
    cols = ["l_quantity", "l_discount"]
    model = LogisticRegression(C=1.0).fit(df, cols, "is_high")
    assert model.coef_.shape == (1, 2)
    # KKT: gradient of sum(logloss) + (1/2C)||w||² should vanish at optimum
    pdf = df.select(*cols, "is_high").toPandas()
    X = pdf[cols].to_numpy()
    y = pdf["is_high"].to_numpy()
    w = model.coef_[0]
    b = model.intercept_[0]
    z = X @ w + b
    p = 1 / (1 + np.exp(-z))
    grad_w = X.T @ (p - y) + w / model.C
    grad_b = (p - y).sum()
    scale = len(y)
    assert np.abs(grad_w).max() / scale < 1e-4
    assert abs(grad_b) / scale < 1e-4
    pred = model.predict(df, cols)
    acc = pred.selectExpr("avg(cast(prediction = is_high as double))").first()[0]
    assert acc > 0.65


@pytest.mark.parametrize("label", [
    "CAST(l_extendedprice > 30000 AS DOUBLE)",
    "CAST(CASE WHEN l_discount > 0.06 THEN 2 WHEN l_quantity > 25 THEN 1 ELSE 0 END AS DOUBLE)",
])
def test_logistic_predict_matches_mllib(lineitem, label):
    """predict's parsed expression gives MLlib's labels: binary at the
    0.5 threshold, multinomial by the argmax of the margins."""
    from pyspark.ml.classification import LogisticRegression as MLLogReg
    from pyspark.ml.feature import VectorAssembler

    cols = ["l_quantity", "l_discount"]
    df = lineitem.selectExpr("l_orderkey", "l_linenumber", *cols, f"{label} AS lbl")
    model = LogisticRegression(C=1.0, max_iter=50).fit(df, cols, "lbl")
    n = df.count()
    assembled = VectorAssembler(inputCols=cols, outputCol="f").transform(df)
    ml = MLLogReg(featuresCol="f", labelCol="lbl", regParam=1.0 / n, maxIter=50,
                  standardization=False).fit(assembled)
    key = ["l_orderkey", "l_linenumber"]
    ours = model.predict(df, cols).select(*key, "prediction").orderBy(*key).collect()
    ref = ml.transform(assembled).select(*key, "prediction").orderBy(*key).collect()
    assert ours == ref


def test_get_set_params():
    m = Ridge(alpha=2.0)
    assert m.get_params()["alpha"] == 2.0
    m.set_params(alpha=3.0)
    assert m.alpha == 3.0
    with pytest.raises(ValueError):
        m.set_params(bogus=1)
