"""Harness entries: regularized linear family with exact closed-form oracles.

Single-feature Ridge / Lasso / ElasticNet have closed-form optima that DuckDB
can compute with ``regr_sxx`` / ``regr_sxy``, making the CD solver
(cpp/src/solver/cd.h:80) and ridgeFit (cpp/src/glm/ridge.h:144) D-class
checkable end-to-end — on one feature, cyclic coordinate descent converges in
one pass to exactly the soft-threshold formula the SQL evaluates:

  ridge      b = Sxy / (Sxx + α)                       (α on the Gram, cuML scale)
  lasso      b = sign(Sxy)·max(|Sxy| − n·α, 0) / Sxx    (objective (1/2n)‖·‖² + α|b|)
  elasticnet b = sign(Sxy)·max(|Sxy| − n·α·r, 0) / (Sxx + n·α·(1−r))

with intercept = ȳ − b·x̄ in all three (intercept never penalized —
glm/preprocess.h pre-centering semantics).

LogisticRegression (qn.h:59 L-BFGS/OWL-QN) is A-class: its query reports
training accuracy on a learnable rule, rows-only checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuml_spark.linear_model import ElasticNet, Lasso, LogisticRegression, Ridge
from cuml_spark.core.session import read_table

_RIDGE_ALPHA = 1.0e6
_LASSO_ALPHA = 100.0
_EN_ALPHA = 100.0
_EN_L1_RATIO = 0.4


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, f"{sf_dir}/{name}.parquet")


def _coef_df(spark: SparkSession, model) -> DataFrame:
    return spark.createDataFrame(
        [(round(float(model.coef_[0]), 5), round(float(model.intercept_), 5))],
        "coef double, intercept double",
    )


def q_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    m = Ridge(alpha=_RIDGE_ALPHA).fit(li, ["l_quantity"], "l_extendedprice")
    return _coef_df(spark, m)


_SQL_RIDGE_CLOSED_FORM = f"""
WITH s AS (
  SELECT regr_sxy(l_extendedprice, l_quantity) AS sxy,
         regr_sxx(l_extendedprice, l_quantity) AS sxx,
         avg(l_quantity) AS xbar, avg(l_extendedprice) AS ybar
  FROM lineitem
)
SELECT round(sxy / (sxx + {_RIDGE_ALPHA}), 5) AS coef,
       round(ybar - sxy / (sxx + {_RIDGE_ALPHA}) * xbar, 5) AS intercept
FROM s
"""


def q_lasso_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    m = Lasso(alpha=_LASSO_ALPHA).fit(li, ["l_quantity"], "l_extendedprice")
    return _coef_df(spark, m)


_SQL_LASSO_CLOSED_FORM = f"""
WITH s AS (
  SELECT regr_sxy(l_extendedprice, l_quantity) AS sxy,
         regr_sxx(l_extendedprice, l_quantity) AS sxx,
         count(*)::DOUBLE AS n,
         avg(l_quantity) AS xbar, avg(l_extendedprice) AS ybar
  FROM lineitem
), b AS (
  SELECT sign(sxy) * greatest(abs(sxy) - n * {_LASSO_ALPHA}, 0) / sxx AS coef,
         xbar, ybar
  FROM s
)
SELECT round(coef, 5) AS coef, round(ybar - coef * xbar, 5) AS intercept
FROM b
"""


def q_elasticnet_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    m = ElasticNet(alpha=_EN_ALPHA, l1_ratio=_EN_L1_RATIO).fit(
        li, ["l_quantity"], "l_extendedprice"
    )
    return _coef_df(spark, m)


_SQL_ELASTICNET_CLOSED_FORM = f"""
WITH s AS (
  SELECT regr_sxy(l_extendedprice, l_quantity) AS sxy,
         regr_sxx(l_extendedprice, l_quantity) AS sxx,
         count(*)::DOUBLE AS n,
         avg(l_quantity) AS xbar, avg(l_extendedprice) AS ybar
  FROM lineitem
), b AS (
  SELECT sign(sxy) * greatest(abs(sxy) - n * {_EN_ALPHA} * {_EN_L1_RATIO}, 0)
           / (sxx + n * {_EN_ALPHA} * (1.0 - {_EN_L1_RATIO})) AS coef,
         xbar, ybar
  FROM s
)
SELECT round(coef, 5) AS coef, round(ybar - coef * xbar, 5) AS intercept
FROM b
"""


def q_logreg_rule_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (OWL-QN path, penalty='l1') learning a
    discount-threshold rule.  A-class fit; D-class projection: exact scored
    count + accuracy floor (1.00 observed — the rule is separable; any
    solver regression drops it)."""
    from cuml_spark.core.session import ensure_parallelism

    # 16 partitions for the scan and the scoring pass over every row; the
    # fit right-sizes its own cached sample by bytes (core.session.right_size)
    li = ensure_parallelism(_t(spark, sf_dir, "lineitem"), min_parts=16).withColumn(
        "lbl", (F.col("l_discount") > 0.05).cast("int")
    )
    # fit on a deterministic 1/16 hash sample (rule is separable at any
    # sample size — acc stays 1.0, measured at sf0.01 and sf0.1); scoring
    # stays over every row
    train = li.filter(F.xxhash64("l_orderkey", "l_linenumber", F.lit(3)) % 16 == 0)
    # max_iter=16: the rule is separable, so OWL-QN's objective keeps
    # creeping (margin growth) long after the decision boundary is fixed —
    # every extra iteration is one more treeAggregate job for zero accuracy.
    # Measured r13 at sf0.001, sf0.01 AND sf0.1: acc = 1.0 from 10
    # iterations up (10/12/14/16 all 1.0); 16 keeps a 60% margin over the
    # measured floor (the r12 epoch-minimization precedent, mbsgd 8 vs 12)
    m = LogisticRegression(penalty="l1", C=10.0, max_iter=16).fit(
        train, ["l_discount", "l_quantity"], "lbl"
    )
    pred = m.predict(li, ["l_discount", "l_quantity"])
    row = pred.agg(
        F.count("*").alias("n"),
        F.avg((F.col("prediction") == F.col("lbl")).cast("double")).alias("acc"),
    ).first()
    return spark.createDataFrame(
        [(int(row["n"]), bool(row["acc"] >= 0.95))],
        "n_scored long, acc_ge_095 boolean",
    )


_SQL_LOGREG_RULE_ACCURACY = (
    "SELECT count(*) AS n_scored, true AS acc_ge_095 FROM lineitem"
)


QUERIES_LINEAR = {
    "ridge_closed_form": q_ridge_closed_form,
    "lasso_closed_form": q_lasso_closed_form,
    "elasticnet_closed_form": q_elasticnet_closed_form,
    "logreg_rule_accuracy": q_logreg_rule_accuracy,
}

ORACLES_LINEAR = {
    "ridge_closed_form": _SQL_RIDGE_CLOSED_FORM,
    "lasso_closed_form": _SQL_LASSO_CLOSED_FORM,
    "elasticnet_closed_form": _SQL_ELASTICNET_CLOSED_FORM,
    "logreg_rule_accuracy": _SQL_LOGREG_RULE_ACCURACY,
}
