"""Harness queries: decomposition / clustering / RF / preprocessing.

PCA and TSVD on 2 features are exactly SQL-checkable: the 2×2 (co)variance
matrix eigenvalues have the closed form λ = m ± sqrt(m² − det), so the oracle
computes them with plain aggregates — a full-fidelity D-class check of the
distributed moment pass + driver eig.  KMeans/RF are S-class (seeded
stochastic): they get rows-only entries (the driver records the weaker check;
quality is asserted in pytest instead, mirroring the reference's ARI/accuracy
tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuml_spark.cluster import KMeans
from cuml_spark.decomposition import PCA, TruncatedSVD
from cuml_spark.ensemble import RandomForestClassifier
from cuml_spark.preprocessing import StandardScaler, train_test_split
from cuml_spark.core.session import read_table

PCA_COLS = ["l_quantity", "l_tax"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, f"{sf_dir}/{name}.parquet")


def _ml_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature frame of the five lineitem model queries (rf_accuracy,
    sgd_hinge_accuracy, rf_regression, rf_mae_regression, mbsgd_fit): one
    scan carrying every derived column they need, materialized for the
    calling query alone — its split, fit passes and scoring read the
    blocks instead of re-scanning lineitem, and no later query's plan can
    match them."""
    from cuml_spark.core.session import ensure_parallelism

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        "l_quantity", "l_discount", "l_tax",
        (F.col("l_extendedprice") > 30000).cast("double").alias("is_high"),
        (F.col("l_quantity") * (1 + F.col("l_tax"))
         + 100 * F.col("l_discount")).alias("y"),
    )
    # single-row-group local files scan as 1 split; spread the working
    # set before the iterative fits hit it.  16 partitions, not full core
    # count: each fit iteration is one job over this frame, so per-task
    # scheduling overhead × iterations dominates beyond ~16 (measured: RF
    # fit 4.1s@4p, 1.7s@8p, 2.0s@16p, 1.8s@32p; MAE forest 5.4s@8p,
    # 6.9s@32p — fits plateau at 8-16 while UDF-scoring paths keep
    # scaling, which is why score paths use the full default)
    return ensure_parallelism(li, min_parts=16).localCheckpoint(eager=False)


def q_pca_variance_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pca = PCA(n_components=2).fit(li, PCA_COLS)
    rows = [
        (i, round(float(pca.explained_variance_[i]), 6),
         round(float(pca.explained_variance_ratio_[i]), 6),
         round(float(pca.singular_values_[i]), 4))
        for i in range(2)
    ]
    return spark.createDataFrame(
        rows, "component int, explained_variance double, explained_variance_ratio double, singular_value double"
    )


_SQL_PCA_VARIANCE_2D = f"""
WITH s AS (
  SELECT covar_samp({PCA_COLS[0]}, {PCA_COLS[0]}) AS a,
         covar_samp({PCA_COLS[0]}, {PCA_COLS[1]}) AS b,
         covar_samp({PCA_COLS[1]}, {PCA_COLS[1]}) AS c,
         count(*)::DOUBLE AS n
  FROM lineitem
), e AS (
  SELECT (a + c) / 2 + sqrt(((a - c) / 2) ^ 2 + b ^ 2) AS l1,
         (a + c) / 2 - sqrt(((a - c) / 2) ^ 2 + b ^ 2) AS l2,
         a + c AS tot, n
  FROM s
)
SELECT 0 AS component, round(l1, 6) AS explained_variance,
       round(l1 / tot, 6) AS explained_variance_ratio,
       round(sqrt(l1 * (n - 1)), 4) AS singular_value FROM e
UNION ALL
SELECT 1, round(l2, 6), round(l2 / tot, 6), round(sqrt(l2 * (n - 1)), 4) FROM e
"""


def q_tsvd_singular_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    tsvd = TruncatedSVD(n_components=2).fit(li, PCA_COLS)
    rows = [(i, round(float(tsvd.singular_values_[i]), 4)) for i in range(2)]
    return spark.createDataFrame(rows, "component int, singular_value double")


_SQL_TSVD_SINGULAR_2D = f"""
WITH s AS (
  SELECT sum({PCA_COLS[0]} * {PCA_COLS[0]}) AS a,
         sum({PCA_COLS[0]} * {PCA_COLS[1]}) AS b,
         sum({PCA_COLS[1]} * {PCA_COLS[1]}) AS c
  FROM lineitem
), e AS (
  SELECT (a + c) / 2 + sqrt(((a - c) / 2) ^ 2 + b ^ 2) AS l1,
         (a + c) / 2 - sqrt(((a - c) / 2) ^ 2 + b ^ 2) AS l2
  FROM s
)
SELECT 0 AS component, round(sqrt(l1), 4) AS singular_value FROM e
UNION ALL
SELECT 1, round(sqrt(greatest(l2, 0)), 4) FROM e
"""


def q_split_exact_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    train, test = train_test_split(li, train_size=0.8, seed=7, exact=True)
    # the two split counts are independent single-job chains — overlap
    # them (guide §2.6; results identical, r12)
    from cuml_spark.core.session import run_overlapped

    n_test, n_train = run_overlapped(test.count, train.count)
    return spark.createDataFrame(
        [("test", n_test), ("train", n_train)], "split string, n long"
    )


_SQL_SPLIT_EXACT_SIZES = """
SELECT 'train' AS split, CAST(floor(0.8 * count(*)) AS BIGINT) AS n FROM lineitem
UNION ALL
SELECT 'test', count(*) - CAST(floor(0.8 * count(*)) AS BIGINT) FROM lineitem
"""


# -- D-class via deterministic Lloyd replay / derived invariants ------------

_KM_ITERS = 5


def q_kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans (explicit-init Lloyd, kmeans.pyx:114 ndarray init) on scaled
    (acctbal, total spend) per customer.  Init centers are the feature rows of
    4 deterministically chosen custkeys (quartile positions of the key range),
    and exactly ``_KM_ITERS`` Lloyd iterations run (tol=0) — so the final
    assignment, hence each cluster's size, is a pure function of the data that
    the DuckDB oracle replays with {_KM_ITERS} unrolled assign/update CTEs."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("spend"))
    feats = cust.join(spend, cust.c_custkey == spend.o_custkey, "inner").select(
        "c_custkey", "c_acctbal", "spend"
    )
    scaled = StandardScaler().fit_transform(feats, ["c_acctbal", "spend"]).cache()
    mm = scaled.agg(
        F.min("c_custkey").alias("mn"), F.max("c_custkey").alias("mx")
    ).first()
    targets = [mm["mn"] + ((mm["mx"] - mm["mn"]) * i) // 4 for i in range(4)]
    # NOTE (r13): merging the two probes below into one min_by(struct)
    # aggregate (keys + feature fetch in a single job) was A/B'd and came
    # out ~0.1–0.4 s SLOWER in both interleaved pairs (the struct-min_by
    # aggregate codegen costs more than the 0.05 s collect it saves over
    # the cached 15 k-row frame) — kept as two jobs on that evidence.
    keys = scaled.agg(
        *[
            F.min(F.when(F.col("c_custkey") >= t, F.col("c_custkey"))).alias(f"k{i}")
            for i, t in enumerate(targets)
        ]
    ).first()
    key_list = [keys[f"k{i}"] for i in range(4)]
    crows = {
        r["c_custkey"]: (r["c_acctbal"], r["spend"])
        for r in scaled.filter(F.col("c_custkey").isin(key_list)).collect()
    }
    centers = [crows[k] for k in key_list]
    km = KMeans(n_clusters=4, max_iter=_KM_ITERS, tol=0.0, init_centers=centers)
    labeled = km.fit_predict(scaled, ["c_acctbal", "spend"])
    return (
        labeled.groupBy("label").agg(F.count("*").alias("n_points"))
        .select(F.col("label").cast("int").alias("cluster"), "n_points")
    )


def _sql_kmeans_cluster_sizes() -> str:
    """Unrolled Lloyd: assignment = row_number over (dist, cid) — the same
    lowest-id tie-break as KMeans.predict's strict `<` scan."""
    steps = []
    for n in range(1, _KM_ITERS + 1):
        steps.append(f"""
a{n} AS (
  SELECT pid, x1, x2, cid FROM (
    SELECT f.pid, f.x1, f.x2, c.cid,
           row_number() OVER (
             PARTITION BY f.pid
             ORDER BY (f.x1-c.x1)*(f.x1-c.x1) + (f.x2-c.x2)*(f.x2-c.x2), c.cid
           ) AS rn
    FROM feats f CROSS JOIN c{n - 1} c) WHERE rn = 1
),
c{n} AS (
  SELECT c.cid, coalesce(m.x1, c.x1) AS x1, coalesce(m.x2, c.x2) AS x2
  FROM c{n - 1} c LEFT JOIN (
    SELECT cid, avg(x1) AS x1, avg(x2) AS x2 FROM a{n} GROUP BY cid
  ) m USING (cid)
)""")
    return f"""
WITH feats0 AS (
  SELECT c.c_custkey AS pid, c.c_acctbal AS a, s.spend AS b
  FROM customer c
  JOIN (SELECT o_custkey, sum(o_totalprice) AS spend FROM orders GROUP BY 1) s
    ON c.c_custkey = s.o_custkey
), st AS (
  SELECT avg(a) AS ma, stddev_pop(a) AS sa, avg(b) AS mb, stddev_pop(b) AS sb
  FROM feats0
), feats AS (
  SELECT pid, (a - ma) / sa AS x1, (b - mb) / sb AS x2 FROM feats0, st
), mm AS (
  SELECT min(pid) AS mn, max(pid) AS mx FROM feats
), tgt AS (
  SELECT i, mn + ((mx - mn) * i) // 4 AS t
  FROM mm, (SELECT unnest([0, 1, 2, 3]) AS i)
), ck AS (
  SELECT i AS cid, (SELECT min(pid) FROM feats WHERE pid >= t) AS key FROM tgt
), c0 AS (
  SELECT ck.cid, f.x1, f.x2 FROM ck JOIN feats f ON f.pid = ck.key
),{",".join(steps)},
af AS (
  -- fit_predict assigns once more with the post-loop centers
  SELECT pid, cid FROM (
    SELECT f.pid, c.cid,
           row_number() OVER (
             PARTITION BY f.pid
             ORDER BY (f.x1-c.x1)*(f.x1-c.x1) + (f.x2-c.x2)*(f.x2-c.x2), c.cid
           ) AS rn
    FROM feats f CROSS JOIN c{_KM_ITERS} c) WHERE rn = 1
)
SELECT cid AS cluster, count(*) AS n_points FROM af GROUP BY cid
"""


def q_rf_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RF classifier on lineitem (S-class: seeded stochastic).  D-class
    projection: the scored row count is exact and train accuracy clears a
    fixed floor (0.72 observed; a broken forest regresses to ~0.5)."""
    li = _ml_base(spark, sf_dir)
    # fit on a deterministic 1/4 hash sample; scoring stays over every row
    # (the D-class projection — count + floor — is unchanged by sample-fit)
    train = li.filter(F.xxhash64("l_orderkey", "l_linenumber", F.lit(7)) % 4 == 0)
    # 8 trees / depth 7: accuracy saturates at 0.72 on these three weak
    # features from 6 trees up (measured at sf0.01 and sf0.1) — the extra
    # capacity bought nothing but fit time
    # the (fit → scoring) chain and the row count are independent — overlap
    # them (guide §2.6; same shape as sgd_hinge_accuracy, r13)
    from cuml_spark.core.session import run_overlapped

    def _fit_score() -> float:
        rf = RandomForestClassifier(n_estimators=8, max_depth=7, n_bins=16,
                                    random_state=7)
        rf.fit(train, ["l_quantity", "l_discount", "l_tax"], "is_high")
        return rf.score(li, ["l_quantity", "l_discount", "l_tax"], "is_high")

    acc, n = run_overlapped(_fit_score, li.count)
    return spark.createDataFrame(
        [(int(n), bool(acc >= 0.65))], "n_scored long, acc_ge_065 boolean"
    )


_SQL_RF_ACCURACY = "SELECT count(*) AS n_scored, true AS acc_ge_065 FROM lineitem"


QUERIES_ML = {
    "pca_variance_2d": q_pca_variance_2d,
    "tsvd_singular_2d": q_tsvd_singular_2d,
    "split_exact_sizes": q_split_exact_sizes,
    "kmeans_cluster_sizes": q_kmeans_cluster_sizes,
    "rf_accuracy": q_rf_accuracy,
}

ORACLES_ML = {
    "pca_variance_2d": _SQL_PCA_VARIANCE_2D,
    "tsvd_singular_2d": _SQL_TSVD_SINGULAR_2D,
    "split_exact_sizes": _SQL_SPLIT_EXACT_SIZES,
    "kmeans_cluster_sizes": _sql_kmeans_cluster_sizes(),
    "rf_accuracy": _SQL_RF_ACCURACY,
}


def q_sgd_hinge_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-SVM-objective SGD on lineitem (A-class: each epoch is one
    map-side-combined gradient aggregation with weights as literals).
    D-class projection: exact scored-row count + fixed accuracy floor
    (0.72 observed; a broken gradient collapses to ~0.5)."""
    from cuml_spark.solvers import SGD

    li = _ml_base(spark, sf_dir)
    cols = ["l_quantity", "l_discount", "l_tax"]
    train = li.filter(F.xxhash64("l_orderkey", "l_linenumber", F.lit(7)) % 4 == 0)
    # the (fit → scoring) chain and the row count are independent — overlap
    # them (guide §2.6; results identical, r12)
    from cuml_spark.core.session import run_overlapped

    def _fit_score() -> float:
        sgd = SGD(loss="hinge", epochs=12, eta0=0.2, penalty="l2",
                  alpha=1e-4).fit(train, cols, "is_high")
        return (
            sgd.predictClass(li)
            .selectExpr("avg(cast(prediction = is_high as double)) as acc")
            .first()["acc"]
        )

    acc, n = run_overlapped(_fit_score, li.count)
    return spark.createDataFrame(
        [(int(n), bool(acc >= 0.65))], "n_scored long, acc_ge_065 boolean"
    )


QUERIES_ML["sgd_hinge_accuracy"] = q_sgd_hinge_accuracy
ORACLES_ML["sgd_hinge_accuracy"] = _SQL_RF_ACCURACY


def q_rf_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomForestRegressor (randomforestregressor.pyx:25, variance
    criterion) on lineitem: extendedprice from quantity/discount/tax.
    The synthetic testdata has no quantity↔price correlation, so the
    target is a deterministic function of the features (y = q·(1+tax) +
    100·disc — learnable by construction; observed R²≈0.91).  S-class
    fit; D-class projection: exact scored-row count + R² floor."""
    from cuml_spark.ensemble import RandomForestRegressor

    li = _ml_base(spark, sf_dir)
    cols = ["l_quantity", "l_discount", "l_tax"]
    train = li.filter(F.xxhash64("l_orderkey", "l_linenumber", F.lit(7)) % 4 == 0)
    # fit→score chain ∥ row count (guide §2.6, r13)
    from cuml_spark.core.session import run_overlapped

    def _fit_score() -> float:
        rf = RandomForestRegressor(n_estimators=10, max_depth=8, n_bins=16,
                                   random_state=7)
        rf.fit(train, cols, "y")
        return rf.score(li, cols, "y")

    r2, n = run_overlapped(_fit_score, li.count)
    return spark.createDataFrame(
        [(int(n), bool(r2 >= 0.5))], "n_scored long, r2_ge_05 boolean"
    )


_SQL_RF_REGRESSION = "SELECT count(*) AS n_scored, true AS r2_ge_05 FROM lineitem"


def q_mbsgd_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MBSGDClassifier/MBSGDRegressor (mbsgd_classifier.pyx:25,
    mbsgd_regressor.pyx:25): seeded Bernoulli mini-batches over the SGD
    solver.  D-class projection: exact row count + hinge accuracy floor +
    regressor R² floor on an exactly-linear target (y = 3·qn + 0.1,
    observed R²≈0.84; broken sampling or gradients collapse both)."""
    from cuml_spark.linear_model.mbsgd import MBSGDClassifier, MBSGDRegressor
    from cuml_spark.metrics.regression import r2_score

    from cuml_spark.core.session import run_overlapped

    li = _ml_base(spark, sf_dir)
    cols = ["l_quantity", "l_discount", "l_tax"]
    train = li.filter(F.xxhash64("l_orderkey", "l_linenumber", F.lit(7)) % 4 == 0)

    # the classifier branch (8 per-step hinge jobs + one scoring agg) and
    # the regressor branch (fused squared-loss fit + R² pass) are fully
    # independent chains of small jobs over the checkpointed base — run
    # them overlapped so one branch's jobs back-fill while the other waits
    # on its collect (guide §2.6; r12).  Each branch computes exactly what
    # it computed serially.
    def _clf_branch() -> float:
        # 8 epochs: accuracy is bit-identical to 12 at both SFs
        # (0.7204/0.7208 measured) — extra epochs bought only scheduling
        clf = MBSGDClassifier(loss="hinge", epochs=8, eta0=0.2, alpha=1e-4,
                              batch_fraction=0.5, seed=11).fit(
            train, cols, "is_high")
        return (
            clf.predict(li)
            .selectExpr("avg(cast(prediction = is_high as double)) as acc")
            .first()["acc"]
        )

    def _reg_branch() -> float:
        dfr = li.withColumn("qn", F.col("l_quantity") / 50.0).withColumn(
            "yl", 3 * F.col("qn") + 0.1
        )
        dfr_train = dfr.filter(
            F.xxhash64("l_orderkey", "l_linenumber", F.lit(11)) % 4 == 0
        )
        reg = MBSGDRegressor(epochs=20, eta0=0.5, alpha=1e-4,
                             batch_fraction=0.5, seed=11).fit(
            dfr_train, ["qn"], "yl")
        return r2_score(reg.predict(dfr), "yl", "prediction")

    acc, r2, n = run_overlapped(_clf_branch, _reg_branch, li.count)
    return spark.createDataFrame(
        [(int(n), bool(acc >= 0.65), bool(r2 >= 0.5))],
        "n_scored long, acc_ge_065 boolean, r2_ge_05 boolean",
    )


_SQL_MBSGD_FIT = (
    "SELECT count(*) AS n_scored, true AS acc_ge_065, true AS r2_ge_05 "
    "FROM lineitem"
)


def q_rf_mae_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomForestRegressor with split_criterion=3 — the reference's MAE
    criterion (randomforestregressor.pyx:291), served by the custom
    distributed histogram-MAE forest (mae_forest.py; MLlib has variance
    only).  Same deterministic target as rf_regression; D-class projection:
    exact scored-row count + R² floor (observed ≈0.77)."""
    from cuml_spark.ensemble import RandomForestRegressor

    li = _ml_base(spark, sf_dir)
    cols = ["l_quantity", "l_discount", "l_tax"]
    train = li.filter(F.xxhash64("l_orderkey", "l_linenumber", F.lit(7)) % 8 == 0)
    # fit→score chain ∥ row count (guide §2.6, r13): the MAE fit is ~7
    # sequential small jobs (edges, 4 level histograms, leaves) — the
    # independent count back-fills its stage tails
    from cuml_spark.core.session import run_overlapped

    def _fit_score() -> float:
        rf = RandomForestRegressor(split_criterion=3, n_estimators=4,
                                   max_depth=4, n_bins=16, random_state=7)
        rf.fit(train, cols, "y")
        return rf.score(li, cols, "y")

    r2, n = run_overlapped(_fit_score, li.count)
    return spark.createDataFrame(
        [(int(n), bool(r2 >= 0.5))], "n_scored long, r2_ge_05 boolean"
    )


QUERIES_ML["rf_regression"] = q_rf_regression
ORACLES_ML["rf_regression"] = _SQL_RF_REGRESSION
QUERIES_ML["rf_mae_regression"] = q_rf_mae_regression
ORACLES_ML["rf_mae_regression"] = _SQL_RF_REGRESSION
QUERIES_ML["mbsgd_fit"] = q_mbsgd_fit
ORACLES_ML["mbsgd_fit"] = _SQL_MBSGD_FIT
