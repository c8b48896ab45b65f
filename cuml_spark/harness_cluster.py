"""Harness queries: DBSCAN (grid-pruned, distributed).

``dbscan_roles`` is D-class: the core/border/noise classification is a pure
function of the eps-graph and is replayed in DuckDB with self-joins.
``dbscan_cluster_sizes`` reports the CORE-point count of each cluster —
clusters are exactly the connected components of the core-core eps-graph
(csr.h:853 weak_cc semantics), so the multiset of core sizes is deterministic
(no border tie-breaking involved) and the DuckDB oracle replays it with a
recursive-CTE transitive closure.  Each query runs its own fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuml_spark.cluster import DBSCAN
from cuml_spark.core.session import read_table

_EPS, _MIN_SAMPLES = 0.35, 5


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, f"{sf_dir}/customer.parquet")
    return cust.select(
        F.col("c_custkey").alias("pid"),
        (F.col("c_acctbal") / 1000.0).alias("x1"),
        ((F.col("c_custkey") % 89) / 8.9).alias("x2"),
    )


def _fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DBSCAN fit both queries project: labels and roles."""
    return DBSCAN(eps=_EPS, min_samples=_MIN_SAMPLES).fit_predict(
        _points(spark, sf_dir), ["x1", "x2"], id_col="pid", include_role=True
    )


def q_dbscan_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fitted(spark, sf_dir).select(F.col("pid").alias("c_custkey"), "role")


_SQL_DBSCAN_ROLES = f"""
WITH pts AS (
  SELECT c_custkey AS pid, c_acctbal/1000.0 AS x1, (c_custkey % 89)/8.9 AS x2
  FROM customer
), deg AS (
  SELECT a.pid, count(*) + 1 AS deg
  FROM pts a JOIN pts b ON a.pid != b.pid
   AND (a.x1-b.x1)*(a.x1-b.x1) + (a.x2-b.x2)*(a.x2-b.x2) <= {_EPS * _EPS}
  GROUP BY a.pid
), core AS (
  SELECT p.pid, p.x1, p.x2, coalesce(d.deg, 1) >= {_MIN_SAMPLES} AS is_core
  FROM pts p LEFT JOIN deg d USING (pid)
)
SELECT p.pid AS c_custkey,
       CASE WHEN p.is_core THEN 'core'
            WHEN EXISTS (
              SELECT 1 FROM core b
              WHERE b.is_core AND b.pid != p.pid
                AND (p.x1-b.x1)*(p.x1-b.x1) + (p.x2-b.x2)*(p.x2-b.x2)
                    <= {_EPS * _EPS}
            ) THEN 'border'
            ELSE 'noise' END AS role
FROM core p
"""


def q_dbscan_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core-point count per cluster, ranked by size desc — the deterministic
    projection of the label partition (border assignment is tie-broken, core
    membership is not)."""
    from pyspark.sql import Window

    out = _fitted(spark, sf_dir)
    sizes = (
        out.filter(F.col("role") == "core")
        .groupBy("label")
        .agg(F.count("*").alias("n_core"))
    )
    w = Window.orderBy(F.col("n_core").desc(), F.col("label"))
    return sizes.select(
        F.row_number().over(w).alias("size_rank"), "n_core"
    )


_SQL_DBSCAN_CLUSTER_SIZES = f"""
WITH RECURSIVE pts AS (
  SELECT c_custkey AS pid, c_acctbal/1000.0 AS x1, (c_custkey % 89)/8.9 AS x2
  FROM customer
), deg AS (
  SELECT a.pid, count(*) + 1 AS deg
  FROM pts a JOIN pts b ON a.pid != b.pid
   AND (a.x1-b.x1)*(a.x1-b.x1) + (a.x2-b.x2)*(a.x2-b.x2) <= {_EPS * _EPS}
  GROUP BY a.pid
), core AS (
  SELECT p.pid, p.x1, p.x2 FROM pts p JOIN deg d USING (pid)
  WHERE d.deg >= {_MIN_SAMPLES}
), edges AS (
  SELECT a.pid AS a, b.pid AS b
  FROM core a JOIN core b ON a.pid != b.pid
   AND (a.x1-b.x1)*(a.x1-b.x1) + (a.x2-b.x2)*(a.x2-b.x2) <= {_EPS * _EPS}
), reach AS (
  SELECT pid AS src, pid AS dst FROM core
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
), comp AS (
  SELECT src, min(dst) AS root FROM reach GROUP BY src
), sizes AS (
  SELECT root, count(*) AS n_core FROM comp GROUP BY root
)
SELECT row_number() OVER (ORDER BY n_core DESC, root) AS size_rank, n_core
FROM sizes
"""


def q_spectral_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral clustering (spectral.hpp:40 fit_clusters) on customers split
    into 3 constructed, well-separated groups (offset 25·(custkey%3) ≫ the
    feature spread).  D-class projection: each constructed group must map to
    exactly ONE predicted cluster and the three clusters must be distinct —
    a pure function of the data for any working spectral pipeline.  At
    sf0.01 this runs the exact KNN-graph path; at sf0.1 the Nyström
    landmark path (max_exact=2000)."""
    from cuml_spark.cluster import SpectralClustering

    cust = read_table(spark, f"{sf_dir}/customer.parquet")
    pts = cust.select(
        F.col("c_custkey").alias("pid"),
        (F.col("c_acctbal") / 1000.0 + 25.0 * (F.col("c_custkey") % 3)).alias("x1"),
        ((F.col("c_custkey") % 89) / 8.9).alias("x2"),
        (F.col("c_custkey") % 3).alias("grp"),
    )
    sc = SpectralClustering(
        n_clusters=3, n_neighbors=8, max_exact=2000, n_landmarks=500,
        random_state=5,
    )
    out = sc.fit_predict(pts, ["x1", "x2"], "pid")
    joined = pts.join(out, "pid").cache()
    # labels_total rides the final plan as a broadcast one-row aggregate
    # instead of a separate eager count job (r13, §2.6 job-floor): the
    # expression is EXACTLY the old `distinct().count()` (count(*) over
    # the distinct label set, so a hypothetical null label still counts),
    # collected in the same job as the group aggregate.
    labels_total = (
        joined.select("label").distinct()
        .agg(F.count("*").cast("int").alias("labels_total"))
    )
    return (
        joined.groupBy("grp")
        .agg(
            F.count("*").alias("n_members"),
            (F.countDistinct("label") == 1).alias("single_label"),
        )
        .crossJoin(F.broadcast(labels_total))
        .select(F.col("grp").cast("int").alias("grp"), "n_members",
                "single_label", "labels_total")
    )


_SQL_SPECTRAL_BLOBS = """
SELECT CAST(c_custkey % 3 AS INT) AS grp, count(*) AS n_members,
       true AS single_label, 3 AS labels_total
FROM customer GROUP BY 1
"""


QUERIES_CLUSTER = {
    "dbscan_roles": q_dbscan_roles,
    "dbscan_cluster_sizes": q_dbscan_cluster_sizes,
    "spectral_blobs": q_spectral_blobs,
}

ORACLES_CLUSTER = {
    "dbscan_roles": _SQL_DBSCAN_ROLES,
    "dbscan_cluster_sizes": _SQL_DBSCAN_CLUSTER_SIZES,
    "spectral_blobs": _SQL_SPECTRAL_BLOBS,
}
