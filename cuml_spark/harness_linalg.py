"""Harness queries: linalg prims (QR / randomized SVD / COO symmetrize) +
ANN recall + n-gram Jaccard verification.

``qr_factor`` and ``coo_symmetrize_check`` are exact D-class replays (a 3×3
Cholesky has a closed form DuckDB can evaluate; symmetrize is a full-outer
join).  ``rsvd_agreement`` and ``ann_lsh_recall`` are D-class projections of
randomized algorithms (agreement/recall gates).  ``ngram_jaccard`` replays
character shingling with a lateral generate_series.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from cuml_spark.core.session import read_table

_QR_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, f"{sf_dir}/{name}.parquet")


def q_qr_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tall-skinny QR (qr.h:40): emit the R factor column-normalized
    (R[i,j]/√G[j,j] ∈ [−1,1] — scale-free, so fp reduction-order noise stays
    below the rounding) plus a Q-orthonormality boolean computed from one
    Gram pass over the Q columns."""
    from cuml_spark.ops.linalg import gram_matrix, tall_skinny_qr

    li = _t(spark, sf_dir, "lineitem")
    q, r = tall_skinny_qr(li, _QR_COLS)
    d = len(_QR_COLS)
    qcols = [f"q_{j}" for j in range(d)]
    qtq = gram_matrix(q, qcols)
    q_ok = bool(np.abs(qtq - np.eye(d)).max() < 1e-6)
    col_norms = np.sqrt(np.diag(r.T @ r))  # = sqrt(diag(Gram))
    rows = [
        (i, j, round(float(r[i, j] / col_norms[j]), 6), q_ok)
        for i in range(d)
        for j in range(i, d)
    ]
    return spark.createDataFrame(
        rows, "i int, j int, r_norm double, q_orthonormal boolean"
    )


def _sql_qr_factor() -> str:
    a, b, c = _QR_COLS
    return f"""
WITH g AS (
  SELECT sum({a}*{a}) AS g11, sum({b}*{a}) AS g21, sum({c}*{a}) AS g31,
         sum({b}*{b}) AS g22, sum({c}*{b}) AS g32, sum({c}*{c}) AS g33
  FROM lineitem
), l AS (
  SELECT sqrt(g11) AS l11, g21/sqrt(g11) AS l21, g31/sqrt(g11) AS l31,
         g11, g21, g31, g22, g32, g33
  FROM g
), l2 AS (
  SELECT *, sqrt(g22 - l21*l21) AS l22 FROM l
), l3 AS (
  SELECT *, (g32 - l31*l21)/l22 AS l32 FROM l2
), l4 AS (
  SELECT *, sqrt(g33 - l31*l31 - l32*l32) AS l33 FROM l3
)
-- R = Lᵀ (upper), normalized by column norms sqrt(g_jj)
SELECT 0 AS i, 0 AS j, round(l11/sqrt(g11), 6) AS r_norm, true AS q_orthonormal FROM l4
UNION ALL SELECT 0, 1, round(l21/sqrt(g22), 6), true FROM l4
UNION ALL SELECT 0, 2, round(l31/sqrt(g33), 6), true FROM l4
UNION ALL SELECT 1, 1, round(l22/sqrt(g22), 6), true FROM l4
UNION ALL SELECT 1, 2, round(l32/sqrt(g33), 6), true FROM l4
UNION ALL SELECT 2, 2, round(l33/sqrt(g33), 6), true FROM l4
"""


def q_rsvd_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized SVD (rsvd.h:55) vs exact Gram-eig SVD (svd.h:101) on the
    same matrix: with oversampling ≥ d the sketch is exact up to fp, so
    per-component relative σ agreement and |v·v| alignment are deterministic
    booleans."""
    from cuml_spark.ops.linalg import randomized_svd, svd_tall

    li = _t(spark, sf_dir, "lineitem")
    _, sv_exact, vt_exact = svd_tall(li, _QR_COLS, k=2)
    sv_r, vt_r = randomized_svd(li, _QR_COLS, k=2, n_oversamples=8, seed=11)
    rows = []
    for comp in range(2):
        rel = abs(sv_r[comp] - sv_exact[comp]) / max(sv_exact[comp], 1e-300)
        align = abs(float(np.dot(vt_r[comp], vt_exact[comp])))
        rows.append((comp, bool(rel < 1e-8), bool(align > 0.999999)))
    return spark.createDataFrame(
        rows, "component int, sv_agree boolean, v_align boolean"
    )


_SQL_RSVD_AGREEMENT = """
SELECT CAST(c AS INT) AS component, true AS sv_agree, true AS v_align
FROM (SELECT unnest([0, 1]) AS c)
"""


def q_coo_symmetrize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coo_symmetrize (sparse/coo.h:797, default averaging op) on an edge
    list aggregated from lineitem — exact full-outer-join replay."""
    from cuml_spark.ops.sparse import coo_symmetrize

    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.groupBy(
            (F.col("l_orderkey") % 97).alias("row"),
            (F.col("l_partkey") % 97).alias("col"),
        )
        .agg(F.sum("l_quantity").alias("value"))
    )
    sym = coo_symmetrize(edges)
    return sym.select("row", "col", F.round("value", 4).alias("value"))


_SQL_COO_SYMMETRIZE = """
WITH e AS (
  SELECT l_orderkey % 97 AS r, l_partkey % 97 AS c, sum(l_quantity) AS v
  FROM lineitem GROUP BY 1, 2
)
SELECT coalesce(f.r, rv.c) AS row, coalesce(f.c, rv.r) AS col,
       round((coalesce(f.v, 0) + coalesce(rv.v, 0)) / 2.0, 4) AS value
FROM e f FULL OUTER JOIN e rv ON f.r = rv.c AND f.c = rv.r
"""


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (bucketed candidates + exact re-rank) against the
    brute-force kNN ground truth: recall@10 over a deterministic query slice
    must clear 0.5 (0.70 observed with 4 planes × 8 tables; a broken
    bucketing or re-rank collapses it)."""
    from cuml_spark.neighbors import NearestNeighbors
    from cuml_spark.neighbors.nearest_neighbors import knn_join

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()
    q = emb.filter(F.col("vec_id") % 100 == 0)
    brute = knn_join(emb, q, k=10)
    # brute-force truth, the LSH fit+probe, and the query count are
    # independent chains over the (warm-rep-cached) embeddings — overlap
    # them (guide §2.6; results identical, r12)
    from cuml_spark.core.session import run_overlapped

    brows, grows, n_queries = run_overlapped(
        brute.collect,
        lambda: NearestNeighbors(
            n_neighbors=10, algorithm="lsh", n_planes=4, n_tables=8, seed=7
        ).fit(emb).kneighbors(q).collect(),
        q.count,
    )
    bset = {(r["query_id"], r["neighbor_id"]) for r in brows}
    got = {(r["query_id"], r["neighbor_id"]) for r in grows}
    recall = len(got & bset) / max(len(bset), 1)
    return spark.createDataFrame(
        [(int(n_queries), bool(recall >= 0.5))],
        "n_queries long, recall_ge_05 boolean",
    )


_SQL_ANN_LSH_RECALL = """
SELECT count(*) AS n_queries, true AS recall_ge_05
FROM embeddings WHERE vec_id % 100 = 0
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup verify: 5-gram Jaccard over the LSH candidate
    pairs (the scalable pipeline — candidates bound the pair count, shingle
    joins are pair-first).  DuckDB replays the shingling with a lateral
    generate_series and the candidate set with the same banded-minhash SQL
    that backs ``lsh_pairs``."""
    from cuml_spark.harness_text import jaccard_pairs_cached

    # verified pairs computed once per (session, sf_dir) — shared with
    # text_neardup_groups (one pipeline, two reported stages)
    out = jaccard_pairs_cached(spark, sf_dir)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _sql_ngram_jaccard() -> str:
    from cuml_spark.harness_text import _sql_lsh_pairs

    return f"""
WITH cand AS ({_sql_lsh_pairs()}),
sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(1, length(text) - 4))) AS i)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_int
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       round(n_int / (sa.n_sh + sb.n_sh - n_int), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
"""


def q_prims_matrix_rng(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leftover §2.4 prims in one pass over `part`: sort_cols_per_row
    (columnWiseSort.h — per-row median of 3 = exact SQL), matrix_math
    (math.h seqRoot), reduce_cols_by_key (reduce_cols_by_key.h — width-wise
    key sums), Matrix::gather (gather.h:142 — fixed index map incl. a
    duplicate), Rng uniform/normal (rng.h — moment envelopes), permute
    (permute.h — rank permutation identities)."""
    from cuml_spark.ops.matrix import gather, matrix_math, sort_cols_per_row
    from cuml_spark.ops.rng import (permute, reduce_cols_by_key, rng_normal,
                                    rng_uniform)

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_size", F.col("p_retailprice").cast("double")
    ).withColumn("p_mod", (F.col("p_partkey") % 97).cast("double"))
    cols3 = ["p_retailprice", "p_size", "p_mod"]

    idx = spark.range(1, 51).select(F.col("id").alias("idx")).union(
        spark.createDataFrame([(7,)], "idx long")
    )
    # the eight probe aggregates are INDEPENDENT single-job chains over the
    # same tiny scan — run them from driver threads so each job back-fills
    # the others' scheduling gaps instead of serializing eight job launches
    # (guide §2.6 overlap-independent-jobs; results identical, r12).
    from cuml_spark.core.session import run_overlapped

    med_row, sqrt_row, red, g, u, nm, n, pm = run_overlapped(
        lambda: sort_cols_per_row(part, cols3, "s")
        .select(F.sum(F.col("s")[1]).alias("v")).first(),
        lambda: matrix_math(part, ["p_retailprice"], "sqrt")
        .select(F.sum("p_retailprice").alias("v")).first(),
        lambda: reduce_cols_by_key(part, cols3, [0, 1, 0]).select(
            F.sum("k0").alias("k0"), F.sum("k1").alias("k1")
        ).first(),
        lambda: gather(part, idx, "p_partkey").select(
            F.count("*").alias("n"), F.sum("p_partkey").alias("s")
        ).first(),
        # keyed draws (id_cols): a pure function of p_partkey, so the moment
        # gates are the same fixed numbers in any session/partitioning
        lambda: rng_uniform(part, "u", seed=7, id_cols=["p_partkey"]).select(
            F.avg("u").alias("m"), F.stddev("u").alias("s")
        ).first(),
        lambda: rng_normal(part, "z", seed=9, id_cols=["p_partkey"]).select(
            F.avg("z").alias("m"), F.stddev("z").alias("s")
        ).first(),
        part.count,
        lambda: permute(part, ["p_partkey"], seed=5).select(
            F.count(F.col("pos")).alias("cnt"),
            F.sum("pos").alias("possum"),
            F.avg(F.when(F.col("pos") != F.col("p_partkey"), 1.0)
                  .otherwise(0.0)).alias("moved"),
        ).first(),
    )
    med_sum = med_row["v"]
    sqrt_sum = sqrt_row["v"]

    # moment gates at 5 standard errors, so they hold at every SF (a fixed
    # ±0.05 is 0.7σ at sf0.001's ~200 rows); a sample sd's standard error
    # is σ·√((κ−1)/4n), κ the kurtosis: 1.8 uniform, 3 normal
    def within(value: float, true: float, sd: float) -> bool:
        return abs(value - true) < 5 * sd / np.sqrt(n)

    unif_sd = 12 ** -0.5
    return spark.createDataFrame(
        [(
            round(float(med_sum), 4), round(float(sqrt_sum), 4),
            round(float(red["k0"]), 4), round(float(red["k1"]), 4),
            int(g["n"]), int(g["s"]),
            bool(within(u["m"], 0.5, unif_sd)
                 and within(u["s"], unif_sd, unif_sd * 0.2 ** 0.5)),
            bool(within(nm["m"], 0.0, 1.0) and within(nm["s"], 1.0, 0.5 ** 0.5)),
            bool(pm["cnt"] == n
                 and pm["possum"] == n * (n + 1) // 2
                 and pm["moved"] > 0.5),
        )],
        "med_sum double, sqrt_sum double, k0_sum double, k1_sum double, "
        "gather_n long, gather_sum long, unif_ok boolean, norm_ok boolean, "
        "perm_ok boolean",
    )


_SQL_PRIMS_MATRIX_RNG = """
WITH p AS (
  SELECT p_partkey, p_size,
         CAST(p_retailprice AS DOUBLE) AS pr,
         CAST(p_partkey % 97 AS DOUBLE) AS pm
  FROM part
)
SELECT
  round(sum(pr + p_size + pm
            - greatest(pr, p_size, pm)
            - least(pr, p_size, pm)), 4) AS med_sum,
  round(sum(sqrt(pr)), 4) AS sqrt_sum,
  round(sum(pr + pm), 4) AS k0_sum,
  round(sum(CAST(p_size AS DOUBLE)), 4) AS k1_sum,
  (SELECT CAST(count(*) + 1 AS BIGINT)
   FROM p WHERE p_partkey BETWEEN 1 AND 50) AS gather_n,
  (SELECT CAST(sum(p_partkey) + 7 AS BIGINT)
   FROM p WHERE p_partkey BETWEEN 1 AND 50) AS gather_sum,
  true AS unif_ok, true AS norm_ok, true AS perm_ok
FROM p
"""


def q_zorder_keys(spark, sf_dir):
    """Z-order layout keys (ops/zorder.py): Morton-interleave 8-bit
    min/max-normalized (l_extendedprice, l_quantity) buckets per row —
    the lakehouse OPTIMIZE ZORDER key, computed map-only in-row; the
    layout pass itself is one repartitionByRange on this key.  Exact
    integer interleave, bit-identical in any engine."""
    from pyspark.sql import functions as F

    from cuml_spark.ops.zorder import zorder_key

    li = read_table(spark, f"{sf_dir}/lineitem.parquet")
    out = zorder_key(li, ["l_extendedprice", "l_quantity"], bits=8)
    return out.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("zkey").cast("long").alias("zkey"),
    )


# the // and % arithmetic is the bit extraction ((x >> b) & 1) written in
# engine-neutral integer ops; disjoint bit positions make + equal to OR.
# Cross-engine floor safety: l_extendedprice/l_quantity are parquet
# DOUBLEs, so both engines normalize with identical IEEE doubles and the
# identical (p - nx) / (xx - nx) * 255 op order - there is no
# decimal-vs-double rounding asymmetry to flip a bucket floor
# (empirically hash-matched over 660k rows across sf0.01 + sf0.1)
_SQL_ZORDER_KEYS = """
WITH st AS (
  SELECT min(l_extendedprice) AS nx, max(l_extendedprice) AS xx,
         min(l_quantity) AS ny, max(l_quantity) AS xy
  FROM lineitem
), b AS (
  SELECT l_orderkey, l_linenumber,
         CAST(least(255, greatest(0,
           floor((l_extendedprice - nx) / (xx - nx) * 255))) AS BIGINT) AS bx,
         CAST(least(255, greatest(0,
           floor((l_quantity - ny) / (xy - ny) * 255))) AS BIGINT) AS by
  FROM lineitem, st
)
SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
       (((bx // 1) % 2) * 1 + ((by // 1) % 2) * 2 + ((bx // 2) % 2) * 4 + ((by // 2) % 2) * 8 + ((bx // 4) % 2) * 16 + ((by // 4) % 2) * 32 + ((bx // 8) % 2) * 64 + ((by // 8) % 2) * 128 + ((bx // 16) % 2) * 256 + ((by // 16) % 2) * 512 + ((bx // 32) % 2) * 1024 + ((by // 32) % 2) * 2048 + ((bx // 64) % 2) * 4096 + ((by // 64) % 2) * 8192 + ((bx // 128) % 2) * 16384 + ((by // 128) % 2) * 32768)::BIGINT AS zkey
FROM b
"""


QUERIES_LINALG = {
    "prims_matrix_rng": q_prims_matrix_rng,
    "qr_factor": q_qr_factor,
    "rsvd_agreement": q_rsvd_agreement,
    "coo_symmetrize_check": q_coo_symmetrize_check,
    "ann_lsh_recall": q_ann_lsh_recall,
    "ngram_jaccard": q_ngram_jaccard,
    "zorder_keys": q_zorder_keys,
}

ORACLES_LINALG = {
    "prims_matrix_rng": _SQL_PRIMS_MATRIX_RNG,
    "qr_factor": _sql_qr_factor(),
    "rsvd_agreement": _SQL_RSVD_AGREEMENT,
    "coo_symmetrize_check": _SQL_COO_SYMMETRIZE,
    "ann_lsh_recall": _SQL_ANN_LSH_RECALL,
    "ngram_jaccard": _sql_ngram_jaccard(),
    "zorder_keys": _SQL_ZORDER_KEYS,
}
