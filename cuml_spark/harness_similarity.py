"""Harness queries: embedding near-dup (D) + IVF ANN search (D at full probe).

``ivf_search_exact`` runs the IVF index with nprobe = nlist — every list is
probed, so the approximate path must return EXACTLY the brute-force top-k,
which DuckDB computes with a window over all-pairs cosine.  This checks the
codebook assign + probe join + rerank machinery end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuml_spark.similarity import IVFIndex, embedding_near_duplicates
from cuml_spark.core.session import read_table

_TH = 0.35
# the grouping query uses a tighter cosine threshold: 0.35 sits below this
# testdata's percolation point (sf0.1 collapses to ONE giant component —
# a degenerate check and a deep-diameter CC), 0.45 yields many small
# multi-member groups at both SFs (14 @ sf0.01, 121 @ sf0.1, measured)
_TH_GROUP = 0.45


def q_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_duplicates(emb, threshold=_TH, method="brute")
    return pairs.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


_SQL_NEARDUP = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
         AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= {_TH}
"""


def q_pipeline_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pipeline end-to-end: cosine pairs ≥ threshold →
    weak-CC grouping (pointer-doubled min-label propagation) → per-group
    membership sizes.  The canonical near-dup REMOVAL unit a training-data
    pipeline keeps one representative from.  DuckDB replays the grouping
    with a recursive-CTE reachability closure over the same pair set."""
    from cuml_spark.similarity.neardup import near_dup_groups

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_duplicates(emb, threshold=_TH_GROUP, method="brute")
    groups = near_dup_groups(pairs)
    return groups.groupBy("group_id").agg(
        F.count("*").alias("n_members"),
        F.min("vid").alias("min_vid"),
        F.max("vid").alias("max_vid"),
    ).select(
        F.col("group_id").cast("long").alias("group_id"),
        "n_members",
        F.col("min_vid").cast("long").alias("min_vid"),
        F.col("max_vid").cast("long").alias("max_vid"),
    )


_SQL_PIPELINE_NEARDUP_GROUPS = f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {_TH_GROUP}
),
verts AS (SELECT DISTINCT id_a AS v FROM pairs
          UNION SELECT DISTINCT id_b FROM pairs),
edges AS (SELECT id_a AS s, id_b AS t FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
walk(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT w.v, ed.t FROM walk w JOIN edges ed ON ed.s = w.r
),
lbl AS (SELECT v, min(r) AS group_id FROM walk GROUP BY v)
SELECT group_id::BIGINT AS group_id, count(*)::BIGINT AS n_members,
       min(v)::BIGINT AS min_vid, max(v)::BIGINT AS max_vid
FROM lbl GROUP BY 1
"""


def q_ivf_search_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 20)
    idx = IVFIndex(nlist=4, nprobe=4, seed=2).fit(emb)
    out = idx.search(queries, k=5, metric="cosine")
    return out.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("cos_sim"), "rank"
    )


_SQL_IVF_EXACT = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.v, e.v)
         / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
           AS cos_sim
  FROM q JOIN e ON q.vec_id != e.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank
FROM ranked WHERE rank <= 5
"""


def q_pq_search_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index driven through a provably-lossless configuration (the
    `ivf_search_exact` trick, adapted): embeddings are sign-quantized to
    ±1 in the query itself, so each 8-dim subspace has ≤ 2⁸ = 256 distinct
    subvectors and the ksub=256 codebook stores every one of them exactly
    (similarity/pq.py lossless branch).  ADC then reproduces brute-force
    cosine BIT-EXACTLY: inner products of ±1 vectors are integers, norms
    are exactly 8, and /64 is a power-of-two division — so the oracle is
    plain exact KNN over the sign vectors, and any defect in training,
    encoding, the LUT gather, or the top-k surfaces as a hash mismatch.
    Train frac is 1.0 here so the codebook sees every subvector; at real
    scale PQ trains on a sample and is approximate by design.
    """
    from cuml_spark.similarity.pq import PQIndex

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr(
            "transform(cast(embedding as array<double>), "
            "x -> CASE WHEN x >= 0D THEN 1.0D ELSE -1.0D END)"
        ).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 20)
    idx = PQIndex(m=8, ksub=256, train_size=10**9, seed=3).fit(emb)
    out = idx.search(queries, k=5, metric="cosine")
    return out.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("cos_sim"), "rank"
    )


_SQL_PQ_EXACT = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END) AS v
  FROM embeddings
),
q AS (SELECT * FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.v, e.v)
         / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
           AS cos_sim
  FROM q JOIN e ON q.vec_id != e.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank
FROM ranked WHERE rank <= 5
"""


def q_ivfpq_search_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition under BOTH exactness levers at once: nprobe =
    nlist (every list probed — the `ivf_search_exact` trick) and
    sign-quantized input (lossless PQ codebooks — the `pq_search_exact`
    trick).  Routing, the probe join, ADC code scoring and ranking must
    then reproduce brute-force cosine bit-exactly, so the oracle is the
    same exact-KNN SQL as `pq_search_exact`."""
    from cuml_spark.similarity import IVFPQIndex

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr(
            "transform(cast(embedding as array<double>), "
            "x -> CASE WHEN x >= 0D THEN 1.0D ELSE -1.0D END)"
        ).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 20)
    idx = IVFPQIndex(
        nlist=4, nprobe=4, m=8, ksub=256, train_size=10**9, seed=5
    ).fit(emb)
    out = idx.search(queries, k=5, metric="cosine")
    return out.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("cos_sim"), "rank"
    )


def q_neardup_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split over the embedding near-dup components
    (preprocessing.group_aware_split): near-duplicates never straddle the
    split, so eval cannot leak into train.  Assignment hashes the component
    id through the deterministic Weyl mix, so the DuckDB oracle replays the
    whole thing — recursive-CTE CC + the same integer arithmetic —
    bit-for-bit."""
    from cuml_spark.preprocessing import group_aware_split
    from cuml_spark.similarity.neardup import near_dup_groups

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_duplicates(emb, threshold=_TH_GROUP, method="brute")
    groups = near_dup_groups(pairs)
    out = group_aware_split(emb, "vec_id", groups, test_frac=0.25, seed=9)
    return (
        out.groupBy("split")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("group_id").alias("n_groups"),
            F.min("group_id").alias("min_gid"),
        )
        .select(
            "split", "n_rows", "n_groups",
            F.col("min_gid").cast("long").alias("min_gid"),
        )
        .orderBy("split")
    )


_SQL_NEARDUP_SAFE_SPLIT = f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {_TH_GROUP}
),
verts AS (SELECT DISTINCT id_a AS v FROM pairs
          UNION SELECT DISTINCT id_b FROM pairs),
edges AS (SELECT id_a AS s, id_b AS t FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
walk(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT w.v, ed.t FROM walk w JOIN edges ed ON ed.s = w.r
),
lbl AS (SELECT v, min(r) AS group_id FROM walk GROUP BY v),
g AS (
  SELECT e.vec_id, coalesce(l.group_id, e.vec_id)::BIGINT AS gid
  FROM e LEFT JOIN lbl l ON l.v = e.vec_id
),
s AS (
  SELECT vec_id, gid,
         CASE WHEN ((((gid + 9) % 1000003) * 2654435761) % 1000003)
                   / 1000003.0 < 0.25
              THEN 'test' ELSE 'train' END AS split
  FROM g
)
SELECT split, count(*)::BIGINT AS n_rows,
       count(DISTINCT gid)::BIGINT AS n_groups, min(gid)::BIGINT AS min_gid
FROM s GROUP BY split ORDER BY split
"""


def q_semdedup_prune(spark, sf_dir):
    """SemDeDup-style cluster-bucketed semantic pruning
    (similarity/semdedup.py): within each embedding cluster (the
    deterministic label column stands in for a KMeans assignment), prune
    every row with an earlier cosine-≥0.3 neighbor, keeping the smallest
    id as witness.  Dot products are sequential in-row folds, so the
    DuckDB list_dot_product oracle is bit-exact."""
    from pyspark.sql import functions as F

    from cuml_spark.similarity import semantic_prune

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("label").alias("cluster"), "embedding")
    out = semantic_prune(emb, 0.3)
    return out.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster"),
        "kept", "pruned_by")


_SQL_SEMDEDUP_PRUNE = """
WITH e AS (
  SELECT vec_id, label AS cluster, embedding::DOUBLE[] AS v FROM embeddings
), pr AS (
  SELECT a.vec_id, min(b.vec_id) AS pruned_by
  FROM e a JOIN e b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))) >= 0.3
  GROUP BY 1
)
SELECT e.vec_id, e.cluster::BIGINT AS cluster,
       pr.pruned_by IS NULL AS kept, pr.pruned_by
FROM e LEFT JOIN pr USING (vec_id)
"""


def q_text_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-side dedup ACTION end-to-end: MinHash-LSH candidates →
    exact 5-gram Jaccard ≥ 0.8 edges → weak connected components →
    per-group report (group id = the kept doc id = min member, member
    count, member id checksum).  Every stage is a registry operator
    (lsh_pairs, ngram_jaccard, near_dup_groups); the verified pair set
    is ngram_jaccard's, built in this query's own plan, and grouping
    uses the driver union-find tier (the edge list is
    candidate-bounded).  The DuckDB oracle replays the
    candidates + verify SQL and closes components with a recursive
    reachability CTE."""
    from cuml_spark.harness_text import jaccard_pairs
    from cuml_spark.similarity.neardup import near_dup_groups

    # threshold the ROUNDED score: the oracle inherits round(...,6) from
    # the ngram_jaccard SQL, so a raw-score filter would diverge on pairs
    # whose exact Jaccard sits in [0.7999995, 0.8) (review r9 finding)
    edges = jaccard_pairs(spark, sf_dir).where(
        F.round(F.col("jaccard"), 6) >= 0.8)
    # candidate-bounded edge list -> driver union-find (near_dup_groups'
    # <=500k-edge tier), not the iterative distributed CC: grouping a few
    # hundred verified pairs must not pay pointer-doubling rounds
    groups = near_dup_groups(edges)
    return groups.groupBy(F.col("group_id").cast("long").alias("keep_id")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("vid").cast("long").alias("member_sum"),
    )


def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (similarity/kcenter.py): 5 maximally
    spread embeddings by cosine farthest-point sampling, seeded at the
    min id.  Each round is one zero-shuffle codegen scan + a top-1
    TakeOrdered; distances round to 6 before min/argmax so the DuckDB
    chain of 5 CTEs replays the selection value-for-value."""
    from cuml_spark.similarity.kcenter import kcenter_select

    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    return kcenter_select(emb, 5)


def _sql_kcenter(k: int) -> str:
    """Chained-CTE replay of the greedy selection: s1 = min id; each
    d_i drops the just-selected point and folds the rounded distance to
    it into the running min; each s_{i+1} is the (mind DESC, vec_id)
    top-1 — exactly kcenter_select's rounding and tie-break."""
    parts = ["""
WITH en AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n
  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings)
), s1 AS (
  SELECT vec_id, v, n, CAST(NULL AS DOUBLE) AS mind
  FROM en ORDER BY vec_id LIMIT 1
), d1 AS (
  SELECT en.vec_id, en.v, en.n,
         round(CASE WHEN en.n * s1.n > 0
               THEN 1.0 - list_dot_product(en.v, s1.v) / (en.n * s1.n)
               ELSE 1.0 END, 6) AS mind
  FROM en, s1 WHERE en.vec_id <> s1.vec_id
)"""]
    for i in range(2, k + 1):
        parts.append(f""", s{i} AS (
  SELECT vec_id, v, n, mind FROM d{i - 1}
  ORDER BY mind DESC, vec_id LIMIT 1
)""")
        if i < k:
            parts.append(f""", d{i} AS (
  SELECT d.vec_id, d.v, d.n,
         least(d.mind,
               round(CASE WHEN d.n * s{i}.n > 0
                     THEN 1.0 - list_dot_product(d.v, s{i}.v)
                          / (d.n * s{i}.n)
                     ELSE 1.0 END, 6)) AS mind
  FROM d{i - 1} d, s{i} WHERE d.vec_id <> s{i}.vec_id
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT vec_id, {i}::BIGINT AS sel_order, mind AS dist FROM s{i}"
        for i in range(1, k + 1))
    return "".join(parts) + "\n" + sel


def q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FineWeb-style dedup ACTION: same clusters as
    ``text_neardup_groups`` (the same verified pair set), but
    each group keeps its BEST member — here the longest document
    (n_chars), ties to the smaller id — via keep_best_in_groups' single
    map-side-combinable min(struct) aggregation.  Reports the kept doc
    alongside the group checksum columns so the oracle pins both the
    grouping and the selection."""
    from cuml_spark.harness_text import jaccard_pairs
    from cuml_spark.similarity.neardup import (keep_best_in_groups,
                                               near_dup_groups)

    edges = jaccard_pairs(spark, sf_dir).where(
        F.round(F.col("jaccard"), 6) >= 0.8)
    groups = near_dup_groups(edges)
    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    best = keep_best_in_groups(groups, docs.select("doc_id", "n_chars"),
                               score_col="n_chars")
    sums = groups.groupBy("group_id").agg(
        F.sum("vid").cast("long").alias("member_sum"))
    # the group representative column is named group_id, NOT keep_id:
    # unlike text_neardup_groups (keep-first, where the min member IS
    # the kept doc), here the kept doc is best_id
    return (
        best.join(sums, "group_id")
        .select(
            F.col("group_id").cast("long").alias("group_id"),
            F.col("best_id").cast("long").alias("best_id"),
            F.col("best_score").cast("long").alias("best_n_chars"),
            F.col("n_members").cast("long").alias("n_members"),
            "member_sum",
        )
    )


def _sql_neardup_keep_best() -> str:
    from cuml_spark.harness_linalg import _sql_ngram_jaccard

    return f"""
WITH RECURSIVE j AS ({_sql_ngram_jaccard()}),
e AS (
  SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.8
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), reach AS (
  SELECT src AS v, dst AS r FROM und
  UNION
  SELECT re.v, u.dst FROM reach re JOIN und u ON u.src = re.r
), comp AS (
  SELECT v AS vertex, least(v, min(r)) AS component
  FROM reach GROUP BY v
), m AS (
  SELECT c.component, c.vertex, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.vertex
), ranked AS (
  SELECT component, vertex AS best_id, n_chars AS best_n_chars,
         row_number() OVER (
           PARTITION BY component ORDER BY n_chars DESC, vertex
         ) AS rn
  FROM m
)
SELECT m.component::BIGINT AS group_id,
       max(b.best_id)::BIGINT AS best_id,
       max(b.best_n_chars)::BIGINT AS best_n_chars,
       count(*)::BIGINT AS n_members,
       sum(m.vertex)::BIGINT AS member_sum
FROM m JOIN (SELECT * FROM ranked WHERE rn = 1) b USING (component)
GROUP BY 1
"""


def _sql_text_neardup_groups() -> str:
    from cuml_spark.harness_linalg import _sql_ngram_jaccard

    return f"""
WITH RECURSIVE j AS ({_sql_ngram_jaccard()}),
e AS (
  SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.8
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), reach AS (
  SELECT src AS v, dst AS r FROM und
  UNION
  SELECT re.v, u.dst FROM reach re JOIN und u ON u.src = re.r
), comp AS (
  SELECT v AS vertex, least(v, min(r)) AS component
  FROM reach GROUP BY v
)
SELECT component::BIGINT AS keep_id, count(*)::BIGINT AS n_members,
       sum(vertex)::BIGINT AS member_sum
FROM comp GROUP BY 1
"""


QUERIES_SIMILARITY = {
    "neardup_pairs": q_neardup_pairs,
    "text_neardup_groups": q_text_neardup_groups,
    "neardup_keep_best": q_neardup_keep_best,
    "kcenter_coreset": q_kcenter_coreset,
    "semdedup_prune": q_semdedup_prune,
    "neardup_safe_split": q_neardup_safe_split,
    "pipeline_neardup_groups": q_pipeline_neardup_groups,
    "ivf_search_exact": q_ivf_search_exact,
    "pq_search_exact": q_pq_search_exact,
    "ivfpq_search_exact": q_ivfpq_search_exact,
}

ORACLES_SIMILARITY = {
    "neardup_pairs": _SQL_NEARDUP,
    "text_neardup_groups": _sql_text_neardup_groups(),
    "neardup_keep_best": _sql_neardup_keep_best(),
    "kcenter_coreset": _sql_kcenter(5),
    "semdedup_prune": _SQL_SEMDEDUP_PRUNE,
    "neardup_safe_split": _SQL_NEARDUP_SAFE_SPLIT,
    "pipeline_neardup_groups": _SQL_PIPELINE_NEARDUP_GROUPS,
    "ivf_search_exact": _SQL_IVF_EXACT,
    "pq_search_exact": _SQL_PQ_EXACT,
    "ivfpq_search_exact": _SQL_PQ_EXACT,
}
