"""KMeans quality tests, mirroring the reference's S-class strategy
(test_kmeans.py: cluster agreement / score checks, not value equality)."""

from __future__ import annotations

import numpy as np
import pytest

from cuml_spark.cluster import KMeans
from cuml_spark.datasets import make_blobs
from cuml_spark.metrics import adjusted_rand_score


CENTERS = np.array([[-8.0, -8.0], [0.0, 8.0], [8.0, -4.0]])


@pytest.fixture(scope="module")
def blobs(spark):
    return make_blobs(
        spark, n_samples=2000, n_features=2, centers=CENTERS, cluster_std=0.8,
        random_state=5,
    ).cache()


def test_kmeans_recovers_blobs(blobs):
    km = KMeans(n_clusters=3, random_state=0)
    labeled = km.fit_predict(blobs, ["f0", "f1"], out_col="pred")
    ari = adjusted_rand_score(labeled, "label", "pred")
    assert ari > 0.95  # well-separated blobs: near-perfect recovery


def test_kmeans_attributes(blobs):
    km = KMeans(n_clusters=3, random_state=0).fit(blobs, ["f0", "f1"])
    assert km.cluster_centers_.shape == (3, 2)
    assert km.inertia_ > 0
    assert km.n_iter_ >= 1


def test_kmeans_predict_is_nearest_center(blobs):
    km = KMeans(n_clusters=3, random_state=0).fit(blobs, ["f0", "f1"])
    sample = km.predict(blobs.limit(100), out_col="pred").select("f0", "f1", "pred").collect()
    for r in sample:
        d = ((km.cluster_centers_ - np.array([r["f0"], r["f1"]])) ** 2).sum(axis=1)
        assert int(np.argmin(d)) == r["pred"]


def test_kmeans_transform_distances(blobs):
    km = KMeans(n_clusters=3, random_state=0).fit(blobs, ["f0", "f1"])
    row = km.transform(blobs.limit(1)).first()
    p = np.array([row["f0"], row["f1"]])
    for i, c in enumerate(km.cluster_centers_):
        assert row[f"dist_{i}"] == pytest.approx(np.linalg.norm(p - c), rel=1e-6)


def test_kmeans_score_is_negative_inertia(blobs):
    km = KMeans(n_clusters=3, random_state=0).fit(blobs, ["f0", "f1"])
    s = km.score(blobs)
    assert s < 0
    assert -s == pytest.approx(km.inertia_, rel=1e-2)  # same data → same cost


import pytest as _pytest

from tests.conftest import quality_param, stress_param, unit_param


@_pytest.mark.parametrize("n", [
    unit_param(1000), quality_param(20000), stress_param(500000),
])
def test_kmeans_size_tiers(spark, n):
    """Size-tiered KMeans recovery (reference tier pattern:
    test_kmeans.py:32-34 unit/quality/stress params): 3 well-separated
    blobs must be recovered with the right cluster sizes at every tier."""
    from pyspark.sql import functions as F

    from cuml_spark.cluster import KMeans

    df = (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % 3).alias("g"),
            ((F.col("id") % 3) * 20.0
             + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)) / 1000.0).alias("x1"),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)) / 1000.0).alias("x2"),
        )
    )
    km = KMeans(n_clusters=3, random_state=1, max_iter=50).fit(df, ["x1", "x2"])
    sizes = sorted(
        r["n"] for r in km.predict(df, ["x1", "x2"])
        .groupBy("label").agg(F.count("*").alias("n")).collect()
    )
    want = sorted((n + 2) // 3 if g < n % 3 or n % 3 == 0 else n // 3
                  for g in range(3))
    assert sizes == sorted([n - 2 * (n // 3), n // 3, n // 3]) or sizes == want


def test_kmeans_assignment_plan_linear_in_k(spark):
    """Explicit-init fit and predict at k = 16, d = 32.  The analyzed
    plan stays linear in k·d (the former nested-``when`` argmin doubled
    with every center: 4.6 million characters of plan JSON at k = 4, out of memory at
    k = 12), and labels, distances and score equal numpy's, an exact tie
    going to the lowest cluster id."""
    from pyspark.sql import functions as F

    k, d = 16, 32
    cols = [f"x{j}" for j in range(d)]
    schema = ", ".join(f"{c} double" for c in cols)
    rng = np.random.default_rng(16)
    # integer centers; each blob is its center ± integer offsets, so the
    # cluster means are exact and the init centers are already the fit
    centers = rng.integers(-20, 21, size=(k, d)).astype(float)
    offsets = rng.integers(-2, 3, size=(4, d)).astype(float)
    train = spark.createDataFrame(
        [tuple(map(float, c + s * o)) for c in centers for o in offsets for s in (1, -1)],
        schema)

    def plan_json_len(df):
        return len(df._jdf.queryExecution().analyzed().toJSON())

    for n_clusters in (4, k):  # the small k first: it fails fast if exponential
        model = KMeans(n_clusters=n_clusters)
        model.cluster_centers_, model._cols = centers[:n_clusters], cols
        assert plan_json_len(model.predict(train)) <= 2_000 * n_clusters * d + 50_000

    km = KMeans(n_clusters=k, max_iter=5, init_centers=centers).fit(train, cols)
    np.testing.assert_array_equal(km.cluster_centers_, centers)
    assert km.n_iter_ == 1

    batch = rng.normal(scale=12.0, size=(60, d))
    a, b = 3, 11  # a planted exact tie: the midpoint of two centers
    batch[0] = centers[a] + (centers[b] - centers[a]) / 2
    rows = [(i, *map(float, x)) for i, x in enumerate(batch)]
    rows.append((len(batch), None, *map(float, batch[1, 1:])))  # a null feature
    df = spark.createDataFrame(rows, f"row_id long, {schema}")

    sq = ((batch[:, None] - centers[None]) ** 2).sum(-1)
    want = sq.argmin(axis=1)
    assert min(a, b) == want[0] and sq[0, a] == sq[0, b]
    got = dict(km.predict(df).select("row_id", "label").collect())
    assert [got[i] for i in range(len(batch))] == want.tolist()
    assert got[len(batch)] == 0  # null distances order first: label 0

    dists = km.transform(df.where(F.col("row_id") < len(batch))).orderBy("row_id").toPandas()
    np.testing.assert_allclose(dists[[f"dist_{i}" for i in range(k)]].to_numpy(),
                               np.sqrt(sq), rtol=1e-12)
    score = km.score(df.where(F.col("row_id") < len(batch)))
    assert score == pytest.approx(-sq.min(axis=1).sum(), rel=1e-12)
