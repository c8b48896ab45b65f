"""DBSCAN vs a direct numpy BFS reference (exact semantics, labels compared
as partitions — the reference's own clusters_equal contract, test/utils.py:119)."""

from __future__ import annotations

import numpy as np
import pytest

from cuml_spark.cluster import DBSCAN
from cuml_spark.datasets import make_blobs


def _np_dbscan(X: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """Textbook DBSCAN: core = |N_eps| >= min_samples (self incl.), clusters =
    CCs of the core-core eps-graph, border -> any core neighbor's cluster."""
    n = len(X)
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    nbr = d2 <= eps * eps
    deg = nbr.sum(1)  # self counts
    core = deg >= min_samples
    labels = np.full(n, -1)
    cur = 0
    for i in range(n):
        if not core[i] or labels[i] != -1:
            continue
        stack = [i]
        labels[i] = cur
        while stack:
            p = stack.pop()
            for q in np.where(nbr[p])[0]:
                if labels[q] == -1:
                    if core[q]:
                        labels[q] = cur
                        stack.append(q)
        cur += 1
    # border points: min core neighbor's cluster (deterministic variant)
    for i in range(n):
        if labels[i] == -1 and not core[i]:
            cands = [labels[q] for q in np.where(nbr[i])[0] if core[q]]
            if cands:
                labels[i] = min(cands)
    return labels


def _partition_sets(ids, labels):
    by_label = {}
    for i, l in zip(ids, labels):
        if l != -1:
            by_label.setdefault(l, set()).add(i)
    return {frozenset(v) for v in by_label.values()}


@pytest.fixture(scope="module")
def blob_data(spark):
    df = make_blobs(spark, n_samples=600, n_features=2, centers=4,
                    cluster_std=0.6, random_state=12).cache()
    pdf = df.toPandas().sort_values("id")
    X = pdf[["f0", "f1"]].to_numpy()
    return df, pdf["id"].to_numpy(), X


@pytest.mark.parametrize("algorithm", ["grid", "brute"])
def test_dbscan_matches_numpy_reference(blob_data, algorithm):
    df, ids, X = blob_data
    eps, ms = 0.8, 5
    got = (
        DBSCAN(eps=eps, min_samples=ms, algorithm=algorithm)
        .fit_predict(df, ["f0", "f1"], id_col="id")
        .toPandas()
        .sort_values("id")
    )
    ref = _np_dbscan(X, eps, ms)
    # identical noise set
    np.testing.assert_array_equal(got["label"].to_numpy() == -1, ref == -1)
    # identical cluster partitions (labels up to renumbering)
    assert _partition_sets(ids, got["label"].to_numpy()) == _partition_sets(ids, ref)


def test_dbscan_separated_blobs_become_clusters(spark):
    centers = np.array([[-8.0, -8.0], [0.0, 8.0], [8.0, -8.0]])
    df = make_blobs(spark, n_samples=400, n_features=2, centers=centers,
                    cluster_std=0.3, random_state=5)
    out = DBSCAN(eps=1.0, min_samples=5).fit_predict(df, ["f0", "f1"], id_col="id")
    joined = out.join(df.select("id", "label").withColumnRenamed("label", "truth"), "id")
    pdf = joined.toPandas()
    clustered = pdf[pdf["label"] >= 0]
    # well-separated tight blobs: each found cluster is pure in ground truth
    purity = clustered.groupby("label")["truth"].nunique()
    assert (purity == 1).all()
    assert clustered["label"].nunique() == 3


def test_dbscan_all_noise_when_eps_tiny(spark):
    df = make_blobs(spark, n_samples=200, n_features=2, centers=2, random_state=3)
    out = DBSCAN(eps=1e-9, min_samples=3).fit_predict(df, ["f0", "f1"], id_col="id")
    assert out.filter("label != -1").count() == 0


def test_dbscan_dense_cell_guard(spark):
    """A degenerate all-one-cell dataset past max_cell_points must refuse
    (dense n² block) instead of OOMing the executor."""
    import pytest
    from pyspark.errors import PythonException

    pts = [(i, 0.001 * (i % 7), 0.001 * (i % 5)) for i in range(50)]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    db = DBSCAN(eps=10.0, min_samples=3, max_cell_points=20)
    with pytest.raises(PythonException, match="max_cell_points"):
        db.fit_predict(df, ["x", "y"], "pid").collect()
    # same data under the cap clusters fine
    out = DBSCAN(eps=10.0, min_samples=3).fit_predict(df, ["x", "y"], "pid")
    assert out.filter("label = 0").count() == 50


def test_local_cluster_keys_ignore_row_order():
    """Component keys of one cell block are the same whatever order its
    rows arrive in — a recomputed per-cell pass must reproduce the keys
    of the component map collected from the first computation."""
    import pandas as pd

    from cuml_spark.cluster.dbscan import _local_cluster

    # two separated core groups; the higher pids come first, plus one
    # home border point next to the first group and one noise point
    pts = [(10, (0.0, 0.0), True), (11, (0.1, 0.0), True),
           (12, (0.2, 0.0), True), (1, (5.0, 5.0), True),
           (2, (5.1, 5.0), True), (3, (5.2, 5.0), True),
           (20, (0.3, 0.0), False), (30, (9.0, 9.0), False)]
    pdf = pd.DataFrame({
        "cell_key": "0,0",
        "pid": [p for p, _, _ in pts],
        "x": [list(x) for _, x, _ in pts],
        "is_core": [c for _, _, c in pts],
        "is_home": True,
    })

    def members(frame):
        out = _local_cluster(frame, eps=0.15, max_cell_points=100)
        return set(out.itertuples(index=False, name=None))

    forward = members(pdf)
    assert forward == members(pdf.iloc[::-1].reset_index(drop=True))
    assert {k for _, k, kind in forward if kind == "core"} == {"0,0#0", "0,0#1"}
    assert (20, "0,0#1", "border") in forward


def test_dbscan_cluster_sizes_after_clear_cache(spark):
    """bench.py's order: ``dbscan_roles``, ``clearCache()``, then
    ``dbscan_cluster_sizes`` must still equal the DuckDB oracle.  sf0.01,
    because at sf0.001 every point is noise."""
    duckdb = pytest.importorskip("duckdb")
    from conftest import SF_UNIT

    from cuml_spark.harness_cluster import (_SQL_DBSCAN_CLUSTER_SIZES,
                                            q_dbscan_cluster_sizes,
                                            q_dbscan_roles)

    q_dbscan_roles(spark, SF_UNIT).collect()
    spark.catalog.clearCache()
    got = sorted(tuple(r) for r in
                 q_dbscan_cluster_sizes(spark, SF_UNIT).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW customer AS SELECT * FROM "
            f"'{SF_UNIT}/customer.parquet'")
    want = sorted(con.sql(_SQL_DBSCAN_CLUSTER_SIZES).fetchall())
    assert len(want) > 1
    assert got == want


def test_dbscan_refit_reads_no_earlier_fit(spark):
    """A fit's working frames are its own: a second fit of the same input
    plans no InMemoryRelation left by the first."""
    pts = [(i, float(i % 10) * 0.1, float(i // 10) * 0.1) for i in range(60)]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    DBSCAN(eps=0.15, min_samples=3).fit_predict(df, ["x", "y"], "pid").collect()
    again = DBSCAN(eps=0.15, min_samples=3).fit_predict(df, ["x", "y"], "pid")
    plan = again._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" not in plan
    assert again.filter("label = 0").count() == 60
