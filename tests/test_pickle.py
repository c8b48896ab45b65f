"""Persistence round-trips (base.pyx:145-154; sweep mirrors
python/cuml/test/test_pickle.py:118-300).

Two tiers, matching the Base contract:
* plain pickle — estimators with bounded host state (coefs, centers, trees,
  support vectors): dumps/loads then re-predict, outputs must be identical.
* save/load — estimators whose learned state includes DataFrames or MLlib
  JavaModels (parquet / native writers under a directory).
"""

from __future__ import annotations

import pickle

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuml_spark.cluster import KMeans
from cuml_spark.decomposition import PCA, GaussianRandomProjection, TruncatedSVD
from cuml_spark.ensemble import RandomForestClassifier
from cuml_spark.fil import ForestInference
from cuml_spark.linear_model import (
    ElasticNet,
    Lasso,
    LinearRegression,
    LogisticRegression,
    Ridge,
)
from cuml_spark.neighbors import NearestNeighbors
from cuml_spark.preprocessing import LabelEncoder, MinMaxScaler, StandardScaler
from cuml_spark.solvers import SGD
from cuml_spark.svm import SVC


@pytest.fixture(scope="module")
def xy(spark):
    rng = np.random.RandomState(0)
    X = rng.normal(size=(300, 3))
    y = X @ [2.0, -1.0, 0.5] + 0.3 + rng.normal(scale=0.01, size=300)
    lbl = (X[:, 0] + X[:, 1] > 0).astype(float)
    return spark.createDataFrame(
        [(i, *[float(v) for v in X[i]], float(y[i]), float(lbl[i]))
         for i in range(300)],
        "id long, f0 double, f1 double, f2 double, y double, lbl double",
    ).cache()


COLS = ["f0", "f1", "f2"]


def _rows(df, cols):
    return sorted(tuple(round(float(x), 9) if isinstance(x, float) else x for x in r)
                  for r in df.select(*cols).collect())


def _roundtrip(model):
    return pickle.loads(pickle.dumps(model))


@pytest.mark.parametrize("cls,kw", [
    (LinearRegression, {}),
    (Ridge, {"alpha": 1.0}),
    (Lasso, {"alpha": 0.01}),
    (ElasticNet, {"alpha": 0.01, "l1_ratio": 0.5}),
])
def test_pickle_linear_family(spark, xy, cls, kw):
    m = cls(**kw).fit(xy, COLS, "y")
    m2 = _roundtrip(m)
    np.testing.assert_allclose(m2.coef_, m.coef_)
    a = _rows(m.predict(xy, COLS), ["prediction"])
    b = _rows(m2.predict(xy, COLS), ["prediction"])
    assert a == b


def test_pickle_sgd(spark, xy):
    m = SGD(loss="hinge", epochs=5, eta0=0.1).fit(xy, COLS, "lbl")
    m2 = _roundtrip(m)
    assert _rows(m.predictClass(xy), ["prediction"]) == \
        _rows(m2.predictClass(xy), ["prediction"])


def test_pickle_svc(spark, xy):
    m = SVC(kernel="linear", C=1.0, max_iter=30).fit(
        xy.limit(80), COLS, "lbl"
    )
    m2 = _roundtrip(m)
    assert _rows(m.predict(xy), ["prediction"]) == \
        _rows(m2.predict(xy), ["prediction"])


def test_pickle_kmeans_lloyd(spark, xy):
    init = [[-1.0, -1.0, 0.0], [1.0, 1.0, 0.0]]
    m = KMeans(n_clusters=2, max_iter=5, tol=0.0, init_centers=init).fit(xy, COLS)
    m2 = _roundtrip(m)
    np.testing.assert_allclose(m2.cluster_centers_, m.cluster_centers_)
    assert _rows(m.predict(xy, COLS), ["label"]) == \
        _rows(m2.predict(xy, COLS), ["label"])


def test_pickle_kmeans_lloyd_keeps_inertia(spark, xy):
    # pickled before anything reads inertia_: the fit set it as a float
    init = [[-1.0, -1.0, 0.0], [1.0, 1.0, 0.0]]
    m = KMeans(n_clusters=2, max_iter=5, tol=0.0, init_centers=init).fit(xy, COLS)
    blob = pickle.dumps(m)
    m2 = pickle.loads(blob)
    assert isinstance(m2.inertia_, float) and m2.inertia_ > 0
    assert m2.inertia_ == m.inertia_ == pytest.approx(-m.score(xy, COLS))


def test_unpickle_kmeans_deferred_inertia_state():
    # a pickle from when the Lloyd fit stored inertia as ``_inertia``
    m = KMeans(n_clusters=2)
    state = m.__getstate__()
    del state["inertia_"]
    state["_inertia"] = 12.5
    m2 = KMeans.__new__(KMeans)
    m2.__setstate__(state)
    assert m2.inertia_ == 12.5 and "_inertia" not in m2.__dict__


def test_pickle_mllib_kmeans_predicts_from_centers(spark, xy):
    # MLlib-fitted KMeans: java model is stripped, but predict runs off the
    # extracted centers
    m = KMeans(n_clusters=2, random_state=1).fit(xy, COLS)
    m2 = _roundtrip(m)
    assert m2._model is None
    assert _rows(m.predict(xy, COLS), ["label"]) == \
        _rows(m2.predict(xy, COLS), ["label"])


@pytest.mark.parametrize("cls", [PCA, TruncatedSVD])
def test_pickle_decomposition(spark, xy, cls):
    m = cls(n_components=2).fit(xy, COLS)
    m2 = _roundtrip(m)
    cols = [c for c in m.transform(xy, COLS).columns if c not in xy.columns]
    assert _rows(m.transform(xy, COLS), cols) == _rows(m2.transform(xy, COLS), cols)


def test_pickle_scalers(spark, xy):
    for cls in (StandardScaler, MinMaxScaler):
        m = cls().fit(xy, COLS)
        m2 = _roundtrip(m)
        assert _rows(m.transform(xy, COLS), COLS) == \
            _rows(m2.transform(xy, COLS), COLS)


def test_pickle_random_projection(spark, xy):
    m = GaussianRandomProjection(n_components=2, random_state=3).fit(xy, cols=COLS)
    m2 = _roundtrip(m)
    assert _rows(m.transform(xy), ["projection"]) == \
        _rows(m2.transform(xy), ["projection"])


def test_pickle_fil(spark, xy):
    trees = [{
        "nodeid": 0, "split": "f0", "split_condition": 0.0, "yes": 1, "no": 2,
        "children": [{"nodeid": 1, "leaf": -0.4}, {"nodeid": 2, "leaf": 0.4}],
    }]
    m = ForestInference.load_from_xgboost_json(trees, output="sigmoid")
    m2 = _roundtrip(m)
    assert _rows(m.predict(xy, COLS, out_col="score"), ["score"]) == \
        _rows(m2.predict(xy, COLS, out_col="score"), ["score"])


@pytest.mark.parametrize("n_classes", [2, 3])
def test_pickle_logreg_predicts(spark, xy, n_classes):
    """A pickled LogisticRegression predicts from ``coef_``/``intercept_``
    alone: the same labels as before the round trip, which are the
    argmax of the margins (binary: margin > 0)."""
    label = ((F.col("f0") > 0).cast("double") if n_classes == 2 else
             F.when(F.col("f0") > 0.5, 2.0).when(F.col("f1") > 0, 1.0).otherwise(0.0))
    df = xy.withColumn("cls", label)
    m = LogisticRegression(C=1.0).fit(df, COLS, "cls")
    m2 = _roundtrip(m)
    assert m.coef_.shape == ((1, 3) if n_classes == 2 else (3, 3))
    assert all(getattr(m2, k) is not None
               for k in ("coef_", "intercept_", "classes_", "n_iter_"))
    got = m2.predict(df, COLS).orderBy("id")
    assert _rows(m.predict(df, COLS), ["id", "prediction"]) == \
        _rows(got, ["id", "prediction"])
    X = np.array([[r[c] for c in COLS] for r in got.collect()])
    z = X @ m.coef_.T + m.intercept_
    ref = (z[:, 0] > 0) if n_classes == 2 else z.argmax(axis=1)
    np.testing.assert_array_equal(
        [r.prediction for r in got.select("prediction").collect()], ref)


# ---- save/load tier: DataFrame / JavaModel state --------------------------

def test_saveload_random_forest(spark, xy, tmp_path):
    m = RandomForestClassifier(n_estimators=5, max_depth=4, random_state=3)
    m.fit(xy, COLS, "lbl")
    m.save(str(tmp_path / "rf"))
    m2 = RandomForestClassifier.load(str(tmp_path / "rf"), spark)
    assert _rows(m.predict(xy, COLS), ["prediction"]) == \
        _rows(m2.predict(xy, COLS), ["prediction"])


def test_saveload_logreg(spark, xy, tmp_path):
    m = LogisticRegression(C=1.0).fit(xy, COLS, "lbl")
    m.save(str(tmp_path / "lr"))
    m2 = LogisticRegression.load(str(tmp_path / "lr"), spark)
    np.testing.assert_allclose(m2.coef_, m.coef_)
    assert _rows(m.predict(xy, COLS), ["prediction"]) == \
        _rows(m2.predict(xy, COLS), ["prediction"])


def test_saveload_label_encoder(spark, tmp_path):
    df = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("a",)], "fruit string"
    )
    le = LabelEncoder().fit(df, "fruit")
    le.save(str(tmp_path / "le"))
    le2 = LabelEncoder.load(str(tmp_path / "le"), spark)
    assert _rows(le.transform(df), ["code"]) == _rows(le2.transform(df), ["code"])


def test_saveload_nearest_neighbors(spark, tmp_path):
    rng = np.random.RandomState(1)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=4)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    nn = NearestNeighbors(n_neighbors=3).fit(emb)
    nn.save(str(tmp_path / "nn"))
    nn2 = NearestNeighbors.load(str(tmp_path / "nn"), spark)
    q = emb.where(F.col("vec_id") < 5)
    assert _rows(nn.kneighbors(q), ["query_id", "neighbor_id", "rank"]) == \
        _rows(nn2.kneighbors(q), ["query_id", "neighbor_id", "rank"])


def test_saveload_ivf(spark, tmp_path):
    from cuml_spark.similarity import IVFIndex

    rng = np.random.RandomState(2)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=4)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    idx = IVFIndex(nlist=4, nprobe=4, seed=1).fit(emb)
    idx.save(str(tmp_path / "ivf"))
    idx2 = IVFIndex.load(str(tmp_path / "ivf"), spark)
    q = emb.where(F.col("vec_id") < 5)
    assert _rows(idx.search(q, k=3, metric="cosine"), ["query_id", "neighbor_id"]) == \
        _rows(idx2.search(q, k=3, metric="cosine"), ["query_id", "neighbor_id"])


def test_saveload_holtwinters(spark, tmp_path):
    from cuml_spark.tsa import ExponentialSmoothing

    rows = [("s", t, float(10.0 + 3.0 * np.sin(2 * np.pi * t / 12) + 0.1 * t))
            for t in range(48)]
    df = spark.createDataFrame(rows, "series_id string, t long, y double")
    hw = ExponentialSmoothing(seasonal="additive", seasonal_periods=12).fit(df)
    hw.save(str(tmp_path / "hw"))
    hw2 = ExponentialSmoothing.load(str(tmp_path / "hw"), spark)
    assert _rows(hw.forecast(6), ["series_id", "step", "yhat"]) == \
        _rows(hw2.forecast(6), ["series_id", "step", "yhat"])


def test_saveload_arima(spark, tmp_path):
    from cuml_spark.tsa import ARIMA

    rng = np.random.RandomState(3)
    rows = [("s", t, float(50 + rng.normal())) for t in range(80)]
    df = spark.createDataFrame(rows, "series_id string, t long, y double")
    m = ARIMA(order=(1, 0, 0)).fit(df)
    m.save(str(tmp_path / "arima"))
    m2 = ARIMA.load(str(tmp_path / "arima"), spark)
    assert _rows(m.forecast(4), ["series_id", "step", "yhat"]) == \
        _rows(m2.forecast(4), ["series_id", "step", "yhat"])


def test_saveload_umap(spark, tmp_path):
    from cuml_spark.manifold import UMAP

    rng = np.random.RandomState(4)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=4)]) for i in range(60)],
        "pid long, x array<double>",
    )
    um = UMAP(n_neighbors=5, n_epochs=10, random_state=1)
    um.fit(emb, vec_col="x", id_col="pid")
    um.save(str(tmp_path / "umap"))
    um2 = UMAP.load(str(tmp_path / "umap"), spark)
    assert _rows(um.transform(emb, vec_col="x", id_col="pid"), ["pid"]) == \
        _rows(um2.transform(emb, vec_col="x", id_col="pid"), ["pid"])


def test_pickle_mae_forest(spark, xy):
    from cuml_spark.ensemble.mae_forest import MAERandomForestRegressor

    m = MAERandomForestRegressor(n_estimators=2, max_depth=3,
                                 random_state=1).fit(xy, COLS, "y")
    m2 = _roundtrip(m)
    assert _rows(m.predict(xy, COLS), ["prediction"]) == \
        _rows(m2.predict(xy, COLS), ["prediction"])


def test_saveload_pq(spark, tmp_path):
    from cuml_spark.similarity import PQIndex

    rng = np.random.RandomState(4)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    idx = PQIndex(m=4, ksub=16, train_size=80, seed=1).fit(emb)
    idx.save(str(tmp_path / "pq"))
    idx2 = PQIndex.load(str(tmp_path / "pq"), spark)
    q = emb.where(F.col("vec_id") < 5)
    assert _rows(idx.search(q, k=3, metric="cosine"), ["query_id", "neighbor_id"]) == \
        _rows(idx2.search(q, k=3, metric="cosine"), ["query_id", "neighbor_id"])


def test_saveload_ivfpq(spark, tmp_path):
    from cuml_spark.similarity import IVFPQIndex

    rng = np.random.RandomState(5)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.normal(size=8)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    idx = IVFPQIndex(nlist=4, nprobe=4, m=4, ksub=16, train_size=80, seed=1).fit(emb)
    idx.save(str(tmp_path / "ivfpq"))
    idx2 = IVFPQIndex.load(str(tmp_path / "ivfpq"), spark)
    q = emb.where(F.col("vec_id") < 5)
    assert _rows(idx.search(q, k=3, metric="cosine"), ["query_id", "neighbor_id"]) == \
        _rows(idx2.search(q, k=3, metric="cosine"), ["query_id", "neighbor_id"])


def test_pickle_text_models(spark):
    """The two driver-side text models (BigramLM, QualityClassifier)
    round-trip through pickle and score identically after — the
    fit-once / serve-later contract a pipeline checkpoint needs."""
    import pickle

    from cuml_spark.text import (QualityClassifier, fit_bigram_lm,
                                 bigram_lm_scores)

    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "b c a")], "doc_id long, text string")
    lm = fit_bigram_lm(docs)
    lm2 = pickle.loads(pickle.dumps(lm))
    assert lm2.bigram_counts == lm.bigram_counts
    assert lm2.context_counts == lm.context_counts
    before = {r["doc_id"]: r["avg_logp"]
              for r in bigram_lm_scores(docs, model=lm).collect()}
    after = {r["doc_id"]: r["avg_logp"]
             for r in bigram_lm_scores(docs, model=lm2).collect()}
    assert after == before

    clf = QualityClassifier(
        weights={3: 1.25, 9: -0.5}, bias=0.125, num_buckets=256)
    clf2 = pickle.loads(pickle.dumps(clf))
    assert (clf2.weights, clf2.bias, clf2.num_buckets) == (
        clf.weights, clf.bias, clf.num_buckets)
    a = {r["doc_id"]: r["score"] for r in clf.score(docs).collect()}
    b = {r["doc_id"]: r["score"] for r in clf2.score(docs).collect()}
    assert a == b


def test_sketch_models_pickle_round_trip(spark):
    """Fitted sketch artifacts (bloom filter, count-min) are the models a
    pipeline persists between runs — pickle must round-trip them with
    identical probe/estimate behavior."""
    from cuml_spark.ops.cms import cms_estimate_col, fit_cms
    from cuml_spark.text.bloom import bloom_probe, fit_bloom

    df = spark.createDataFrame(
        [(i, f"key-{i % 37}") for i in range(200)], "doc_id long, text string")
    bf = fit_bloom(df, "text", num_bits=1024, num_hashes=4)
    bf2 = pickle.loads(pickle.dumps(bf))
    assert bf2 == bf
    a = {r["doc_id"]: r["maybe_seen"] for r in bloom_probe(df, bf, "text").collect()}
    b = {r["doc_id"]: r["maybe_seen"] for r in bloom_probe(df, bf2, "text").collect()}
    assert a == b

    cm = fit_cms(df, "text", depth=3, width=64)
    cm2 = pickle.loads(pickle.dumps(cm))
    assert cm2 == cm
    keys = [f"key-{i}" for i in range(40)]
    assert [cm.estimate(k) for k in keys] == [cm2.estimate(k) for k in keys]
    got = {r["text"]: r["e"] for r in df.select(
        "text", cms_estimate_col(cm2, F.col("text")).alias("e")).distinct().collect()}
    assert all(got[k] == cm.estimate(k) for k in got)
