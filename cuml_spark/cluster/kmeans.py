"""KMeans — cuML ``KMeans`` (python/cuml/cluster/kmeans.pyx:114) on MLlib.

Reference semantics: Lloyd EM with scalable k-means|| init
(cpp/src/kmeans/sg_impl.cuh:41 EM loop, :273 init, "8 rounds is sufficient"
:353), params n_clusters=8, max_iter=300, tol=1e-4, oversampling_factor=2,
metric fixed to squared-L2 (kmeans.pyx:297).  Outputs ``labels_``,
``cluster_centers_``, ``inertia_``, ``n_iter_``.

MLlib's ``ml.clustering.KMeans`` implements the IDENTICAL algorithm family
(initMode='k-means||', distanceMeasure='euclidean', treeAggregate of per-
partition partial sums per iteration — the distributed shape of the
reference's per-batch minClusterAndDistance + key-grouped centroid update).
This wrapper adds the pieces MLlib lacks: ``transform`` (distance-to-centers
matrix, kmeans.pyx:502) and ``score`` (negative inertia, :574), both as pure
column expressions over the broadcast centers.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.clustering import KMeans as MLKMeans
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.exprs import sql_double, sql_double_col, sql_ident
from cuml_spark.core.validation import check_features


class KMeans(Base):
    def __init__(self, n_clusters: int = 8, max_iter: int = 300, tol: float = 1e-4,
                 random_state: int = 1, init: str = "scalable-k-means++",
                 n_init: int = 1, oversampling_factor: float = 2.0,
                 init_centers=None, **kwargs):
        super().__init__(**kwargs)
        self.n_clusters = n_clusters
        self.max_iter = max_iter
        self.tol = tol
        self.random_state = random_state
        self.init = init
        self.n_init = n_init
        self.oversampling_factor = oversampling_factor
        # cuML accepts an explicit (k, d) init array (kmeans.pyx:114 `init`
        # may be an ndarray).  When given, fit runs our own Lloyd loop —
        # fully deterministic, so results are exactly replayable.
        self.init_centers = None if init_centers is None else np.asarray(
            init_centers, dtype=np.float64
        )
        self.cluster_centers_: np.ndarray | None = None
        self.inertia_ = None
        self.n_iter_: int | None = None
        self._cols: list[str] | None = None
        self._model = None

    def _assemble(self, df: DataFrame, cols: list[str]) -> DataFrame:
        keep = [c for c in df.columns if c not in cols]
        casted = df.select(*keep, *[F.col(c).cast("double").alias(c) for c in cols])
        return VectorAssembler(inputCols=cols, outputCol="__features").transform(casted)

    def fit(self, df: DataFrame, feature_cols: list[str]) -> "KMeans":
        data = check_features(df, feature_cols)
        if self.init_centers is not None:
            return self._fit_lloyd(data, feature_cols)
        init_mode = "k-means||" if "k-means" in self.init else "random"
        km = MLKMeans(
            k=self.n_clusters, maxIter=self.max_iter, tol=self.tol,
            seed=self.random_state, initMode=init_mode,
            featuresCol="__features", predictionCol="__cluster",
            distanceMeasure="euclidean",
        )
        assembled = self._assemble(df, feature_cols)
        self._model = km.fit(assembled)
        self.cluster_centers_ = np.array(
            [c.toArray() if hasattr(c, "toArray") else np.asarray(c)
             for c in self._model.clusterCenters()]
        )
        summary = self._model.summary
        self.inertia_ = float(summary.trainingCost)  # sum of squared distances
        self.n_iter_ = summary.numIter
        self._cols = list(feature_cols)
        return self

    def _fit_lloyd(self, data: DataFrame, feature_cols: list[str]) -> "KMeans":
        """Lloyd EM from explicit init centers (kmeans.pyx:114 ndarray init;
        sg_impl.cuh:41 EM loop) over the double-cast feature frame.  Each
        iteration is ONE map-side-combined groupBy over the inline centers
        — per-iteration driver state is the (k, d) centroid matrix only,
        so the loop scales to any row count.  Assignment is ``predict``'s.

        Why the centers stay inline literals: what the literal form cost
        was the driver building each iteration's plan one Column at a time
        over py4j, not codegen.  Parsed once, the assignment and the
        per-cluster means are two SQL strings per iteration: a fit with 2
        iterations at k=4, d=8 sends 66 py4j commands instead of 5,188,
        and perfbench's traced ``cluster.kmeans_fit`` driver time fell
        from 2.85 s to 0.43 s per call (4 cores).  A broadcast one-row
        relation of centers would share one codegen source across
        iterations, but was measured slower (3.3–3.4 s literal vs 5.4–9.3 s
        broadcast per fit, interleaved): its per-iteration
        BroadcastExchange and AQE stage cost more than the per-iteration
        codegen it saves."""
        cols = list(feature_cols)
        centers = self.init_centers.copy()
        if centers.shape != (self.n_clusters, len(cols)):
            raise ValueError(
                f"init_centers shape {centers.shape} != "
                f"({self.n_clusters}, {len(cols)})"
            )
        means = F.expr(f"array({', '.join(f'avg({sql_ident(c)})' for c in cols)})")
        n_iter = 0
        for _ in range(self.max_iter):
            self.cluster_centers_ = centers
            assigned = self.predict(data, cols, out_col="__cluster")
            rows = assigned.groupBy("__cluster").agg(means).collect()
            new = centers.copy()
            for label, mean in rows:
                new[label] = mean
            n_iter += 1
            shift = float(np.sqrt(((new - centers) ** 2).sum(axis=1)).max())
            centers = new
            if shift <= self.tol:
                break
        self.cluster_centers_ = centers
        self.n_iter_ = n_iter
        self._cols = cols
        self.inertia_ = -self.score(data, cols)
        return self

    def __setstate__(self, state: dict) -> None:
        # pickles of the deferred-inertia era stored the value as _inertia
        if "_inertia" in state:
            state.setdefault("inertia_", state.pop("_inertia"))
        super().__setstate__(state)

    # -- scoring expressions over the inline centers (no shuffle) -----------
    def _sq_dist_sql(self, cols: list[str]) -> list[str]:
        """Squared distance to each center, one SQL string each, summed
        left to right from 0.0."""
        xs = [sql_double_col(c) for c in cols]
        return ["0.0D" + "".join(f" + power({x} - {sql_double(v)}, 2)"
                                 for x, v in zip(xs, center))
                for center in self.cluster_centers_]

    @staticmethod
    def _least(args: list[str]) -> str:
        """SQL minimum of ``args``; ``least`` takes two or more."""
        return args[0] if len(args) == 1 else f"least({', '.join(args)})"

    def predict(self, df: DataFrame, feature_cols: list[str] | None = None,
                out_col: str = "label") -> DataFrame:
        """Nearest-center assignment as a pure expression (labels_, pyx:392):
        the least (distance, id) struct, so the plan is linear in k and ties
        go to the LOWEST cluster id.  A null feature makes every distance
        null; nulls order first, so such a row gets label 0."""
        cols = feature_cols or self._cols
        if self.cluster_centers_ is None:
            raise RuntimeError("model not fitted")
        pairs = [f"named_struct('d', {d}, 'i', {i})"
                 for i, d in enumerate(self._sq_dist_sql(cols))]
        return df.withColumn(out_col, F.expr(f"{self._least(pairs)}.i"))

    def fit_predict(self, df: DataFrame, feature_cols: list[str],
                    out_col: str = "label") -> DataFrame:
        return self.fit(df, feature_cols).predict(df, feature_cols, out_col)

    def transform(self, df: DataFrame, feature_cols: list[str] | None = None) -> DataFrame:
        """Distance-to-each-center columns (kmeans.pyx:502 semantics: the
        n×k transformed matrix), euclidean distances."""
        cols = feature_cols or self._cols
        if self.cluster_centers_ is None:
            raise RuntimeError("model not fitted")
        return df.selectExpr("*", *[f"sqrt({d}) AS dist_{i}"
                                    for i, d in enumerate(self._sq_dist_sql(cols))])

    def score(self, df: DataFrame, feature_cols: list[str] | None = None) -> float:
        """Negative inertia on the given frame (kmeans.pyx:574)."""
        cols = feature_cols or self._cols
        least = self._least(self._sq_dist_sql(cols))
        return -df.agg(F.expr(f"sum({least})")).first()[0]
