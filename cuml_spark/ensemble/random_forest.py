"""Random forests — cuML RandomForestClassifier/Regressor
(python/cuml/ensemble/randomforestclassifier.pyx:197, randomforestregressor.pyx:175).

The reference builds histogram-binned, level-wise trees
(cpp/src/decisiontree/levelalgo/, quantile binning quantile.cuh:71) — the SAME
design family as MLlib's RandomForest (binned, breadth-first).  Parameter
shims (SURVEY §2.1 #14-15):

    n_estimators ↔ numTrees       n_bins ↔ maxBins (MLlib requires ≥2)
    max_depth    ↔ maxDepth        rows_sample ↔ subsamplingRate
    max_features ↔ featureSubsetStrategy
    split_criterion {0:GINI,1:ENTROPY,2:MSE} ↔ impurity
    split_criterion 3 (MAE) → custom distributed histogram-MAE forest
    (mae_forest.py; MLlib itself has no MAE impurity)

Distribution note: the reference's Dask path trains n/w trees per worker on
local data (embarrassingly parallel, randomforestclassifier.py:46-55); MLlib
trains every tree over all data with row subsampling — same estimator family,
different sharding; documented as acceptable per SURVEY §2.5.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.classification import RandomForestClassifier as MLRFC
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import RandomForestRegressor as MLRFR
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.validation import check_features

_CRITERION = {0: "gini", 1: "entropy", 2: "variance", 3: None}  # 3 = MAE (custom path)


def _feature_strategy(max_features) -> str:
    if max_features in ("auto", None):
        return "auto"
    if isinstance(max_features, float):
        return str(max_features)
    if isinstance(max_features, int):
        return str(max_features)
    return str(max_features)


class _RFBase(Base):
    _ml_cls = None
    _default_criterion = 0

    def __init__(self, n_estimators: int = 10, max_depth: int = 16, n_bins: int = 8,
                 max_features: str | float = "auto", rows_sample: float = 1.0,
                 split_criterion: int | None = None, bootstrap: bool = True,
                 min_rows: int | None = None, n_y_bins: int = 32,
                 random_state: int | None = 0, min_rows_per_node: int | None = None,
                 min_samples_leaf: int | None = None,
                 criterion: int | str | None = None,
                 accuracy_metric: str = "mse", seed: int = -1, **kwargs):
        super().__init__(**kwargs)
        self.n_estimators = n_estimators
        self.max_depth = max_depth
        self.n_bins = n_bins
        self.max_features = max_features
        self.rows_sample = rows_sample
        # reference vocabulary (randomforest*.pyx ctor): criterion maps onto
        # split_criterion ({gini,entropy,mse,mae} ↔ 0..3); the reference
        # itself REJECTS non-None criterion — accepting the mapping here is a
        # strict superset of its behavior
        if criterion is not None and split_criterion is None:
            crit_map = {"gini": 0, "entropy": 1, "mse": 2, "mae": 3}
            split_criterion = (
                crit_map[criterion] if isinstance(criterion, str) else int(criterion)
            )
        self.criterion = criterion
        self.split_criterion = (
            split_criterion if split_criterion is not None else self._default_criterion
        )
        self.bootstrap = bootstrap
        # min_rows ↔ cuML min_rows_per_node ↔ MLlib minInstancesPerNode
        # (sklearn's min_samples_leaf lands on the same knob); None keeps
        # each backend's own default (MLlib 1, MAE forest 5)
        if min_rows is None:
            min_rows = (min_rows_per_node if min_rows_per_node is not None
                        else min_samples_leaf)
        self.min_rows = min_rows
        self.min_rows_per_node = min_rows
        self.min_samples_leaf = min_samples_leaf
        # accuracy_metric: regressor .score() metric name (reference default)
        self.accuracy_metric = accuracy_metric
        # n_y_bins: target-histogram resolution, MAE path only
        self.n_y_bins = n_y_bins
        # reference seed=-1 sentinel defers to random_state
        self.seed = seed
        if seed != -1 and not random_state:
            random_state = seed
        self.random_state = random_state if random_state is not None else 0
        self._model = None
        self._cols: list[str] | None = None

    def _fit(self, df: DataFrame, feature_cols: list[str], label_col: str, impurity: str):
        from cuml_spark.core.session import right_size

        # MLlib's level-wise growth runs one JVM aggregation job per level
        # over its internally-cached frame — right-size small inputs so
        # those jobs aren't sliced into near-empty tasks (no-op at scale).
        # floor=4: the per-level histogram work is heavy per row, and a
        # perfbench-shaped fit (50k × 8, 4 trees, depth 4) measured 2.21 s
        # at 4 partitions against 2.36 s at 1 (medians of 8 interleaved
        # fits, 4 cores).  Project to the fit columns before the coalesce and
        # MLlib's internal persist (guide §2.3 — callers hand wide frames)
        data = right_size(
            check_features(df, [*feature_cols, label_col])
            .select(*feature_cols, label_col),
            floor=4,
        )
        assembled = VectorAssembler(inputCols=feature_cols, outputCol="__features").transform(data)
        est = self._ml_cls(
            featuresCol="__features", labelCol=label_col,
            numTrees=self.n_estimators,
            maxDepth=min(self.max_depth if self.max_depth > 0 else 16, 30),
            maxBins=max(self.n_bins, 2),
            subsamplingRate=self.rows_sample,
            featureSubsetStrategy=_feature_strategy(self.max_features),
            seed=self.random_state,
            impurity=impurity,
            bootstrap=self.bootstrap,
            minInstancesPerNode=self.min_rows if self.min_rows else 1,
        )
        self._model = est.fit(assembled)
        self._cols = list(feature_cols)
        return self

    def predict(self, df: DataFrame, feature_cols: list[str] | None = None,
                out_col: str = "prediction") -> DataFrame:
        cols = feature_cols or self._cols
        if self._model is None:
            raise RuntimeError("not fitted")
        casted = df.select(
            *[c for c in df.columns if c not in cols],
            *[F.col(c).cast("double").alias(c) for c in cols],
        )
        assembled = VectorAssembler(inputCols=cols, outputCol="__features").transform(casted)
        out = self._model.transform(assembled).drop("__features")
        for extra in ("rawPrediction", "probability"):
            if extra in out.columns:
                out = out.drop(extra)
        if out_col != "prediction":
            out = out.withColumnRenamed("prediction", out_col)
        return out

    @property
    def feature_importances_(self) -> np.ndarray:
        if self._model is None:
            raise RuntimeError("not fitted")
        return np.array(self._model.featureImportances.toArray())


class RandomForestClassifier(_RFBase):
    _ml_cls = MLRFC
    _default_criterion = 0  # GINI

    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str):
        imp = _CRITERION.get(self.split_criterion)
        if imp not in ("gini", "entropy"):
            raise ValueError(f"classifier split_criterion must be 0 (GINI) or 1 (ENTROPY)")
        return self._fit(df, feature_cols, label_col, imp)

    def score(self, df: DataFrame, feature_cols: list[str], label_col: str) -> float:
        pred = self.predict(df, feature_cols)
        return pred.agg(
            F.avg((F.col(label_col) == F.col("prediction")).cast("double"))
        ).first()[0]


class RandomForestRegressor(_RFBase):
    _ml_cls = MLRFR
    _default_criterion = 2  # MSE

    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str):
        if self.split_criterion == 3:
            # MAE criterion (randomforestregressor.pyx:291 criterion 3):
            # MLlib offers variance only, so this routes to the custom
            # distributed histogram forest with exact binned-MAE splits
            from cuml_spark.ensemble.mae_forest import MAERandomForestRegressor

            self._mae_model = MAERandomForestRegressor(
                n_estimators=self.n_estimators,
                max_depth=self.max_depth if self.max_depth > 0 else 16,
                n_bins=max(self.n_bins, 4),
                n_y_bins=self.n_y_bins,
                rows_sample=self.rows_sample,
                min_samples_leaf=self.min_rows if self.min_rows else 5,
                max_features=self.max_features,
                random_state=self.random_state,
            ).fit(df, feature_cols, label_col, bootstrap=self.bootstrap)
            self._cols = list(feature_cols)
            return self
        self._mae_model = None
        return self._fit(df, feature_cols, label_col, "variance")

    def predict(self, df: DataFrame, feature_cols: list[str] | None = None,
                out_col: str = "prediction") -> DataFrame:
        if getattr(self, "_mae_model", None) is not None:
            return self._mae_model.predict(
                df, feature_cols or self._cols, out_col=out_col
            )
        return super().predict(df, feature_cols, out_col)

    def score(self, df: DataFrame, feature_cols: list[str], label_col: str) -> float:
        from cuml_spark.metrics.regression import r2_score

        pred = self.predict(df, feature_cols)
        return r2_score(pred, label_col, "prediction")
