"""MAE-criterion random forest regressor — the reference's split_criterion=3
(python/cuml/ensemble/randomforestregressor.pyx:291 `MAE`), which Spark MLlib
does not offer (variance only).  Implemented as a custom distributed
histogram forest in the SAME design family as the reference's trees
(quantile-binned features, level-wise growth — decisiontree/levelalgo/,
quantile.cuh:71 preprocess_quantile):

* features and the target are quantile-binned ONCE (driver holds only the
  bin edges and per-bin target means — O(n_bins) state);
* each tree level aggregates groupBy (tree, node, feature, fbin, ybin)
  counts with map-side partial aggregation; split selection is ADAPTIVE:
  when the level's exact histogram bound (open-nodes · features · fbins ·
  ybins) fits ``max_driver_hist_rows`` the driver collects it and selects
  locally (one job), otherwise each (tree, node, feature) group reduces to
  its ONE best-split row via distributed applyInPandas argmax before the
  collect — driver state is bounded either way, never per-sample;
* MAE of a candidate child is computed exactly on the binned target:
  median bin from the cumulative histogram, then Σ h·|v − v_med| with v the
  per-bin target means (the same approximation the reference makes by
  binning features — here applied to the split objective);
* leaf predictions are per-leaf target medians (`percentile_approx`), the
  MAE-optimal constant;
* per-tree row subsampling is a deterministic hash of (row key, tree) —
  partitioning-independent, no RNG state.

Scale: per level the work is one explode (×n_features) + one aggregation;
histogram size bounds every reduce output at
n_trees · 2^depth · n_features · n_bins · n_y_bins — independent of row
count, so the construction survives a 100× data scale-up unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.ml.feature import Bucketizer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.session import right_size
from cuml_spark.ops.sampling import hash_sample_pred


def _quantile_edges(df: DataFrame, col: str, n_bins: int) -> list[float]:
    probs = [i / n_bins for i in range(1, n_bins)]
    qs = df.approxQuantile(col, probs, 0.001)
    edges = sorted(set(qs))
    return [-float("inf"), *edges, float("inf")]


def _multi_quantile_edges(df: DataFrame, cols: list[str],
                          n_bins: list[int]) -> list[list[float]]:
    """Bin edges for several columns in ONE approxQuantile pass."""
    nmax = max(n_bins)
    probs = [i / nmax for i in range(1, nmax)]
    qss = df.approxQuantile(cols, probs, 0.001)
    out = []
    for qs, nb in zip(qss, n_bins):
        step = max(1, (nmax - 1) // max(nb - 1, 1))
        picked = qs if nb == nmax else qs[step - 1::step][: nb - 1]
        out.append([-float("inf"), *sorted(set(picked)), float("inf")])
    return out


def _pack_trees(trees: list[dict], depth: int) -> list[tuple]:
    """Dense (feat, split_bin, value) arrays per tree, indexed by node id —
    the broadcastable form the vectorized routers consume."""
    size = 2 ** (depth + 2)
    packed = []
    for tree in trees:
        feat = np.full(size, -1, dtype=np.int64)
        sbin = np.zeros(size, dtype=np.int64)
        val = np.zeros(size)
        for nd, entry in tree.items():
            if isinstance(entry, tuple):
                feat[nd], sbin[nd] = entry
            else:
                val[nd] = entry
        packed.append((feat, sbin, val))
    return packed


def _node_feature_subset(t: int, nd: int, k: int, m: int, seed: int) -> np.ndarray:
    """Deterministic per-(tree, node) feature subsample — the reference's
    max_features semantics (randomforestregressor.pyx:291 ``max_features``,
    per-split column sampling).  Seeded by (seed, tree, node) so the choice is
    partitioning-independent and replayable."""
    # SeedSequence mixes the triple non-linearly — a linear combination
    # (seed*a + t*b + nd*c) collides for correlated (tree, node) pairs and
    # would hand ≥131-tree forests identical per-node subsets, defeating the
    # decorrelation max_features exists to provide.
    rng = np.random.Generator(
        np.random.PCG64(np.random.SeedSequence([seed, t, nd]))
    )
    return np.sort(rng.choice(k, size=m, replace=False))


def _resolve_m_features(max_features, k: int) -> int:
    """Features evaluated per split.  Mirrors the reference's vocabulary:
    'auto'/None/1.0 → all, float → fraction, int → count, 'sqrt'/'log2'."""
    # NB: int 1 means ONE feature; only float 1.0 means "all" (int/float
    # compare equal in Python, so the check must be type-aware)
    if max_features is None or max_features == "auto" or (
            isinstance(max_features, float) and max_features == 1.0):
        return k
    if max_features == "sqrt":
        return max(1, int(np.sqrt(k)))
    if max_features == "log2":
        return max(1, int(np.log2(k)))
    if isinstance(max_features, float):
        return min(k, max(1, int(round(max_features * k))))
    return min(k, max(1, int(max_features)))


def _hist_mae(h: np.ndarray, v: np.ndarray) -> tuple[float, float]:
    """(mae, n) of the binned sample with counts ``h`` over values ``v``."""
    n = h.sum()
    if n == 0:
        return 0.0, 0.0
    c = np.cumsum(h)
    med = v[int(np.searchsorted(c, (n + 1) / 2.0))]
    return float((h * np.abs(v - med)).sum() / n), float(n)


def _best_split_fn(n_bins_f: int, n_yb: int, yvals: np.ndarray, min_leaf: int):
    """Factory: the per-(tree, node, feature) split reducer.  Receives that
    group's (fbin, ybin, count) rows, scans the cumulative histogram for the
    best MAE-weighted split, and emits ONE row (or none when no admissible
    split improves on the parent) — the distributed argmax that keeps the
    driver collect at trees · nodes · features rows."""

    def best_split(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.zeros((n_bins_f, n_yb))
        M[pdf["__fbin"].to_numpy(), pdf["__yb"].to_numpy()] = pdf["count"].to_numpy()
        tot = M.sum(0)
        parent_mae, n = _hist_mae(tot, yvals)
        best_score, best_bin = None, None
        left = np.zeros(n_yb)
        for b in range(n_bins_f - 1):
            left = left + M[b]
            mae_l, n_l = _hist_mae(left, yvals)
            mae_r, n_r = _hist_mae(tot - left, yvals)
            if n_l < min_leaf or n_r < min_leaf:
                continue
            score = (n_l * mae_l + n_r * mae_r) / n
            if score < parent_mae - 1e-12 and (
                best_score is None or score < best_score - 1e-12
            ):
                best_score, best_bin = score, b
        if best_score is None:
            return pd.DataFrame(
                columns=["t", "nd", "ft", "score", "bin"]
            ).astype({"t": np.int64, "nd": np.int64, "ft": np.int64,
                      "score": np.float64, "bin": np.int64})
        return pd.DataFrame(
            {
                "t": [int(pdf["__tree"].iloc[0])],
                "nd": [int(pdf["__node"].iloc[0])],
                "ft": [int(pdf["__feat"].iloc[0])],
                "score": [best_score],
                "bin": [best_bin],
            }
        )

    return best_split


class MAERandomForestRegressor(Base):
    """Distributed MAE-split forest (cuML split_criterion=3 parity)."""

    def __init__(self, n_estimators: int = 10, max_depth: int = 6,
                 n_bins: int = 16, n_y_bins: int = 32, rows_sample: float = 1.0,
                 min_samples_leaf: int = 5, random_state: int = 0,
                 max_features: str | float | int | None = 1.0,
                 max_driver_hist_rows: int = 2_000_000, **kwargs):
        super().__init__(**kwargs)
        if max_depth > 16:
            # node arrays are dense 2^(depth+2); beyond the reference's own
            # default ceiling (max_depth=16) that representation explodes
            raise ValueError(
                f"max_depth={max_depth} > 16 unsupported for the MAE forest "
                "(dense node arrays; use the variance criterion for deeper trees)"
            )
        self.n_estimators = n_estimators
        self.max_depth = max_depth
        self.n_bins = n_bins
        self.n_y_bins = n_y_bins
        self.rows_sample = rows_sample
        self.min_samples_leaf = min_samples_leaf
        self.random_state = random_state
        self.max_features = max_features
        self.max_driver_hist_rows = max_driver_hist_rows
        self.trees_: list[dict] | None = None
        self.feature_edges_: list[list[float]] | None = None
        self._cols: list[str] | None = None

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, feature_cols: list[str], label_col: str,
            feature_edges: list[list[float]] | None = None,
            y_edges: list[float] | None = None,
            bag_cols: list[str] | None = None,
            bootstrap: bool = True) -> "MAERandomForestRegressor":
        cols = list(feature_cols)
        extra_bag = [c for c in (bag_cols or []) if c not in cols]
        data = df.select(
            *[F.col(c).cast("double").alias(c) for c in cols],
            F.col(label_col).cast("double").alias("__y"),
            *extra_bag,
        )
        if feature_edges is None and y_edges is None:
            all_edges = _multi_quantile_edges(
                data, [*cols, "__y"],
                [*[self.n_bins] * len(cols), self.n_y_bins],
            )
            feature_edges, y_edges = all_edges[:-1], all_edges[-1]
        elif feature_edges is None:
            feature_edges = [_quantile_edges(data, c, self.n_bins) for c in cols]
        elif y_edges is None:
            y_edges = _quantile_edges(data, "__y", self.n_y_bins)
        self.feature_edges_ = feature_edges
        self._cols = cols

        binner = Bucketizer(
            inputCols=[*cols, "__y"],
            outputCols=[*[f"__fb{j}" for j in range(len(cols))], "__yb"],
            splitsArray=[*feature_edges, y_edges],
        )
        fb_cols = [f"__fb{j}" for j in range(len(cols))]
        binned = binner.transform(data).select(
            *[F.col(c).cast("int").alias(c) for c in fb_cols],
            F.col("__yb").cast("int").alias("__yb"),
            "__y",
            *[F.col(c).alias(f"__bag{j}") for j, c in enumerate(cols)],
            *extra_bag,
        )
        # per-tree bagging key: caller-provided row identity when available,
        # else the RAW feature/label doubles — far finer-grained than the
        # bins (hashing binned values would keep or drop whole feature-cell
        # × label-bin strata per tree, biasing the split histograms)
        bag_key = (
            extra_bag if extra_bag
            else [*[f"__bag{j}" for j in range(len(cols))], "__y"]
        )

        # y-bin count is known statically from the edges (Bucketizer bins are
        # 0..len(edges)-2) — no data-driven job needed; empty bins stay 0
        n_yb = len(y_edges) - 1

        # explode per tree with deterministic hash bagging.  rows_sample=1.0
        # (cuML bootstrap default) maps to the bootstrap's expected unique
        # fraction 1−1/e ≈ 0.632 — without per-tree subsampling every tree
        # would see identical data and the ensemble would degenerate to one
        # tree.  This base frame is cached ONCE and never rewritten: each
        # level recomputes node routing from the (broadcast) tree state
        # inside the aggregation job itself, so a level costs exactly one
        # shuffle and the driver only ever holds bounded histograms.
        trees = F.array(*[F.lit(t) for t in range(self.n_estimators)])
        rows = binned.select("*", F.explode(trees).alias("__tree"))
        frac = self.rows_sample if self.rows_sample < 1.0 else 0.632
        if self.rows_sample < 1.0 or (bootstrap and self.n_estimators > 1):
            rows = rows.where(
                hash_sample_pred([*bag_key, "__tree"], frac, self.random_state)
            )
        # __node is MAINTAINED as a materialized column: each level appends
        # only that level's split updates (a when-chain over the nodes that
        # actually split) and re-caches, so no level ever re-analyzes a
        # routing expression proportional to the whole forest — Catalyst
        # plan-comparison cost against a full session CacheManager made the
        # recompute-from-scratch router ~2× slower in long sessions, and
        # keeping the chain lazy is WORSE still: projection collapse
        # substitutes each level's CASE into every __node reference of the
        # next level's conditions, so the analyzed expression grows as the
        # PRODUCT of per-level branch counts (measured r7: +1.2s at level 3
        # of a 4-tree depth-4 fit — more than the 3 cache passes it saved)
        rows = rows.select(
            *fb_cols, "__yb", "__y", "__tree"
        ).withColumn("__node", F.lit(0).cast("int"))
        # right-size the cached working set: the level jobs are pure JVM
        # aggregations, so a tiny frame sliced into defaultParallelism
        # partitions pays ~2·parts task overheads per level for no gain
        # (interleaved A/B at sf0.1: median fit 2.11s → 1.63s).  See
        # core.session.right_size for the sizing rule and the 100 TB
        # no-op guarantee.
        rows = right_size(rows).cache()
        # exactly ONE upstream cache is live at a time: the base frame, or
        # the newest materialized level frame once the lazy-chain bound is
        # crossed; a superseded cache dies right after the next hist job
        # (its last consumer) via prev_rows
        live_cache = rows

        min_leaf = self.min_samples_leaf
        depth = self.max_depth
        trees_state: list[dict] = [dict() for _ in range(self.n_estimators)]
        n_bins_f = self.n_bins + 2
        open_nodes: set[tuple[int, int]] | None = None  # None = all (level 0)
        # per-ybin representative value = mean of y in the bin over the
        # bagged-exploded frame (each row weighted by how many trees bag
        # it — identical to the plain mean for a single unbagged tree).
        # Filled from the level-0 histogram when the driver path collects
        # it anyway; a dedicated job only on the distributed-argmax path.
        yvals: np.ndarray | None = None

        def yvals_job() -> np.ndarray:
            out = np.zeros(n_yb)
            for r in rows.groupBy("__yb").agg(F.avg("__y").alias("m")).collect():
                out[r["__yb"]] = r["m"]
            return out

        def level_update(by_node: dict) -> F.Column:
            """One level's routing advance: a FLAT CASE over just the nodes
            that split this level (rows at other nodes keep their __node).
            Pure JVM codegen, no Python round-trip per level — and built as
            ONE parsed SQL string: assembling it Column-by-Column cost ~10
            py4j round trips per branch (~1.5s/fit measured at 32 branches),
            while parsing a 32-branch CASE JVM-side is sub-millisecond."""
            branches = "".join(
                f" WHEN __tree = {int(t)} AND __node = {int(nd)}"
                f" THEN {2 * int(nd) + 1} +"
                f" (CASE WHEN {fb_cols[ft]} > {int(b)} THEN 1 ELSE 0 END)"
                for (t, nd), (_s, ft, b) in by_node.items()
            )
            return F.expr(
                f"CAST(CASE{branches} ELSE __node END AS INT)")

        def router():
            packed = _pack_trees(trees_state, depth)

            @F.pandas_udf("int")
            def route(tree: pd.Series, *fb: pd.Series) -> pd.Series:
                B = np.column_stack([f.to_numpy(dtype=np.int64) for f in fb])
                t_arr = tree.to_numpy(dtype=np.int64)
                node = np.zeros(len(B), dtype=np.int64)
                for t, (feat, sbin, _val) in enumerate(packed):
                    m = t_arr == t
                    if not m.any():
                        continue
                    nd = node[m]
                    Bm = B[m]
                    for _ in range(depth + 1):
                        f = feat[nd]
                        internal = f >= 0
                        if not internal.any():
                            break
                        b = Bm[np.arange(len(nd)), np.where(internal, f, 0)]
                        nd = np.where(internal, 2 * nd + 1 + (b > sbin[nd]), nd)
                    node[m] = nd
                return pd.Series(node.astype(np.int32))

            return route

        feat_arr = F.array(*[F.col(c) for c in fb_cols])
        m_features = _resolve_m_features(self.max_features, len(cols))
        spark = df.sparkSession
        prev_rows = None
        for _level in range(depth):
            if open_nodes is not None and not open_nodes:
                break
            tagged = rows
            if open_nodes is not None:
                keys = [t * (1 << 40) + nd for (t, nd) in open_nodes]
                tagged = tagged.where(
                    (F.col("__tree").cast("long") * (1 << 40) + F.col("__node"))
                    .isin(keys)
                )
            hist_df = (
                tagged.select(
                    "__tree", "__node", "__yb", "__y",
                    F.posexplode(feat_arr).alias("__feat", "__fbin"),
                )
            )
            if m_features < len(cols):
                # per-split feature subsampling (reference max_features): the
                # driver knows this level's open nodes, so the allowed
                # (tree, node, feature) triples are a small broadcast join —
                # bounded by open-nodes · m, never row-scale
                level_nodes = (
                    open_nodes if open_nodes is not None
                    else {(t, 0) for t in range(self.n_estimators)}
                )
                allowed = [
                    (int(t), int(nd), int(ft))
                    for (t, nd) in level_nodes
                    for ft in _node_feature_subset(
                        t, nd, len(cols), m_features, self.random_state)
                ]
                allowed_df = spark.createDataFrame(
                    allowed, "__tree int, __node int, __feat int")
                hist_df = hist_df.join(
                    F.broadcast(allowed_df), ["__tree", "__node", "__feat"])
            # exact upper bound on this level's histogram rows — open nodes
            # are tracked, so the bound is live, not the 2^depth worst case
            n_open = (
                len(open_nodes) if open_nodes is not None else self.n_estimators
            )
            hist_bound = n_open * len(cols) * n_bins_f * n_yb
            driver_path = hist_bound <= self.max_driver_hist_rows
            aggs = [F.count(F.lit(1)).alias("count")]
            if driver_path and yvals is None:
                # level 0 on the driver path: piggyback the per-ybin y sums
                # on the histogram job so yvals needs no dedicated job
                aggs.append(F.sum("__y").alias("ysum"))
            hist_df = (
                hist_df
                .groupBy("__tree", "__node", "__feat", "__fbin", "__yb")
                .agg(*aggs)
            )
            if not driver_path and yvals is None:
                yvals = yvals_job()
            reducer = _best_split_fn(n_bins_f, n_yb, yvals, min_leaf)
            if driver_path:
                # small level: collect the histogram (Arrow toPandas — Row
                # field access cost ~0.5s/fit at 5k rows) and select on the
                # driver (one job, no per-group Python round-trips)
                pdf = hist_df.toPandas()
                if yvals is None:
                    # each exploded row appears once per feature — restrict
                    # to one feature per tree to recover the bag-weighted
                    # per-ybin means
                    minf = pdf.groupby("__tree")["__feat"].transform("min")
                    sel = pdf[pdf["__feat"] == minf]
                    g = sel.groupby("__yb").agg(
                        n=("count", "sum"), s=("ysum", "sum"))
                    yvals = np.zeros(n_yb)
                    yvals[g.index.to_numpy()] = (g["s"] / g["n"]).to_numpy()
                    reducer = _best_split_fn(n_bins_f, n_yb, yvals, min_leaf)
                splits = [
                    row
                    for _, grp in pdf.groupby(["__tree", "__node", "__feat"])
                    for row in reducer(grp).to_dict("records")
                ]
            else:
                # big level: DISTRIBUTED argmax — each (tree, node, feature)
                # group reduces its (fbin × ybin) histogram to ONE best-split
                # row inside applyInPandas, so the driver collect is bounded
                # by trees · open-nodes · features rows, never the
                # ybin-resolved histogram
                splits = hist_df.groupBy("__tree", "__node", "__feat").applyInPandas(
                    reducer, "t long, nd long, ft long, score double, bin long"
                ).collect()
            # the hist job above materialized the current rows cache — the
            # previous level's frame is no longer referenced by any plan
            if prev_rows is not None:
                prev_rows.unpersist()
                prev_rows = None
            by_node: dict[tuple[int, int], tuple] = {}
            for r in sorted(splits, key=lambda r: (r["t"], r["nd"], r["ft"])):
                t, nd, ft = r["t"], r["nd"], r["ft"]
                cur = by_node.get((t, nd))
                if cur is None or r["score"] < cur[0] - 1e-12:
                    by_node[(t, nd)] = (r["score"], ft, r["bin"])
            if not by_node:
                break
            next_open: set[tuple[int, int]] = set()
            for (t, nd), (_s, ft, b) in by_node.items():
                trees_state[t][nd] = (ft, b)
                next_open.add((t, 2 * nd + 1))
                next_open.add((t, 2 * nd + 2))
            open_nodes = next_open
            # advance the materialized __node by one level; a pathologically
            # wide level (>4096 splits) falls back to the Arrow recompute
            # router so the CaseWhen never exceeds codegen limits.  The
            # final level's frame has exactly one consumer (the leaf job) —
            # caching it would pay a materialization pass for nothing.
            last_level = _level == depth - 1
            if len(by_node) <= 4096:
                routed = rows.withColumn("__node", level_update(by_node))
            else:
                routed = rows.withColumn(
                    "__node", router()("__tree", *fb_cols))
            if last_level:
                rows = routed  # sole consumer is the leaf job — don't cache
            else:
                prev_rows = live_cache
                rows = routed.cache()
                live_cache = rows

        # leaf medians — the MAE-optimal constant per leaf.  __node already
        # points at the leaves (maintained through the level loop).
        # accuracy=10000 bounds the relative rank error at 1e-4 —
        # indistinguishable leaf values at a fraction of the 100k sketch cost
        leaves = (
            rows.groupBy("__tree", "__node")
            .agg(F.percentile_approx("__y", 0.5, 10000).alias("v"))
            .collect()
        )
        for r in leaves:
            nd = r["__node"]
            if nd not in trees_state[r["__tree"]]:
                trees_state[r["__tree"]][nd] = float(r["v"])
        if prev_rows is not None:
            prev_rows.unpersist()
        live_cache.unpersist()
        self.trees_ = trees_state
        return self

    # ------------------------------------------------------------------
    def predict(self, df: DataFrame, feature_cols: list[str] | None = None,
                out_col: str = "prediction") -> DataFrame:
        if self.trees_ is None:
            raise RuntimeError("not fitted")
        cols = feature_cols or self._cols
        edges = [np.asarray(e[1:-1]) for e in self.feature_edges_]
        depth = self.max_depth
        cols_l = list(cols)
        # dense per-tree arrays indexed by node id — fully vectorized routing
        packed = _pack_trees(self.trees_, depth)

        @F.pandas_udf("double")
        def score(*feat_cols: pd.Series) -> pd.Series:
            X = np.column_stack([f.to_numpy(dtype=np.float64) for f in feat_cols])
            # bin exactly as Bucketizer: edge j..j+1 → bin j (right-open)
            B = np.column_stack([
                np.searchsorted(edges[j], X[:, j], side="right")
                for j in range(X.shape[1])
            ])
            n = len(X)
            acc = np.zeros(n)
            for feat, sbin, val in packed:
                node = np.zeros(n, dtype=np.int64)
                for _ in range(depth + 1):
                    f = feat[node]
                    internal = f >= 0
                    if not internal.any():
                        break
                    b = B[np.arange(n), np.where(internal, f, 0)]
                    node = np.where(
                        internal, 2 * node + 1 + (b > sbin[node]), node
                    )
                acc += val[node]
            return pd.Series(acc / len(packed))

        return df.withColumn(out_col, score(*[F.col(c).cast("double") for c in cols_l]))

    def score(self, df: DataFrame, feature_cols: list[str], label_col: str) -> float:
        from cuml_spark.metrics.regression import r2_score

        pred = self.predict(df, feature_cols)
        return r2_score(pred, label_col, "prediction")
