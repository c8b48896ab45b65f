"""DBSCAN — density clustering with exact single-node semantics, distributed.

Reference: python/cuml/cluster/dbscan.pyx:80 (fit :187; eps=0.5,
min_samples=5, noise=-1) → cpp/src/dbscan/runner.h:77-217 pipeline:
batched vertex degree (eps-neighborhood) → CSR adjacency → ``weak_cc_batched``
connected components (src_prims/sparse/csr.h:853) → sklearn-style relabel
(runner.h:44-62).

Spark-native design (NOT the reference's batched all-pairs scan):

1. **Grid pruning** — snap every point to a grid cell of side ``eps``; a
   point's eps-ball only intersects its 3^d adjacent cells, so candidate
   pairs come from a cell-key equi-join instead of a crossJoin.  At 100 TB
   this is O(N·ρ) work (ρ = neighborhood density) instead of O(N²); the join
   shuffles on cell key and AQE's skew-join splits dense cells.
2. **Core flags** — exact neighbor counts per point (self included, matching
   sklearn/cuML) aggregated from the candidate pairs.
3. **Local clustering per cell block** — every point is replicated to its
   home cell plus 3^d−1 halo cells; one ``applyInPandas`` pass BFS-clusters
   the core points inside each block.  Because the halo covers every
   eps-ball, each true core-core edge is realized inside at least one block.
4. **Quotient-graph merge** — a core point appearing in several blocks glues
   their local components; the component graph (thousands of nodes, not
   billions of points) is collected and union-found ON THE DRIVER — same
   role the driver plays in the reference's relabel step, with the heavy
   point-level work staying distributed.
5. **Border points** take the min final cluster label among their core
   neighbors (deterministic; cuML/sklearn border ties are scan-order-
   dependent, so tests compare label PARTITIONS — the contract of the
   reference's own clusters_equal helper, test/utils.py:119).  Labels are
   densified to 0..k−1 ordered by each cluster's minimum core point id;
   noise = −1.

``algorithm='brute'`` uses a single block (all-pairs) for parity testing.
The grid is intended for low-d feature spaces (3^d halo fan-out) — DBSCAN's
home turf; for high-d inputs project first (PCA) or use brute on a sample.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cuml_spark.core.base import Base
from cuml_spark.core.validation import to_double_cols


# floor on the cell-bucket count for the per-cell clustering pass — enough
# groups to saturate executors even on small inputs; the live count scales
# with the estimated replicated-row volume so per-group memory stays bounded
# as data grows (see fit_predict)
_CELL_BUCKETS = 64
# target replicated rows per bucket: one applyInPandas call materializes
# about this many rows as a pandas frame on one executor
_ROWS_PER_BUCKET = 200_000


def _local_cluster(pdf: pd.DataFrame, eps: float,
                   max_cell_points: int) -> pd.DataFrame:
    """BFS-cluster core points of each cell block in the batch; emit
    component memberships.

    The batch may hold SEVERAL cells (the shuffle groups cells into
    ``_CELL_BUCKETS`` hash buckets so python-function invocations scale
    with bucket count, not cell count — per-call overhead dominated the
    stage at ~1k cells); each cell clusters independently below.

    Output rows: (point_id, comp_key, kind) — kind 'core' for every core
    point in the block, 'border' once per distinct core-neighbor component
    of each HOME non-core point.  Components are numbered in ascending
    ``pid`` order, so a block's keys do not depend on the order its rows
    arrive in: a recomputed pass yields the keys of the component map
    collected from an earlier one.
    """
    if pdf["cell_key"].nunique() > 1:
        return pd.concat(
            [_local_cluster(sub, eps, max_cell_points)
             for _, sub in pdf.groupby("cell_key", sort=True)],
            ignore_index=True,
        )
    if len(pdf) > max_cell_points:
        # the per-cell pass materializes a dense n×n distance block — a
        # pathologically dense cell (or algorithm='brute' on a large input)
        # would exceed executor memory, so refuse instead of OOMing
        raise ValueError(
            f"DBSCAN cell block has {len(pdf)} points > max_cell_points="
            f"{max_cell_points} (dense n^2 distance block). Decrease eps so "
            f"the eps-grid splits the dense region, pre-aggregate duplicate "
            f"points, or raise max_cell_points if executors have headroom."
        )
    pdf = pdf.sort_values("pid", kind="stable")
    cell_key = pdf["cell_key"].iloc[0]
    X = np.vstack(pdf["x"].to_numpy())
    ids = pdf["pid"].to_numpy()
    core = pdf["is_core"].to_numpy()
    home = pdf["is_home"].to_numpy()
    n = len(ids)
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    nbr = d2 <= eps * eps

    comp = np.full(n, -1)
    cur = 0
    core_idx = np.where(core)[0]
    for i in core_idx:
        if comp[i] != -1:
            continue
        comp[i] = cur
        stack = [i]
        while stack:
            p = stack.pop()
            for q in core_idx[nbr[p, core_idx] & (comp[core_idx] == -1)]:
                comp[q] = cur
                stack.append(q)
        cur += 1

    out_pid, out_comp, out_kind = [], [], []
    for i in core_idx:
        out_pid.append(ids[i])
        out_comp.append(f"{cell_key}#{comp[i]}")
        out_kind.append("core")
    for i in np.where(~core & home)[0]:
        comps = {comp[q] for q in core_idx[nbr[i, core_idx]]}
        for c in comps:
            out_pid.append(ids[i])
            out_comp.append(f"{cell_key}#{c}")
            out_kind.append("border")
    return pd.DataFrame({"pid": out_pid, "comp_key": out_comp, "kind": out_kind})


class _UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, a):
        root = a
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[a] != root:  # path compression
            self.parent[a], a = root, self.parent[a]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[rb] = ra


class DBSCAN(Base):
    def __init__(
        self,
        eps: float = 0.5,
        min_samples: int = 5,
        algorithm: str = "grid",
        max_cell_points: int = 8192,
        **kwargs,
    ):
        super().__init__(**kwargs)
        if algorithm not in ("grid", "brute"):
            raise ValueError("algorithm must be 'grid' or 'brute'")
        self.eps = float(eps)
        self.min_samples = int(min_samples)
        self.algorithm = algorithm
        # ceiling on points per cell block (dense n² distance matrix inside
        # _local_cluster: 8192² doubles ≈ 0.5 GB — the largest block a
        # default-sized executor comfortably holds)
        self.max_cell_points = int(max_cell_points)

    def fit_predict(
        self, df: DataFrame, cols: list[str], id_col: str, include_role: bool = False
    ) -> DataFrame:
        """→ (id_col, label): cluster id per row, noise = −1.

        ``id_col`` must be unique per row; labels join back on it.
        ``include_role=True`` adds ``role`` ∈ {core, border, noise} — the
        deterministic (SQL-checkable) classification underlying the labels.
        """
        eps = self.eps
        to_double_cols(df, cols)  # type-validate features (raises on non-numeric)
        from cuml_spark.core.session import ensure_parallelism

        # several downstream jobs (degree counts, per-cell clustering, the
        # two quotient-graph collects) all read these frames — spread them
        # across cores first (no-op when the scan already yields enough
        # splits).  They are local checkpoints, not caches: the blocks
        # belong to this fit alone and go with its returned frame, and a
        # later fit's identical plan cannot read them
        pts = ensure_parallelism(
            df.select(
                F.col(id_col).alias("pid"),
                F.array(*[F.col(c).cast("double") for c in cols]).alias("x"),
            )
        ).localCheckpoint(eager=False)

        core_flags = self._core_flags(pts, len(cols)).localCheckpoint(eager=False)
        blocks = self._blocks(pts.join(core_flags, "pid"), len(cols))
        # group cells into hash buckets: one python invocation per bucket
        # (cells cluster independently inside _local_cluster), so UDF call
        # overhead scales with the bucket count, not the cell count.  The
        # bucket count scales with the estimated replicated-row volume
        # (n · 3^d halo fan-out) so one bucket's pandas frame stays around
        # _ROWS_PER_BUCKET regardless of input size — a fixed count would
        # grow per-group memory O(N) and cap the stage's parallelism
        n_pts = pts.count()
        fanout = 3 ** len(cols) if self.algorithm == "grid" else 1
        shuffle_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        n_buckets = max(
            _CELL_BUCKETS, shuffle_parts,
            -(-(n_pts * fanout) // _ROWS_PER_BUCKET),
        )
        max_cell = self.max_cell_points
        member = (
            blocks.groupBy(
                (F.abs(F.xxhash64("cell_key")) % n_buckets).alias("__bucket")
            )
            .applyInPandas(
                lambda pdf: _local_cluster(pdf, eps, max_cell),
                "pid long, comp_key string, kind string",
            )
            .localCheckpoint(eager=False)
        )

        # quotient graph: a core point in several blocks glues its components
        core_sets = (
            member.filter("kind = 'core'")
            .groupBy("pid")
            .agg(F.sort_array(F.collect_set("comp_key")).alias("comps"))
        )
        edges = (
            core_sets.filter(F.size("comps") > 1)
            .select(F.col("comps")[0].alias("a"), F.explode("comps").alias("b"))
            .filter("a != b")
            .distinct()
        )
        comp_min = (
            member.filter("kind = 'core'")
            .groupBy("comp_key")
            .agg(F.min("pid").alias("min_pid"))
        )
        uf = _UnionFind()
        comp_rows = comp_min.collect()
        for r in comp_rows:
            uf.find(r["comp_key"])
        for r in edges.collect():
            uf.union(r["a"], r["b"])
        root_min: dict = {}
        for r in comp_rows:
            root = uf.find(r["comp_key"])
            m = root_min.get(root)
            root_min[root] = r["min_pid"] if m is None else min(m, r["min_pid"])
        # dense labels ordered by cluster min core id (sklearn-style relabel)
        ordered = sorted(root_min.items(), key=lambda kv: kv[1])
        root_label = {root: i for i, (root, _) in enumerate(ordered)}
        mapping = [(r["comp_key"], root_label[uf.find(r["comp_key"])]) for r in comp_rows]
        spark = df.sparkSession
        map_df = spark.createDataFrame(mapping, "comp_key string, label long")

        labeled = (
            member.join(F.broadcast(map_df), "comp_key")
            .groupBy("pid")
            .agg(F.min("label").alias("label"))  # core: unique; border: min rule
        )
        out = (
            pts.select("pid")
            .join(labeled, "pid", "left")
            .select(
                "pid",
                F.coalesce(F.col("label"), F.lit(-1)).cast("long").alias("label"),
            )
        )
        if include_role:
            out = out.join(core_flags, "pid").select(
                "pid", "label",
                F.when(F.col("is_core"), "core")
                .when(F.col("label") >= 0, "border")
                .otherwise("noise")
                .alias("role"),
            )
        return out.withColumnRenamed("pid", id_col)

    # ------------------------------------------------------------------
    def _core_flags(self, pts: DataFrame, d: int) -> DataFrame:
        """(pid, is_core) via exact eps-neighbor counts (self included)."""
        eps2 = self.eps * self.eps
        if self.algorithm == "brute":
            a = pts.select(F.col("pid").alias("a_id"), F.col("x").alias("a_x"))
            b = pts.select(F.col("pid").alias("b_id"), F.col("x").alias("b_x"))
            joined = a.crossJoin(b).filter(F.col("a_id") != F.col("b_id"))
        else:
            a_probe = self._with_probe_cells(pts, d).select(
                F.col("pid").alias("a_id"), F.col("x").alias("a_x"), "cell_key"
            )
            b_home = self._with_home_cell(pts, d).select(
                F.col("pid").alias("b_id"), F.col("x").alias("b_x"), "cell_key"
            )
            joined = a_probe.join(b_home, "cell_key").filter(F.col("a_id") != F.col("b_id"))
        # unrolled codegen arithmetic, not a higher-order fold — the hot
        # loop of the grid join (HOFs are interpreted per element)
        from cuml_spark.ops.distance import sq_euclidean_direct

        dist2 = sq_euclidean_direct("a_x", "b_x", d)
        degrees = (
            joined.filter(dist2 <= F.lit(eps2))
            .groupBy("a_id")
            .agg((F.count("*") + 1).alias("deg"))
        )
        return (
            pts.select("pid")
            .join(degrees.withColumnRenamed("a_id", "pid"), "pid", "left")
            .select(
                "pid",
                (F.coalesce(F.col("deg"), F.lit(1)) >= self.min_samples).alias("is_core"),
            )
        )

    def _cell_exprs(self, d: int) -> list:
        return [
            F.floor(F.element_at(F.col("x"), i + 1) / F.lit(self.eps)) for i in range(d)
        ]

    def _with_home_cell(self, pts: DataFrame, d: int) -> DataFrame:
        cells = self._cell_exprs(d)
        return pts.withColumn(
            "cell_key", F.concat_ws(",", *[c.cast("string") for c in cells])
        )

    def _with_probe_cells(self, pts: DataFrame, d: int) -> DataFrame:
        cells = self._cell_exprs(d)
        offsets = list(itertools.product((-1, 0, 1), repeat=d))
        probe_keys = F.array(
            *[
                F.concat_ws(",", *[(cells[i] + F.lit(o[i])).cast("string") for i in range(d)])
                for o in offsets
            ]
        )
        return pts.withColumn("cell_key", F.explode(probe_keys))

    def _blocks(self, pts_core: DataFrame, d: int) -> DataFrame:
        """Replicated membership rows (cell_key, pid, x, is_core, is_home)."""
        if self.algorithm == "brute":
            return pts_core.select(
                F.lit("all").alias("cell_key"), "pid", "x", "is_core",
                F.lit(True).alias("is_home"),
            )
        cells = self._cell_exprs(d)
        home_key = F.concat_ws(",", *[c.cast("string") for c in cells])
        offsets = list(itertools.product((-1, 0, 1), repeat=d))
        probe_keys = F.array(
            *[
                F.concat_ws(",", *[(cells[i] + F.lit(o[i])).cast("string") for i in range(d)])
                for o in offsets
            ]
        )
        return pts_core.select(
            "pid", "x", "is_core",
            home_key.alias("home_key"),
            F.explode(probe_keys).alias("cell_key"),
        ).select(
            "cell_key", "pid", "x", "is_core",
            (F.col("cell_key") == F.col("home_key")).alias("is_home"),
        )
