"""Scalable EXACT quantiles by iterative histogram refinement — the
distributed-selection algorithm (Blum et al.'s selection problem at
cluster scale; the same refinement loop Spark's own
``approxQuantile`` forgoes for a Greenwald-Khanna sketch).  Unlike
``percentile_approx`` this returns the EXACT order statistic, and
unlike SQL ``percentile_disc`` it never globally sorts: each pass is
ONE map-side-combined aggregation, so a 100 TB column costs a handful
of full scans and zero shuffles of data rows — only tiny count frames
ever move.

One routine serves both entry points: :func:`exact_quantiles` is the
routine over no group columns, :func:`grouped_exact_quantiles` over one
or more.  Per (group, rank) — rank k 1-based, ``ceil(p * n)``, the SQL
``percentile_disc`` / DuckDB ``quantile_disc`` convention, so the
oracle can twin it — the state is the live interval ``[lo, hi]`` that
holds the rank, the count of values strictly below ``lo`` and the
count inside:

1. one stats pass, ``groupBy(*group_cols)`` (a global aggregate with
   no group columns): n (non-null), min, max and a NaN/inf flag per
   group;
2. refinement passes: every live rank's interval travels in ONE
   broadcast intervals table (a parsed ``VALUES`` relation — scalars
   only) that tags each row with the intervals holding it, null-safe
   on the group keys or a cross join when there are none.  Each row
   lands in one of ``n_buckets`` equal-width floor cells of its
   interval, and one aggregation counts every (rank, cell)'s (count,
   min, max).  The next interval is the ACTUAL double-space (min, max)
   of the cell holding the rank, and the cells below add to the count
   below — the executor's floor expression is the single source of
   cell identity, so no driver edge arithmetic exists for it to
   disagree with (the 1-ulp boundary trap is structurally absent), and
   intervals shrink at least as fast as the cell width;
3. a rank leaves the loop once its interval holds ≤
   ``collect_threshold`` rows or collapses to a point.  One that can
   no longer split at double resolution FREEZES: its interval is a few
   ulps wide but may hold a huge duplicate mass, so every frozen rank
   resolves in one bounded distinct-value histogram job;
4. the rest resolve in ONE selection: the surviving intervals tag
   their rows and ``row_number`` over a window hash-partitioned by
   rank id (never range-partitioned — no global sort) picks each
   rank's needed-th smallest; only interval-resident rows (≤ ranks ×
   collect_threshold) ever shuffle.

Determinism: counts are exact integers; cell identity is one pure
double expression of (value, lo, width) evaluated only on executors;
intervals are actual data extremes; the result is an element OF the
data, identical on any partitioning.  NULLs are excluded (SQL
aggregate convention); NaN/inf are rejected up front (they poison
value comparisons and make every cell width degenerate).

Integral columns beyond 2^53 stay EXACT although the interval edges
live in double space: the long→double cast is monotone non-decreasing,
so every "values strictly below edge" set counted on the executors is
prefix-closed in NATIVE order, and the final selection orders native
values inside the surviving interval.  The returned value is the
native element itself (int for integral columns, float otherwise).

Worst case: values concentrated so a cell never shrinks below the
threshold (massive duplicate mass) — the interval collapses to a single
point in ≤ 1 extra pass (duplicates ARE the answer) since equal values
all land in one cell of zero width.  ``max_passes`` guards the loop; on
exhaustion the final selection runs with whatever interval remains
(still exact, just a bigger shuffle).

No cuML counterpart (dense-matrix data model); first-class here like
the sketch tier (ops/hll.py, ops/cms.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StructField, StructType)
from pyspark.sql.window import Window

from cuml_spark.core.exprs import local_table

__all__ = ["exact_quantiles", "grouped_exact_quantiles"]


def exact_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    *,
    n_buckets: int = 64,
    collect_threshold: int = 100_000,
    max_passes: int = 16,
) -> list[tuple[float, float | int | None]]:
    """→ ``[(p, value), ...]`` in ``probs`` order, where ``value`` is the
    EXACT ``percentile_disc(p)`` order statistic of ``df[col]`` (the
    element at 1-based rank ``ceil(p * n)`` over non-null values) in the
    column's NATIVE python type (int for integral columns — exact past
    2^53 — float otherwise), or None for an all-null/empty column.  See
    the module docstring for the scan shape; total cost ≈ ``2 +
    passes`` full scans regardless of data size, with only
    O(n_buckets × len(probs)) counts ever leaving the executors."""
    _, hits, static = _quantiles(df, col, probs, [], n_buckets=n_buckets,
                                 collect_threshold=collect_threshold,
                                 max_passes=max_passes)
    found = dict(static)
    if hits is not None:
        found.update((r["p"], r["value"]) for r in hits.collect())
    return [(p, found[p]) for p in probs]


def grouped_exact_quantiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    group_cols: list[str],
    *,
    n_buckets: int = 64,
    collect_threshold: int = 100_000,
    max_passes: int = 16,
    max_groups: int = 100_000,
) -> DataFrame:
    """Per-group EXACT ``percentile_disc`` quantiles, for per-domain /
    per-language percentile cuts (CCNet perplexity buckets, per-stratum
    length caps): → DataFrame(group_cols…, p, value) with one row per
    (group, distinct prob), ``value`` in the column's native type (NULL
    for all-null groups, SQL ``GROUP BY`` semantics; a NULL key is its
    own group).  Every group's live ranks ride the same scans, so the
    pass count is that of the slowest group, not the sum.

    Driver-bounded contract: per-group states live on the driver —
    ``max_groups`` guards the stats collect (the text/dsir.py
    bounded-fit convention).  Designed for stratum-grade cardinality
    (languages, domains, quality buckets), not data-grade keys.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use exact_quantiles)")
    fields, hits, static = _quantiles(
        df, col, probs, list(group_cols), n_buckets=n_buckets,
        collect_threshold=collect_threshold, max_passes=max_passes,
        max_groups=max_groups)
    out_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in fields[:-1]]
        + [StructField("p", DoubleType(), False),
           StructField("value", fields[-1].dataType, True)])
    static_df = df.sparkSession.createDataFrame(static, out_schema)
    return static_df if hits is None else hits.unionByName(static_df)


def _quantiles(df, col, probs, gcols, *, n_buckets, collect_threshold,
               max_passes, max_groups=None):
    """The one distributed selection over ``gcols`` (possibly empty) →
    (schema fields of (gcols…, value), the lazy final-selection frame of
    (gcols…, p, value) or None, rows (gcols…, p, value) resolved on the
    driver — all-null groups and frozen duplicate masses)."""
    if not probs:
        raise ValueError("probs must be non-empty")
    for p in probs:
        if not (0.0 < p <= 1.0):
            raise ValueError(f"each prob must be in (0, 1], got {p}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if col in gcols:
        raise ValueError(f"col {col!r} cannot also be a group column")
    probs = sorted(set(probs))
    vd = F.col("__v").cast("double")
    projected = df.select(*gcols, F.col(col).alias("__v"))
    fields = projected.schema.fields
    base = projected.where(F.col("__v").isNotNull())
    stats = projected.groupBy(*gcols).agg(
        F.count("__v").alias("n"),  # count(col): nulls excluded
        F.min("__v").alias("mn"),
        F.max("__v").alias("mx"),
        # NULL __v rows propagate null into the flag and max skips them
        F.max((F.isnan(vd) | (F.abs(vd) == float("inf"))).cast("int"))
        .alias("has_nonfinite"),
    )
    if gcols:
        # the guard must bound the TRANSFER, not inspect it after the
        # fact: limit(max_groups + 1) plans a CollectLimit, so a
        # data-grade key ships max_groups + 1 rows, never 10^8
        stats = stats.limit(int(max_groups) + 1)
    stats_rows = stats.collect()
    if gcols and len(stats_rows) > max_groups:
        raise ValueError(
            f"more than max_groups={max_groups} groups — grouped "
            "quantiles keep per-group state on the driver; raise "
            "max_groups only if that state genuinely fits"
        )
    # state per (group key, p): [k, lo, hi, below, cnt, frozen] — rank k
    # lies in [lo, hi] with exactly `below` values strictly below lo and
    # `cnt` inside; `frozen` marks double-resolution exhaustion, resolved
    # exactly by the value histogram, NEVER by a computed edge
    state: dict = {}
    static: list[tuple] = []
    for r in stats_rows:
        gk = tuple(r[g] for g in gcols)
        where = f" in group {gk!r}" if gcols else ""
        if r["n"] == 0:
            static.extend((*gk, p, None) for p in probs)
            continue
        if r["has_nonfinite"]:
            raise ValueError(
                f"column {col!r} contains NaN/inf{where} — filter it first")
        lo, hi = float(r["mn"]), float(r["mx"])
        if hi - lo == float("inf"):
            # finite sentinels like ±1e308 overflow every cell width
            raise ValueError(
                f"column {col!r} spans a range wider than a double{where} "
                f"({r['mn']} .. {r['mx']}) — rescale or filter first")
        for p in probs:
            state[(gk, p)] = [max(1, math.ceil(p * r["n"])), lo, hi, 0,
                              r["n"], False]

    keys = [StructField(f"__g{i}", f.dataType)
            for i, f in enumerate(fields[:-1])]

    def tag(rows, *cols):
        """``base`` rows joined to the intervals that hold them: ``rows``
        are (rank id, state key, lo, hi, values of the (name, type)
        ``cols``), shipped as one parsed VALUES table and broadcast."""
        schema = StructType(keys + [
            StructField(n, t) for n, t in [("__j", IntegerType()),
                                           ("__lo", DoubleType()),
                                           ("__hi", DoubleType()), *cols]])
        iv = local_table(df.sparkSession, schema,
                         [(*key[0], j, *vals) for j, key, *vals in rows])
        cond = (vd >= F.col("__lo")) & (vd <= F.col("__hi"))
        for g, key in zip(gcols, keys):
            cond = cond & F.col(g).eqNullSafe(F.col(key.name))
        return base.join(F.broadcast(iv), cond)

    def histogram(tagged, key, *aggs):
        """Per rank id, its (__j, key, c, aggs…) rows in key order."""
        per_j: dict = {}
        rows = (tagged.groupBy("__j", key)
                .agg(F.count("*").alias("c"), *aggs).collect())
        for r in sorted(rows, key=lambda r: r[1]):
            per_j.setdefault(r["__j"], []).append(r)
        return per_j

    for _ in range(max_passes):
        rows = []
        for j, (key, s) in enumerate(state.items()):
            k, lo, hi, below, cnt, frozen = s
            if frozen or lo >= hi or cnt <= collect_threshold:
                continue
            w = (hi - lo) / n_buckets
            if w <= 0 or lo + w == lo:  # double resolution exhausted
                s[5] = True
                continue
            rows.append((j, key, lo, hi, w))
        if not rows:
            break
        # the bucket is a clamped floor on the DOUBLE cast — plain codegen
        # arithmetic; counts go long-form, one map-side-combined groupBy
        # over <= live ranks x n_buckets keys
        bucket = F.least(F.floor((vd - F.col("__lo")) / F.col("__w")),
                         F.lit(n_buckets - 1)).cast("int").alias("__b")
        cells = histogram(tag(rows, ("__w", DoubleType())), bucket,
                          F.min(vd).alias("mn"), F.max(vd).alias("mx"))
        for j, key, *_ in rows:
            s = state[key]
            # a floor cell is an interval in double space, so the chosen
            # cell's ACTUAL [mn, mx] selects exactly its rows next pass
            s[3], cell = _locate(s[0], s[3], cells[j])
            s[1], s[2], s[4] = cell["mn"], cell["mx"], cell["c"]

    sel, frozen_rows = [], []
    for j, (key, (k, lo, hi, below, _c, _f)) in enumerate(state.items()):
        if k - below > collect_threshold:
            # only reachable frozen (or at max_passes on pathological
            # data): a few-ulp interval holds few DISTINCT values (<=
            # n_buckets + 1 doubles; for longs ~n_buckets x ulp(lo))
            frozen_rows.append((j, key, lo, hi))
        else:
            sel.append((j, key, lo, hi, k - below, key[1]))
    if frozen_rows:
        hist = histogram(tag(frozen_rows), "__v")
        for j, key, *_ in frozen_rows:
            k, _lo, _hi, below, _c, _f = state[key]
            static.append(
                (*key[0], key[1], _locate(k, below, hist[j])[1]["__v"]))
    hits = None
    if sel:
        # ties order arbitrarily under row_number, but the VALUE at the
        # needed-th position is a property of the multiset
        hits = (
            tag(sel, ("__needed", LongType()), ("__p", DoubleType()))
            .withColumn("__rn", F.row_number().over(
                Window.partitionBy("__j").orderBy(F.col("__v").asc())))
            .where(F.col("__rn") == F.col("__needed"))
            .select(*gcols, F.col("__p").alias("p"),
                    F.col("__v").alias("value"))
        )
    return fields, hits, static


def _locate(k: int, below: int, cells: list[Row]) -> tuple[int, Row]:
    """The cell of ``cells`` (in value order, ``below`` values under the
    first) that holds rank k → (values below that cell, the cell)."""
    for cell in cells:
        if below + cell["c"] >= k:
            return below, cell
        below += cell["c"]
    raise AssertionError("rank fell outside its interval")  # pragma: no cover
