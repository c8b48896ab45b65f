"""Exact-quantile tests (ops/quantiles.py): python order-statistic
replay, percentile_disc rank convention, degenerate shapes, NULL/NaN
handling, and the no-global-sort plan contract."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cuml_spark.ops.quantiles import exact_quantiles

SET = settings(max_examples=12, deadline=None)


def _disc(sorted_vals, p):
    return sorted_vals[max(1, math.ceil(p * len(sorted_vals))) - 1]


def test_exact_quantiles_matches_python_replay(spark):
    vals = [float(v) for v in [7, 1, 5, 3, 9, 2, 8, 4, 6, 0]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = dict(exact_quantiles(df, "x", [0.1, 0.5, 0.9, 1.0],
                               n_buckets=4, collect_threshold=2))
    s = sorted(vals)
    for p, v in got.items():
        assert v == _disc(s, p)


def test_exact_quantiles_duplicates_and_constant(spark):
    # heavy duplicate mass: intervals collapse to a point, still exact
    vals = [2.0] * 50 + [5.0] * 50
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = dict(exact_quantiles(df, "x", [0.25, 0.5, 0.75],
                               n_buckets=4, collect_threshold=3))
    assert got == {0.25: 2.0, 0.5: 2.0, 0.75: 5.0}
    const = spark.createDataFrame([(1.5,)] * 20, "x double")
    assert exact_quantiles(const, "x", [0.5], collect_threshold=3) == [(0.5, 1.5)]


def test_exact_quantiles_nulls_and_empty(spark):
    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], "x double")
    # NULLs excluded: n=2, median = rank ceil(.5*2)=1 -> 1.0
    assert exact_quantiles(df, "x", [0.5], collect_threshold=1) == [(0.5, 1.0)]
    empty = spark.createDataFrame([(None,)], "x double")
    assert exact_quantiles(empty, "x", [0.5]) == [(0.5, None)]


def test_exact_quantiles_validation(spark):
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match="prob"):
        exact_quantiles(df, "x", [0.0])
    with pytest.raises(ValueError, match="probs"):
        exact_quantiles(df, "x", [])
    with pytest.raises(ValueError, match="n_buckets"):
        exact_quantiles(df, "x", [0.5], n_buckets=1)
    nan = spark.createDataFrame([(1.0,), (float("nan"),)], "x double")
    with pytest.raises(ValueError, match="NaN"):
        exact_quantiles(nan, "x", [0.5])
    inf = spark.createDataFrame([(1.0,), (float("inf"),)], "x double")
    with pytest.raises(ValueError, match="NaN/inf"):
        exact_quantiles(inf, "x", [0.5])


@SET
@given(
    vals=st.lists(
        st.one_of(st.integers(-50, 50).map(float),
                  st.floats(-1e6, 1e6, allow_nan=False, width=32)),
        min_size=1, max_size=120),
    probs=st.lists(st.sampled_from([0.01, 0.2, 0.5, 0.8, 0.99, 1.0]),
                   min_size=1, max_size=4, unique=True),
    buckets=st.sampled_from([2, 4, 16]),
    thresh=st.sampled_from([1, 5, 50]),
)
def test_exact_quantiles_property(spark, vals, probs, buckets, thresh):
    """For ANY values (duplicates, negatives, float32 noise) and ANY
    bucket/threshold config: the result is the exact percentile_disc
    order statistic from the python sorted replay."""
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = dict(exact_quantiles(df, "x", probs,
                               n_buckets=buckets, collect_threshold=thresh,
                               max_passes=12))
    s = sorted(vals)
    for p in probs:
        assert got[p] == _disc(s, p), (p, got[p], _disc(s, p))


def _executed_plans(spark, fn) -> list[str]:
    """The physical plans of the SQL executions ``fn()`` starts."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last() -> int:
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    bus.waitUntilEmpty()
    first = last() + 1
    fn()
    bus.waitUntilEmpty()
    runs = (store.execution(i) for i in range(first, last() + 1))
    return [r.get().physicalPlanDescription() for r in runs if r.isDefined()]


def test_exact_quantiles_no_global_sort_plan(spark):
    """The plans exact_quantiles runs: the refinement histogram is
    map-side combined (a partial HashAggregate before the final one), and
    no plan range-partitions or globally sorts the data — the final
    selection's window sorts only inside its hash partitions."""
    import re

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    plans = _executed_plans(spark, lambda: exact_quantiles(
        li, "l_extendedprice", [0.25, 0.5, 0.99], n_buckets=64,
        collect_threshold=10_000))
    assert any("partial_count" in p and "partial_min" in p
               and p.count("HashAggregate") >= 2 for p in plans)
    assert any("row_number" in p for p in plans)
    for p in plans:
        assert "rangepartitioning" not in p.lower()
        assert not re.search(r"\bSort \[[^\]]*\], true", p)


def test_local_table_typed_literals_round_trip(spark):
    """core/exprs.local_table ships driver values as one parsed VALUES
    table: every value collects back equal and with its column's type —
    strings needing escapes, longs past 2^53, NULLs."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import types as T

    from cuml_spark.core.exprs import local_table

    schema = T.StructType([
        T.StructField("s", T.StringType()), T.StructField("l", T.LongType()),
        T.StructField("i", T.IntegerType()), T.StructField("b", T.ByteType()),
        T.StructField("d", T.DoubleType()), T.StructField("f", T.FloatType()),
        T.StructField("dec", T.DecimalType(12, 3)),
        T.StructField("bool", T.BooleanType()),
        T.StructField("dt", T.DateType()), T.StructField("ts", T.TimestampType()),
        T.StructField("bin", T.BinaryType()),
    ])
    rows = [
        ("it's \\ `x` ünï", 2 ** 60 + 1, -7, -128, 0.1, 1.5, Decimal("-12.345"),
         True, datetime.date(1999, 12, 31),
         datetime.datetime(2020, 2, 29, 13, 45, 6, 789), bytearray(b"\x00\xff")),
        (None,) * 11,
    ]
    out = local_table(spark, schema, rows)
    assert [f.dataType for f in out.schema.fields] == [f.dataType for f in schema.fields]
    assert sorted(map(tuple, out.collect()), key=repr) == sorted(rows, key=repr)


def test_grouped_exact_quantiles_typed_keys(spark):
    """Group keys of non-string types, NULL included, travel into the
    intervals tables as typed literals and match their rows exactly."""
    from cuml_spark.ops.quantiles import grouped_exact_quantiles

    big = 2 ** 60
    rows = ([(big, float(i)) for i in range(30)]
            + [(big + 1, float(-i)) for i in range(25)]
            + [(None, float(i % 7)) for i in range(20)])
    df = spark.createDataFrame(rows, "g bigint, x double")
    probs = [0.3, 0.5, 1.0]
    got = {(r["g"], r["p"]): r["value"]
           for r in grouped_exact_quantiles(
               df, "x", probs, ["g"], n_buckets=4, collect_threshold=3,
               max_passes=12).collect()}
    assert got == _grouped_disc(rows, probs)


def test_exact_quantiles_edge_straddling_value(spark):
    """Regression (r10 review, scheme superseded r11): a data value
    within ~1 ulp of a computed bucket edge must not be double-counted
    or lost.  Classification is now by clamped FLOOR CELLS with
    actual-(min,max) interval stepping — no driver edge arithmetic
    exists at all, so the 1-ulp executor-vs-driver disagreement this
    test originally trapped is structurally absent.  Kept as a
    regression guard over the same adversarial inputs."""
    lo, hi = -538266.9169180314, -319485.87957956153
    w = (hi - lo) / 64
    edge61 = lo + 61 * w  # a value floor-classification misplaces
    vals = [edge61] * 5 + [lo + i * (hi - lo) / 49 for i in range(50)] + [hi] * 5
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    s = sorted(vals)
    got = dict(exact_quantiles(df, "x", [0.84, 0.88, 0.91],
                               n_buckets=64, collect_threshold=2,
                               max_passes=12))
    for p in (0.84, 0.88, 0.91):
        assert got[p] == _disc(s, p), (p, got[p], _disc(s, p))


def test_exact_quantiles_bigint_beyond_double_precision(spark):
    """Regression (ADVICE r10): longs past 2^53 must come back EXACT and
    NATIVE — ten consecutive longs at 2^60 all collapse to one double
    (ulp there is 256), so any float round-trip loses them; the final
    selection orders native values and the returned element is the int
    itself."""
    base = 2 ** 60
    vals = [base + i for i in range(10)]  # indistinguishable as doubles
    df = spark.createDataFrame([(v,) for v in vals], "x bigint")
    got = dict(exact_quantiles(df, "x", [0.1, 0.5, 1.0],
                               n_buckets=4, collect_threshold=2,
                               max_passes=12))
    s = sorted(vals)
    for p in (0.1, 0.5, 1.0):
        want = _disc(s, p)
        assert got[p] == want and isinstance(got[p], int), (p, got[p], want)
    # mixed magnitudes: a >2^53 cluster at the top of a wide range
    vals2 = list(range(-1000, 0)) + [base + 3, base + 1, base + 2]
    df2 = spark.createDataFrame([(v,) for v in vals2], "x bigint")
    got2 = dict(exact_quantiles(df2, "x", [0.5, 1.0],
                                n_buckets=8, collect_threshold=4,
                                max_passes=12))
    s2 = sorted(vals2)
    assert got2[0.5] == _disc(s2, 0.5)
    assert got2[1.0] == base + 3 and isinstance(got2[1.0], int)


def test_exact_quantiles_freeze_extreme_magnitudes(spark):
    """Freeze-path sweep (VERDICT r10 #7): duplicate-heavy masses at
    1e±300, denormals, and single-ulp-wide clusters must resolve through
    the frozen distinct-value histogram / bounded TakeOrdered to an
    exact DATA value."""
    cases = [
        # single-ulp-wide cluster: [1.0, nextafter(1.0)] freezes pass 1
        [1.0] * 150 + [math.nextafter(1.0, 2.0)] * 150,
        # huge magnitude, range still finite (inf guard untriggered)
        [1e300] * 200 + [-1e300] * 10,
        # denormal cluster: widths underflow immediately
        [5e-324] * 120 + [1e-323] * 120 + [0.0] * 60,
        # extreme + tiny in one column: first split is maximally lopsided
        [1e300] * 100 + [5e-324] * 100 + [0.0] * 100,
    ]
    for vals in cases:
        df = spark.createDataFrame([(float(v),) for v in vals], "x double")
        s = sorted(vals)
        got = dict(exact_quantiles(df, "x", [0.25, 0.5, 0.9],
                                   n_buckets=8, collect_threshold=50,
                                   max_passes=12))
        for p in (0.25, 0.5, 0.9):
            want = _disc(s, p)
            assert got[p] == want, (vals[:3], p, got[p], want)
            assert got[p] in vals  # an element OF the data, never an edge


@SET
@given(
    mags=st.lists(st.sampled_from(
        [5e-324, 1e-310, 0.0, 1.0, 1e300, -1e300, -5e-324]),
        min_size=1, max_size=4, unique=True),
    dup=st.integers(60, 200),
    probs=st.lists(st.sampled_from([0.1, 0.5, 0.9, 1.0]),
                   min_size=1, max_size=3, unique=True),
)
def test_exact_quantiles_freeze_property(spark, mags, dup, probs):
    """Hypothesis sweep over adversarial duplicate masses at extreme
    magnitudes: every combination must return the exact order statistic
    through whichever of the freeze / bounded-histogram / TakeOrdered
    branches it lands in."""
    vals = [m for m in mags for _ in range(dup)]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    s = sorted(vals)
    got = dict(exact_quantiles(df, "x", probs,
                               n_buckets=4, collect_threshold=dup // 2,
                               max_passes=10))
    for p in probs:
        assert got[p] == _disc(s, p), (mags, dup, p, got[p])


def test_exact_quantiles_duplicate_mass_beyond_threshold(spark):
    """Regression (r10 review): a duplicate mass larger than
    collect_threshold freezes at double resolution and must return the
    DATA value via the bounded distinct-value histogram — never a
    computed interval edge a few ulps off."""
    v0 = -319485.87957956153
    vals = [v0] * 400 + [v0 + 1000.0] * 50
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    got = dict(exact_quantiles(df, "x", [0.5, 0.95],
                               n_buckets=8, collect_threshold=100,
                               max_passes=20))
    assert got[0.5] == v0           # exactly the data value
    assert got[0.95] == v0 + 1000.0


def _grouped_disc(rows, probs):
    """Python replay: rows = [(g, v|None)] → {(g, p): value|None}."""
    from collections import defaultdict

    by_g = defaultdict(list)
    groups = set()
    for g, v in rows:
        groups.add(g)
        if v is not None:
            by_g[g].append(v)
    out = {}
    for g in groups:
        s = sorted(by_g[g])
        for p in probs:
            out[(g, p)] = _disc(s, p) if s else None
    return out


def test_grouped_exact_quantiles_matches_python_replay(spark):
    from cuml_spark.ops.quantiles import grouped_exact_quantiles

    rows = [("a", float(i)) for i in range(20)] + \
           [("b", float(100 - i)) for i in range(7)] + \
           [(None, float(i * 3)) for i in range(5)] + \
           [("empty", None), ("empty", None)] + \
           [("a", None)]  # null values excluded per-group
    df = spark.createDataFrame(rows, "g string, x double")
    probs = [0.1, 0.5, 0.9, 1.0]
    got = {(r["g"], r["p"]): r["value"]
           for r in grouped_exact_quantiles(
               df, "x", probs, ["g"], n_buckets=4,
               collect_threshold=2, max_passes=12).collect()}
    want = _grouped_disc(rows, probs)
    assert got == want
    # every (group, prob) present exactly once, incl. NULL-key and
    # all-null groups (SQL GROUP BY semantics)
    assert len(got) == 4 * 4


def test_grouped_exact_quantiles_bigint_and_freeze(spark):
    from cuml_spark.ops.quantiles import grouped_exact_quantiles

    base = 2 ** 60
    rows = ([("big", base + i) for i in range(10)]
            + [("dup", 7)] * 300 + [("dup", 9)] * 100)
    df = spark.createDataFrame(rows, "g string, x bigint")
    got = {(r["g"], r["p"]): r["value"]
           for r in grouped_exact_quantiles(
               df, "x", [0.5, 1.0], ["g"], n_buckets=4,
               collect_threshold=50, max_passes=10).collect()}
    want = _grouped_disc(rows, [0.5, 1.0])
    assert got == want
    assert isinstance(got[("big", 1.0)], int) and got[("big", 1.0)] == base + 9


def test_grouped_exact_quantiles_validation(spark):
    import pytest

    from cuml_spark.ops.quantiles import grouped_exact_quantiles

    df = spark.createDataFrame([("a", 1.0)], "g string, x double")
    with pytest.raises(ValueError, match="group_cols"):
        grouped_exact_quantiles(df, "x", [0.5], [])
    with pytest.raises(ValueError, match="cannot also"):
        grouped_exact_quantiles(df, "x", [0.5], ["x"])
    with pytest.raises(ValueError, match="max_groups"):
        grouped_exact_quantiles(
            spark.createDataFrame([(str(i), 1.0) for i in range(9)],
                                  "g string, x double"),
            "x", [0.5], ["g"], max_groups=4)
    nan = spark.createDataFrame([("a", float("nan"))], "g string, x double")
    with pytest.raises(ValueError, match="NaN/inf in group"):
        grouped_exact_quantiles(nan, "x", [0.5], ["g"])


def test_grouped_exact_quantiles_no_global_sort_plan(spark):
    """The grouped final selection must hash-partition by the interval
    id and sort locally inside the window — NEVER range-partition (a
    global sort); the refinement count must be map-side combined."""
    from cuml_spark.ops.quantiles import grouped_exact_quantiles

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = grouped_exact_quantiles(
        li, "l_extendedprice", [0.5, 0.9], ["l_returnflag"],
        n_buckets=8, collect_threshold=100, max_passes=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


@SET
@given(
    data=st.lists(
        st.tuples(st.sampled_from(["g1", "g2", "g3"]),
                  st.integers(-30, 30).map(float)),
        min_size=1, max_size=80),
    probs=st.lists(st.sampled_from([0.2, 0.5, 0.8, 1.0]),
                   min_size=1, max_size=3, unique=True),
    thresh=st.sampled_from([1, 5, 40]),
)
def test_grouped_exact_quantiles_property(spark, data, probs, thresh):
    from cuml_spark.ops.quantiles import grouped_exact_quantiles

    df = spark.createDataFrame(data, "g string, x double")
    got = {(r["g"], r["p"]): r["value"]
           for r in grouped_exact_quantiles(
               df, "x", probs, ["g"], n_buckets=4,
               collect_threshold=thresh, max_passes=12).collect()}
    assert got == _grouped_disc(data, probs)


def test_grouped_exact_quantiles_many_groups(spark):
    """60 groups of varying sizes in one call: every (group, prob) cell
    exact — exercises the batched intervals table (one broadcast row
    per live (group, rank)) and the single shared selection job."""
    import random

    from cuml_spark.ops.quantiles import grouped_exact_quantiles

    rng = random.Random(11)
    rows = []
    for gi in range(60):
        n = 1 + (gi * 7) % 40
        rows.extend((f"g{gi:02d}", float(rng.randint(-500, 500)))
                    for _ in range(n))
    df = spark.createDataFrame(rows, "g string, x double").repartition(8)
    probs = [0.25, 0.5, 1.0]
    got = {(r["g"], r["p"]): r["value"]
           for r in grouped_exact_quantiles(
               df, "x", probs, ["g"], n_buckets=4,
               collect_threshold=6, max_passes=12).collect()}
    want = _grouped_disc(rows, probs)
    assert got == want and len(got) == 60 * 3
