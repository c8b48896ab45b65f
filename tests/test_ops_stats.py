"""Stats primitives vs numpy oracles (mirrors reference test tier 1,
python/cuml/test/ pattern: compute both, compare with tolerance)."""

from __future__ import annotations

import numpy as np
import pytest

from cuml_spark.ops import (
    col_means,
    col_minmax,
    col_stddev,
    covariance_matrix,
    describe_matrix,
    group_topk,
    histogram,
    mean_center,
    weighted_mean,
)

COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@pytest.fixture(scope="module")
def li_pd(lineitem):
    return lineitem.select(COLS).toPandas()


def test_col_means(lineitem, li_pd):
    got = {r["col"]: r["mean"] for r in col_means(lineitem, COLS).collect()}
    for c in COLS:
        assert got[c] == pytest.approx(li_pd[c].mean(), rel=1e-9)


def test_col_stddev(lineitem, li_pd):
    got = {r["col"]: r["stddev"] for r in col_stddev(lineitem, COLS).collect()}
    for c in COLS:
        assert got[c] == pytest.approx(li_pd[c].std(ddof=1), rel=1e-9)


def test_col_minmax(lineitem, li_pd):
    got = {r["col"]: (r["min"], r["max"]) for r in col_minmax(lineitem, COLS).collect()}
    for c in COLS:
        assert got[c][0] == li_pd[c].min()
        assert got[c][1] == li_pd[c].max()


def test_covariance_matrix(lineitem, li_pd):
    got = {(r["col_x"], r["col_y"]): r["cov"] for r in covariance_matrix(lineitem, COLS).collect()}
    cov = li_pd[COLS].cov()
    for (a, b), v in got.items():
        assert v == pytest.approx(cov.loc[a, b], rel=1e-8)


def test_histogram(lineitem, li_pd):
    got = {r["bin"]: r["count"] for r in histogram(lineitem, "l_quantity", 0, 50, 25).collect()}
    vals = li_pd["l_quantity"].to_numpy()
    bins = np.clip(np.floor(vals / 2.0).astype(int), 0, 24)
    expected = dict(zip(*np.unique(bins, return_counts=True)))
    assert got == {int(k): int(v) for k, v in expected.items()}


def test_weighted_mean(lineitem, li_pd):
    got = weighted_mean(lineitem, "l_extendedprice", "l_quantity").first()["wmean"]
    exp = (li_pd["l_extendedprice"] * li_pd["l_quantity"]).sum() / li_pd["l_quantity"].sum()
    assert got == pytest.approx(exp, rel=1e-9)


def test_mean_center(lineitem, li_pd):
    out = mean_center(lineitem, ["l_quantity"]).agg({"l_quantity": "avg"}).first()[0]
    assert out == pytest.approx(0.0, abs=1e-9)


def test_group_topk(lineitem, li_pd):
    out = group_topk(
        lineitem, ["l_returnflag"], "l_extendedprice", k=2,
        tiebreak_cols=["l_orderkey", "l_linenumber"],
    ).collect()
    flags = {r["l_returnflag"] for r in out}
    assert all(sum(1 for r in out if r["l_returnflag"] == f) == 2 for f in flags)
    # top-1 per flag matches pandas
    full = lineitem.select("l_returnflag", "l_extendedprice").toPandas()
    for f in flags:
        top = max(r["l_extendedprice"] for r in out if r["l_returnflag"] == f)
        assert top == full[full.l_returnflag == f]["l_extendedprice"].max()


def test_describe_matrix(lineitem, li_pd):
    got = {r["col"]: r for r in describe_matrix(lineitem, COLS).collect()}
    for c in COLS:
        assert got[c]["n"] == len(li_pd)
        assert got[c]["mean"] == pytest.approx(li_pd[c].mean(), rel=1e-9)
        assert got[c]["sum"] == pytest.approx(li_pd[c].sum(), rel=1e-9)


def test_mean_center_roundtrip_with_mu(spark):
    from cuml_spark.ops import mean_center

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    mu = {"v": 20.0}
    centered = mean_center(df, ["v"])
    restored = mean_center(centered, ["v"], add=True, means=mu)
    got = {r["id"]: r["v"] for r in restored.collect()}
    assert got == {1: 10.0, 2: 20.0, 3: 30.0}
