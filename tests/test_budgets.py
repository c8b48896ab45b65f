"""Structural budgets of the text tier's model fits: Spark jobs and
parquet scans per call, read from Spark's in-process status stores.

Counts are deterministic at a fixed input, unlike wall time, so a fit
that starts scanning its corpus twice or launching extra jobs fails here
even when the host is too noisy to see it in a timing.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE


def _metric(node, values, name: str) -> float:
    """A plan node's SQL metric in one execution, parsed from the store's
    formatted string ("60,000"); 0 when the metric was never updated."""
    metrics = node.metrics()
    for i in range(metrics.size()):
        if metrics.apply(i).name() == name:
            value = values.get(metrics.apply(i).accumulatorId())
            if value.isDefined():
                return float(value.get().split()[0].replace(",", ""))
    return 0.0


def _last_execution_id(sql_store) -> int:
    count = sql_store.executionsCount()
    if count == 0:
        return -1
    return sql_store.executionsList(count - 1, 1).apply(0).executionId()


def spark_budget(spark, fn, group: str):
    """Run ``fn()`` under its own job group → (result, jobs, scans): the
    group's Spark job count, and the parquet scan nodes that read files
    in the SQL executions ``fn`` started."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    first = _last_execution_id(sql_store) + 1
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()  # the stores are filled by the listener bus
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    scans = 0
    for exec_id in range(first, _last_execution_id(sql_store) + 1):
        values = sql_store.executionMetrics(exec_id)
        nodes = sql_store.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name().startswith("Scan parquet"):
                scans += _metric(node, values, "number of files read") > 0
    return out, jobs, scans


@pytest.fixture()
def docs(spark):
    # a fresh, uncached read per test: a cached frame scans nothing, and
    # the read's schema job runs here, outside every measured group
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.mark.parametrize("max_bigrams", [1_000_000, None])
def test_fit_bigram_lm_one_scan_two_jobs(spark, docs, max_bigrams):
    """The uncapped fit is one corpus pass: the aggregation's shuffle-map
    job and the one Arrow collect."""
    from cuml_spark.text.lm import fit_bigram_lm

    model, jobs, scans = spark_budget(
        spark, lambda: fit_bigram_lm(docs, max_bigrams=max_bigrams),
        f"budget/fit_bigram_lm/{max_bigrams}")
    assert model.vocab_size > 0
    assert scans == 1
    assert jobs <= 2


def test_fit_bigram_lm_capped_scans_once(spark, docs):
    """An overflowing probe reads the capped model from the aggregated
    table it already materialized, never from the corpus again: the two
    probe jobs, then the top-k (two) and the per-w1 query (one)."""
    from cuml_spark.text.lm import fit_bigram_lm

    model, jobs, scans = spark_budget(
        spark, lambda: fit_bigram_lm(docs, max_bigrams=10),
        "budget/fit_bigram_lm/capped")
    assert len(model.bigram_counts) == 10
    assert scans == 1
    assert jobs <= 5


@pytest.mark.parametrize("max_bigrams", [1_000_000, 10])
def test_fit_bigram_lm_releases_its_table(spark, docs, max_bigrams):
    """The fit's aggregated table leaves no blocks behind in executor
    storage, on the complete-probe path and on the capped path."""
    from cuml_spark.text.lm import fit_bigram_lm

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    fit_bigram_lm(docs, max_bigrams=max_bigrams)
    assert persistent().size() == before


def test_fit_dsir_one_aggregation(spark, docs):
    """fit_dsir counts target and raw in one aggregation over their
    union: each corpus scanned once, one shuffle-map job, one collect."""
    from pyspark.sql import functions as F

    from cuml_spark.text.dsir import fit_dsir

    target = docs.where(F.col("lang") == "fr")
    model, jobs, scans = spark_budget(
        spark, lambda: fit_dsir(target, docs, num_buckets=512),
        "budget/fit_dsir")
    assert model.log_ratios
    assert scans == 2
    assert jobs <= 2
