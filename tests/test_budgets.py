"""Structural budgets of the engine's model fits and scorers: Spark jobs
and parquet scans per call, read from Spark's in-process status stores,
and the py4j commands the driver sends to build a model's plan.

Counts are deterministic at a fixed input, unlike wall time, so a fit
that starts scanning its corpus twice, launching extra jobs or building
its plan one py4j call per operator fails here even when the host is too
noisy to see it in a timing.
"""

from __future__ import annotations

import pickle

import numpy as np
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


# -- ml tier ------------------------------------------------------------------

D = 32


@pytest.fixture(scope="module")
def matrix(spark):
    """32 double features, a target and a binary label, generated in the
    plan over 4 partitions: no file, so no schema job in any count."""
    from pyspark.sql import functions as F

    feats = [f"(xxhash64(id, {j}) % 1000) / 100.0D AS x{j}" for j in range(D)]
    return (spark.range(0, 2000, numPartitions=4)
            .selectExpr(*feats, "(xxhash64(id, -1) % 1000) / 100.0D AS y")
            .withColumn("lbl", (F.col("x0") + F.col("x1") > 0).cast("double")))


def _cols(d: int) -> list[str]:
    return [f"x{j}" for j in range(d)]


def py4j_commands(monkeypatch, fn) -> int:
    """py4j commands ``fn()`` sends, after one warm call.  Object-release
    commands are left out: Python's GC sends them whenever it collects a
    JVM handle, so they would make the count depend on GC timing."""
    import py4j.java_gateway as jg
    import py4j.protocol as proto

    fn()
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
    send, sent = jg.GatewayClient.send_command, [0]

    def counting(self, command, *args, **kwargs):
        sent[0] += not command.startswith(release)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(jg.GatewayClient, "send_command", counting)
        fn()
    return sent[0]


def _kmeans(k: int, d: int):
    from cuml_spark.cluster import KMeans

    km = KMeans(n_clusters=k)
    km.cluster_centers_ = np.arange(k * d, dtype=float).reshape(k, d) / 7
    km._cols = _cols(d)
    return km


def _pca(n_components: int, d: int):
    from cuml_spark.decomposition import PCA

    pca = PCA(n_components=n_components)
    pca.components_ = np.arange(n_components * d, dtype=float).reshape(n_components, d) / 11
    pca.mean_ = np.arange(d, dtype=float) / 3
    pca.explained_variance_ = np.ones(n_components)
    pca._cols = _cols(d)
    return pca


def test_kmeans_predict_commands_constant_in_kd(monkeypatch, matrix):
    """The assignment is one parsed expression: the same commands at
    k·d = 8 as at k·d = 512."""
    small, large = (py4j_commands(monkeypatch, lambda: _kmeans(k, d).predict(matrix))
                    for k, d in ((2, 4), (16, D)))
    assert small == large


def test_pca_transform_commands_constant_in_d(monkeypatch, matrix):
    """One parsed expression per component: the commands do not grow with
    the feature count, and at most one per added component (the list
    handed to ``selectExpr``)."""
    def build(n_components, d):
        frame = matrix.select(_cols(d))
        return py4j_commands(monkeypatch, lambda: _pca(n_components, d).transform(frame))

    assert build(2, 4) == build(2, D)
    assert build(8, D) - build(2, D) <= 6


def test_moment_aggregate_commands_constant_in_d(monkeypatch, matrix):
    """The moments of OLS/Ridge/PCA are one array aggregate: the same
    commands, collect included, at d = 4 as at d = 32 (561 sums)."""
    from cuml_spark.ops.linalg import moment_aggregate

    small, large = (py4j_commands(monkeypatch, lambda: moment_aggregate(matrix, _cols(d), "y"))
                    for d in (4, D))
    assert small == large


def test_ml_fit_jobs(spark, matrix):
    """Job counts of the ml-tier fits: a Lloyd iteration (assignment,
    per-cluster means) is 2 jobs, a Ridge or PCA fit 2, a
    LogisticRegression fit 23.  How the driver builds their expressions
    must not add a job."""
    from cuml_spark.cluster import KMeans
    from cuml_spark.decomposition import PCA
    from cuml_spark.linear_model import LogisticRegression, Ridge

    cols = _cols(8)
    init = np.arange(4 * 8, dtype=float).reshape(4, 8) / 4
    jobs = {}
    for iters in (1, 3):
        _, jobs[iters], _ = spark_budget(
            spark, lambda: KMeans(n_clusters=4, max_iter=iters, tol=-1.0,
                                  init_centers=init).fit(matrix, cols),
            f"budget/kmeans/{iters}")
    assert jobs[1] == 2 and jobs[3] - jobs[1] == 2 * 2
    _, ridge_jobs, _ = spark_budget(spark, lambda: Ridge().fit(matrix, cols, "y"),
                                    "budget/ridge")
    _, pca_jobs, _ = spark_budget(spark, lambda: PCA(n_components=3).fit(matrix, cols),
                                  "budget/pca")
    _, logreg_jobs, _ = spark_budget(
        spark, lambda: LogisticRegression(max_iter=20).fit(matrix, cols, "lbl"),
        "budget/logreg")
    assert (ridge_jobs, pca_jobs, logreg_jobs) == (2, 2, 23)


def test_logreg_n_iter_reads_the_training_summary(spark, matrix):
    """``n_iter_`` is MLlib's ``totalIterations``, read without a job, and
    survives a pickle round trip."""
    from cuml_spark.linear_model import LogisticRegression

    lr = LogisticRegression(max_iter=20).fit(matrix, _cols(8), "lbl")
    total, jobs, _ = spark_budget(spark, lambda: lr._model.summary.totalIterations,
                                  "budget/logreg_summary")
    assert jobs == 0
    assert lr.n_iter_ == total and 1 <= total <= 20
    assert pickle.loads(pickle.dumps(lr)).n_iter_ == lr.n_iter_
