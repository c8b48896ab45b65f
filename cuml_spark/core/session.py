"""SparkSession factory with scale-oriented defaults.

cuML's ``cuml.Handle`` (reference: python/cuml/common/handle.pyx:32-72) owns the
CUDA stream and allocators; the Spark-native analog is simply the SparkSession
plus its config.  The defaults below are what we want on a real cluster too:
AQE on (runtime re-planning + skew-join handling), Arrow on (every
pandas-UDF hop is Arrow-batched), sensible shuffle parallelism for local[32].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cuml_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster most of these are cluster-conf; setting them here is
    harmless (existing session wins) and makes local runs representative.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pin tz so LTZ timestamp <-> date/day bucketing is host-independent
        # (and matches DuckDB's naive-timestamp arithmetic in the oracles)
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata writes TIMESTAMP(NANOS) parquet; Spark reads them as
        # long nanoseconds with this legacy flag (no nanos timestamp type yet)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    return builder.getOrCreate()


def _session_token(spark: SparkSession) -> str:
    """Session-unique cache-key token (ADVICE r12): ``id(spark)`` could in
    principle be reused by CPython for a NEW session object after the old
    one is garbage-collected, serving a DataFrame bound to a dead session.
    The applicationId ("local-<startTimeMs>") is unique per application;
    it is memoized on the session object so the py4j round trip is paid
    once per session, and a fresh session object never inherits it."""
    tok = getattr(spark, "_cuml_session_token", None)
    if tok is None:
        tok = spark.sparkContext.applicationId
        spark._cuml_session_token = tok
    return tok


_TABLE_HANDLES: dict = {}


def read_table(spark: SparkSession, path: str):
    """Memoized immutable DataFrame handle for one parquet path.

    ``spark.read.parquet(path)`` re-runs schema inference (footer read +
    file listing) on EVERY call — measured ~0.12 s per call, and the
    harness reads each table 1–3× per query construction, so a full
    bench sweep spent tens of seconds re-reading the same footers (r12).
    A DataFrame is an immutable plan handle, so reuse across queries is
    safe; the cache keys on the LIVE session (:func:`_session_token`) and
    the file's (size, mtime), so a restarted session or a regenerated
    file gets a fresh handle, and stale keys for the same path are
    evicted eagerly.
    """
    import os as _os

    try:
        st = _os.stat(path)
        state = (st.st_size, st.st_mtime_ns)
    except OSError:
        state = None
    key = (_session_token(spark), path, state)
    df = _TABLE_HANDLES.get(key)
    if df is None:
        for k in [k for k in _TABLE_HANDLES if k[1] == path]:
            del _TABLE_HANDLES[k]
        df = spark.read.parquet(path)
        _TABLE_HANDLES[key] = df
    return df


def right_size(df, target_bytes: int = 16 << 20, floor: int = 1):
    """Coalesce a SMALL working set to one partition per ``target_bytes``
    of it, so pure-JVM iterative jobs stop paying per-task overheads for
    near-empty partitions.

    The mirror image of :func:`ensure_parallelism`: that one raises the
    partition count so Arrow/pandas-UDF stages (CPU-bound in Python) use
    every core; this one LOWERS it for frames a fit caches and then
    reduces over once per iteration (MLlib's OWL-QN, the SGD epochs, the
    MAE forest's level histograms).  There a job over a few MB is almost
    all fixed per-task cost, and MLlib's ``treeAggregate`` adds a final
    shuffle stage whenever it has more than one partition.  On a 4-core
    VM, one partition instead of 4 took a perfbench ``ml_fit_serve``
    round from 235 to 127 tasks, and its 50k × 8 logistic fit from
    0.99 to 0.70 s of driver time with no shuffle left.

    Sizing is by bytes alone, from Catalyst's free ``sizeInBytes``
    estimate: ``ceil(estimate / target_bytes)`` partitions, never fewer
    than ``floor``.  A caller whose per-row work is heavy enough to want
    cores on a small frame passes a higher ``floor`` (the MLlib random
    forests pass 4).  ``coalesce`` only ever REDUCES the partition count,
    so a 100 TB input (estimate ≫ parts·target) is returned untouched
    with full scan parallelism.  Do NOT use on frames feeding pandas-UDF
    work — those want ``ensure_parallelism`` instead.
    """
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    if not 0 < est < (1 << 40):  # unknown/absurd estimate: leave as is
        return df
    return df.coalesce(max(floor, -(-est // target_bytes)))


def ensure_parallelism(df, min_parts: int | None = None):
    """Round-robin repartition up to the session's default parallelism when
    the plan currently yields fewer partitions.

    Why: a parquet file exposes at most one scan split per row group, so a
    single-row-group file (the local testdata) caps every downstream stage —
    iterative fits, pandas-UDF scoring, cached working sets — at parallelism
    1 regardless of core count.  On a real cluster a 100 TB table scans as
    thousands of row-group splits (`getNumPartitions() >= cores`) and this
    returns the input unchanged, so the call is free at scale; locally it
    trades one narrow shuffle of the working set for full-core execution of
    everything after it.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    # probe the partition count JVM-side: python-side ``df.rdd`` builds a
    # pickle-serialized PythonRDD wrapper (~0.15 s per call, ~40 call
    # sites × every query construction) and under AQE eagerly EXECUTES
    # any exchange stages in the plan just to learn the count (r12).
    # javaRDD() still finalizes AQE stages; harness call sites feed
    # scan-shaped frames (no exchanges), where it is a pure plan walk.
    # Library entry points are the exception (ADVICE r12): DBSCAN.fit
    # applies this to an arbitrary caller frame, where an exchange-
    # bearing plan still triggers eager stage execution here — not a
    # regression vs df.rdd, just not free.
    if df._jdf.javaRDD().getNumPartitions() < target:
        return df.repartition(target)
    return df


def run_overlapped(*thunks):
    """Run independent driver-coordinated chains concurrently and return
    their results in argument order (guide §2.6 "overlap independent
    jobs").

    Spark's scheduler happily runs several jobs at once; chains of small
    driver-blocking actions (iterative fits, multi-pass refinements,
    scoring aggregates) are only sequential because the driver calls them
    sequentially.  Each thunk runs in a ``pyspark.inheritable_thread_target``
    thread so job groups/descriptions propagate; the first exception (if
    any) re-raises in the caller after all threads finish, so failure
    semantics match the serial code.  Use ONLY for chains with no data
    dependency — results must be identical to running the thunks in order.
    """
    import threading

    from pyspark import inheritable_thread_target

    results = [None] * len(thunks)
    errors: list[BaseException] = []

    def runner(i, fn):
        def call():
            try:
                results[i] = fn()
            except BaseException as e:
                errors.append(e)
        return call

    threads = [
        threading.Thread(target=inheritable_thread_target(runner(i, fn)))
        for i, fn in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results
