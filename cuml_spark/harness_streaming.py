"""Harness queries: Structured Streaming pipeline operators.

Both queries run a REAL streaming query (file source → watermark/stateful
op → memory sink, ``trigger(availableNow=True)``) and report a batch
aggregate of the sink — the streaming backfill over a static directory must
equal the batch SQL answer, which is exactly the replayability contract a
100 TB ingest pipeline needs (reprocessing a day of files gives the same
table the live stream produced).

``streaming_dedup_docs`` is set-deterministic: WHICH duplicate survives is
engine-dependent, but the surviving fingerprint SET is not, so the query
reports per-prefix distinct-fingerprint counts + an order-insensitive
integer checksum over the set.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuml_spark.core.session import read_table
from cuml_spark.streaming import (streaming_clean_corpus, streaming_dedup,
                                  streaming_windowed_stats)

_DAY_NS = 86_400_000_000_000

_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# (session, sf_dir) -> resolved events `ts` dtype (see _events_stream)
_TS_TYPE_CACHE: dict[tuple, str] = {}


def _read_stream(spark: SparkSession, sf_dir: str, table: str, schema: str) -> DataFrame:
    # the file stream source requires a directory basePath; the sf dir holds
    # one parquet FILE per table, so point at the dir and glob the file
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events as a stream with an (ltz) TIMESTAMP ``ts`` — watermarks
    require TimestampType.  Day bucketing must be host-independent, so the
    session tz is pinned UTC here (the driver's session may not be ours).
    Robust to either physical ts encoding the testdata generator has used:
    TIMESTAMP(NANOS) surfaces as long under nanosAsLong; micro/milli
    timestamps stream directly."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # footer-only schema probe, but it re-reads the footer on every
    # invocation of every events-backed streaming query — memoize the
    # resolved dtype per (live session, sf_dir)  (r12)
    from cuml_spark.core.session import _session_token

    key = (_session_token(spark), sf_dir)
    ts_type = _TS_TYPE_CACHE.get(key)
    if ts_type is None:
        ts_type = dict(
            read_table(spark, f"{sf_dir}/events.parquet").dtypes
        )["ts"]
        _TS_TYPE_CACHE.clear()  # one live session at a time — no leak
        _TS_TYPE_CACHE[key] = ts_type
    if ts_type in ("bigint", "long"):
        raw = _read_stream(
            spark, sf_dir, "events",
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        # integer division — `/` would round-trip the ~1.7e18 ns value
        # through double (ULP 256 ns) and day-boundary events could land in
        # the wrong window vs the oracle's exact integer arithmetic
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _read_stream(
        spark, sf_dir, "events",
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def _backfill_parts(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Scale-adaptive state/shuffle partition count for an availableNow
    backfill: ~one partition per 32 MB of source parquet, clamped to
    [2, defaultParallelism].

    Streaming micro-batches get no AQE coalescing, so every stateful
    operator inherits ``spark.sql.shuffle.partitions`` state stores —
    each paying a per-batch commit (delta file + rename) and a task
    launch.  Measured at sf0.1 (streaming_dedup_docs backfill,
    interleaved ×3): 32 partitions 3.2–3.9 s vs 2 partitions 0.91 s.
    A 100 TB ingest derives thousands of partitions from the same rule
    (capped at cluster parallelism), so this is the guide §2.2 "size
    partitions to the data" rule, not a local[32] constant.
    These backfills are ephemeral, so the count may differ from run to
    run; a real checkpointed stream must keep its state-store count
    fixed across restarts.
    """
    import os

    try:
        nbytes = os.path.getsize(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        return spark.sparkContext.defaultParallelism
    return max(2, min(spark.sparkContext.defaultParallelism,
                      -(-nbytes // (32 << 20))))


def _ckpt_base() -> str:
    """Ephemeral checkpoint root for availableNow→memory-sink backfills.

    These checkpoints live exactly as long as the query (the caller
    removes them); /dev/shm beats disk for the many tiny state-store
    commit files when present.  Durable production streams need a real
    (HDFS/object-store) checkpoint dir instead — override with
    ``CUML_SPARK_STREAM_CKPT``.
    """
    import os
    import tempfile

    base = os.environ.get("CUML_SPARK_STREAM_CKPT")
    if base:
        return base
    return "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()


def _run_to_memory(out: DataFrame, mode: str, parts: int | None = None) -> DataFrame:
    import shutil
    import tempfile

    name = f"stream_{uuid.uuid4().hex[:12]}"
    spark = out.sparkSession
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_", dir=_ckpt_base())
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if parts is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    finally:
        # restore BEFORE the caller plans its batch aggregation over the
        # sink, so only the stream's state partitioning is affected
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def q_streaming_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _read_stream(spark, sf_dir, "documents", _DOCS_SCHEMA)
    survivors = _run_to_memory(streaming_dedup(stream), "append",
                               parts=_backfill_parts(spark, sf_dir, "documents"))
    return (
        survivors.groupBy(F.substring("fingerprint", 1, 1).alias("prefix"))
        .agg(
            F.count("*").alias("n_fp"),
            F.min("fingerprint").alias("min_fp"),
            F.max("fingerprint").alias("max_fp"),
            F.sum(F.conv(F.substring("fingerprint", 1, 8), 16, 10).cast("long"))
            .alias("chk"),
        )
    )


_SQL_STREAMING_DEDUP_DOCS = """
WITH fp AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         AS fingerprint
  FROM documents
)
SELECT substr(fingerprint, 1, 1) AS prefix,
       count(*) AS n_fp,
       min(fingerprint) AS min_fp,
       max(fingerprint) AS max_fp,
       sum(('0x' || substr(fingerprint, 1, 8))::UBIGINT)::BIGINT AS chk
FROM fp GROUP BY 1
"""


def q_streaming_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    out = streaming_windowed_stats(
        stream, ts_col="ts", key_col="event_type", value_col="value",
        window="1 day", watermark="1 day",
    )
    # complete mode so every window (including the still-open last one) is
    # in the sink — the backfill answer must equal the batch GROUP BY
    sink = _run_to_memory(out, "complete",
                          parts=_backfill_parts(spark, sf_dir, "events"))
    return sink.select(
        F.datediff(F.col("window_start").cast("date"), F.to_date(F.lit("1970-01-01")))
        .cast("long").alias("day_idx"),
        F.col("key"),
        "n",
        F.round("avg_value", 6).alias("avg_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )


_SQL_STREAMING_WINDOW_STATS = f"""
SELECT epoch_ns(ts) // {_DAY_NS} AS day_idx,
       event_type AS key,
       count(*) AS n,
       round(avg(value), 6) AS avg_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events
GROUP BY 1, 2
"""


def q_streaming_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming backfill of the corpus cleaner must equal the batch
    pipeline: a real streaming query (file source → dedup state → pure-map
    gate + language ID → memory sink, availableNow), aggregated batch-side.
    Exact dedup keys on the full text, so every possible survivor of a
    fingerprint carries identical token counts and language — the
    per-language budget below is deterministic and replayable."""
    stream = _read_stream(spark, sf_dir, "documents", _DOCS_SCHEMA)
    sink = _run_to_memory(streaming_clean_corpus(stream), "append",
                          parts=_backfill_parts(spark, sf_dir, "documents"))
    return sink.groupBy("pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
    )


def _sql_streaming_clean_corpus() -> str:
    # the batch pipeline oracle verbatim: its final aggregate never reads
    # doc_id, and exact dedup keeps one textually-identical survivor per
    # fingerprint either way, so keep-first (batch) and engine-chosen
    # survivor (stream) yield the same per-language budget
    from cuml_spark.harness_text import _sql_pipeline_clean_corpus

    return _sql_pipeline_clean_corpus()


def q_streaming_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunking on a STREAM: chunk_documents is stateless
    map-only (sequence/slice/posexplode), so it runs unchanged inside a
    streaming query — file source → chunker → memory sink, availableNow.
    The backfill must equal the batch `doc_chunks` answer ROW FOR ROW
    (same oracle), which is the replayability contract for a chunking
    ingest stage: reprocessing a day of files yields the same chunk
    table the live stream produced."""
    from cuml_spark.text.retrieval import chunk_documents

    stream = _read_stream(spark, sf_dir, "documents", _DOCS_SCHEMA)
    chunks = chunk_documents(stream, 40, overlap=8)
    sink = _run_to_memory(chunks, "append",
                          parts=_backfill_parts(spark, sf_dir, "documents"))
    return sink.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_tokens",
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
    )


def _sql_streaming_chunk_docs() -> str:
    # the batch chunking oracle verbatim: chunking is stateless, so the
    # streaming backfill must reproduce every row exactly
    from cuml_spark.harness_text import _SQL_DOC_CHUNKS

    return _SQL_DOC_CHUNKS


def q_streaming_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality filter as an INGEST-TIME gate: score_linear_bow_inline
    is map-only/stateless (the weight map is a plan literal, the fold
    runs in-row), so it runs unchanged inside a streaming query — file
    source → scorer → memory sink, availableNow.  The backfill must
    equal the batch `quality_filter_scores` answer ROW FOR ROW (same
    oracle); with dyadic weights the inline fold is bit-identical to the
    batch broadcast-join path, so one oracle serves both."""
    from cuml_spark.harness_text import (_QF_BIAS, _QF_NUM_BUCKETS,
                                         _QF_TOKEN_WEIGHTS, _qf_bucket)
    from cuml_spark.text.classifier import score_linear_bow_inline

    stream = _read_stream(spark, sf_dir, "documents", _DOCS_SCHEMA)
    weights = {_qf_bucket(t): w for t, w in _QF_TOKEN_WEIGHTS}
    scored = score_linear_bow_inline(
        stream, weights, bias=_QF_BIAS, num_buckets=_QF_NUM_BUCKETS)
    sink = _run_to_memory(scored, "append",
                          parts=_backfill_parts(spark, sf_dir, "documents"))
    return sink.select(
        "doc_id",
        F.round("score", 6).alias("score"),
        F.round("prob", 6).alias("prob"),
    )


def _sql_streaming_quality_scores() -> str:
    # the batch quality-filter oracle verbatim: the scorer is stateless,
    # so the streaming backfill must reproduce every row exactly
    from cuml_spark.harness_text import _sql_quality_filter

    return _sql_quality_filter()


def q_streaming_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule bundle as an INGEST-TIME gate: pure column
    expressions are stateless, so gopher_quality_flags runs unchanged
    inside a streaming query — file source → rule flags → memory sink,
    availableNow.  Row-for-row parity with the batch `gopher_quality`
    answer (same oracle): reprocessing a day of files yields the same
    audit table the live stream produced."""
    from cuml_spark.text.gopher import gopher_quality_flags

    stream = _read_stream(spark, sf_dir, "documents", _DOCS_SCHEMA)
    flags = gopher_quality_flags(stream, min_stopword_hits=1)
    return _run_to_memory(flags, "append",
                          parts=_backfill_parts(spark, sf_dir, "documents"))


def _sql_streaming_gopher_gate() -> str:
    from cuml_spark.harness_text import _SQL_GOPHER_QUALITY

    return _SQL_GOPHER_QUALITY


def _dsir_gate_model(spark: SparkSession, sf_dir: str):
    """The gate model, fit batch side (the fit-once/score-stream
    deployment shape): one conditional scan at 512 buckets.  The batch
    `dsir_weights` query fits its own separate 4096-bucket model."""
    from cuml_spark.core.session import ensure_parallelism
    from cuml_spark.text.dsir import fit_dsir_subset

    batch = ensure_parallelism(read_table(spark, f"{sf_dir}/documents.parquet"))
    return fit_dsir_subset(batch, F.col("lang") == "fr", num_buckets=512)


def q_streaming_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR as an INGEST-TIME gate (the deployment shape: fit once on
    yesterday's corpus, score today's stream): the model is fit BATCH
    side (one conditional scan, fit_dsir_subset at 512 buckets — gate
    models stay literal-map-sized), then log_weights_inline scores the
    stream map-only/stateless — file source → in-row fold → memory
    sink, availableNow.  Weights round to 6; the oracle is the batch
    DSIR computation without the top-k cut, so the streaming backfill
    must reproduce every document's weight."""
    model = _dsir_gate_model(spark, sf_dir)
    stream = _read_stream(spark, sf_dir, "documents", _DOCS_SCHEMA)
    scored = model.log_weights_inline(stream)
    sink = _run_to_memory(scored, "append",
                          parts=_backfill_parts(spark, sf_dir, "documents"))
    return sink.select(
        "doc_id", F.round("log_weight", 6).alias("log_weight"))


def _sql_streaming_dsir_gate() -> str:
    from cuml_spark.harness_text import _sql_dsir

    return _sql_dsir(512, None)


def _bloom_gate_model(spark: SparkSession, sf_dir: str):
    """The fitted bloom filter (fit-once/probe-stream, the same
    deployment shape as _dsir_gate_model): ONE bit-position-keyed
    aggregation over the "previous snapshot" (doc_id % 7 == 0), packed to
    128 longs on the driver."""
    from cuml_spark.core.session import ensure_parallelism
    from cuml_spark.text.bloom import fit_bloom

    batch = ensure_parallelism(read_table(spark, f"{sf_dir}/documents.parquet"))
    return fit_bloom(batch.where(F.col("doc_id") % 7 == 0), "text",
                     num_bits=8192, num_hashes=5)


def q_streaming_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom membership gate as an INGEST-TIME filter (the
    cross-crawl "seen in the last snapshot?" suppression shape): the
    filter is fit BATCH side and rides the streaming plan as a literal
    long array — bloom_probe is stateless codegen (element_at +
    shiftrightunsigned), so it drops unchanged into a streaming query.
    Row-for-row parity with the batch `bloom_dedup_gate` answer (same
    oracle)."""
    from cuml_spark.text.bloom import bloom_probe

    model = _bloom_gate_model(spark, sf_dir)
    stream = _read_stream(spark, sf_dir, "documents", _DOCS_SCHEMA)
    probed = bloom_probe(stream, model, "text")
    sink = _run_to_memory(probed, "append",
                          parts=_backfill_parts(spark, sf_dir, "documents"))
    return sink.select("doc_id", "maybe_seen")


def _sql_streaming_bloom_gate() -> str:
    from cuml_spark.harness_text import _SQL_BLOOM_DEDUP_GATE

    return _SQL_BLOOM_DEDUP_GATE


# cache of an 8-file split of the documents table: the file-stream
# source assigns WHOLE FILES to tasks, so the driver's
# one-file-per-table fixture would serialize per-row-heavy streaming
# compute onto a single task (measured 5.8s vs the 0.55s 32-way batch
# twin for identical CDC work).  A real ingest directory has many
# files; this split makes the bench measure the OPERATOR, not the
# fixture.  Testdata is read-only, so the split lives in a USER-OWNED
# 0700 cache dir (never a predictable world-shared /tmp path another
# user could pre-create to substitute data) at ONE stable path keyed by
# the source file's (path, size, mtime) — reused across sessions,
# rebuilt only when the source changes, with stale sibling dirs removed
# so repeated rounds never accumulate copies.
_DOCS_SPLIT_CACHE: dict[str, str] = {}
_LEGACY_SPLITS_RETIRED = False


def _split_cache_base() -> str:
    """Per-user 0700 cache root for stream-fixture splits; refuses a
    pre-existing path owned by someone else (symlinked or squatted)."""
    import getpass
    import os
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(), f"cuml_spark_cache_{getpass.getuser()}"
    )
    os.makedirs(base, mode=0o700, exist_ok=True)
    st = os.lstat(base)
    if os.path.islink(base) or st.st_uid != os.getuid():
        raise RuntimeError(
            f"stream split cache {base!r} exists but is not a directory "
            f"owned by uid {os.getuid()} — remove it or set TMPDIR"
        )
    # makedirs' mode is umask-masked and a pre-existing user-owned dir
    # (e.g. 0755 from an earlier umask-affected run) passes the lstat
    # check — enforce the documented 0700 every call  (ADVICE r11)
    import stat as stat_mod

    if stat_mod.S_IMODE(st.st_mode) != 0o700:
        os.chmod(base, 0o700)
    return base


def _split_docs_dir(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    import glob
    import hashlib
    import os
    import shutil

    src = f"{sf_dir}/documents.parquet"
    st = os.stat(src)
    src_tok = hashlib.md5(src.encode()).hexdigest()[:6]
    state_tok = hashlib.md5(
        f"{st.st_size}|{st.st_mtime_ns}|{n_files}".encode()
    ).hexdigest()[:8]
    prefix = os.path.join(_split_cache_base(), "docs_split_")
    path = f"{prefix}{src_tok}_{state_tok}"
    # one-time (per process) retirement of pre-r11 splits at the old
    # prefix — the LITERAL /tmp constant the old code wrote regardless
    # of TMPDIR, so the glob must not follow gettempdir(); the new-base
    # eviction below never scans it, and the stated invariant is that
    # rounds never accumulate copies
    global _LEGACY_SPLITS_RETIRED
    if not _LEGACY_SPLITS_RETIRED:
        _LEGACY_SPLITS_RETIRED = True
        for legacy in glob.glob("/tmp/cuml_spark_docs_split_*"):
            shutil.rmtree(legacy, ignore_errors=True)
    if _DOCS_SPLIT_CACHE.get(src) == path and os.path.exists(
        f"{path}/_SUCCESS"
    ):
        return path
    # evict only THIS source's outdated splits (regenerated testdata);
    # other sf dirs' splits coexist — one live dir per source, ever
    for stale in glob.glob(f"{prefix}{src_tok}_*"):
        if stale != path:
            shutil.rmtree(stale, ignore_errors=True)
    if not os.path.exists(f"{path}/_SUCCESS"):
        (
            spark.read.parquet(src)
            .repartition(n_files)
            .write.mode("overwrite").parquet(path)
        )
    _DOCS_SPLIT_CACHE[src] = path
    return path


def q_streaming_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking on a STREAM: cdc_chunks is stateless
    position-parallel in-row work, so it runs unchanged inside a
    streaming query — file source (8-file split dir, see
    _split_docs_dir) → CDC chunker → memory sink, availableNow.
    Row-for-row parity with the batch `cdc_chunks` answer (same
    oracle): reprocessing a day of files yields the same dedup-stable
    chunk table the live ingest produced, on ANY file layout."""
    from cuml_spark.text.cdc import cdc_chunks

    stream = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .parquet(_split_docs_dir(spark, sf_dir))
    )
    chunks = cdc_chunks(stream, window=16, mask_bits=6).select(
        "doc_id", "chunk_id", "start", "chunk_len", "chunk_md5")
    return _run_to_memory(chunks, "append",
                          parts=_backfill_parts(spark, sf_dir, "documents"))


def _sql_streaming_cdc_chunks() -> str:
    from cuml_spark.harness_text import _SQL_CDC_CHUNKS

    return _SQL_CDC_CHUNKS


def q_streaming_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day on a STREAM via HyperLogLog registers
    (streaming/pipeline.py streaming_hll_registers): per-window state is
    CONSTANT-SIZE (<= 2^b register rows) no matter the event volume —
    the shape streaming exact count-distinct cannot sustain.  The
    estimate fold (ops/hll.py) runs batch-side over the tiny sink;
    exact per-day distincts ride alongside for audit.  Register max is
    associative + monotone, so the backfill equals the batch sketch
    register-for-register."""
    from cuml_spark.ops.hll import hll_estimate_from_registers
    from cuml_spark.streaming.pipeline import streaming_hll_registers

    stream = _events_stream(spark, sf_dir)
    regs = streaming_hll_registers(stream, value_col="user_id", b=10)
    sink = _run_to_memory(regs, "complete",
                          parts=_backfill_parts(spark, sf_dir, "events"))
    day = F.datediff(F.col("window_start").cast("date"),
                     F.to_date(F.lit("1970-01-01"))).cast("long")
    est = hll_estimate_from_registers(
        sink.select(day.alias("day_idx"), "bucket", "max_rho"),
        ["day_idx"], b=10)
    from cuml_spark.tsa.sessions import _ts_micros

    ev = read_table(spark, f"{sf_dir}/events.parquet")
    exact = (ev.select(_ts_micros(ev, "ts").alias("__tus"), "user_id")
             .groupBy(F.expr("__tus div 86400000000").cast("long").alias("day_idx"))
             .agg(F.count_distinct("user_id").alias("exact_distinct")))
    return est.join(exact, "day_idx").select(
        "day_idx", F.round("approx_distinct", 4).alias("approx_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"))


_SQL_STREAMING_HLL_USERS = """
WITH e AS (
  SELECT epoch_ns(ts) // 86400000000000 AS day_idx, user_id FROM events
), h AS (
  SELECT day_idx, user_id,
         CAST(('0x' || substr(md5(user_id::VARCHAR), 1, 8)) AS BIGINT) AS hv
  FROM e
), r AS (
  SELECT day_idx, hv // 4194304 AS bucket,
         CASE WHEN hv % 4194304 > 0
              THEN 22 - length(bin(hv % 4194304)) + 1
              ELSE 23 END AS rho
  FROM h
), regs AS (
  SELECT day_idx, bucket, max(rho) AS max_rho FROM r GROUP BY 1, 2
), agg AS (
  SELECT day_idx, sum(power(2.0, -max_rho)) AS s_hit, count(*) AS hit
  FROM regs GROUP BY 1
), est AS (
  SELECT day_idx,
         ((0.7213 / (1 + 1.079 / 1024)) * 1024 * 1024)
           / (s_hit + (1024 - hit)) AS raw,
         1024 - hit AS zeros
  FROM agg
), fin AS (
  SELECT day_idx,
         CASE WHEN raw <= 2.5 * 1024 AND zeros > 0
              THEN 1024.0 * ln(1024.0 / zeros)
              ELSE raw END AS approx_distinct
  FROM est
)
SELECT f.day_idx::BIGINT AS day_idx,
       round(f.approx_distinct, 4) AS approx_distinct,
       x.exact_distinct
FROM fin f JOIN (
  SELECT epoch_ns(ts) // 86400000000000 AS day_idx,
         count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM events GROUP BY 1
) x USING (day_idx)
"""


QUERIES_STREAMING = {
    "streaming_dedup_docs": q_streaming_dedup_docs,
    "streaming_window_stats": q_streaming_window_stats,
    "streaming_clean_corpus": q_streaming_clean_corpus,
    "streaming_chunk_docs": q_streaming_chunk_docs,
    "streaming_quality_scores": q_streaming_quality_scores,
    "streaming_gopher_gate": q_streaming_gopher_gate,
    "streaming_dsir_gate": q_streaming_dsir_gate,
    "streaming_bloom_gate": q_streaming_bloom_gate,
    "streaming_cdc_chunks": q_streaming_cdc_chunks,
    "streaming_hll_users": q_streaming_hll_users,
}

ORACLES_STREAMING = {
    "streaming_dedup_docs": _SQL_STREAMING_DEDUP_DOCS,
    "streaming_window_stats": _SQL_STREAMING_WINDOW_STATS,
    "streaming_clean_corpus": _sql_streaming_clean_corpus(),
    "streaming_chunk_docs": _sql_streaming_chunk_docs(),
    "streaming_quality_scores": _sql_streaming_quality_scores(),
    "streaming_gopher_gate": _sql_streaming_gopher_gate(),
    "streaming_dsir_gate": _sql_streaming_dsir_gate(),
    "streaming_bloom_gate": _sql_streaming_bloom_gate(),
    "streaming_cdc_chunks": _sql_streaming_cdc_chunks(),
    "streaming_hll_users": _SQL_STREAMING_HLL_USERS,
}
