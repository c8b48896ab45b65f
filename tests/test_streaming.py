"""Streaming Kalman vs its batch twin: same recursion, state across batches."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import numpy as np
import pytest

from cuml_spark.streaming import streaming_local_level_filter
from cuml_spark.tsa import local_level_filter


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="kstream_")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_kalman_matches_batch(spark, tmpdir):
    rng = np.random.RandomState(21)
    series = {s: np.cumsum(rng.standard_normal(40)) for s in ("a", "b")}
    rows = [
        (s, t, float(y[t])) for s, y in series.items() for t in range(40)
    ]
    in_dir = tmpdir / "in"
    in_dir.mkdir()
    chk = str(tmpdir / "chk")

    def write_chunk(name, chunk_rows):
        df = spark.createDataFrame(chunk_rows, "series_id string, t long, y double")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmpdir / "stage" / name))
        src = next((tmpdir / "stage" / name).glob("*.parquet"))
        shutil.copy(src, in_dir / f"{name}.parquet")

    # first half of each series arrives in batch 1
    write_chunk("chunk1", [r for r in rows if r[1] < 20])

    stream = spark.readStream.schema("series_id string, t long, y double").parquet(
        str(in_dir)
    )
    filtered = streaming_local_level_filter(stream, q=0.01, r=1.0)
    query = (
        filtered.writeStream.format("memory")
        .queryName("kstream_out")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        # second half arrives in batch 2 — state must carry over
        write_chunk("chunk2", [r for r in rows if r[1] >= 20])
        query.processAllAvailable()
        out = spark.sql("select * from kstream_out").toPandas()
    finally:
        query.stop()

    assert len(out) == len(rows)
    for s, y in series.items():
        got = out[out["series_id"] == s].sort_values("t")["x"].to_numpy()
        x_ref, _ = local_level_filter(y, q=0.01, r=1.0)
        np.testing.assert_allclose(got, x_ref, rtol=1e-9)


# ---------------------------------------------------------------------------
# streaming training-data pipeline (pipeline.py)
# ---------------------------------------------------------------------------

def _write_chunk(spark, tmpdir, in_dir, name, rows, schema):
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.mode("overwrite").parquet(str(tmpdir / "stage" / name))
    src = next((tmpdir / "stage" / name).glob("*.parquet"))
    shutil.copy(src, in_dir / f"{name}.parquet")


def test_streaming_dedup_state_across_batches(spark, tmpdir):
    """A duplicate arriving in a LATER micro-batch is still suppressed —
    the fingerprint state store carries across batches."""
    from cuml_spark.streaming import streaming_dedup

    schema = "doc_id long, text string"
    in_dir = tmpdir / "in"
    in_dir.mkdir()
    chk = str(tmpdir / "chk")
    _write_chunk(spark, tmpdir, in_dir, "b1",
                 [(1, "Alpha  beta"), (2, "gamma delta"), (3, "alpha BETA")],
                 schema)

    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    query = (
        streaming_dedup(stream)
        .writeStream.format("memory").queryName("dedup_out")
        .option("checkpointLocation", chk).outputMode("append").start()
    )
    try:
        query.processAllAvailable()
        n1 = spark.sql("select count(*) n from dedup_out").first()["n"]
        # batch 2: one cross-batch duplicate + one new doc
        _write_chunk(spark, tmpdir, in_dir, "b2",
                     [(4, "ALPHA beta"), (5, "epsilon zeta")], schema)
        query.processAllAvailable()
        out = spark.sql("select * from dedup_out").toPandas()
    finally:
        query.stop()

    assert n1 == 2  # alpha-beta normalized-dups collapse within batch 1
    assert len(out) == 3  # + only 'epsilon zeta' from batch 2
    assert sorted(out["fingerprint"].unique()) == sorted(out["fingerprint"])


def test_streaming_clean_corpus_matches_batch(spark):
    """availableNow backfill of the streaming corpus cleaner equals the
    batch pipeline's per-language budget on the same static directory."""
    from cuml_spark.harness_streaming import q_streaming_clean_corpus
    from cuml_spark.harness_text import q_pipeline_clean_corpus

    sf = "/root/testdata/sf0.001"
    batch = {
        r["pred_lang"]: (r["n_docs"], r["total_tokens"], r["total_bpe_tokens"])
        for r in q_pipeline_clean_corpus(spark, sf).collect()
    }
    stream = {
        r["pred_lang"]: (r["n_docs"], r["total_tokens"], r["total_bpe_tokens"])
        for r in q_streaming_clean_corpus(spark, sf).collect()
    }
    assert batch == stream
    assert sum(v[0] for v in batch.values()) > 0  # the gate kept something


def test_streaming_windowed_stats_append_finalization(spark, tmpdir):
    """Append mode: a window is emitted exactly once, with its final
    aggregate, after the watermark passes its end."""
    from datetime import datetime

    from cuml_spark.streaming import streaming_windowed_stats

    schema = "ts timestamp, event_type string, value double"
    in_dir = tmpdir / "in"
    in_dir.mkdir()
    chk = str(tmpdir / "chk")
    day1 = [
        (datetime(2024, 1, 1, 3, 0), "a", 1.0),
        (datetime(2024, 1, 1, 9, 0), "a", 3.0),
        (datetime(2024, 1, 1, 12, 0), "b", 10.0),
    ]
    _write_chunk(spark, tmpdir, in_dir, "b1", day1, schema)

    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    out = streaming_windowed_stats(
        stream, ts_col="ts", key_col="event_type", value_col="value",
        window="1 day", watermark="1 hour",
    )
    query = (
        out.writeStream.format("memory").queryName("win_out")
        .option("checkpointLocation", chk).outputMode("append").start()
    )
    try:
        query.processAllAvailable()
        n_before = spark.sql("select count(*) n from win_out").first()["n"]
        # far-future row advances the watermark past day1's window end
        _write_chunk(spark, tmpdir, in_dir, "b2",
                     [(datetime(2024, 1, 5, 0, 0), "a", 7.0)], schema)
        query.processAllAvailable()
        got = spark.sql("select * from win_out order by window_start, key").toPandas()
    finally:
        query.stop()

    assert n_before == 0  # day1 window still open before the watermark moves
    assert len(got) == 2  # day1×a and day1×b finalized; day5 window still open
    a = got[got["key"] == "a"].iloc[0]
    assert a["n"] == 2 and a["avg_value"] == 2.0 and a["max_value"] == 3.0
    b = got[got["key"] == "b"].iloc[0]
    assert b["n"] == 1 and b["min_value"] == 10.0


def test_streaming_dedup_with_watermark_bounded_state(spark, tmpdir):
    """ts-col mode: dropDuplicatesWithinWatermark absorbs re-deliveries
    inside the horizon (state is evictable — the 100 TB/day contract)."""
    from datetime import datetime

    from cuml_spark.streaming import streaming_dedup

    schema = "doc_id long, ts timestamp, text string"
    in_dir = tmpdir / "in"
    in_dir.mkdir()
    chk = str(tmpdir / "chk")
    _write_chunk(spark, tmpdir, in_dir, "b1", [
        (1, datetime(2024, 1, 1, 0, 0), "same text"),
        (2, datetime(2024, 1, 1, 0, 5), "Same  TEXT"),
        (3, datetime(2024, 1, 1, 0, 9), "other doc"),
    ], schema)

    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    query = (
        streaming_dedup(stream, ts_col="ts", watermark="10 minutes")
        .writeStream.format("memory").queryName("dedup_wm_out")
        .option("checkpointLocation", chk).outputMode("append").start()
    )
    try:
        query.processAllAvailable()
        out = spark.sql("select * from dedup_wm_out").toPandas()
    finally:
        query.stop()

    assert len(out) == 2
    assert set(out["doc_id"]) == {1, 3}


def test_streaming_fil_inference_matches_batch(spark, tmpdir):
    """Model scoring is a stateless pandas-UDF projection, so the SAME
    ForestInference call runs on a stream unchanged — streaming inference
    over micro-batches must equal the batch scores row-for-row."""
    import json

    import numpy as np

    from cuml_spark.fil import ForestInference

    tree = {
        "nodeid": 0, "split": "f0", "split_condition": 0.5, "yes": 1, "no": 2,
        "children": [{"nodeid": 1, "leaf": 1.5}, {"nodeid": 2, "leaf": -2.0}],
    }
    fil = ForestInference.load_from_xgboost_json(json.dumps([tree]), output="raw")

    rng = np.random.RandomState(9)
    rows = [(i, float(rng.uniform(-1, 2)), float(rng.uniform(-1, 2)))
            for i in range(120)]
    schema = "id long, f0 double, f1 double"
    in_dir = tmpdir / "in"
    in_dir.mkdir()
    chk = str(tmpdir / "chk")
    _write_chunk(spark, tmpdir, in_dir, "b1", rows[:60], schema)
    _write_chunk(spark, tmpdir, in_dir, "b2", rows[60:], schema)

    stream = spark.readStream.schema(schema).parquet(str(in_dir))
    query = (
        fil.predict(stream, ["f0", "f1"])
        .writeStream.format("memory").queryName("fil_stream_out")
        .option("checkpointLocation", chk).outputMode("append").start()
    )
    try:
        query.processAllAvailable()
        got = spark.sql(
            "select id, prediction from fil_stream_out order by id"
        ).toPandas()
    finally:
        query.stop()

    batch_df = spark.createDataFrame(rows, schema)
    want = (
        fil.predict(batch_df, ["f0", "f1"])
        .select("id", "prediction").toPandas().sort_values("id")
    )
    assert len(got) == 120
    np.testing.assert_allclose(
        got["prediction"].to_numpy(), want["prediction"].to_numpy(), rtol=0
    )


def test_backfill_parts_scale_law(spark, tmpdir, monkeypatch):
    """r12: availableNow backfills derive their state/shuffle partition
    count from the SOURCE SIZE (~32 MB per partition, clamped to
    [2, defaultParallelism]) instead of inheriting the session's full
    shuffle parallelism — streaming micro-batches get no AQE coalescing,
    so every extra state store is a per-batch commit for nothing.
    Measured at sf0.1: 32 partitions 3.2 s vs 2 partitions 0.91 s per
    backfill (interleaved)."""
    from cuml_spark.harness_streaming import _backfill_parts

    para = spark.sparkContext.defaultParallelism

    # tiny source -> floor of 2
    (tmpdir / "documents.parquet").write_bytes(b"x" * 1024)
    assert _backfill_parts(spark, str(tmpdir), "documents") == 2
    # missing source -> full parallelism (no size signal)
    assert _backfill_parts(spark, str(tmpdir), "nope") == para
    # the 32 MB law, pre-clamp: ceil(bytes / 32MB) capped at parallelism
    import cuml_spark.harness_streaming as hs
    import os as _os

    real_getsize = _os.path.getsize
    monkeypatch.setattr(
        _os.path, "getsize", lambda p: 96 << 20
    )  # 96 MB -> 3 parts
    try:
        assert _backfill_parts(spark, str(tmpdir), "documents") == min(3, para)
        monkeypatch.setattr(_os.path, "getsize", lambda p: 1 << 40)  # 1 TB
        assert _backfill_parts(spark, str(tmpdir), "documents") == para
    finally:
        monkeypatch.setattr(_os.path, "getsize", real_getsize)
