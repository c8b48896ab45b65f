"""DSIR importance resampling (text/dsir.py): bounded bucket-total fit,
log-ratio math vs a hand oracle, scoring semantics (empty docs, target
affinity), deterministic top-k and Gumbel-top-k selection."""

from __future__ import annotations

import hashlib
import math
import pickle

import pytest

from cuml_spark.text import (
    DSIRModel,
    dsir_log_ratios,
    dsir_select_gumbel,
    dsir_select_topk,
    dsir_unseen_log_ratio,
    fit_dsir,
    hashed_bucket_totals,
)


def _bucket(tok: str, num_buckets: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % num_buckets


def test_bucket_totals_match_python_counter(spark):
    rows = [(0, "a b a"), (1, "b c"), (2, None), (3, ""), (4, "  a  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    B = 64
    got = hashed_bucket_totals(df, B)
    want: dict[int, int] = {}
    for _, text in rows:
        for tok in (text or "").split(" "):
            if tok:
                want[_bucket(tok, B)] = want.get(_bucket(tok, B), 0) + 1
    assert got == want
    with pytest.raises(ValueError, match="num_buckets"):
        hashed_bucket_totals(df, 0)


def test_log_ratios_hand_oracle():
    B = 8
    tc = {1: 3}           # target: 3 tokens, all bucket 1
    rc = {1: 3, 2: 6}     # raw: 9 tokens
    lr = dsir_log_ratios(tc, rc, B)
    tt, rt = 3 + B, 9 + B
    assert lr[1] == pytest.approx(math.log(4 / tt) - math.log(4 / rt))
    assert lr[2] == pytest.approx(math.log(1 / tt) - math.log(7 / rt))
    assert set(lr) == {1, 2}
    with pytest.raises(ValueError, match="smoothing"):
        dsir_log_ratios(tc, rc, B, smoothing=0.0)


def test_identical_corpora_weigh_zero(spark):
    """target == raw → p̂ == q̂ → every document's log-weight is 0."""
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "d e"), (2, None)], "doc_id long, text string")
    model = fit_dsir(df, df, num_buckets=32)
    w = {r["doc_id"]: r["log_weight"]
         for r in model.log_weights(df).collect()}
    assert all(abs(v) < 1e-12 for v in w.values())


def test_target_affinity_orders_weights(spark):
    """A doc written in the target's vocabulary must outweigh a doc
    written in raw-only vocabulary, and empty docs weigh exactly 0."""
    target = spark.createDataFrame(
        [(0, "alpha beta alpha beta")], "doc_id long, text string")
    raw = spark.createDataFrame(
        [(0, "alpha beta alpha beta"), (1, "gamma delta gamma delta"),
         (2, "gamma delta epsilon zeta")], "doc_id long, text string")
    model = fit_dsir(target, raw, num_buckets=256)
    score_df = spark.createDataFrame(
        [(10, "alpha beta"), (11, "gamma delta"), (12, ""), (13, None)],
        "doc_id long, text string")
    w = {r["doc_id"]: r["log_weight"]
         for r in model.log_weights(score_df).collect()}
    assert w[10] > 0 > w[11]
    assert w[12] == 0.0 and w[13] == 0.0
    top = dsir_select_topk(score_df, model, 2).collect()
    assert [r["doc_id"] for r in top] == [10, 12] or \
           [r["doc_id"] for r in top] == [10, 13]
    assert [r["rank"] for r in top] == [1, 2]


def test_topk_rank_and_tiebreak(spark):
    """Equal (rounded) weights break ties on id; rank is 1..k."""
    df = spark.createDataFrame(
        [(i, "same text") for i in range(5)], "doc_id long, text string")
    model = fit_dsir(df, df, num_buckets=16)
    got = dsir_select_topk(df, model, 3).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(0, 1), (1, 2), (2, 3)]
    with pytest.raises(ValueError, match="k must"):
        dsir_select_topk(df, model, 0)


def test_gumbel_select_deterministic_and_weight_biased(spark):
    """Same seed → same sample on any partitioning; a much heavier doc
    is (near-)always in the sample; different seeds may differ."""
    target = spark.createDataFrame(
        [(0, "alpha " * 50)], "doc_id long, text string")
    raw_rows = [(0, "alpha " * 50)] + [
        (i, f"tok{i} tok{i + 1}") for i in range(1, 40)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    model = fit_dsir(target, raw, num_buckets=512)
    a = {r["doc_id"] for r in dsir_select_gumbel(raw, model, 5).collect()}
    b = {r["doc_id"]
         for r in dsir_select_gumbel(raw.repartition(7), model, 5).collect()}
    assert a == b          # partitioning-independent membership
    assert 0 in a          # the target-heavy doc dominates
    with pytest.raises(ValueError, match="k must"):
        dsir_select_gumbel(raw, model, 0)


def test_model_pickles(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    model = fit_dsir(df, df, num_buckets=8)
    clone = pickle.loads(pickle.dumps(model))
    assert isinstance(clone, DSIRModel)
    assert clone.log_ratios == model.log_ratios
    assert clone.num_buckets == model.num_buckets


def test_subset_fit_matches_two_pass_fit(spark):
    """fit_dsir_subset (one conditional scan) must produce the exact
    log-ratio table of fit_dsir over the filtered target."""
    from pyspark.sql import functions as F

    from cuml_spark.text import fit_dsir_subset, hashed_bucket_totals_pair

    rows = [(0, "a b a", "fr"), (1, "b c", "en"), (2, None, "fr"),
            (3, "c c d", "en"), (4, "", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    B = 128
    two = fit_dsir(df.filter(F.col("lang") == "fr"), df, num_buckets=B)
    one = fit_dsir_subset(df, F.col("lang") == "fr", num_buckets=B)
    assert one.log_ratios == two.log_ratios
    tc, rc = hashed_bucket_totals_pair(df, F.col("lang") == "fr", B)
    assert tc == hashed_bucket_totals(df.filter(F.col("lang") == "fr"), B)
    assert rc == hashed_bucket_totals(df, B)


def test_union_fit_matches_two_bucket_total_passes(spark):
    """fit_dsir's one aggregation over the target ∪ raw union must give
    the model two separate hashed_bucket_totals passes give — also for a
    target with no tokens at all (every target count zero)."""
    rows = [(0, "a b a"), (1, "b c"), (2, None), (3, "c c d é"), (4, "")]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    B = 64
    for target in (raw.where("doc_id < 2"), raw.where("doc_id in (2, 4)"),
                   raw):
        tc = hashed_bucket_totals(target, B)
        rc = hashed_bucket_totals(raw, B)
        model = fit_dsir(target, raw, num_buckets=B)
        assert model.log_ratios == dsir_log_ratios(tc, rc, B)
        assert model.default_log_ratio == dsir_unseen_log_ratio(tc, rc, B)
        assert all(type(b) is int for b in model.log_ratios)
    assert tc and all(type(v) is int for v in tc.values())
    with pytest.raises(ValueError, match="num_buckets"):
        fit_dsir(raw, raw, num_buckets=0)


def test_inline_weights_match_join_path(spark):
    """log_weights_inline (zero-shuffle literal-map fold) equals the
    broadcast-join path to 1e-9 (log ratios are not dyadic, so the two
    summation orders may differ in the last ulp — never more)."""
    from pyspark.sql import functions as F

    from cuml_spark.text import fit_dsir_subset

    rows = [(i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(i % 9)),
             i % 3 == 0) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    model = fit_dsir_subset(df, F.col("tgt"), num_buckets=64)
    a = {r["doc_id"]: r["log_weight"]
         for r in model.log_weights(df).collect()}
    b = {r["doc_id"]: r["log_weight"]
         for r in model.log_weights_inline(df).collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-9, abs=1e-9)


def test_inline_weights_zero_shuffle(spark):
    """The inline DSIR scorer is the streaming-safe shape: zero shuffle
    exchanges, no joins, no Python eval."""
    import re

    from cuml_spark.text import DSIRModel

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    model = DSIRModel(log_ratios={3: 0.5, 7: -0.25}, num_buckets=64)
    out = model.log_weights_inline(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.findall(r"Exchange (?:hash|range|RoundRobin|Single)", plan)
    assert "Join" not in plan and "EvalPython" not in plan


def test_oov_buckets_priced_at_smoothed_default(spark):
    """Fit-yesterday/score-today: tokens hashing to buckets unseen at
    fit time must contribute the smoothed constant ln(r_total/t_total)
    per occurrence — never a silent 0 (review r9 finding)."""
    import math

    from pyspark.sql import functions as F

    from cuml_spark.text import fit_dsir_subset

    B = 4096  # large space so the novel token collides with nothing
    fit_df = spark.createDataFrame(
        [(0, "alpha beta", True), (1, "alpha gamma delta", False)],
        "doc_id long, text string, tgt boolean")
    model = fit_dsir_subset(fit_df, F.col("tgt"), num_buckets=B)
    # default = ln(r_total/t_total) with add-1 smoothing
    want_default = math.log((5 + B) / (2 + B))
    assert model.default_log_ratio == pytest.approx(want_default)
    today = spark.createDataFrame(
        [(10, "zzz-novel-token"), (11, "zzz-novel-token zzz-novel-token")],
        "doc_id long, text string")
    w = {r["doc_id"]: r["log_weight"]
         for r in model.log_weights(today).collect()}
    assert w[10] == pytest.approx(want_default)
    assert w[11] == pytest.approx(2 * want_default)
    wi = {r["doc_id"]: r["log_weight"]
          for r in model.log_weights_inline(today).collect()}
    assert wi[10] == pytest.approx(want_default)
    assert wi[11] == pytest.approx(2 * want_default)
