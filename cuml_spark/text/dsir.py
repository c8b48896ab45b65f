"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
NeurIPS): pick raw-corpus documents that look like a small TARGET
corpus by importance weights in a hashed n-gram feature space,

    ``log w(x) = Σ_b  c_x[b] · (ln p̂[b] − ln q̂[b])``

where ``c_x`` is the document's hashed bag-of-words and ``p̂`` / ``q̂``
are add-one-smoothed hashed unigram distributions of the target / raw
corpora.  The reference ships the estimators this composes around
(LogisticRegression python/cuml/linear_model/logistic_regression.pyx:33)
but no corpus featurizer; like text/classifier.py this module supplies
the curation-side composition.

The bucket space is the ENGINE-PORTABLE md5 space shared with
text/classifier.py (``token_bucket``), so a fit's distributions mean
the same thing in Spark, DuckDB, and Python.  Caveat shared with the
whole text tier: ``token_sep`` reaches Spark's regex-based ``F.split``,
while DuckDB/Python oracles split LITERALLY — the portable contract
holds for the single-space default; regex-metachar separators (``|``,
``.``) diverge across engines and are not supported.

Spark shapes (100 TB):

* **fit** (:func:`hashed_bucket_totals`): one in-row explode + ONE
  map-side-combined count shuffle keyed on the BUCKET — the result is
  ≤ ``num_buckets`` rows BY CONSTRUCTION, so the collected model is
  bounded by the caller's bucket choice, never by corpus size (the
  ``fit_bigram_lm`` driver-OOM lesson, applied by design rather than by
  cap), collected with Arrow.  :func:`fit_dsir` counts the target and
  raw corpora in ONE aggregation over their union, one ``count_if`` per
  side (the :func:`hashed_bucket_totals_pair` shape): each corpus is
  scanned once and the pair pays a single shuffle and collect.
* **weights** (:meth:`DSIRModel.log_weights`): the per-bucket log-ratio
  table is tiny (≤ num_buckets rows) and broadcast-joined against the
  hashed counts — exactly the :func:`~cuml_spark.text.classifier.
  score_linear_bow` serving plan with weights = log-ratios and bias 0.
  One corpus-keyed shuffle, no UDF; empty/null docs weigh 0.
* **resample** (:func:`dsir_select_topk`): deterministic top-k on
  (rounded weight DESC, id) — ``TakeOrderedAndProject`` at k ≪ corpus,
  never a full sort.  The paper's Gumbel-top-k sampled variant is
  :func:`dsir_select_gumbel`, with the noise a PURE function of the id
  (md5-derived uniform), so the "sample" is reproducible on any
  partitioning or cluster layout (ops/sampling.py's contract).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cuml_spark.text.classifier import score_linear_bow, token_bucket
from cuml_spark.text.lm import _token_array

__all__ = [
    "DSIRModel",
    "dsir_log_ratios",
    "dsir_select_gumbel",
    "dsir_select_topk",
    "dsir_unseen_log_ratio",
    "fit_dsir",
    "fit_dsir_subset",
    "hashed_bucket_totals",
    "hashed_bucket_totals_pair",
]


def _bucket_count_table(
    df: DataFrame,
    num_buckets: int,
    text_col: str,
    token_sep: str,
    **counts,
) -> pd.DataFrame:
    """One explode + ONE bucket-keyed aggregation of ``counts`` (name →
    aggregate over each token's ``bucket`` and the other columns of its
    row in ``df``), collected with Arrow: ≤ ``num_buckets`` rows."""
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    carried = [c for c in df.columns if c != text_col]
    return (
        df.select(F.explode(_token_array(text_col, token_sep)).alias("__tok"),
                  *carried)
        .select(token_bucket(F.col("__tok"), num_buckets).alias("bucket"),
                *carried)
        .groupBy("bucket")
        .agg(*[agg.alias(name) for name, agg in counts.items()])
        .toPandas()
    )


def _nonzero_counts(table: pd.DataFrame, col: str) -> dict[int, int]:
    """``{bucket: count}`` of the buckets where ``col`` is nonzero, as
    plain Python ints."""
    hit = table[table[col] > 0]
    return dict(zip(hit["bucket"].tolist(), hit[col].tolist()))


def hashed_bucket_totals(
    df: DataFrame,
    num_buckets: int,
    *,
    text_col: str = "text",
    token_sep: str = " ",
) -> dict[int, int]:
    """Corpus token totals per md5 bucket: ``{bucket: count}`` with only
    nonzero buckets present.  Bounded at ≤ ``num_buckets`` rows before
    the collect — the driver never holds corpus-scale state."""
    table = _bucket_count_table(
        df.select(text_col), num_buckets, text_col, token_sep,
        cnt=F.count("*"))
    return _nonzero_counts(table, "cnt")


def hashed_bucket_totals_pair(
    df: DataFrame,
    target_pred,
    num_buckets: int,
    *,
    text_col: str = "text",
    token_sep: str = " ",
) -> tuple[dict[int, int], dict[int, int]]:
    """(target_counts, raw_counts) in ONE corpus scan, for the common
    case where the target is a labeled SUBSET of the raw corpus (a
    ``Column`` predicate, e.g. ``F.col("lang") == "fr"``): one explode,
    one bucket-keyed aggregation computing ``count(*)`` and the
    predicate-conditional count side by side — half the scan cost of two
    :func:`hashed_bucket_totals` passes at 100 TB."""
    table = _bucket_count_table(
        df.select(text_col, target_pred.alias("__is_target")),
        num_buckets, text_col, token_sep,
        rc=F.count("*"), tc=F.count_if(F.col("__is_target")))
    return _nonzero_counts(table, "tc"), _nonzero_counts(table, "rc")


def fit_dsir_subset(
    raw: DataFrame,
    target_pred,
    *,
    num_buckets: int = 4096,
    text_col: str = "text",
    token_sep: str = " ",
    smoothing: float = 1.0,
) -> DSIRModel:
    """:func:`fit_dsir` for a target that is a predicate-selected subset
    of the raw corpus — ONE scan fits both distributions."""
    tc, rc = hashed_bucket_totals_pair(
        raw, target_pred, num_buckets, text_col=text_col,
        token_sep=token_sep)
    return DSIRModel(
        log_ratios=dsir_log_ratios(tc, rc, num_buckets,
                                   smoothing=smoothing),
        num_buckets=num_buckets,
        token_sep=token_sep,
        default_log_ratio=dsir_unseen_log_ratio(
            tc, rc, num_buckets, smoothing=smoothing),
    )


def dsir_log_ratios(
    target_counts: dict[int, int],
    raw_counts: dict[int, int],
    num_buckets: int,
    *,
    smoothing: float = 1.0,
) -> dict[int, float]:
    """Per-bucket ``ln p̂[b] − ln q̂[b]`` under add-``smoothing``
    estimation, for the union of observed buckets.  Buckets unseen in
    BOTH corpora share one constant smoothed log-ratio —
    :func:`dsir_unseen_log_ratio` — which the model carries as its
    ``default_log_ratio`` so that out-of-vocabulary tokens in a LATER
    corpus (the fit-yesterday/score-today deployment) are priced at the
    estimator's true value rather than silently contributing 0."""
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    t_total = sum(target_counts.values()) + smoothing * num_buckets
    r_total = sum(raw_counts.values()) + smoothing * num_buckets
    out: dict[int, float] = {}
    for b in set(target_counts) | set(raw_counts):
        p = (target_counts.get(b, 0) + smoothing) / t_total
        q = (raw_counts.get(b, 0) + smoothing) / r_total
        out[b] = math.log(p) - math.log(q)
    return out


def dsir_unseen_log_ratio(
    target_counts: dict[int, int],
    raw_counts: dict[int, int],
    num_buckets: int,
    *,
    smoothing: float = 1.0,
) -> float:
    """The smoothed log-ratio of a bucket unseen in both corpora:
    ``ln(smoothing/t_total) − ln(smoothing/r_total)`` = ln(r_total /
    t_total) — positive when the raw corpus is larger, reflecting that
    novelty is (weak) evidence toward the rarer distribution."""
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    t_total = sum(target_counts.values()) + smoothing * num_buckets
    r_total = sum(raw_counts.values()) + smoothing * num_buckets
    return math.log(smoothing / t_total) - math.log(smoothing / r_total)


@dataclass
class DSIRModel:
    """Fitted importance-weight model: the bounded per-bucket log-ratio
    table in the portable md5 space.  Serving is relational
    (``score_linear_bow``); the model pickles like every other
    estimator (core/base.py contract)."""

    log_ratios: dict[int, float] = field(repr=False)
    num_buckets: int
    token_sep: str = " "
    default_log_ratio: float = 0.0

    def log_weights(
        self, df: DataFrame, *, text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """→ (id_col, log_weight): importance log-weight per document.
        Empty/null docs weigh exactly 0 (no evidence either way);
        buckets unseen at fit time price at ``default_log_ratio``."""
        scored = score_linear_bow(
            df, self.log_ratios, 0.0, num_buckets=self.num_buckets,
            text_col=text_col, id_col=id_col, token_sep=self.token_sep,
            default_weight=self.default_log_ratio)
        return scored.select(id_col, F.col("score").alias("log_weight"))

    def log_weights_inline(
        self, df: DataFrame, *, text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """ZERO-shuffle serving variant (``score_linear_bow_inline``):
        the log-ratio table folds into the plan as a literal map and
        each document scores in-row — stateless, so it runs unchanged
        inside a Structured Streaming query (the DSIR ingest-time
        gate).  Use for fit-sized models (≲10k nonzero ratios); beyond
        that prefer the broadcast-join :meth:`log_weights`.  Summation
        is per-token in array order, so the result can differ from the
        per-bucket join path in the last ulp (the
        score_linear_bow_inline caveat) — round before comparing."""
        from cuml_spark.text.classifier import score_linear_bow_inline

        scored = score_linear_bow_inline(
            df, self.log_ratios, 0.0, num_buckets=self.num_buckets,
            text_col=text_col, id_col=id_col, token_sep=self.token_sep,
            default_weight=self.default_log_ratio)
        return scored.select(id_col, F.col("score").alias("log_weight"))


def fit_dsir(
    target: DataFrame,
    raw: DataFrame,
    *,
    num_buckets: int = 4096,
    text_col: str = "text",
    token_sep: str = " ",
    smoothing: float = 1.0,
) -> DSIRModel:
    """Fit hashed-unigram distributions on the target and raw corpora
    and return the log-ratio model.  ONE bounded aggregation over the
    union of the two corpora, counting each side with its own
    ``count_if``: the same totals as two :func:`hashed_bucket_totals`
    calls, for one shuffle and one collect."""
    both = target.select(text_col, F.lit(True).alias("__is_target")).unionByName(
        raw.select(text_col, F.lit(False).alias("__is_target")))
    table = _bucket_count_table(
        both, num_buckets, text_col, token_sep,
        tc=F.count_if(F.col("__is_target")),
        rc=F.count_if(~F.col("__is_target")))
    tc, rc = _nonzero_counts(table, "tc"), _nonzero_counts(table, "rc")
    return DSIRModel(
        log_ratios=dsir_log_ratios(tc, rc, num_buckets,
                                   smoothing=smoothing),
        num_buckets=num_buckets,
        token_sep=token_sep,
        default_log_ratio=dsir_unseen_log_ratio(
            tc, rc, num_buckets, smoothing=smoothing),
    )


def dsir_select_topk(
    df: DataFrame,
    model: DSIRModel,
    k: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """→ (id_col, log_weight, rank): the ``k`` documents most like the
    target, ranked on (round(log_weight, round_to) DESC, id) — rounding
    before ranking makes the order reproducible across engines and
    aggregation orders (the bm25 determinism rule); ties break on id."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = model.log_weights(df, text_col=text_col, id_col=id_col)
    rounded = w.select(
        id_col, F.round("log_weight", round_to).alias("log_weight"))
    ordered = rounded.orderBy(
        F.col("log_weight").desc(), F.col(id_col)).limit(k)
    return ordered.select(
        id_col, "log_weight",
        F.row_number().over(
            Window.orderBy(F.col("log_weight").desc(), F.col(id_col))
        ).cast("long").alias("rank"),
    )


def dsir_select_gumbel(
    df: DataFrame,
    model: DSIRModel,
    k: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Gumbel-top-k importance RESAMPLING (the paper's sampler): keep
    the k largest ``log_weight + Gumbel(0,1)`` keys, with the Gumbel
    noise ``−ln(−ln(u))`` derived from a deterministic md5 uniform of
    (id, seed) — a pure row function, so membership is identical on any
    partitioning (no ``rand()``, which re-rolls per task retry).  The
    weight is ROUNDED to 6 before the noise is added (the same
    round-before-rank rule as :func:`dsir_select_topk`) — an unrounded
    float sum could flip the k-th member on aggregation-order ulps."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = model.log_weights(df, text_col=text_col, id_col=id_col).select(
        id_col, F.round("log_weight", 6).alias("log_weight"))
    # u STRICTLY inside (0, 1): (h + 0.5) / 2^32 over the first 8 md5
    # hex digits — u = 1 would make ln(-ln(u)) degenerate
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(" ", F.col(id_col).cast("string"),
                              F.lit(str(seed)))), 1, 8),
        16, 10).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 32))
    key = F.col("log_weight") - F.log(-F.log(u))
    return (
        w.select(id_col, "log_weight", key.alias("gumbel_key"))
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
    )
