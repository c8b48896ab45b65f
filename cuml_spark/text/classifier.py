"""Hashing-trick quality classifier — the GPT-3/WebText-style "quality
filter": train a linear classifier to separate curated from crawled
text, then keep documents whose score clears a threshold (Brown et al.
2020 §A; the same role fastText models play in CCNet/LLaMA-class
pipelines).  The reference has LogisticRegression over dense matrices
(python/cuml/linear_model/logistic_regression.pyx:33) but no text
featurizer; this module supplies the corpus-curation composition.

Bucket space is ENGINE-PORTABLE by construction:
``bucket(token) = int(md5(token)[:8 hex], 16) % num_buckets``.  md5
produces identical hex in Spark, DuckDB, and Python's hashlib, so
features — and therefore a trained model's weights — mean the same
thing in every engine (Spark's murmur3 ``hash()``/HashingTF matches
nothing outside the JVM, which would make the feature space impossible
to oracle or to serve from another system).

Spark shapes (100 TB):

* ``hashed_token_counts``: one in-row explode + ONE map-side-combined
  count shuffle on (doc, bucket) — the postings shape (text/retrieval).
* ``score_linear_bow`` — the SERVING path: the (bucket, weight) table
  is tiny (≤ num_buckets rows) and broadcast; scoring is the hashed
  counts joined map-side against it, one per-doc sum, one id join back
  for zero-match docs.  No UDF anywhere; the corpus shuffles only on
  its own aggregation keys.
* ``fit_quality_classifier`` — the FIT path: dense per-doc bucket-count
  vectors are assembled IN-ROW (``aggregate`` over the token array into
  a ``num_buckets``-slot array — O(tokens · buckets) codegen, which is
  why the default ``num_buckets`` is fit-sized at 256; raise it for
  serving-only flows where the dense fit vector never materializes) and
  handed to MLlib LogisticRegression (treeAggregate per L-BFGS
  iteration — the reference's multi-GPU allreduce shape).  The fitted
  coefficients come back as a plain (bucket → weight) dict in the SAME
  portable space, so serving never touches MLlib.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cuml_spark.text.lm import _token_array


def token_bucket(col: Column, num_buckets: int) -> Column:
    """Engine-portable hash bucket: first 8 md5 hex digits mod buckets."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % num_buckets
    )


def hashed_token_counts(
    df: DataFrame,
    num_buckets: int = 4096,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_sep: str = " ",
) -> DataFrame:
    """→ (id_col, bucket, tf): long-form hashing-trick bag-of-words.
    Documents with no tokens (null/empty text) emit no rows.  One
    explode + one map-side-combined count shuffle."""
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    toks = _token_array(text_col, token_sep)
    # coalesce(bucket, -1): exploded tokens are never null, so the branch
    # is dead — but it makes the column PROVABLY non-nullable, which
    # stops the downstream equi-join from inserting an
    # isnotnull(<bucket expr>) filter that re-evaluates the md5 per
    # token occurrence (measured: one extra md5 per token in
    # quality_filter_scores' plan; r12, guide §4.4's duplicated-
    # evaluation trap in constraint-inference form)
    return (
        df.select(F.col(id_col), F.explode(toks).alias("__tok"))
        .select(id_col, F.coalesce(
            token_bucket(F.col("__tok"), num_buckets), F.lit(-1)
        ).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("tf"))
    )


def score_linear_bow(
    df: DataFrame,
    weights: dict[int, float],
    bias: float = 0.0,
    *,
    num_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_sep: str = " ",
    default_weight: float = 0.0,
) -> DataFrame:
    """→ (id_col, score, prob): ``score = bias + Σ_b tf_b · w_b`` over
    the hashed bag-of-words, ``prob = 1/(1+e^-score)``.

    The weight table is broadcast (≤ num_buckets rows by construction);
    buckets missing from ``weights`` contribute ``default_weight`` per
    occurrence (0 for a sparse classifier; DSIR passes the smoothed
    unseen-bucket log-ratio so out-of-vocabulary tokens are priced,
    not ignored).  Docs with no tokens — empty/null text — score
    exactly ``bias``.  Every row of ``df`` appears in the output.
    """
    for b in weights:
        if not 0 <= int(b) < num_buckets:
            raise ValueError(
                f"weight bucket {b} outside [0, {num_buckets})")
    # a pandas frame ships Arrow-batched where a list of tuples is
    # converted row by row; the explicit schema types an empty table too
    ordered = sorted(weights.items())
    wdf = df.sparkSession.createDataFrame(
        pd.DataFrame({
            "bucket": pd.Series([int(b) for b, _ in ordered], dtype="int64"),
            "__w": pd.Series([float(w) for _, w in ordered], dtype="float64"),
        }),
        "bucket long, __w double",
    )
    counts = hashed_token_counts(
        df, num_buckets, text_col=text_col, id_col=id_col,
        token_sep=token_sep)
    # default 0: inner join — unmatched buckets contribute nothing, so
    # dropping them BEFORE the per-doc aggregation keeps the agg input
    # at matched-rows scale (the sparse-classifier fast path).  A
    # nonzero default prices every bucket: left join + coalesce.
    if default_weight == 0.0:
        joined = counts.join(F.broadcast(wdf), "bucket")
        contrib = F.col("tf") * F.col("__w")
    else:
        joined = counts.join(F.broadcast(wdf), "bucket", "left")
        contrib = F.col("tf") * F.coalesce(
            F.col("__w"), F.lit(float(default_weight)))
    sums = (
        joined.groupBy(id_col)
        .agg(F.sum(contrib).alias("__s"))
    )
    score = F.coalesce(F.col("__s"), F.lit(0.0)) + float(bias)
    return (
        df.select(id_col)
        .join(sums, [id_col], "left")
        .select(
            id_col,
            score.alias("score"),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-score))).alias("prob"),
        )
    )


def score_linear_bow_inline(
    df: DataFrame,
    weights: dict[int, float],
    bias: float = 0.0,
    *,
    num_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_sep: str = " ",
    default_weight: float = 0.0,
) -> DataFrame:
    """Map-only (ZERO-shuffle) serving variant of :func:`score_linear_bow`:
    the weight table folds into the plan as a literal map and every
    document scores IN-ROW by folding its token array — one corpus scan,
    stateless, so it runs unchanged inside a Structured Streaming query
    (the ingest-time quality gate).  Use this when the model is
    fit-sized (the plan literal carries the nonzero weights; beyond
    ~10k entries prefer the broadcast-join variant).

    Summation is per-token in array order rather than per-bucket: with
    weights exact in binary (integers, dyadic rationals — what
    :func:`fit_quality_classifier` consumers should round to for
    reproducible serving) the result is bit-identical to
    :func:`score_linear_bow`; arbitrary float weights may differ in the
    last ulp between the two paths.
    """
    for b in weights:
        if not 0 <= int(b) < num_buckets:
            raise ValueError(
                f"weight bucket {b} outside [0, {num_buckets})")
    toks = _token_array(text_col, token_sep)
    if weights:
        # ONE parsed map literal, not create_map(*[F.lit(...)]): the
        # per-element py4j conversion cost ~0.9 s per query construction
        # at 512 weights (core/exprs.py; values round-trip bit-exactly).
        # Fail-fast note (ADVICE r12): int_double_map_lit REJECTS
        # NaN/Inf weights where F.lit would embed them — a NaN weight
        # now raises at construction instead of NaN-ing every score.
        from cuml_spark.core.exprs import int_double_map_lit

        wmap = int_double_map_lit(weights)
        folded = F.aggregate(
            F.transform(toks, lambda t: token_bucket(t, num_buckets)),
            F.lit(float(bias)),
            lambda acc, b: acc + F.coalesce(
                F.try_element_at(wmap, b), F.lit(float(default_weight))),
        )
    elif default_weight == 0.0:
        folded = F.lit(float(bias))
    else:
        folded = (F.lit(float(bias))
                  + F.size(toks) * F.lit(float(default_weight)))
    score = F.coalesce(folded, F.lit(float(bias)))  # null text = bias
    return df.select(
        F.col(id_col),
        score.alias("score"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-score))).alias("prob"),
    )


@dataclass
class QualityClassifier:
    """A fitted linear quality model in the portable md5-bucket space.

    ``weights`` holds only nonzero coefficients; ``score(df)`` runs the
    relational broadcast-join serving path (:func:`score_linear_bow`) —
    MLlib is needed only at fit time.
    """

    weights: dict[int, float] = field(repr=False)
    bias: float
    num_buckets: int
    token_sep: str = " "

    def score(self, df: DataFrame, *, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
        return score_linear_bow(
            df, self.weights, self.bias, num_buckets=self.num_buckets,
            text_col=text_col, id_col=id_col, token_sep=self.token_sep)


def fit_quality_classifier(
    labeled: DataFrame,
    *,
    num_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    token_sep: str = " ",
    max_iter: int = 100,
    reg_param: float = 0.0,
) -> QualityClassifier:
    """Fit a binary quality classifier on (text, 0/1 label) rows and
    return it as a :class:`QualityClassifier` in the portable bucket
    space.

    The dense fit vector is built in-row — ``aggregate`` over the token
    array, incrementing one slot per token — so the per-doc cost is
    O(tokens · num_buckets) codegen array copies; keep ``num_buckets``
    fit-sized (the 256 default ≈ fastText's dimensionality, not the 4096
    serving default).  Rows with null text fit as all-zero vectors.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    toks = _token_array(text_col, token_sep)
    zeros = F.array_repeat(F.lit(0.0), num_buckets)
    dense = F.aggregate(
        F.transform(toks, lambda t: token_bucket(t, num_buckets)),
        zeros,
        lambda acc, b: F.transform(
            acc, lambda v, i: F.when(i == b.cast("int"), v + 1.0)
            .otherwise(v)),
    )
    train = labeled.select(
        F.col(label_col).cast("double").alias("__y"),
        array_to_vector(F.coalesce(dense, zeros)).alias("__x"),
    )
    lr = LogisticRegression(
        featuresCol="__x", labelCol="__y", maxIter=max_iter,
        regParam=reg_param, family="binomial", standardization=False)
    model = lr.fit(train)
    coef = model.coefficients.toArray()
    return QualityClassifier(
        weights={int(i): float(w) for i, w in enumerate(coef) if w != 0.0},
        bias=float(model.intercept),
        num_buckets=num_buckets,
        token_sep=token_sep,
    )
