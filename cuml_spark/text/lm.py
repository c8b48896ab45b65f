"""Count-based bigram LM perplexity scoring — the CCNet-style quality
filter (Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data"): score every document by the per-token
log-probability a language model assigns it, then filter/bucket on the
score.  CCNet ships a pretrained KenLM to every worker; both shapes exist
here:

* **self-scoring** (default): the count LM is fit on the corpus itself
  (or any ``lm_corpus`` passed in) and scoring joins against the
  distributed count tables.  Exact, but the scoring join shuffles the
  corpus' exploded bigrams whenever the count table outgrows the
  broadcast threshold — fine for corpora whose vocabulary is small,
  wrong at 100 TB.
* **broadcast-model scoring** (``model=``): a :class:`BigramLM` fit once
  (optionally bigram-capped) is broadcast to executors and every
  document is scored IN-ROW by an Arrow-vectorized pandas UDF — the
  scoring pass is map-only, zero shuffle, one corpus scan, exactly the
  CCNet deployment shape (and the same plan class as
  text/contamination.py after its in-row rewrite).

Spark-first details (100 TB):

* tokenization and bigram construction are IN-ROW (``split`` +
  ``zip_with`` over two array slices) — the corpus text never leaves its
  scan;
* model fitting is ONE keyed aggregation over ONE corpus pass: every
  token position becomes a (w1, w2) pair (the document's last token
  pairs with null), counted in one map-side-combined shuffle on the
  pair key and collected once with Arrow; bigram counts, context
  counts and the vocabulary all derive from that one table on the
  driver;
* smoothing is add-k over the corpus vocabulary, so every probability is
  a ratio of integers — deterministic and engine-portable (the DuckDB
  oracle reproduces scores to the rounding precision).

Tokens are split on an EXPLICIT single-space separator, not ``\\s`` —
regex whitespace classes diverge between engines (see the oracle-pitfall
notes); callers with tab/newline-separated text normalize first.  The
context word ``w1`` is carried as its own column end-to-end (never
recovered by re-splitting a concatenated key), so separators that can
appear inside tokens cannot corrupt the conditional denominators.
"""

from __future__ import annotations

import math
import weakref
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


@dataclass
class BigramLM:
    """A driver-side add-k bigram count model, broadcastable to executors.

    ``bigram_counts`` maps ``(w1, w2)`` → count (possibly capped to the
    most frequent ``max_bigrams``); ``context_counts`` maps ``w1`` → its
    EXACT context-position count (never capped — capping only drops rare
    numerator entries, it must not deflate denominators); ``vocab_size``
    is the exact corpus vocabulary.  With no cap the model scores
    identically to the self-scoring join path.
    """

    bigram_counts: dict = field(repr=False)
    context_counts: dict = field(repr=False)
    vocab_size: int
    add_k: float = 1.0
    token_sep: str = " "

    def log_prob(self, w1: str, w2: str) -> float | None:
        """None for a degenerate model (empty corpus: V = 0 and w1
        unseen) — the same null the self-scoring join path degrades to,
        instead of a ZeroDivisionError inside an executor UDF."""
        k = self.add_k
        num = self.bigram_counts.get((w1, w2), 0) + k
        den = self.context_counts.get(w1, 0) + k * self.vocab_size
        if den <= 0:
            return None
        return math.log(num / den)


def _token_array(text_col: str, token_sep: str):
    return F.filter(
        F.split(F.col(text_col), token_sep), lambda x: x != F.lit("")
    )


def _bigram_rows(
    frame: DataFrame, text_col: str, id_col: str, token_sep: str
) -> DataFrame:
    """One row per bigram occurrence: (id_col, __w1, __w2) — the context
    word is a real column, not a re-split of a joined key."""
    toks = _token_array(text_col, token_sep).alias("__t")
    base = frame.select(F.col(id_col), toks)
    n = F.size("__t")
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice("__t", 1, n - 1),
            F.slice("__t", 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return base.select(
        id_col, F.explode(pairs).alias("__p")
    ).select(
        id_col,
        F.col("__p.w1").alias("__w1"),
        F.col("__p.w2").alias("__w2"),
    )


DEFAULT_MAX_BIGRAMS = 1_000_000


def _position_pair_counts(
    frame: DataFrame, text_col: str, token_sep: str
) -> DataFrame:
    """(__w1, __w2, __c): one map-side-combined count per distinct pair
    of adjacent tokens, plus one (w1, null) count per distinct
    document-final token — every token position appears as a ``w1``, so
    the table alone yields bigram counts, context counts and V."""
    toks = _token_array(text_col, token_sep).alias("__t")
    n = F.size("__t")
    # zip_with pads the one-shorter successor slice with null, pairing
    # each document's last token with null; the slice length is clamped
    # to >= 1 because size() of a null array is null or -1
    pairs = F.zip_with(
        "__t",
        F.slice("__t", 2, F.greatest(n, F.lit(1))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        frame.select(toks)
        .select(F.explode(pairs).alias("__p"))
        .groupBy(F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2"))
        .agg(F.count("*").alias("__c"))
    )


def _release_checkpoint(frame: DataFrame) -> None:
    """Drop a ``localCheckpoint``'s blocks now instead of when the driver
    garbage-collects the frame: a checkpointed frame's analyzed plan is
    the ``LogicalRDD`` over the checkpointed RDD."""
    frame._jdf.queryExecution().analyzed().rdd().unpersist(False)


def fit_bigram_lm(
    corpus: DataFrame,
    text_col: str = "text",
    *,
    add_k: float = 1.0,
    token_sep: str = " ",
    max_bigrams: int | None = DEFAULT_MAX_BIGRAMS,
    id_col: str = "doc_id",
) -> BigramLM:
    """Fit a :class:`BigramLM` on ``corpus`` and collect it to the driver.

    ONE corpus pass: every token position is paired with its successor
    (null for a document's last token) and counted in one
    map-side-combined shuffle on the (w1, w2) key.  The table is then
    collected with Arrow under a ``limit(max_bigrams + 1)`` probe — the
    ``near_dup_groups`` ``driver_cap + 1`` pattern — so the driver never
    holds more than ``max_bigrams + 1`` rows of it.  The probe caps ROWS
    of that position-pair table: its bigram rows plus one (w1, null) row
    per distinct document-final token, so a corpus with at most
    ``max_bigrams`` distinct bigrams can still overflow it (the model is
    the same either way; only the path differs).  When the probe comes
    back complete (the common case), bigram counts, context counts
    (per-w1 sums of the bigram rows) and V (distinct w1) derive from it
    on the driver: two Spark jobs, one scan.  When it overflows, the
    capped model is read from the SAME aggregated table: the top
    ``max_bigrams`` bigrams (count desc, then w1, w2 — deterministic) and
    the exact context counts and V, each one small query over it.  In
    neither case is the corpus scanned twice.

    The aggregated table is a ``localCheckpoint`` that the probe job
    fills as it runs (the aggregation stays parallel: the limit applies
    per partition first, then to at most partitions × (cap + 1) rows in
    one task).  Its blocks sit in executor storage (memory, spilling to
    local disk) only for the duration of the fit and are released before
    it returns.  ``localCheckpoint`` trades lineage for that single pass:
    an executor lost between the probe and the capped queries fails the
    fit (Spark's documented contract), which a retry of the fit handles.
    A ``persist`` would keep lineage but costs a third Spark job on every
    fit, the cache-materialization query stage.

    ``max_bigrams`` (default ``DEFAULT_MAX_BIGRAMS`` = 1e6) keeps the
    driver-side model bounded no matter the corpus — a web-scale corpus
    has billions of distinct bigrams, and an uncapped ``.collect()`` of
    them is a driver OOM, the failure mode ``semantic_prune``'s
    ``max_cluster_rows`` guard exists to refuse.  When the corpus has
    fewer distinct bigrams than the cap the fitted model is identical to
    an uncapped fit.  Context counts and V remain exact under any cap, so
    capping only coarsens rare-bigram numerators toward the add-k floor.
    Pass ``max_bigrams=None`` to deliberately fit uncapped (the caller
    owns the driver-memory ceiling: ~150 bytes per retained bigram).

    Context counts are NOT capped (one entry per distinct token): a
    corpus whose VOCABULARY alone overwhelms the driver needs a real
    pretrained LM (KenLM et al.), not a count model fit in-session.
    ``id_col`` is accepted for signature compatibility; the fit never
    reads it.
    """
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")
    if max_bigrams is not None and max_bigrams < 0:
        raise ValueError(f"max_bigrams must be >= 0 or None, got {max_bigrams}")
    counts = _position_pair_counts(corpus, text_col, token_sep)
    if max_bigrams is not None:
        # the probe job fills the checkpoint, so an overflowing probe
        # reads the capped model from the table instead of the corpus
        counts = counts.localCheckpoint(eager=False)
    try:
        probe = counts if max_bigrams is None else counts.limit(
            int(max_bigrams) + 1)
        table = probe.toPandas()
        if max_bigrams is None or len(table) <= max_bigrams:
            vocab_size = table["__w1"].nunique()
            bigrams = table[table["__w2"].notna()]
            ctx = bigrams.groupby("__w1", sort=False)["__c"].sum()
        else:
            has_w2 = F.col("__w2").isNotNull()
            bigrams = (
                counts.where(has_w2)
                .orderBy(F.col("__c").desc(), "__w1", "__w2")
                .limit(int(max_bigrams))
                .toPandas()
            )
            per_w1 = (
                counts.groupBy("__w1")
                .agg(F.sum(F.when(has_w2, F.col("__c"))).alias("__cw"))
                .toPandas()
            )
            vocab_size = len(per_w1)
            ctx = per_w1.dropna().set_index("__w1")["__cw"].astype("int64")
    finally:
        if max_bigrams is not None:
            _release_checkpoint(counts)
    # tolist() unboxes numpy scalars: keys and counts stay plain str/int
    return BigramLM(
        bigram_counts=dict(zip(
            zip(bigrams["__w1"].tolist(), bigrams["__w2"].tolist()),
            bigrams["__c"].tolist())),
        context_counts=dict(zip(ctx.index.tolist(), ctx.tolist())),
        vocab_size=int(vocab_size),
        add_k=float(add_k),
        token_sep=token_sep,
    )


# one Spark broadcast per (model, application): repeated scoring passes
# with the same model reuse the blocks instead of leaking one broadcast
# per call; id-keyed (the dataclass is eq=True, hence unhashable) with a
# weakref finalizer evicting the entry when the model is collected, at
# which point ContextCleaner reclaims the now-unreferenced broadcast
_MODEL_BC_CACHE: dict[int, tuple[str, object]] = {}


def _model_broadcast(sc, model: BigramLM):
    key = id(model)
    ent = _MODEL_BC_CACHE.get(key)
    if ent is not None and ent[0] == sc.applicationId:
        return ent[1]
    bc = sc.broadcast(model)
    _MODEL_BC_CACHE[key] = (sc.applicationId, bc)
    weakref.finalize(model, _MODEL_BC_CACHE.pop, key, None)
    return bc


def _score_with_model(
    df: DataFrame, text_col: str, id_col: str, model: BigramLM,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Map-only scoring: broadcast the model, score each document in-row
    via an Arrow-vectorized UDF over its token array.  Zero shuffle, one
    corpus scan — the plan a 100 TB scoring pass needs.

    The model broadcast is cached per (model, application) in a weak-key
    map, so scoring many frames with one model ships and stores the
    model ONCE; the blocks live until the model object (or the returned
    DataFrames capturing the broadcast) are garbage-collected and
    Spark's ContextCleaner reclaims them."""
    bc = _model_broadcast(df.sparkSession.sparkContext, model)

    @F.pandas_udf(DoubleType())
    def _avg_logp(tok_arrays: pd.Series) -> pd.Series:
        m = bc.value
        degenerate = m.vocab_size <= 0  # empty-corpus model: score null,
        # matching the self-scoring join path's degradation
        out = []
        for toks in tok_arrays:
            if degenerate or toks is None or len(toks) < 2:
                out.append(None)
                continue
            s = 0.0
            for w1, w2 in zip(toks[:-1], toks[1:]):
                s += m.log_prob(w1, w2)
            out.append(s / (len(toks) - 1))
        return pd.Series(out, dtype="float64")

    toks = _token_array(text_col, model.token_sep)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        F.greatest(
            F.coalesce(F.size(toks), F.lit(1)) - 1, F.lit(0)
        ).cast("long").alias("n_bigrams"),
        _avg_logp(toks).alias("avg_logp"),
    )


def perplexity_buckets(
    scored: DataFrame,
    *,
    score_col: str = "avg_logp",
    id_col: str = "doc_id",
    quantiles: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    group_cols: list[str] | None = None,
    max_groups: int = 100_000,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. §4.3): bucket
    documents by their LM score's position in the corpus distribution —
    ``head`` = best-scoring third (highest avg log-prob), ``tail`` =
    worst, ``middle`` between.  CCNet trains on head+middle and drops
    (or down-weights) tail.

    → (id_col[, group_cols…], score_col, ppl_bucket) with
    ``ppl_bucket`` ∈ {'head', 'middle', 'tail', null} (null for
    unscored docs — too short to have bigrams — which a pipeline routes
    separately).

    With ``group_cols`` (e.g. ``["lang"]``) the thresholds are computed
    PER GROUP — CCNet's actual shape: one LM and one head/middle/tail
    split per language, so a hard language's scores aren't judged
    against an easy language's distribution.  The cuts aggregation
    groups instead of reducing globally (still ONE pass, ≤ #groups
    rows) and joins back null-safely broadcast (a NULL group — unknown
    language — is its own stratum, SQL GROUP BY semantics).  Docs keep
    their group columns in the output so downstream mixing can quota
    per (group, bucket).

    Thresholds are the EXACT interpolated percentiles of the non-null
    scores (Spark ``percentile``; the oracle's ``quantile_cont`` is the
    same definition), computed in ONE aggregation pass and broadcast —
    at 100 TB this is one extra reduction over an already-scored frame,
    never a sort.  Buckets use ``>=`` against the upper threshold so a
    document exactly on a cut lands in the better bucket in both
    engines.  Pass the SCORED frame (``bigram_lm_scores`` output,
    joined with its group columns when grouping) — scores rounded by
    the caller round identically in both engines, so thresholds and
    comparisons agree bit-for-bit.
    """
    lo, hi = quantiles
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(
            f"quantiles must satisfy 0 < lo < hi < 1, got {quantiles}")
    gcols = list(group_cols or [])
    for g in gcols:
        if g not in scored.columns:
            raise ValueError(f"group column {g!r} not in scored frame")
    # two consumers read the scored frame (the cuts aggregation and the
    # bucketed output); materialize once so an expensive upstream scoring
    # pipeline (the usual caller feeds bigram_lm_scores directly) is not
    # evaluated twice — the bm25 AQE-reuse finding.  GC-released with the
    # result.
    scored = scored.localCheckpoint(eager=False)
    s = F.col(score_col)
    bucket = (
        F.when(s.isNull(), F.lit(None).cast("string"))
        .when(s >= F.col("__t_hi"), F.lit("head"))
        .when(s >= F.col("__t_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    if gcols:
        # cuts derives FROM scored, so the join is a self-join — rename
        # the cuts-side keys to break attribute-lineage ambiguity
        cuts = scored.groupBy(*gcols).agg(
            F.percentile(s, F.lit(lo)).alias("__t_lo"),
            F.percentile(s, F.lit(hi)).alias("__t_hi"),
        ).select(
            *[F.col(g).alias(f"__g{i}") for i, g in enumerate(gcols)],
            "__t_lo", "__t_hi",
        )
        # cuts broadcasts: refuse a data-grade key before shipping it to
        # every executor (the grouped_exact_quantiles max_groups
        # convention; the limit bounds the TRANSFER).  Collect the
        # bounded probe ONCE and rebuild the broadcast side as a local
        # relation, so the per-group percentile aggregation runs a
        # single time instead of once for the guard and again under the
        # join  (ADVICE r11)
        cut_rows = cuts.limit(int(max_groups) + 1).collect()
        if len(cut_rows) > max_groups:
            raise ValueError(
                f"group_cols={gcols} has more than max_groups="
                f"{max_groups} distinct groups — per-group cuts "
                "broadcast to every executor; use stratum-grade keys "
                "(language, domain) or raise max_groups deliberately"
            )
        cuts = scored.sparkSession.createDataFrame(cut_rows, cuts.schema)
        cond = F.lit(True)
        for i, g in enumerate(gcols):
            cond = cond & F.col(g).eqNullSafe(F.col(f"__g{i}"))
        return (
            scored.join(F.broadcast(cuts), cond)
            .select(
                F.col(id_col),
                *gcols,
                F.col(score_col),
                bucket.alias("ppl_bucket"),
            )
        )
    cuts = scored.agg(
        F.percentile(s, F.lit(lo)).alias("__t_lo"),
        F.percentile(s, F.lit(hi)).alias("__t_hi"),
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(F.col(id_col), s.alias(score_col), bucket.alias("ppl_bucket"))
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    add_k: float | None = None,
    token_sep: str | None = None,
    lm_corpus: DataFrame | None = None,
    model: BigramLM | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document average bigram log-probability under an add-k count LM.

    With ``model=`` (a :class:`BigramLM` from :func:`fit_bigram_lm`), the
    pass is map-only broadcast scoring — the scale path.  Otherwise the LM
    is fit on ``lm_corpus`` (defaults to ``df`` itself — self-scoring, the
    repetition/boilerplate signal) with conditionals
    ``P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)`` where ``c(w1·)`` counts
    w1 in context position and ``V`` is the corpus vocabulary size.

    Returns one row per input row: ``id_col``, ``keep_cols`` (pass-through
    columns such as the language key the grouped CCNet split buckets by —
    carried on the existing final projection/join, zero extra shuffle),
    ``n_bigrams`` (0 for docs with <2 tokens, including null text) and
    ``avg_logp`` (null when ``n_bigrams = 0``).  Lower (more negative)
    scores = text the LM finds surprising; CCNet keeps the middle band.
    """
    if model is not None:
        if lm_corpus is not None:
            raise ValueError("pass either model= or lm_corpus=, not both")
        if add_k is not None or token_sep is not None:
            raise ValueError(
                "add_k/token_sep are properties of the fitted model — "
                "set them in fit_bigram_lm, not here (passing both would "
                "silently score with the model's values)")
        return _score_with_model(df, text_col, id_col, model, keep_cols)

    add_k = 1.0 if add_k is None else add_k
    token_sep = " " if token_sep is None else token_sep
    src = lm_corpus if lm_corpus is not None else df
    model_pairs = _bigram_rows(src, text_col, id_col, token_sep)
    score_pairs = _bigram_rows(df, text_col, id_col, token_sep)
    if lm_corpus is None:
        # self-scoring: the fit and the scoring pass consume the SAME
        # per-occurrence bigram frame — materialize it once instead of
        # re-tokenizing and re-exploding the corpus for each consumer
        # (r12; measured plan: two identical Scan→Generate subtrees).
        # The checkpoint is the same order as the bigram shuffle the fit
        # already pays, traded against a full second tokenize+explode
        # pass; the true 100 TB serving path remains the broadcast
        # ``model=`` scorer, which never takes this branch.
        model_pairs = model_pairs.localCheckpoint(eager=False)
        score_pairs = model_pairs
    bgc = model_pairs.groupBy("__w1", "__w2").agg(F.count("*").alias("__cbg"))
    # context counts c(w1·) re-aggregate the collapsed bigram table — no
    # second pass over the corpus
    ctx = bgc.groupBy("__w1").agg(F.sum("__cbg").alias("__cw1"))
    vocab_n = (
        src.select(F.explode(_token_array(text_col, token_sep)).alias("__w"))
        .agg(F.countDistinct("__w").alias("__v"))
    )
    k = float(add_k)
    scored = (
        score_pairs
        .join(bgc, ["__w1", "__w2"], "left")
        .join(ctx, ["__w1"], "left")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("__cbg"), F.lit(0)) + k)
                / (F.coalesce(F.col("__cw1"), F.lit(0)) + k * F.col("__v"))
            ).alias("__lp"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg("__lp").alias("avg_logp"),
        )
    )
    return (
        df.select(id_col, *(keep_cols or []))
        .join(scored, id_col, "left")
        .select(
            id_col,
            *(keep_cols or []),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.col("avg_logp"),
        )
    )


def mink_prob_scores(
    df: DataFrame,
    *,
    k_pct: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
    token_sep: str = " ",
    lm_corpus: DataFrame | None = None,
) -> DataFrame:
    """Min-K% Prob membership scoring (Shi et al. 2023, "Detecting
    Pretraining Data from Large Language Models"): score each document by
    the MEAN log-probability of its ``k_pct`` LEAST-likely bigrams under
    an LM fit on ``lm_corpus`` — members of the fit corpus have no
    surprisingly-unlikely spans, so their min-k tail sits high, while
    unseen documents are betrayed by their worst tokens even when their
    overall perplexity looks average.  The standard contamination /
    membership-inference audit, run here with the same add-k count LM the
    CCNet tier uses (a shipped neural LM drops into the same shape).

    → (id_col, n_bigrams, n_scored, mink_avg_logp): ``n_scored`` =
    ⌈k_pct · n_bigrams⌉ (0 and a null score for docs with < 2 tokens).

    Spark shape (100 TB): identical to the ``bigram_lm_scores`` join path
    — one bigram-keyed count shuffle for the fit tables, broadcast V,
    probe bigrams left-joined — plus ONE rank window per document
    (bottom-k selection; rank ties among equal-probability bigrams
    cannot change the selected VALUES, so the score is deterministic on
    any partitioning).
    """
    if not 0.0 < k_pct <= 1.0:
        raise ValueError(f"k_pct must be in (0, 1], got {k_pct}")
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")
    src = lm_corpus if lm_corpus is not None else df
    model_pairs = _bigram_rows(src, text_col, id_col, token_sep)
    bgc = model_pairs.groupBy("__w1", "__w2").agg(F.count("*").alias("__cbg"))
    ctx = bgc.groupBy("__w1").agg(F.sum("__cbg").alias("__cw1"))
    vocab_n = (
        src.select(F.explode(_token_array(text_col, token_sep)).alias("__w"))
        .agg(F.countDistinct("__w").alias("__v"))
    )
    k = float(add_k)
    lp = (
        _bigram_rows(df, text_col, id_col, token_sep)
        .join(bgc, ["__w1", "__w2"], "left")
        .join(ctx, ["__w1"], "left")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("__cbg"), F.lit(0)) + k)
                / (F.coalesce(F.col("__cw1"), F.lit(0)) + k * F.col("__v"))
            ).alias("__lp"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__lp").asc())
    cnt = Window.partitionBy(id_col)
    ranked = lp.select(
        id_col,
        "__lp",
        F.row_number().over(w).alias("__rk"),
        F.count("*").over(cnt).alias("__n"),
    )
    scored = (
        ranked.where(F.col("__rk") <= F.ceil(F.lit(float(k_pct)) * F.col("__n")))
        .groupBy(id_col)
        .agg(
            F.max("__n").alias("n_bigrams"),
            F.count("*").alias("n_scored"),
            F.avg("__lp").alias("mink_avg_logp"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
            F.col("mink_avg_logp"),
        )
    )
