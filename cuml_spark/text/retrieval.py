"""Ranked retrieval for corpus curation: Okapi BM25, reciprocal-rank
fusion, and token-budget document chunking.

Training-data pipelines retrieve as much as they dedup: keyword search
(BM25) selects topical subsets and audits contamination, hybrid fusion
(RRF) combines it with the embedding tier (`neighbors.cosine_topk`, the
ANN indexes), and chunking splits documents into model-window-sized
pieces.  Not in the cuML reference (dense-matrix data model; its
neighbors/ tier covers vector search only — `cuml/neighbors/
nearest_neighbors.pyx`); first-class here like the dedup tier.

Spark-first shapes (100 TB):

* ``bm25_topk`` is the inverted-index plan expressed relationally:
  postings = ONE map-side-combined shuffle on (term, doc) — the same
  shape as the bigram-LM fit — materialized once via ``localCheckpoint``
  so its two consumers (document-frequency counts and scoring) read one
  index instead of each re-rooting the corpus scan (AQE's exchange
  reuse measurably did not dedupe them); document frequencies
  re-aggregate only the postings that match the (broadcast) query
  terms; scoring joins postings against the broadcast query list, so
  the only row-scale shuffle after fit carries matched postings keyed
  by (query, doc), and the final top-k is a per-query window over an
  already-k-bounded frame.
  The query side is bounded (it is broadcast twice) — batch large query
  sets through several calls, exactly like the ANN indexes' LUT contract.
* ``rrf_fuse`` unions two per-query top-k frames (each ≤ k rows per
  query) and re-aggregates — input-bounded, never corpus-scale.
* ``chunk_documents`` is in-row array slicing (sequence → transform →
  posexplode): map-only, zero shuffle, whole-stage codegen; at 100 TB a
  chunking pass is one scan, the same plan class as the C4 line filter.

Determinism/oracle notes: tokens split on an explicit separator (not
``\\s`` — engine regex classes diverge, see text/repetition.py); BM25
probabilities are ratios of integers except avgdl (a single global
mean), and harness scores are rounded before ranking so ties break on
doc_id identically in Spark and DuckDB.  The chunk-start ``sequence`` is
gated behind ``size >= 1`` because Spark's ``sequence(1, 0)`` is a
DESCENDING two-element sequence, not empty (the span-dedup pitfall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# single source of the tokenization contract (explicit separator regex,
# drop empty tokens) — shared with the bigram LM so a future separator
# fix cannot diverge the tiers
from cuml_spark.text.lm import _token_array as _toks  # noqa: E402


def _analyzed_tokens(text_col: str, token_sep: str, lowercase: bool,
                     stopwords: list[str] | None):
    """The shared analyzer: tokenize, optionally case-fold, optionally
    drop stopwords — ONE definition so bm25_topk and tfidf_keywords can
    never tokenize the same corpus differently (review r9 finding)."""
    t = _toks(text_col, token_sep)
    if lowercase:
        t = F.transform(t, F.lower)
    if stopwords:
        sw = stopwords
        t = F.filter(t, lambda x: ~x.isin(*sw))
    return t


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    token_sep: str = " ",
    score_decimals: int | None = 6,
    lowercase: bool = False,
    stopwords: list[str] | None = None,
    corpus_stats: DataFrame | None = None,
) -> DataFrame:
    """Per-query BM25 top-k: → (query_id, doc_id, score,
    n_terms_matched, rank ≤ k).

    ``score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
    over the query's distinct terms, with the Lucene idf
    ``ln((N − df + 0.5)/(df + 0.5) + 1)`` (always ≥ 0).  Documents
    matching no query term are absent.  ``score_decimals`` rounds BEFORE
    ranking so near-equal scores tie deterministically (broken by
    doc_id); pass ``None`` to rank on raw floats.

    Analyzer hooks (applied IN-ROW at tokenization, identically to both
    sides — the plan stays map-only below the postings aggregate):
    ``lowercase`` case-folds every token; ``stopwords`` drops the listed
    tokens AFTER folding (supply them already-lowercased when
    ``lowercase`` is on), so document length, tf, and df all reflect the
    analyzed token stream, the way a real index is built.

    ``corpus_stats``: optional one-row (``__n`` count, ``__avgdl`` avg
    analyzed length) frame for callers that can derive the corpus stats
    cheaper than the default full-tokenize aggregate (e.g. the chunked
    retrieval pipeline, where chunk count and total chunk length are
    closed forms of each document's token count — r13).  The caller
    GUARANTEES value equality with the default aggregate; both n and the
    summed lengths are exact integers below 2^53, so sum/count division
    is order-independent and bit-identical however they are derived.  A
    frame without those two columns is rejected here, from its schema.
    """
    if corpus_stats is not None:
        missing = {"__n", "__avgdl"} - set(corpus_stats.columns)
        if missing:
            raise ValueError(
                f"corpus_stats lacks column(s) {sorted(missing)}; it must be a "
                "one-row (__n, __avgdl) frame")
    if stopwords is not None:
        stopwords = [str(s) for s in stopwords]

    def _analyze(col: str):
        return _analyzed_tokens(col, token_sep, lowercase, stopwords)

    toks = _analyze(text_col)
    base = docs.select(
        F.col(id_col),
        toks.alias("__t"),
    ).select(
        id_col,
        F.coalesce(F.size("__t"), F.lit(0)).alias("__dl"),
        F.col("__t"),
    )
    stats = corpus_stats if corpus_stats is not None else base.agg(
        F.count("*").alias("__n"), F.avg("__dl").alias("__avgdl"))
    postings = (
        base.select(id_col, "__dl", F.explode("__t").alias("__term"))
        .groupBy(id_col, "__term")
        .agg(F.count("*").alias("__tf"), F.first("__dl").alias("__dl"))
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("__qid"),
            F.explode(_analyze(query_text_col)).alias("__term"),
        ).distinct()
    )
    # materialize the MATCHED postings once: two consumers read them (the
    # document-frequency aggregate and the scoring join), and without
    # the checkpoint each roots its own corpus scan + (doc, term) index
    # shuffle — measured in the executed plan: AQE's exchange reuse did
    # NOT dedupe them.  Checkpointing below the query filter keeps the
    # materialized frame QUERY-BOUNDED (only postings whose term some
    # query mentions) while the corpus-scale scan + index shuffle still
    # runs exactly once, fully pipelined inside the materialization job;
    # checkpointing the full index instead measured ~0.5s slower at
    # sf0.1 (it breaks the index-agg → broadcast-join stage fusion and
    # serializes every posting, matched or not).  GC-released with the
    # result.
    matched = postings.join(
        F.broadcast(qterms.select("__term").distinct()), "__term"
    ).localCheckpoint(eager=False)
    # document frequencies over the FULL corpus, computed only for the
    # matched terms (postings carries every doc, so the count is exact)
    dfreq = matched.groupBy("__term").agg(F.count("*").alias("__df"))
    scored = (
        matched.join(F.broadcast(qterms), "__term")
        .join(F.broadcast(dfreq), "__term")
        .crossJoin(F.broadcast(stats))
        .select(
            "__qid", id_col,
            (
                F.log(
                    (F.col("__n") - F.col("__df") + 0.5)
                    / (F.col("__df") + 0.5) + 1.0
                )
                * (F.col("__tf") * (k1 + 1.0))
                / (
                    F.col("__tf")
                    + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
                )
            ).alias("__s"),
        )
        .groupBy("__qid", id_col)
        .agg(F.sum("__s").alias("__score"),
             F.count("*").alias("n_terms_matched"))
    )
    score = F.col("__score")
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    out = scored.select(
        F.col("__qid").alias(query_id_col), F.col(id_col),
        score.alias("score"), "n_terms_matched",
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return out.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_sep: str = " ",
    lowercase: bool = False,
    stopwords: list[str] | None = None,
    score_decimals: int | None = 6,
) -> DataFrame:
    """Per-document top-k TF-IDF keywords → (id_col, term, tf, score,
    rank ≤ k) — the corpus-curation tagging pass (topic audit, domain
    labeling, boilerplate triage).

    ``score = tf · (ln((N + 1)/(df + 1)) + 1)`` (the smoothed idf, so a
    corpus-universal term still ranks by tf instead of zeroing out);
    ``score_decimals`` rounds BEFORE ranking so ties break
    deterministically on the term text.  Docs with no tokens emit no
    rows.  Analyzer hooks match :func:`bm25_topk`.

    Plan (100 TB): one in-row tokenize + explode, ONE map-side-combined
    (doc, term) count shuffle materialized once (checkpoint — two
    consumers), document frequencies re-aggregated from the collapsed
    counts (no second corpus scan; UNLIKE bm25's query-bounded df table
    this one is vocabulary-sized, so it equi-joins back on the term key
    — AQE skew-split eligible for stopword-hot terms — rather than
    broadcasting), and the per-doc top-k rides WindowGroupLimit — ≤ k
    rows per doc cross the final shuffle.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if stopwords is not None:
        stopwords = [str(s) for s in stopwords]
    toks = _analyzed_tokens(text_col, token_sep, lowercase, stopwords)
    base = docs.select(F.col(id_col), F.explode(toks).alias("__term"))
    counts = (
        base.groupBy(id_col, "__term").agg(F.count("*").alias("tf"))
        # two consumers (df re-aggregation + the scoring side) — same
        # materialize-once contract as bm25_topk's matched postings
        .localCheckpoint(eager=False)
    )
    n_docs = docs.select(F.count("*").alias("__n"))
    dfreq = counts.groupBy("__term").agg(F.count("*").alias("__df"))
    scored = (
        counts.join(dfreq, "__term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col, F.col("__term").alias("term"), "tf",
            (
                F.col("tf")
                * (F.log((F.col("__n") + 1.0) / (F.col("__df") + 1.0)) + 1.0)
            ).alias("__s"),
        )
    )
    score = F.col("__s")
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    out = scored.select(id_col, "term", "tf", score.alias("score"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return out.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    *,
    k0: float = 60.0,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of two per-query ranked lists (Cormack et
    al. 2009): ``rrf_score(d) = Σ_lists 1/(k0 + rank_list(d))`` →
    (query_id, doc_id, rrf_score, n_lists, rank ≤ k).

    The canonical hybrid-search combiner: feed it ``bm25_topk`` and the
    embedding tier's ``cosine_topk`` (or an ANN index's search) and the
    fused ranking rewards documents both retrievers agree on without any
    score calibration.  Input frames are already ≤ k rows per query, so
    the union/re-aggregate is bounded by the query count — never
    corpus-scale.
    """
    def sel(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(query_id_col), F.col(id_col),
            F.col(rank_col).alias("__r"))

    both = sel(ranked_a).unionByName(sel(ranked_b))
    fused = both.groupBy(query_id_col, id_col).agg(
        F.sum(1.0 / (F.lit(float(k0)) + F.col("__r"))).alias("rrf_score"),
        F.count("*").alias("n_lists"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc())
    return fused.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    *,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_sep: str = " ",
    join_sep: str = " ",
) -> DataFrame:
    """Token-budget chunking: → (id_col, chunk_id, n_tokens, chunk_text),
    one row per chunk, chunks start every ``max_tokens − overlap`` tokens
    and carry up to ``max_tokens`` each (the final chunk may be shorter).
    Chunking stops once a chunk reaches the document's end, so no chunk
    is ever fully contained in its predecessor (with ``overlap`` > 0 a
    naive stride would emit a redundant ≤-overlap tail).  Docs with zero
    tokens (empty or null text) produce no chunks.

    ``token_sep`` is a split REGEX; ``join_sep`` is the literal string
    chunks are re-joined with (a regex cannot be inverted, so callers
    with a non-space separator choose the reconstruction themselves).
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}")
    step = max_tokens - overlap
    toks = _toks(text_col, token_sep)
    # last start = the first one whose chunk reaches the end: starts stop
    # at n - max_tokens + step (floored at 1)
    ub = F.greatest(F.size(toks) - max_tokens + step, F.lit(1))
    starts = F.when(
        F.size(toks) >= 1,
        F.sequence(F.lit(1), ub, F.lit(step)),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(starts, lambda s: F.slice(toks, s, max_tokens))
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "__c"),
    ).select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size("__c").cast("long").alias("n_tokens"),
        F.array_join("__c", join_sep).alias("chunk_text"),
    )
