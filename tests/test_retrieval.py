"""BM25 / RRF / chunking vs hand-computed oracles (text/retrieval.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cuml_spark.text import bm25_topk, chunk_documents, rrf_fuse


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "durian"),
        (3, None),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_hand_oracle(corpus, spark):
    """Exact Okapi scores on a tiny corpus: N=5, avgdl=1.2; null/empty
    docs count toward N and avgdl but never match; a query term absent
    from the corpus contributes nothing (df never hits the idf floor)."""
    qs = spark.createDataFrame(
        [(0, "apple banana"), (1, "durian missingterm")],
        "query_id long, text string")
    out = {(r["query_id"], r["doc_id"]): r
           for r in bm25_topk(corpus, qs, k=3, score_decimals=None).collect()}
    k1, b, n, avgdl = 1.2, 0.75, 5, 1.2

    def s(tf, df, dl):
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))

    # query 0 vs doc 0: apple tf=2 df=1 dl=3; banana tf=1 df=2 dl=3
    assert out[(0, 0)]["score"] == pytest.approx(
        s(2, 1, 3) + s(1, 2, 3), abs=1e-12)
    assert out[(0, 0)]["n_terms_matched"] == 2
    # query 0 vs doc 1: banana tf=1 df=2 dl=2
    assert out[(0, 1)]["score"] == pytest.approx(s(1, 2, 2), abs=1e-12)
    # ranks: doc 0 above doc 1 for query 0
    assert out[(0, 0)]["rank"] == 1 and out[(0, 1)]["rank"] == 2
    # query 1: only durian matches (df=1, dl=1); missingterm is absent
    assert out[(1, 2)]["score"] == pytest.approx(s(1, 1, 1), abs=1e-12)
    assert out[(1, 2)]["n_terms_matched"] == 1
    assert {(q, d) for q, d in out} == {(0, 0), (0, 1), (1, 2)}


def test_bm25_k_bound_and_repeated_query_terms(corpus, spark):
    """k bounds each query's list; duplicate terms in the query text count
    once (distinct-term semantics)."""
    qs = spark.createDataFrame(
        [(0, "banana banana banana")], "query_id long, text string")
    out = bm25_topk(corpus, qs, k=1).collect()
    assert len(out) == 1 and out[0]["rank"] == 1
    assert out[0]["n_terms_matched"] == 1
    # dup terms: same score as a single mention
    single = bm25_topk(
        corpus,
        spark.createDataFrame([(0, "banana")], "query_id long, text string"),
        k=1,
    ).collect()[0]
    assert out[0]["score"] == single["score"]


def test_chunk_documents_stride_tail_and_degenerate(corpus, spark):
    """Chunks start every max_tokens-overlap tokens, stop once a chunk
    reaches the end (no chunk fully contained in its predecessor), the
    tail may be short when overlap=0, zero-token docs yield no chunks,
    and overlap/max validation rejects bad configs."""
    rows = [(0, " ".join(f"t{i}" for i in range(10))), (1, "a"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
           for r in chunk_documents(df, 4, overlap=1).collect()}
    # doc 0: 10 tokens, stride 3 -> starts 1,4,7; chunk 2 reaches t9, so
    # no redundant ['t9'] tail (it would be fully inside chunk 2)
    assert out[(0, 0)] == (4, "t0 t1 t2 t3")
    assert out[(0, 1)] == (4, "t3 t4 t5 t6")
    assert out[(0, 2)] == (4, "t6 t7 t8 t9")
    assert (0, 3) not in out
    assert out[(1, 0)] == (1, "a")
    assert not any(d == 2 for d, _c in out)
    # every token of every doc is covered (chunking loses nothing)
    covered = set()
    for (d, _c), (_n, txt) in out.items():
        if d == 0:
            covered.update(txt.split(" "))
    assert covered == {f"t{i}" for i in range(10)}
    # overlap=0: short tail still emitted (it is the only coverage)
    tail = {(r["doc_id"], r["chunk_id"]): r["chunk_text"]
            for r in chunk_documents(df, 4).collect()}
    assert tail[(0, 2)] == "t8 t9"
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, 4, overlap=4)
    with pytest.raises(ValueError, match="max_tokens"):
        chunk_documents(df, 0)


def test_chunk_documents_custom_join_sep(spark):
    """token_sep is a split regex; join_sep reconstructs chunk text with
    the caller's literal separator (a regex cannot be inverted)."""
    df = spark.createDataFrame(
        [(0, "a b;c d;e f")], "doc_id long, text string")
    out = chunk_documents(df, 2, token_sep=";", join_sep=";").collect()
    got = {r["chunk_id"]: r["chunk_text"] for r in out}
    assert got == {0: "a b;c d", 1: "e f"}


def test_rrf_fusion_laws(spark):
    """RRF score = sum of 1/(k0+rank) over lists; a doc in both lists
    outranks same-rank single-list docs; ties break by doc_id."""
    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, doc_id long, rank long")
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id long, doc_id long, rank long")
    out = {r["doc_id"]: r for r in rrf_fuse(a, b, k=10).collect()}
    assert out[11]["rrf_score"] == pytest.approx(1 / 62 + 1 / 61, abs=1e-15)
    assert out[11]["n_lists"] == 2 and out[11]["rank"] == 1
    # 10 (rank 1 in a) vs 12 (rank 2 in b): 1/61 > 1/62
    assert out[10]["rank"] == 2 and out[12]["rank"] == 3
    # exact tie: both single-list at the same rank -> doc_id ascending
    c = spark.createDataFrame(
        [(1, 20, 3)], "query_id long, doc_id long, rank long")
    d = spark.createDataFrame(
        [(1, 19, 3)], "query_id long, doc_id long, rank long")
    tied = {r["doc_id"]: r["rank"] for r in rrf_fuse(c, d, k=10).collect()}
    assert tied == {19: 1, 20: 2}


def test_exact_substring_dedup_semantics(spark):
    """ExactSubstr removal (text/substring.py): the first global
    occurrence of a k-window keeps its text, later occurrences are cut
    (including in-document repeats); overlapping duplicate windows union
    their covered positions; short/null/empty docs pass through."""
    from cuml_spark.text import exact_substring_dedup

    rows = [
        (0, "a b c d e f g h"),
        (1, "x y a b c d z w"),     # shares 4-gram 'a b c d' at pos 3-6
        (2, "a b c d e f g h"),     # exact dup of 0 -> fully covered
        (3, "short one"),
        (4, None),
        (5, ""),
        (6, "q q q q q q"),         # in-doc repeats of 'q q q q'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["n_removed_tokens"],
                         r["cleaned_text"])
           for r in exact_substring_dedup(df, k=4).collect()}
    assert out[0] == (8, 0, "a b c d e f g h")   # first occurrence kept
    assert out[1] == (8, 4, "x y z w")
    assert out[2] == (8, 8, "")
    assert out[3] == (2, 0, "short one")         # < k: no windows
    assert out[4] == (0, 0, None)
    assert out[5] == (0, 0, "")
    # windows at pos 1,2,3 are identical; pos 1 is kept, 2-3 cover 2..6
    assert out[6] == (6, 5, "q")
    with pytest.raises(ValueError, match="k must"):
        exact_substring_dedup(df, k=0)


def test_exact_substring_dedup_boundary_unambiguous_and_verbatim(spark):
    """Review regressions: (a) window identity hashes per-token digests,
    so different token boundaries that concatenate to the same string
    never collide ('x y'+'c' vs 'x'+'y c' under token_sep=','); (b) docs
    with zero removals return their text VERBATIM — no tokenize-rejoin
    whitespace normalization."""
    from cuml_spark.text import exact_substring_dedup

    df = spark.createDataFrame(
        [(0, "x y,c"), (1, "x,y c")], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_removed_tokens"], r["cleaned_text"])
           for r in exact_substring_dedup(
               df, k=2, token_sep=",", join_sep=",").collect()}
    assert out == {0: (0, "x y,c"), 1: (0, "x,y c")}  # no false dup
    messy = spark.createDataFrame(
        [(0, "  a  b\tc ")], "doc_id long, text string")
    r = exact_substring_dedup(messy, k=20).collect()[0]
    assert r["n_removed_tokens"] == 0
    assert r["cleaned_text"] == "  a  b\tc "  # verbatim, not 'a b\tc'


def test_exact_substring_dedup_partitioning_invariant(spark):
    """Keep-first is global (doc_id, pos) order — results are identical
    under any repartitioning of the input."""
    from cuml_spark.text import exact_substring_dedup

    rows = [(i, "w" + " ".join(str((i * 7 + j) % 5) for j in range(12)))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(
        (r["doc_id"], r["n_removed_tokens"], r["cleaned_text"])
        for r in exact_substring_dedup(df, k=5).collect())
    for parts in (1, 7):
        again = sorted(
            (r["doc_id"], r["n_removed_tokens"], r["cleaned_text"])
            for r in exact_substring_dedup(
                df.repartition(parts), k=5).collect())
        assert again == base
    assert any(n > 0 for _d, n, _t in base)  # non-degenerate fixture


def test_exact_substring_dedup_hot_window_no_funnel(spark):
    """Lee et al.'s motivating skew, at unit scale: ONE boilerplate
    k-gram repeated across 1e5 documents.  The keep-first step is a
    keyed aggregation whose map-side partial_min collapses the hot
    hash's occurrences inside each input partition (the plan gate pins
    no-Window / partial_min), so no reducer ever materializes the full
    occurrence list — and the result stays exact: only doc 0 keeps its
    text, every later copy is fully removed."""
    from cuml_spark.text import exact_substring_dedup

    n = 100_000
    df = (
        spark.range(0, n, 1, 16)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.lit("the same five token boilerplate"))
    )
    out = exact_substring_dedup(df, k=5)
    agg = out.agg(
        F.sum("n_removed_tokens").alias("removed"),
        F.sum(F.when(F.col("cleaned_text") == "", 1).otherwise(0)).alias(
            "emptied"),
        F.sum(
            F.when(
                F.col("cleaned_text") == "the same five token boilerplate",
                1,
            ).otherwise(0)
        ).alias("verbatim"),
    ).collect()[0]
    assert agg["removed"] == 5 * (n - 1)
    assert agg["emptied"] == n - 1
    assert agg["verbatim"] == 1  # exactly one survivor: the global first


def test_bm25_analyzer_hooks_equivalence(spark):
    """lowercase/stopwords analysis applied in-row at tokenization (both
    sides) must equal running the default analyzer over a corpus and
    queries pre-normalized the same way — i.e. dl, tf, df, and N all
    reflect the ANALYZED token stream, and the hooks change no plan
    (the analysis is part of the same map stage)."""
    raw = spark.createDataFrame(
        [
            (0, "The Apple banana APPLE"),
            (1, "banana the cherry"),
            (2, "A durian the"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    pre = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "durian"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    qs_raw = spark.createDataFrame(
        [(0, "APPLE the Banana"), (1, "Durian a")],
        "query_id long, text string")
    qs_pre = spark.createDataFrame(
        [(0, "apple banana"), (1, "durian")], "query_id long, text string")
    got = sorted(
        (r["query_id"], r["doc_id"], r["score"], r["n_terms_matched"],
         r["rank"])
        for r in bm25_topk(
            raw, qs_raw, k=3, lowercase=True, stopwords=["a", "the"]
        ).collect())
    want = sorted(
        (r["query_id"], r["doc_id"], r["score"], r["n_terms_matched"],
         r["rank"])
        for r in bm25_topk(pre, qs_pre, k=3).collect())
    assert got == want and got  # non-degenerate


def test_bm25_partitioning_invariant(corpus, spark):
    """Scores and ranks are identical under any input repartitioning."""
    qs = spark.createDataFrame(
        [(0, "apple banana durian")], "query_id long, text string")
    base = sorted(
        (r["doc_id"], r["score"], r["rank"])
        for r in bm25_topk(corpus, qs, k=5).collect())
    for parts in (1, 7):
        again = sorted(
            (r["doc_id"], r["score"], r["rank"])
            for r in bm25_topk(corpus.repartition(parts), qs, k=5).collect())
        assert again == base


def test_tfidf_keywords_hand_oracle(spark):
    """Smoothed tf-idf on a countable corpus: scores, per-doc top-k cut,
    deterministic term tie-break, empty/null docs absent."""
    import math

    from cuml_spark.text import tfidf_keywords

    rows = [
        (0, "apple apple banana"),
        (1, "banana cherry"),
        (2, "apple"),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_id"], r["term"]): (r["tf"], r["score"], r["rank"])
           for r in tfidf_keywords(df, k=2, score_decimals=None).collect()}
    n = 5

    def s(tf, dfreq):
        return tf * (math.log((n + 1) / (dfreq + 1)) + 1)

    assert out[(0, "apple")][0] == 2
    assert out[(0, "apple")][1] == pytest.approx(s(2, 2), abs=1e-12)
    assert out[(0, "apple")][2] == 1  # beats banana on score
    assert out[(0, "banana")][2] == 2
    assert out[(1, "cherry")][2] == 1  # rarer term outranks banana
    assert out[(1, "banana")][2] == 2
    assert out[(2, "apple")][2] == 1
    assert {d for d, _t in out} == {0, 1, 2}  # null/empty docs absent
    with pytest.raises(ValueError, match="k must"):
        tfidf_keywords(df, k=0)


def test_tfidf_keywords_partitioning_invariant(spark):
    """Scores and ranks are identical under any input repartitioning
    (the checkpoint + vocabulary join must not depend on layout)."""
    from cuml_spark.text import tfidf_keywords

    rows = [(i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(14)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(
        (r["doc_id"], r["term"], r["tf"], r["score"], r["rank"])
        for r in tfidf_keywords(df, k=3).collect())
    for parts in (1, 7):
        again = sorted(
            (r["doc_id"], r["term"], r["tf"], r["score"], r["rank"])
            for r in tfidf_keywords(df.repartition(parts), k=3).collect())
        assert again == base
    assert base  # non-degenerate


def test_chunk_corpus_stats_closed_form(spark):
    """The retrieval pipeline's closed-form chunk stats equal what the
    chunker emits and what bm25_topk's default aggregate computes over
    the chunks: doc lengths around every chunk boundary, empty and null
    texts and doubled separators included."""
    from cuml_spark.harness_text import MAX_TOKENS, OVERLAP, _chunk_corpus_stats

    step = MAX_TOKENS - OVERLAP
    rows = [(n, " ".join(f"w{(n * 3 + j) % 17}" for j in range(n)))
            for n in range(0, 3 * MAX_TOKENS + 2)]
    rows += [(1000, None), (1001, "a  b   c"), (1002, " x " * (MAX_TOKENS + step))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_documents(docs, MAX_TOKENS, overlap=OVERLAP)
    got = _chunk_corpus_stats(docs).first()
    want = chunks.agg(F.count("*"), F.avg("n_tokens")).first()
    assert (got["__n"], got["__avgdl"]) == (want[0], want[1])

    chunk_docs = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("ck"),
        F.col("chunk_text").alias("text"))
    qs = spark.createDataFrame([(0, "w1 w5 x"), (1, "w16 b")], "query_id long, text string")

    def ranked(**kw):
        return sorted(tuple(r) for r in bm25_topk(
            chunk_docs, qs, k=50, id_col="ck", score_decimals=None, **kw).collect())

    default = ranked()
    assert default and ranked(corpus_stats=_chunk_corpus_stats(docs)) == default


def test_bm25_rejects_corpus_stats_without_columns(corpus, spark):
    """A corpus_stats frame lacking __n or __avgdl fails at entry, from its
    schema: the frame below raises if any job ever evaluates it."""
    qs = spark.createDataFrame([(0, "apple")], "query_id long, text string")
    bad = spark.range(1).selectExpr("CAST(raise_error('evaluated') AS LONG) AS __n")
    with pytest.raises(ValueError, match="__avgdl"):
        bm25_topk(corpus, qs, corpus_stats=bad)
