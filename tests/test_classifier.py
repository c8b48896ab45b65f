"""Corpus n-gram stats (text/ngrams.py) and the hashing-trick quality
classifier (text/classifier.py): portable bucket hashing, relational
serving path, MLlib-backed fit returning weights in the same space."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from cuml_spark.text import (
    fit_quality_classifier,
    hashed_token_counts,
    score_linear_bow,
    top_ngrams,
)


def _bucket(tok: str, num_buckets: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % num_buckets


def test_top_ngrams_hand_oracle(spark):
    """Counts, ranks, lexical tie-break, short/null-doc exclusion, and
    the k cut on a corpus small enough to count by hand."""
    rows = [
        (0, "a b a b c"),     # bigrams: 'a b' x2, 'b a', 'b c'
        (1, "a b"),           # 'a b'
        (2, "z"),             # < n tokens: nothing
        (3, None),
        (4, ""),
        (5, "b c"),           # 'b c'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["ngram"], r["count"], r["rank"])
           for r in top_ngrams(df, n=2, k=3).orderBy("rank").collect()]
    # 'a b' 3, 'b c' 2, 'b a' 1
    assert got == [("a b", 3, 1), ("b c", 2, 2), ("b a", 1, 3)]
    # tie at the same count breaks lexically
    tied = spark.createDataFrame(
        [(0, "x y"), (1, "p q")], "doc_id long, text string")
    got2 = [(r["ngram"], r["rank"])
            for r in top_ngrams(tied, n=2, k=2).orderBy("rank").collect()]
    assert got2 == [("p q", 1), ("x y", 2)]
    # k bounds the output
    assert top_ngrams(df, n=1, k=2).count() == 2
    with pytest.raises(ValueError, match="n must"):
        top_ngrams(df, n=0)
    with pytest.raises(ValueError, match="k must"):
        top_ngrams(df, n=1, k=0)


def test_hashed_token_counts_matches_hashlib(spark):
    """The md5 bucket is identical to Python's hashlib computation —
    the portability contract the DuckDB oracle also relies on."""
    b = 4096
    df = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "beta"), (2, None), (3, "")],
        "doc_id long, text string")
    got = {(r["doc_id"], r["bucket"]): r["tf"]
           for r in hashed_token_counts(df, b).collect()}
    want = {
        (0, _bucket("alpha", b)): 2,
        (0, _bucket("beta", b)): 1,
        (1, _bucket("beta", b)): 1,
    }
    assert got == want  # null/empty docs emit nothing
    with pytest.raises(ValueError, match="num_buckets"):
        hashed_token_counts(df, 0)


def test_score_linear_bow_hand_scores(spark):
    """score = bias + sum(tf * w) with a broadcast weight table; docs
    matching no weighted bucket (including null text) score the bias and
    still appear in the output."""
    b = 4096
    w = {_bucket("fast", b): 1.5, _bucket("slow", b): -2.0}
    df = spark.createDataFrame(
        [(0, "fast fast slow"), (1, "other words"), (2, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["score"], r["prob"])
           for r in score_linear_bow(df, w, bias=0.25, num_buckets=b)
           .collect()}
    s0 = 0.25 + 2 * 1.5 - 2.0
    assert out[0][0] == pytest.approx(s0, abs=1e-12)
    assert out[0][1] == pytest.approx(1 / (1 + math.exp(-s0)), abs=1e-12)
    assert out[1][0] == pytest.approx(0.25, abs=1e-12)
    assert out[2][0] == pytest.approx(0.25, abs=1e-12)  # null text = bias
    with pytest.raises(ValueError, match="bucket"):
        score_linear_bow(df, {b + 1: 1.0}, num_buckets=b)


def test_score_linear_bow_same_scores_with_arrow_on_and_off(spark):
    """The weight table is built from a pandas frame: Arrow-batched when
    the session enables Arrow, row-converted when it does not — the
    scores must be identical either way, and an empty weight table
    (typed by the explicit schema) must still score every row."""
    b = 64
    w = {i: (i - 31) / 8.0 for i in range(0, b, 3)}
    df = spark.createDataFrame(
        [(0, "fast fast slow"), (1, "other words here"), (2, None), (3, "")],
        "doc_id long, text string")
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    got = {}
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            got[arrow] = [
                sorted(tuple(r) for r in score_linear_bow(
                    df, weights, bias=0.5, num_buckets=b,
                    default_weight=dflt).collect())
                for weights, dflt in ((w, 0.0), (w, -0.25), ({}, 0.0),
                                      ({}, 0.75))]
    finally:
        spark.conf.set(key, saved)
    assert got["true"] == got["false"]
    plain, _, empty, empty_dflt = got["true"]
    assert plain != empty
    assert [r[1] for r in empty] == [0.5] * 4
    n_tokens = [3, 3, 0, 0]
    for (doc, score, _), n in zip(empty_dflt, n_tokens):
        assert score == 0.5 + 0.75 * n


def test_score_linear_bow_inline_matches_relational(spark):
    """The map-only inline scorer must equal the broadcast-join path
    bit-for-bit with dyadic weights — including bias-only rows (null,
    empty, and no-match text) and the empty-weights degenerate case."""
    from cuml_spark.text import score_linear_bow_inline

    b = 4096
    w = {_bucket("fast", b): 1.25, _bucket("slow", b): -1.75,
         _bucket("spark", b): 0.75}
    df = spark.createDataFrame(
        [(0, "fast slow fast spark unweighted"), (1, "nothing matches"),
         (2, None), (3, "")],
        "doc_id long, text string")
    rel = {r["doc_id"]: (r["score"], r["prob"])
           for r in score_linear_bow(df, w, bias=0.125, num_buckets=b)
           .collect()}
    inl = {r["doc_id"]: (r["score"], r["prob"])
           for r in score_linear_bow_inline(
               df, w, bias=0.125, num_buckets=b).collect()}
    assert inl == rel  # dyadic weights: bit-identical
    empty = {r["doc_id"]: r["score"]
             for r in score_linear_bow_inline(df, {}, bias=0.5).collect()}
    assert set(empty.values()) == {0.5}
    with pytest.raises(ValueError, match="bucket"):
        score_linear_bow_inline(df, {b: 1.0}, num_buckets=b)


def test_fit_quality_classifier_learns_separable_rule(spark):
    """Fit on a linearly separable corpus (quality marker tokens), then
    serve through the RELATIONAL path (broadcast-join scoring, no MLlib)
    — the round trip through the portable bucket space must classify the
    training rule correctly."""
    rows = []
    for i in range(120):
        noise = f"filler{i % 7} common text tokens here"
        if i % 2 == 0:
            rows.append((i, f"curated {noise} encyclopedia", 1))
        else:
            rows.append((i, f"spamword {noise} clickbait", 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    clf = fit_quality_classifier(df, num_buckets=256, max_iter=50)
    assert clf.num_buckets == 256
    assert all(0 <= k < 256 for k in clf.weights)
    scored = clf.score(df)
    joined = scored.join(df.select("doc_id", "label"), "doc_id")
    acc = joined.select(
        F.avg(((F.col("prob") > 0.5).cast("int") == F.col("label"))
              .cast("double")).alias("a")).collect()[0]["a"]
    assert acc >= 0.98  # separable: the round trip preserves the rule


def test_pack_documents_greedy_semantics(spark):
    """Streaming first-fit packing: docs append in id order while they
    fit, an overflowing doc starts the next pack, oversize docs sit
    alone (flagged), zero-token docs take a position without consuming
    budget, and groups pack independently."""
    from cuml_spark.text import pack_documents

    rows = [
        (0, "a b c", "s1"),        # 3 -> pack0 pos1 (fill 3)
        (1, "d e", "s1"),          # 2 -> pack0 pos2 (fill 5 = budget)
        (2, "", "s1"),             # 0 -> pack0 pos3 (fill stays 5)
        (3, "f g h i j k l", "s1"),  # 7 > 5 -> pack1 alone, oversize
        (4, "m", "s1"),            # pack2 (oversize pack never reused)
        (5, "x y z w q", "s2"),    # other group: its own pack0
        (6, None, "s2"),           # 0 tokens -> same pack, pos2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {r["doc_id"]: (r["group"], r["pack_id"], r["pack_pos"],
                         r["n_tokens"], r["oversize"])
           for r in pack_documents(
               df, 5, group_col="src").collect()}
    assert out[0] == ("s1", 0, 1, 3, False)
    assert out[1] == ("s1", 0, 2, 2, False)
    assert out[2] == ("s1", 0, 3, 0, False)
    assert out[3] == ("s1", 1, 1, 7, True)
    assert out[4] == ("s1", 2, 1, 1, False)
    assert out[5] == ("s2", 0, 1, 5, False)
    assert out[6] == ("s2", 0, 2, 0, False)
    with pytest.raises(ValueError, match="max_tokens"):
        pack_documents(df, 0)
    with pytest.raises(ValueError, match="max_group_rows"):
        pack_documents(df, 5, max_group_rows=3)


def test_pack_documents_fill_invariants(spark):
    """Property-style invariants on a bigger random-ish group: every
    non-oversize pack's fill <= budget, packs are contiguous in id
    order, and a doc only starts a new pack when it would overflow the
    previous one (greedy minimality)."""
    from cuml_spark.text import pack_documents

    rows = [(i, " ".join(["t"] * ((i * 37) % 9)))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["pack_id"], r["pack_pos"])
        for r in pack_documents(df, 10).collect())
    fills: dict[int, int] = {}
    prev_pack = 0
    for _i, n, pack, _pos in got:
        assert pack in (prev_pack, prev_pack + 1)  # contiguous
        if pack != prev_pack:
            # greedy: the doc would have overflowed the previous pack
            assert fills[prev_pack] + n > 10
        fills[pack] = fills.get(pack, 0) + n
        prev_pack = pack
    for pack, fill in fills.items():
        assert fill <= 10 or fill == max(
            n for _i, n, p, _ in got if p == pack
        )  # oversize packs hold exactly their one doc


def test_gopher_quality_flags_rules(spark):
    """Each Gopher rule fires on a purpose-built document and the
    composite keep is the AND; null/empty docs fail the word rules with
    the ratio rules vacuously true."""
    from cuml_spark.text import gopher_quality_flags

    good = " ".join(
        ["the", "be", "to"] + [f"word{i}" for i in range(47)])  # 50 words
    rows = [
        (0, good),
        (1, "short the be text"),                 # < min_words
        (2, " ".join(["xx"] * 60)),               # mean len 2 < 3, no stops
        (3, good + " " + "#" * 1 + " ##### ### #"),  # symbols
        (4, "\n".join(["- bullet line"] * 10)),   # all lines bulleted
        (5, "\n".join(["trailing..."] * 10)),     # all lines ellipsis
        (6, " ".join(["123"] * 50) + " the be"),  # alpha frac low
        (7, None),
        (8, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert out[0]["keep"] == 1 and all(
        v == 1 for k, v in out[0].items() if k.startswith("ok_"))
    assert out[1]["ok_word_count"] == 0 and out[1]["keep"] == 0
    assert out[2]["ok_mean_word_len"] == 0 and out[2]["ok_stopwords"] == 0
    assert out[3]["ok_symbol_ratio"] == 0
    assert out[4]["ok_bullet_lines"] == 0
    assert out[5]["ok_ellipsis_lines"] == 0
    assert out[6]["ok_alpha_words"] == 0 and out[6]["ok_stopwords"] == 1
    for d in (7, 8):
        assert out[d]["n_words"] == 0
        assert out[d]["ok_word_count"] == 0
        assert out[d]["ok_alpha_words"] == 0
        assert out[d]["ok_stopwords"] == 0
        assert out[d]["ok_symbol_ratio"] == 1  # vacuous ratios pass
        assert out[d]["keep"] == 0


def test_fuzzy_cross_contamination_semantics(spark):
    """LSH-candidate + exact-Jaccard decontamination: a near-duplicate
    of a reference doc is flagged with the right max_jaccard and
    smallest witness; unrelated docs are absent; identical-id pairs are
    excluded so a corpus screens against a subset of itself."""
    from cuml_spark.text import fuzzy_cross_contamination

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm windowsill in the afternoon sun")
    near = base + " today"  # ~0.94 Jaccard; hits the fixed LSH bands
    far = "completely different content about database query planning"
    corpus = spark.createDataFrame(
        [(10, base), (11, near), (12, far)], "doc_id long, text string")
    ref = spark.createDataFrame([(0, base)], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_matched_refs"], r["max_jaccard"],
                         r["first_ref_id"])
           for r in fuzzy_cross_contamination(
               corpus, ref, threshold=0.5).collect()}
    assert out[10][0] == 1 and out[10][1] == 1.0 and out[10][2] == 0
    assert 11 in out and 0.9 <= out[11][1] < 1.0
    assert 12 not in out
    # self-screening: same ids never pair
    self_out = fuzzy_cross_contamination(
        corpus, corpus.filter(F.col("doc_id") == 10), threshold=0.5
    ).collect()
    assert {r["doc_id"] for r in self_out} == {11}  # 10 == 10 excluded
    # independently-numbered datasets: colliding ids are REAL leaks —
    # exclude_same_id=False must report them (review r9 finding)
    ref_same_id = spark.createDataFrame(
        [(10, base)], "doc_id long, text string")
    incl = {r["doc_id"]
            for r in fuzzy_cross_contamination(
                corpus, ref_same_id, threshold=0.5,
                exclude_same_id=False).collect()}
    assert 10 in incl  # the id-colliding verbatim copy is reported
    with pytest.raises(ValueError, match="threshold"):
        fuzzy_cross_contamination(corpus, ref, threshold=1.5)


def test_fuzzy_cross_contamination_reuses_signatures(spark):
    """Passing precomputed corpus signatures (the cached dedup index)
    must give identical results to the self-computed pass."""
    from cuml_spark.text import fuzzy_cross_contamination, minhash_signatures

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from the warm windowsill in the afternoon sun")
    corpus = spark.createDataFrame(
        [(10, base), (11, base + " today")], "doc_id long, text string")
    ref = spark.createDataFrame([(0, base)], "doc_id long, text string")
    a = sorted(
        (r["doc_id"], r["n_matched_refs"], r["max_jaccard"],
         r["first_ref_id"])
        for r in fuzzy_cross_contamination(
            corpus, ref, threshold=0.5).collect())
    sigs = minhash_signatures(corpus)
    b = sorted(
        (r["doc_id"], r["n_matched_refs"], r["max_jaccard"],
         r["first_ref_id"])
        for r in fuzzy_cross_contamination(
            corpus, ref, threshold=0.5, corpus_signatures=sigs).collect())
    assert a == b and a
