"""Text dedup / quality operators vs python-computed oracles."""

from __future__ import annotations

import hashlib

import pytest

from cuml_spark.text import (
    exact_dedup_groups,
    jaccard_similarity_pairs,
    language_id,
    lsh_candidate_pairs,
    minhash_signatures,
    normalized_fingerprint,
    quality_features,
    simhash,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "the quick brown fox jumped over the lazy dog"),  # near dup
        (3, "Der schnelle braune Fuchs und der faule Hund und das ist gut"),
        (4, "completely different content about spark engines 123!"),
        (5, "THE QUICK  BROWN FOX jumps over the lazy dog"),   # case/space variant
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["text_hash"]: (r["n_dups"], r["keep_id"]) for r in exact_dedup_groups(docs).collect()}
    h = hashlib.md5(b"the quick brown fox jumps over the lazy dog").hexdigest()
    assert out[h] == (2, 0)
    assert sum(n for n, _ in out.values()) == 6


def test_normalized_fingerprint(docs):
    fp = {r["doc_id"]: r["fingerprint"] for r in normalized_fingerprint(docs).collect()}
    assert fp[0] == fp[1]
    # case-normalized + whitespace-collapsed variant maps to the same print
    assert fp[0] == fp[5]
    assert fp[0] != fp[4]


def test_jaccard_pairs(docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_similarity_pairs(docs, k=5).collect()
    }
    assert out[(0, 1)] == pytest.approx(1.0)

    def sh(s, k=5):
        return {s[i : i + k] for i in range(max(1, len(s) - k + 1))}

    a = sh("the quick brown fox jumps over the lazy dog")
    b = sh("the quick brown fox jumped over the lazy dog")
    expected = len(a & b) / len(a | b)
    assert out[(0, 2)] == pytest.approx(expected, rel=1e-9)


def test_jaccard_allpairs_guard(docs):
    """The no-candidates shingle self-join is O(Σ df²) — above the document
    cap it must refuse and point at the LSH candidate plan."""
    with pytest.raises(ValueError, match="candidates"):
        jaccard_similarity_pairs(docs, k=5, max_allpairs_docs=2)
    # with candidates the same cap is irrelevant — the pair-first plan runs
    cands = docs.sparkSession.createDataFrame([(0, 1)], "id_a long, id_b long")
    out = jaccard_similarity_pairs(docs, k=5, candidates=cands,
                                   max_allpairs_docs=2).collect()
    assert len(out) == 1 and out[0]["jaccard"] == pytest.approx(1.0)


def test_minhash_identical_docs_identical_sigs(docs):
    sigs = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(16))
            for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[4]


def test_lsh_catches_exact_and_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs          # identical docs always collide in every band
    assert (0, 4) not in pairs      # unrelated docs shouldn't bucket together


def test_simhash_hamming(docs):
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert fp[0] == fp[1]
    ham_near = bin(fp[0] ^ fp[2]).count("1")
    ham_far = bin(fp[0] ^ fp[4]).count("1")
    assert ham_near < ham_far


def test_quality_features(docs):
    q = {r["doc_id"]: r for r in quality_features(docs).collect()}
    text0 = "the quick brown fox jumps over the lazy dog"
    assert q[0]["n_chars"] == len(text0)
    assert q[0]["n_tokens"] == 9
    assert q[0]["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
    assert q[4]["digit_ratio"] == pytest.approx(3 / q[4]["n_chars"])
    assert q[3]["upper_ratio"] > 0


def test_language_id(docs):
    out = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "de"


def test_language_id_keep_cols_passthrough(docs):
    from pyspark.sql import functions as F

    tagged = language_id(
        docs.withColumn("n_chars", F.length("text")), keep_cols=("n_chars",)
    )
    assert set(tagged.columns) == {"doc_id", "n_chars", "pred_lang", "score"}
    rows = {r["doc_id"]: r for r in tagged.collect()}
    assert rows[0]["n_chars"] == len("the quick brown fox jumps over the lazy dog")
    assert rows[0]["pred_lang"] == "en"


def test_pipeline_clean_corpus_semantics(spark, tmp_path):
    """End-to-end composition: dedup keeps doc 0 (not its exact dup 1), the
    token gate drops every short fixture doc, and the per-language budget
    sums only the survivors."""
    from pyspark.sql import functions as F

    from cuml_spark.harness_text import q_pipeline_clean_corpus

    # mean token length must land inside the [4.2, 5.2] harness gate
    long_en = ("the little cats and the hungry dogs and the clever foxes "
               "walk with their friends every single day under bright skies "
               "while they keep talking about meals and games together")
    rows = [
        (0, long_en),
        (1, long_en),                        # exact dup → dropped keep-first
        (2, "short doc"),                    # fails the token gate
        (3, long_en + " more words again"),  # second survivor
    ]
    d = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    out = {r["pred_lang"]: r for r in q_pipeline_clean_corpus(spark, str(d)).collect()}
    assert set(out) == {"en"}
    en = out["en"]
    assert en["n_docs"] == 2  # docs 0 and 3 — dup and short doc are gone
    n_tok = len(long_en.split())
    assert en["total_tokens"] == n_tok + (n_tok + 3)


import pytest as _pytest

from tests.conftest import quality_param, unit_param


@_pytest.mark.parametrize("n_docs", [unit_param(2000), quality_param(20000)])
def test_lsh_dedup_recall_at_scale(spark, n_docs):
    """Planted-duplicate recall of the full MinHash→banded-LSH pipeline on
    synthetic corpora beyond the 500-doc fixture: every planted pair (one
    char edit on a ~120-char doc, Jaccard ≈ 0.9) must surface as an LSH
    candidate; with b=8 bands, r=8 rows the hit probability per pair is
    1−(1−0.9^8)^8 ≈ 0.98, so ≥90% recall is a conservative floor."""
    from pyspark.sql import functions as F

    from cuml_spark.text.dedup import lsh_candidate_pairs

    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("document body "),
            *[F.conv(F.xxhash64("id", F.lit(s)).cast("string"), 10, 16)
              for s in range(8)],
        ).alias("text"),
    )
    # plant: every 20th doc gets a near-copy (append one char) with id+n_docs
    dups = base.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + n_docs).alias("doc_id"),
        F.concat(F.col("text"), F.lit("x")).alias("text"),
    )
    docs = base.unionAll(dups)
    pairs = {(r["id_a"], r["id_b"])
             for r in lsh_candidate_pairs(docs).collect()}
    planted = {(i, i + n_docs) for i in range(0, n_docs, 20)}
    found = {p for p in planted if p in pairs or (p[1], p[0]) in pairs}
    recall = len(found) / len(planted)
    assert recall >= 0.9, recall


def test_ngram_contamination_planted_overlap(spark):
    """A corpus doc sharing a long substring with an eval doc is flagged;
    an unrelated doc scores zero; the eval doc scores 1.0 against itself."""
    from cuml_spark.text import ngram_contamination

    eval_text = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, eval_text),                                   # the eval doc
        (1, "PREFIX " + eval_text[10:34] + " SUFFIXXXX"), # planted leak
        (2, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),  # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = df.filter("doc_id = 0")
    out = {r["doc_id"]: r for r in
           ngram_contamination(df, ev, k=8).collect()}
    assert out[0]["contamination"] == 1.0
    assert out[1]["n_matched"] > 0
    # exact ground truth: distinct-8-gram set intersection in plain Python
    def grams(t):
        return {t[i:i + 8] for i in range(max(1, len(t) - 7))}
    assert out[1]["n_matched"] == len(grams(rows[1][1]) & grams(eval_text))
    assert out[1]["n_grams"] == len(grams(rows[1][1]))
    assert out[2]["n_matched"] == 0 and out[2]["contamination"] == 0.0
    # exact distinct-gram accounting on the clean doc: 40 z's -> 1 gram
    assert out[2]["n_grams"] == 1


def test_ngram_contamination_null_text_and_dup_ids(spark):
    """A null-text corpus row survives with n_matched = 0 (VERDICT r6 #4 —
    the r6 explode dropped it), and duplicate doc_ids score per-ROW (no
    per-doc aggregation to conflate them)."""
    from cuml_spark.text import ngram_contamination

    eval_text = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, eval_text),
        (1, None),                  # null text must survive
        (2, eval_text),             # duplicate id 2, contaminated ...
        (2, "zzzzzzzzzzzzzzzzzz"),  # ... and duplicate id 2, clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = df.filter("doc_id = 0")
    out = ngram_contamination(df, ev, k=8).collect()
    assert len(out) == 4  # every corpus ROW kept, null text included
    null_row = [r for r in out if r["doc_id"] == 1][0]
    assert null_row["n_grams"] == 0 and null_row["n_matched"] == 0
    dup = sorted((r for r in out if r["doc_id"] == 2),
                 key=lambda r: r["n_matched"])
    assert dup[0]["n_matched"] == 0          # the clean duplicate
    assert dup[1]["contamination"] == 1.0    # the contaminated duplicate


def test_scrub_pii_redacts_and_counts(spark):
    from cuml_spark.text import scrub_pii

    rows = [
        (0, "mail me at jane.doe+x@corp.example.org or 192.168.1.17 thanks"),
        (1, "ssn 987-65-4321 card 4111111111111111 ok"),
        (2, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[0]["n_email"] == 1 and out[0]["n_ip"] == 1
    assert "[EMAIL]" in out[0]["scrubbed"] and "[IP]" in out[0]["scrubbed"]
    assert "jane.doe" not in out[0]["scrubbed"]
    assert out[1]["n_ssn"] == 1 and out[1]["n_number"] == 1
    assert "[SSN]" in out[1]["scrubbed"] and "[NUMBER]" in out[1]["scrubbed"]
    assert "4111111111111111" not in out[1]["scrubbed"]
    assert out[2]["scrubbed"] == rows[2][1]
    assert (out[2]["n_email"], out[2]["n_ip"], out[2]["n_ssn"],
            out[2]["n_number"]) == (0, 0, 0, 0)


def test_repetition_signals_exact_and_degenerate(spark):
    """Gopher-style repetition signals (text/repetition.py): exact hand
    computations on planted docs; empty/null texts survive with zero lines
    and null fractions; one-line clean docs score 0.0."""
    from cuml_spark.text import repetition_signals

    rows = [
        (0, "aa bb\naa bb\ncc dd"),   # one duplicated line, 'aa bb' x2
        (1, "x y x y x y"),           # dominated by one bigram
        (2, ""),
        (3, None),
        (4, "unique one\nunique two\nunique three"),
        (5, "aa aa aa"),              # self-overlapping bigram: clamp to 1
        (6, "vert\x0btab one two one two"),  # \x0B splits on BOTH engines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert len(out) == 7
    # 'aa aa' occurs twice covering nominally 8 of 6 word chars — the
    # fraction contract is [0, 1], so it clamps to exactly 1.0
    assert out[5]["top_2gram_char_frac"] == 1.0
    # Java \s includes vertical tab, RE2 \s does not — the explicit class
    # [ \t\n\x0B\f\r] pins ONE behavior (split) for both engines:
    # words = [vert(4), tab(3), one, two, one, two] → word_chars = 19,
    # top bigram 'one two' x2 covers 12 → exactly 12/19
    assert abs(out[6]["top_2gram_char_frac"] - 12 / 19) < 1e-9
    r0 = out[0]
    assert r0["n_lines"] == 3
    assert abs(r0["dup_line_frac"] - 1 / 3) < 1e-9
    assert abs(r0["dup_line_char_frac"] - 5 / 15) < 1e-9   # 5 excess of 15
    assert abs(r0["top_2gram_char_frac"] - 8 / 12) < 1e-9  # 'aa bb' x2
    assert abs(out[1]["top_2gram_char_frac"] - 1.0) < 1e-9  # 'x y' x3 of 6
    for k in (2, 3):
        assert out[k]["n_lines"] == 0 and out[k]["dup_line_frac"] is None
    assert out[4]["dup_line_frac"] == 0.0
    assert out[4]["dup_line_char_frac"] == 0.0


def test_c4_line_filter_rules_and_attribution(spark):
    """C4-style line filter (text/c4.py): rule semantics, first-failing-rule
    drop attribution (counts must sum to n_lines - n_kept), page_kept
    threshold, null-text survival."""
    from cuml_spark.text.c4 import c4_line_filter

    rows = [
        (0, "A perfectly fine long sentence ends here.\n"      # kept
            "too short.\n"                                     # short
            "this has no terminal punctuation at all\n"        # punct
            "a long line that mentions javascript frameworks.\n"  # blocklist
            'He said the quoted line ends with a quote."'),    # kept (quote)
        (1, None),
        (2, ""),
        (3, "One good long kept sentence number one.\n"
            "One good long kept sentence number two.\n"
            "One good long kept sentence number three."),      # page_kept
        (4, "code line with brace { inside it ok.\n"
            "short.\nbad\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_filter(df).collect()}
    assert len(out) == 5
    r0 = out[0]
    assert (r0["n_lines"], r0["n_kept"]) == (5, 2)
    assert (r0["n_drop_punct"], r0["n_drop_short"], r0["n_drop_blocklist"]) == (1, 1, 1)
    assert not r0["page_kept"]  # 2 kept < 3
    assert r0["cleaned_text"].count("\n") == 1  # two kept lines joined
    assert out[1]["n_lines"] == 0 and out[1]["cleaned_text"] is None
    assert not out[1]["page_kept"]
    assert out[2]["n_lines"] == 0 and out[2]["cleaned_text"] == ""
    assert out[3]["page_kept"] and out[3]["n_kept"] == 3
    r4 = out[4]
    # '{' line passes punct+words but hits the blocklist rule
    assert r4["n_drop_blocklist"] == 1
    for r in out.values():  # attribution closes exactly
        assert (r["n_drop_punct"] + r["n_drop_short"] + r["n_drop_blocklist"]
                == r["n_lines"] - r["n_kept"])


def test_c4_word_count_with_x0B_lookalike_chars(spark):
    """Regression (r7 ADVICE, high): the word-split whitespace class was
    once routed through a SQL string literal, and Spark SQL's unescaping
    turned '\\x0B' into the three literal chars x/0/B — so 'example box
    zero' counted as 4+ words.  Pin the fix: words containing x, 0, or B
    split ONLY on real whitespace, exactly at the min_words boundary, and
    a real vertical tab separates words on both engines' class."""
    from cuml_spark.text.c4 import c4_line_filter

    rows = [
        # 3 words, every one containing x/0/B → short at min_words=4
        (0, "example box zero."),
        # same 3 words + 1 → exactly 4 words → kept
        (1, "example box zero bonus."),
        # vertical tab IS a separator: 4 words at the boundary → kept
        (2, "axe\x0Bb0x\x0BBee\x0Bxylophone."),
        # without the VT it is one 'word' → short
        (3, "axeb0xBeexylophone."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           c4_line_filter(df, min_words=4, min_lines=1).collect()}
    assert out[0]["n_drop_short"] == 1 and out[0]["n_kept"] == 0
    assert out[1]["n_kept"] == 1 and out[1]["page_kept"]
    assert out[2]["n_kept"] == 1, "vertical tab must split words"
    assert out[3]["n_drop_short"] == 1


def test_c4_caller_blocklist_and_regex_fold(spark):
    """blocklist= is caller-extensible; above the fold threshold the
    phrases compile to one regex alternation with identical substring
    semantics (regex metachars in phrases are escaped)."""
    from cuml_spark.text.c4 import c4_line_filter

    rows = [(0, "this line mentions a special offer today friend.\n"
                "this line has costs like $9.99 (sale) prices ok.\n"
                "a perfectly ordinary clean long line survives here.")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    small = ("special offer", "$9.99 (sale)")
    # pad past the fold threshold with never-matching phrases
    big = small + tuple(f"zz-never-{i}-zz" for i in range(20))
    for bl in (small, big):
        r = c4_line_filter(df, min_lines=1, blocklist=bl).collect()[0]
        assert (r["n_kept"], r["n_drop_blocklist"]) == (1, 2), bl


def test_span_dedup_keep_first_and_degenerate(spark):
    """Cross-doc span dedup (text/c4.py): an identical 3-line span in a
    later doc is the duplicate (keep-first by doc_id); docs with < 3
    lines, empty or null text have zero spans (pins the Spark descending-
    sequence(1,0) guard); an in-doc repeated span dedups against itself."""
    from cuml_spark.text.c4 import span_dedup_stats

    rows = [
        (0, "a.\nb.\nc.\nd."),                    # spans (a,b,c),(b,c,d)
        (1, "a.\nb.\nc.\nz."),                    # (a,b,c) dup of doc 0's
        (2, "x.\ny."),                            # < 3 lines → 0 spans
        (3, None),
        (4, ""),
        (5, "r.\nr.\nr.\nr.\nr."),                # 3 identical spans in-doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
           for r in span_dedup_stats(df).collect()}
    assert out == {0: (2, 0), 1: (2, 1), 2: (0, 0), 3: (0, 0), 4: (0, 0),
                   5: (3, 2)}


def test_temperature_sample_mixing_laws(spark):
    """alpha=1 keeps every domain at the budget rate; alpha=0 targets a
    uniform-over-domains mixture; sampling is deterministic (no rand) and
    never duplicates rows."""
    from cuml_spark.text import domain_rates, temperature_sample
    from pyspark.sql import functions as F

    rows = [(i, "head" if i < 80 else "tail") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    # alpha=1: w_d = n_d/N, so rate_d = budget exactly for every domain
    counts = df.groupBy("source").agg(F.count("*").alias("__n_d"))
    r1 = {
        r["source"]: r["__rate"]
        for r in domain_rates(counts, "source", alpha=1.0,
                              budget_frac=0.5).collect()
    }
    assert r1 == {"head": 0.5, "tail": 0.5}

    # alpha=0: per-domain targets equalize (budget*N/D rows each); the
    # 20-row tail's target (25) exceeds its size -> rate capped at 1
    r0 = {
        r["source"]: r["__rate"]
        for r in domain_rates(counts, "source", alpha=0.0,
                              budget_frac=0.5).collect()
    }
    assert r0["tail"] == 1.0
    assert r0["head"] == pytest.approx(25 / 80, abs=1e-4)

    kept = temperature_sample(df, "source", "doc_id", alpha=0.0,
                              budget_frac=0.5, seed=5)
    got = kept.collect()
    # deterministic: identical result on a second run
    again = temperature_sample(df, "source", "doc_id", alpha=0.0,
                               budget_frac=0.5, seed=5).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(
        r["doc_id"] for r in again
    )
    # no duplication, schema preserved, capped tail kept whole
    ids = [r["doc_id"] for r in got]
    assert len(ids) == len(set(ids))
    assert kept.columns == df.columns
    n_tail = sum(1 for r in got if r["source"] == "tail")
    assert n_tail == 20
    # head kept close to its 25-row target (Weyl mix is uniform-ish)
    n_head = len(ids) - n_tail
    assert 10 <= n_head <= 40


def test_bigram_lm_scores_hand_oracle(spark):
    """Exact add-1 bigram LM scores on a hand-computed corpus; <2-token
    and null-text docs survive with n_bigrams = 0 and null score."""
    import math

    from cuml_spark.text import bigram_lm_scores

    rows = [(0, "a b a b"), (1, "a b"), (2, "c"), (3, None), (4, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in bigram_lm_scores(df).collect()
    }
    # corpus: c(a b)=3, c(b a)=1, c(x y)=1, c(y z)=1; contexts c(a.)=3,
    # c(b.)=1, c(x.)=1, c(y.)=1; V=6
    k, V = 1.0, 6

    def p(cbg, cw):
        return (cbg + k) / (cw + k * V)

    lp0 = (2 * math.log(p(3, 3)) + math.log(p(1, 1))) / 3
    lp1 = math.log(p(3, 3))
    lp4 = (math.log(p(1, 1)) + math.log(p(1, 1))) / 2
    assert out[2] == (0, None) and out[3] == (0, None)
    assert out[0][0] == 3 and out[0][1] == pytest.approx(lp0, abs=1e-12)
    assert out[1][0] == 1 and out[1][1] == pytest.approx(lp1, abs=1e-12)
    assert out[4][0] == 2 and out[4][1] == pytest.approx(lp4, abs=1e-12)
    # self-scored repetition reads as high probability: the repetitive doc
    # scores above the one-off bigrams
    assert out[0][1] > out[4][1]


def test_temperature_sample_missing_domain_contract(spark):
    """A caller-passed counts= histogram that misses a domain must not
    silently drop those rows (r7 ADVICE): the default raises at execution,
    keep passes them through unsampled, and drop is the explicit opt-in
    for the old behavior."""
    from pyspark.errors import SparkRuntimeException

    from cuml_spark.text import temperature_sample

    rows = [(i, "a" if i < 50 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    partial = spark.createDataFrame([("a", 50)], "source string, __n_d long")
    with pytest.raises(SparkRuntimeException, match="no rate for domain b"):
        temperature_sample(
            df, "source", "doc_id", budget_frac=0.5, counts=partial
        ).collect()
    kept = temperature_sample(
        df, "source", "doc_id", budget_frac=0.5, counts=partial,
        on_missing_domain="keep",
    ).collect()
    assert sum(1 for r in kept if r["source"] == "b") == 50  # all pass
    dropped = temperature_sample(
        df, "source", "doc_id", budget_frac=0.5, counts=partial,
        on_missing_domain="drop",
    ).collect()
    assert all(r["source"] == "a" for r in dropped)
    with pytest.raises(ValueError, match="keep"):
        temperature_sample(df, "source", "doc_id", counts=partial,
                           on_missing_domain="bogus")


def test_stratified_length_cap_per_domain_exact(spark):
    """Each domain is cut at ITS OWN exact percentile_disc(p): domain a's
    outlier drops under a's cap while domain b's longer-but-in-family
    docs all survive b's; NULL lengths drop, a NULL domain is its own
    stratum (r12 — the grouped_exact_quantiles consumer)."""
    from cuml_spark.text.mixing import stratified_length_cap

    rows = (
        # a: lengths 1..9 + outlier 1000 → p90 cap = 9 (disc rank ceil(.9*10)=9th)
        [(i, "a", i + 1) for i in range(9)] + [(9, "a", 1000)]
        # b: lengths 100..104 → cap = 104 (ceil(.9*5)=5th) — all survive
        + [(10 + j, "b", 100 + j) for j in range(5)]
        # null domain: 5, 6 → cap 6; null length drops
        + [(20, None, 5), (21, None, 6), (22, None, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    kept = {r["doc_id"] for r in
            stratified_length_cap(df, "source", "n", p=0.9).collect()}
    assert kept == set(range(9)) | {10, 11, 12, 13, 14} | {20, 21}


def test_bigram_lm_keep_cols_both_paths(spark):
    """keep_cols= carries pass-through columns on BOTH scoring paths
    (self-scored join and broadcast-model map-only) without changing
    any score — the plumbing ccnet_buckets_lang rides (r12)."""
    from cuml_spark.text import bigram_lm_scores, fit_bigram_lm

    rows = [(0, "a b a", "en"), (1, "a b", "de"), (2, None, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    base = {r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
            for r in bigram_lm_scores(df).collect()}
    for kwargs in ({}, {"model": fit_bigram_lm(df)}):
        out = bigram_lm_scores(df, keep_cols=["lang"], **kwargs).collect()
        assert set(out[0].asDict()) == {"doc_id", "lang", "n_bigrams",
                                        "avg_logp"}
        got = {r["doc_id"]: (r["lang"], r["n_bigrams"], r["avg_logp"])
               for r in out}
        assert got[0][0] == "en" and got[1][0] == "de" and got[2][0] is None
        for k, (n, lp) in base.items():
            assert got[k][1] == n
            if lp is None:
                assert got[k][2] is None
            else:
                assert got[k][2] == pytest.approx(lp, abs=1e-12)


def test_bigram_lm_broadcast_model_parity_and_cap(spark):
    """An uncapped fit_bigram_lm model scores every doc identically to the
    self-scoring join path (the exactness config behind the pretrained
    oracle); w1 tokens containing the separator-adjacent chars survive
    because w1 is a real column, never re-split from a joined key; a
    bigram cap floors only dropped numerators — context counts and V stay
    exact, so retained bigrams score unchanged."""
    import math

    from cuml_spark.text import BigramLM, bigram_lm_scores, fit_bigram_lm

    rows = [(0, "a b a b"), (1, "a b"), (2, "c"), (3, None), (4, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    model = fit_bigram_lm(df)
    assert model.vocab_size == 6
    assert model.context_counts == {"a": 3, "b": 1, "x": 1, "y": 1}
    self_rows = {r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
                 for r in bigram_lm_scores(df).collect()}
    model_rows = {r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
                  for r in bigram_lm_scores(df, model=model).collect()}
    for k, (n, lp) in self_rows.items():
        assert model_rows[k][0] == n
        if lp is None:
            assert model_rows[k][1] is None
        else:
            assert model_rows[k][1] == pytest.approx(lp, abs=1e-12)
    # cap keeps the most frequent bigram; 'a b' docs score unchanged,
    # dropped bigrams floor to the add-k smoothing term
    capped = fit_bigram_lm(df, max_bigrams=1)
    assert capped.bigram_counts == {("a", "b"): 3}
    assert capped.context_counts == model.context_counts  # never capped
    got = {r["doc_id"]: r["avg_logp"]
           for r in bigram_lm_scores(df, model=capped).collect()}
    assert got[1] == pytest.approx(self_rows[1][1], abs=1e-12)
    assert got[4] == pytest.approx(
        math.log(1.0 / (1 + 6)), abs=1e-12
    )  # both x-y, y-z dropped: (0+1)/(c(w1)+V)
    with pytest.raises(ValueError):
        bigram_lm_scores(df, model=model, lm_corpus=df)


def test_bigram_lm_fit_bounded_by_default(spark):
    """fit_bigram_lm's default is a BOUNDED bigram cap (VERDICT r8 #3):
    the driver-side model cannot grow with the corpus unless the caller
    explicitly passes max_bigrams=None — below the cap the default fit
    is identical to an uncapped one, above it only the most frequent
    bigrams survive (deterministic tie-break by key)."""
    import inspect

    from cuml_spark.text import fit_bigram_lm
    from cuml_spark.text.lm import DEFAULT_MAX_BIGRAMS

    sig = inspect.signature(fit_bigram_lm)
    assert sig.parameters["max_bigrams"].default == DEFAULT_MAX_BIGRAMS
    assert DEFAULT_MAX_BIGRAMS == 1_000_000  # bounded, not None

    df = spark.createDataFrame(
        [(0, "a b a b a c")], "doc_id long, text string")
    default_fit = fit_bigram_lm(df)
    uncapped = fit_bigram_lm(df, max_bigrams=None)  # explicit escape hatch
    assert default_fit.bigram_counts == uncapped.bigram_counts
    assert default_fit.context_counts == uncapped.context_counts
    capped = fit_bigram_lm(df, max_bigrams=2)
    assert len(capped.bigram_counts) == 2
    assert ("a", "b") in capped.bigram_counts  # most frequent survives
    assert capped.vocab_size == uncapped.vocab_size  # V never capped


def _reference_lm(texts, sep=" "):
    """Pure-Python bigram counts, context counts and V over ``texts``."""
    bigrams, contexts, vocab = {}, {}, set()
    for text in texts:
        toks = [t for t in (text or "").split(sep) if t]
        vocab.update(toks)
        for w1, w2 in zip(toks, toks[1:]):
            bigrams[(w1, w2)] = bigrams.get((w1, w2), 0) + 1
            contexts[w1] = contexts.get(w1, 0) + 1
    return bigrams, contexts, len(vocab)


def test_bigram_lm_one_pass_fit_edge_cases(spark):
    """The one-pass fit equals a pure-Python reference on degenerate
    documents (null, empty, separator-only, single-token, one repeated
    token) and non-ASCII tokens — uncapped, and under a cap whose cut
    falls inside a tie (count desc, then w1, w2 in UTF-8 byte order,
    Spark's string order).  Context counts and V stay exact under the
    cap; the model holds plain str/int, pickles, and scores like a
    model built from the reference tables."""
    import pickle

    from cuml_spark.text import BigramLM, bigram_lm_scores, fit_bigram_lm

    rows = [(0, None), (1, ""), (2, "   "), (3, "solo"),
            (4, "rep rep rep rep"), (5, "é b é b"), (6, "a b a b"),
            (7, "日本 a"), (8, "ü a"), (9, "b é"), (10, "z"),
            (11, "a ü a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bigrams, contexts, vocab = _reference_lm(t for _, t in rows)

    def scores(model):
        return {r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
                for r in bigram_lm_scores(df, model=model).collect()}

    model = fit_bigram_lm(df)
    assert model.bigram_counts == bigrams
    assert model.context_counts == contexts
    assert model.vocab_size == vocab == 8
    for (w1, w2), c in model.bigram_counts.items():
        assert type(w1) is str and type(w2) is str and type(c) is int
    for w1, c in model.context_counts.items():
        assert type(w1) is str and type(c) is int
    assert type(model.vocab_size) is int
    clone = pickle.loads(pickle.dumps(model))
    assert clone == model and repr(clone) == repr(model)
    ref_model = BigramLM(bigram_counts=bigrams, context_counts=contexts,
                         vocab_size=vocab)
    assert scores(model) == scores(ref_model)

    order = sorted(bigrams, key=lambda k: (-bigrams[k], k[0].encode(),
                                           k[1].encode()))
    cap = 4  # the cut splits the count-2 tie between ('é','b') and ('ü','a')
    assert bigrams[order[cap - 1]] == bigrams[order[cap]]
    assert order[cap - 1] == ("é", "b") and order[cap] == ("ü", "a")
    capped = fit_bigram_lm(df, max_bigrams=cap)
    assert capped.bigram_counts == {k: bigrams[k] for k in order[:cap]}
    assert capped.context_counts == contexts
    assert capped.vocab_size == vocab
    assert all(type(c) is int for c in capped.context_counts.values())
    assert pickle.loads(pickle.dumps(capped)) == capped
    assert scores(capped) == scores(BigramLM(
        bigram_counts={k: bigrams[k] for k in order[:cap]},
        context_counts=contexts, vocab_size=vocab))
    # a cap at or above the distinct-bigram count is the uncapped model;
    # here through the overflow path, since the probe also counts one
    # (w1, null) row per distinct document-final token
    assert fit_bigram_lm(df, max_bigrams=len(bigrams)) == model
    assert fit_bigram_lm(df, max_bigrams=0).bigram_counts == {}
    with pytest.raises(ValueError, match="max_bigrams"):
        fit_bigram_lm(df, max_bigrams=-1)
    # an empty corpus fits the degenerate model
    empty = fit_bigram_lm(df.where("doc_id < 0"))
    assert (empty.bigram_counts, empty.context_counts,
            empty.vocab_size) == ({}, {}, 0)


def test_bigram_lm_model_handles_sep_in_token_denominators(spark):
    """Regression (r7 ADVICE): with a non-space token_sep, tokens may
    contain spaces; P(w2|w1) denominators must group by the TRUE w1."""
    from cuml_spark.text import bigram_lm_scores, fit_bigram_lm

    # tokens: 'a b' (with a space) and 'c' — sep is ';' (token_sep is a
    # regex, so metachars like '|' would need escaping)
    rows = [(0, "a b;c;a b;c"), (1, "a b;c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    model = fit_bigram_lm(df, token_sep=";")
    # true contexts: c('a b'·)=3 ('a b'→c ×3), c(c·)=1 (c→'a b' in doc 0)
    assert model.context_counts == {"a b": 3, "c": 1}
    assert model.vocab_size == 2
    a = {r["doc_id"]: r["avg_logp"]
         for r in bigram_lm_scores(df, token_sep=";").collect()}
    b = {r["doc_id"]: r["avg_logp"]
         for r in bigram_lm_scores(df, model=model).collect()}
    for k in a:
        assert b[k] == pytest.approx(a[k], abs=1e-12)


def test_temperature_sample_partitioning_invariant(spark):
    """The Weyl-mix keep decision depends only on the id, so the sample is
    identical under any repartitioning — the property rand()-based
    sampling (partition-seeded) cannot provide."""
    from cuml_spark.text import temperature_sample

    rows = [(i, f"d{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = sorted(
        r["doc_id"]
        for r in temperature_sample(
            df, "source", "doc_id", alpha=0.5, budget_frac=0.4, seed=2
        ).collect()
    )
    for parts in (1, 7):
        again = sorted(
            r["doc_id"]
            for r in temperature_sample(
                df.repartition(parts), "source", "doc_id",
                alpha=0.5, budget_frac=0.4, seed=2,
            ).collect()
        )
        assert again == kept
    assert kept  # non-degenerate


def test_perplexity_buckets_terciles(spark):
    """Head/middle/tail by exact interpolated terciles: best third =
    head, boundary docs land in the better bucket, null scores bucket
    null, and the three buckets partition the scored docs ~evenly."""
    from cuml_spark.text import perplexity_buckets

    rows = [(i, float(-i)) for i in range(9)] + [(100, None)]
    df = spark.createDataFrame(rows, "doc_id long, avg_logp double")
    out = {r["doc_id"]: r["ppl_bucket"]
           for r in perplexity_buckets(df).collect()}
    # scores 0..-8: terciles at interpolated (n-1)*q of sorted values;
    # highest scores (0,-1,-2) = head, lowest (-6,-7,-8) = tail
    assert [out[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3)
    assert out[100] is None
    import pytest as _pt
    with _pt.raises(ValueError, match="quantiles"):
        perplexity_buckets(df, quantiles=(0.7, 0.3))


def test_perplexity_buckets_grouped_per_language(spark):
    """group_cols= computes the CCNet split PER GROUP (one distribution
    per language — CCNet's actual shape): each group's terciles come
    from its own scores, a NULL group is its own stratum, null scores
    bucket null, and every group's buckets match its standalone
    ungrouped split."""
    from cuml_spark.text import perplexity_buckets

    rows = (
        # lang 'en': scores 0..-8 (same fixture as the global test)
        [(i, "en", float(-i)) for i in range(9)]
        # lang 'fr': a much harder distribution, -100..-108
        + [(100 + i, "fr", float(-100 - i)) for i in range(9)]
        # NULL lang: its own stratum
        + [(200 + i, None, float(-50 - i)) for i in range(9)]
        # unscored doc keeps its group, buckets null
        + [(999, "en", None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, avg_logp double")
    out = {r["doc_id"]: (r["lang"], r["ppl_bucket"])
           for r in perplexity_buckets(df, group_cols=["lang"]).collect()}
    assert len(out) == 28
    for base, lang in ((0, "en"), (100, "fr"), (200, None)):
        got = [out[base + i][1] for i in range(9)]
        # per-group terciles: best third head, worst third tail — the
        # fr docs are NOT all 'tail' despite being globally worst
        assert got == ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3, (lang, got)
        assert all(out[base + i][0] == lang for i in range(9))
    assert out[999] == ("en", None)
    with pytest.raises(ValueError, match="group column"):
        perplexity_buckets(df, group_cols=["nope"])


# --------------------------------------------------------------------------
# Bloom filter membership gate (text/bloom.py)
# --------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_null_policy(spark):
    from pyspark.sql import functions as F

    from cuml_spark.text.bloom import bloom_probe, fit_bloom

    rows = [(i, f"document number {i} body") for i in range(200)] + [(999, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fitted = df.where(F.col("doc_id") % 3 == 0)
    bf = fit_bloom(fitted, "text", num_bits=4096, num_hashes=4)
    out = {r["doc_id"]: r["seen"] for r in bloom_probe(
        df, bf, "text", out_col="seen").collect()}
    # no false negatives: every fitted key probes true
    assert all(out[i] for i in range(0, 200, 3))
    # null keys are never "seen"
    assert out[999] is False


def test_bloom_positions_and_packing_match_python(spark):
    import hashlib as _hl

    from cuml_spark.text.bloom import fit_bloom

    keys = ["alpha", "beta", "gamma delta", ""]
    df = spark.createDataFrame([(k,) for k in keys], "text string")
    num_bits, k = 1024, 3
    bf = fit_bloom(df, "text", num_bits=num_bits, num_hashes=k)

    expect = set()
    for key in keys:
        for i in range(k):
            h = int(_hl.md5(f"{key}:{i}".encode()).hexdigest()[:8], 16)
            expect.add(h % num_bits)
    got = set()
    for j, w in enumerate(bf.words):
        w &= (1 << 64) - 1
        for b in range(64):
            if (w >> b) & 1:
                got.add(j * 64 + b)
    assert got == expect
    assert bf.bits_set == len(expect)


def test_bloom_false_positive_rate_in_range(spark):
    from pyspark.sql import functions as F

    from cuml_spark.text.bloom import bloom_probe, fit_bloom

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("key-"), F.col("id")).alias("text"))
    fitted = df.where(F.col("doc_id") < 1000)
    bf = fit_bloom(fitted, "text", num_bits=1 << 14, num_hashes=5)
    probed = bloom_probe(df.where(F.col("doc_id") >= 1000), bf, "text")
    fp = probed.where(F.col("maybe_seen")).count()
    # theoretical fpr ~0.9%; 1000 probes -> expect ~9, bound loosely
    assert fp <= 60
    assert bf.false_positive_rate(1000) < 0.02


def test_bloom_validation():
    import pytest as _pt

    from cuml_spark.text.bloom import BloomFilter, fit_bloom

    with _pt.raises(ValueError, match="multiple of 64"):
        fit_bloom(None, "text", num_bits=100)
    with _pt.raises(ValueError, match="num_hashes"):
        fit_bloom(None, "text", num_bits=128, num_hashes=0)


# --------------------------------------------------------------------------
# Winnowing fingerprints (text/winnow.py)
# --------------------------------------------------------------------------


def _ref_winnow(tokens, k, w):
    """Pure-python winnowing reference: leftmost-min per window,
    distinct (1-based pos, hash) selections."""
    import hashlib as _hl

    grams = [
        int(_hl.md5(" ".join(tokens[i:i + k]).encode()).hexdigest()[:8], 16)
        for i in range(len(tokens) - k + 1)
    ]
    m = len(grams)
    if m < 1:
        return set()
    out = set()
    for j in range(max(1, m - w + 1)):
        win = grams[j:j + w]
        mn = min(win)
        out.add((j + win.index(mn) + 1, mn))
    return out


def test_winnow_matches_python_reference(spark):
    import random

    from cuml_spark.text.winnow import winnow_fingerprints

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for d in range(40):
        n = rng.randint(0, 25)
        rows.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    rows.append((98, None))
    rows.append((99, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, k=3, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for d, text in rows:
        toks = text.split() if text else []
        expect = _ref_winnow(toks, 3, 4)
        assert got.get(d, set()) == expect, f"doc {d}"


def test_winnow_shared_run_guarantee(spark):
    """Any shared token run of length >= w + k - 1 MUST yield a shared
    fingerprint (the paper's correctness guarantee)."""
    from cuml_spark.text.winnow import winnow_fingerprints, winnow_overlap

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = 5+4-1
    d1 = "xx1 yy1 zz1 " + shared + " aa1 bb1"
    d2 = "qq2 rr2 " + shared + " ss2 tt2 uu2"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, "totally different words only here")],
        "doc_id long, text string")
    fps = winnow_fingerprints(df, k=4, w=5)
    pairs = winnow_overlap(fps, max_df=10, min_shared=1).collect()
    assert any(r["doc_a"] == 1 and r["doc_b"] == 2 for r in pairs)
    assert not any(3 in (r["doc_a"], r["doc_b"]) for r in pairs)


def test_winnow_overlap_max_df_drops_boilerplate(spark):
    """A fingerprint present in every document is dropped by the df cap,
    so ubiquitous boilerplate can't create quadratic pair blowup."""
    from cuml_spark.text.winnow import winnow_fingerprints, winnow_overlap

    boiler = ("same boiler plate line repeated everywhere with quite a few "
              "more shared tokens to guarantee interior windows")
    # identical docs: every fingerprint has df = 10, so a cap below 10
    # drops ALL of them — no pair can survive on boilerplate alone
    same = spark.createDataFrame(
        [(i, boiler) for i in range(10)], "doc_id long, text string")
    fps_same = winnow_fingerprints(same, k=4, w=5)
    assert winnow_overlap(fps_same, max_df=5, min_shared=1).count() == 0
    # distinct prefixes + a shared run >= w+k-1: interior all-shared
    # windows select identical fingerprints in every doc, so with a cap
    # >= 10 ALL C(10,2) pairs surface
    rows = [(i, f"unique{i} prefix{i} " + boiler) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=4, w=5)
    assert winnow_overlap(fps, max_df=20, min_shared=1).count() == 45


def test_winnow_validation(spark):
    import pytest as _pt

    from cuml_spark.text.winnow import winnow_fingerprints, winnow_overlap

    with _pt.raises(ValueError, match="k must"):
        winnow_fingerprints(None, k=0)
    with _pt.raises(ValueError, match="w must"):
        winnow_fingerprints(None, w=0)
    with _pt.raises(ValueError, match="max_df"):
        winnow_overlap(None, max_df=1)
    with _pt.raises(ValueError, match="min_shared"):
        winnow_overlap(None, min_shared=0)


# --------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity join (text/sparse_sim.py)
# --------------------------------------------------------------------------


def _ref_tfidf_pairs(docs, max_df, threshold):
    """Pure-python replay of the integer-scaled tf-idf cosine join."""
    import math
    from collections import Counter

    tf = {d: Counter(t.split()) for d, t in docs if t}
    tf = {d: c for d, c in tf.items() if c}
    n = len(tf)
    dfc = Counter(term for c in tf.values() for term in c)
    idfm = {
        t: round(1000 * (math.log((1.0 + n) / (1 + df)) + 1.0))
        for t, df in dfc.items() if df <= max_df
    }
    w = {d: {t: c * idfm[t] for t, c in cnt.items() if t in idfm}
         for d, cnt in tf.items()}
    norms = {d: math.sqrt(sum(x * x for x in ws.values())) for d, ws in w.items()}
    out = {}
    ids = sorted(w)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            dot = sum(w[a][t] * w[b].get(t, 0) for t in w[a])
            if dot and norms[a] and norms[b]:
                c = round(dot / (norms[a] * norms[b]), 6)
                if c >= threshold:
                    out[(a, b)] = c
    return out


def test_tfidf_pairs_match_python_reference(spark):
    import random

    from cuml_spark.text.sparse_sim import tfidf_cosine_pairs

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(40)]
    docs = [(d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
            for d in range(30)] + [(98, None), (99, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["cosine"]
           for r in tfidf_cosine_pairs(df, 0.2, max_df=25).collect()}
    assert got == _ref_tfidf_pairs(docs, 25, 0.2)


def test_tfidf_pairs_identical_docs_cosine_one(spark):
    from cuml_spark.text.sparse_sim import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "unrelated words entirely different")],
        "doc_id long, text string")
    rows = tfidf_cosine_pairs(df, 0.1, max_df=10).collect()
    assert len(rows) == 1
    assert (rows[0]["doc_a"], rows[0]["doc_b"], rows[0]["cosine"]) == (1, 2, 1.0)


def test_tfidf_pairs_max_df_kills_stopword_bucket(spark):
    from cuml_spark.text.sparse_sim import tfidf_cosine_pairs

    # docs share ONLY the ubiquitous term; capping df drops it entirely
    rows = [(i, f"unique{i} the") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert tfidf_cosine_pairs(df, 0.01, max_df=10).count() == 0
    assert tfidf_cosine_pairs(df, 0.01, max_df=20).count() == 190


def test_tfidf_pairs_validation(spark):
    import pytest as _pt

    from cuml_spark.text.sparse_sim import (tfidf_cosine_pairs,
                                            tfidf_weighted_postings)

    with _pt.raises(ValueError, match="threshold"):
        tfidf_cosine_pairs(None, 0.0)
    with _pt.raises(ValueError, match="max_df"):
        tfidf_weighted_postings(None, max_df=0)


# --------------------------------------------------------------------------
# Content-defined chunking (text/cdc.py)
# --------------------------------------------------------------------------


def _ref_cdc(text, window, mask_bits):
    import hashlib as _hl

    L = len(text)
    bs = []
    for i in range(window, L + 1):
        win = text[i - window:i]
        h = int(_hl.md5(win.encode()).hexdigest()[:8], 16)
        if h % (1 << mask_bits) == 0:
            bs.append(i)
    starts = [1] + [b + 1 for b in bs]
    ends = bs + [L]
    out = []
    cid = 0
    for s, e in zip(starts, ends):
        if s <= e:
            cid += 1
            out.append((cid, s, e - s + 1, text[s - 1:e]))
    return out


def test_cdc_matches_python_reference(spark):
    import random

    from cuml_spark.text.cdc import cdc_chunks

    rng = random.Random(3)
    rows = []
    for d in range(30):
        n = rng.randint(0, 300)
        rows.append((d, "".join(rng.choice("abcdefgh ") for _ in range(n))))
    rows.append((98, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in cdc_chunks(df, window=8, mask_bits=4).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["start"], r["chunk_len"], r["chunk_text"]))
    for d, text in rows:
        expect = _ref_cdc(text, 8, 4) if text else []
        assert sorted(got.get(d, [])) == expect, f"doc {d}"


def test_cdc_reconstruction_and_insertion_stability(spark):
    import random

    from pyspark.sql import functions as F

    from cuml_spark.text.cdc import cdc_chunks

    rng = random.Random(9)
    body = "".join(rng.choice("abcdefghijklmnop qrstuv") for _ in range(2000))
    df = spark.createDataFrame(
        [(1, body), (2, "INSERTED-PREFIX-" + body)], "doc_id long, text string")
    ch = cdc_chunks(df, window=8, mask_bits=5)
    # exact reconstruction: concatenating chunks in chunk_id order = text
    rows = sorted(ch.where("doc_id = 1").collect(), key=lambda r: r["chunk_id"])
    assert "".join(r["chunk_text"] for r in rows) == body
    # CDC's point: after a prefix insertion, boundaries resynchronize and
    # the two docs share most chunks (fixed-size chunking would share none)
    h1 = {r["chunk_md5"] for r in ch.where("doc_id = 1").collect()}
    h2 = {r["chunk_md5"] for r in ch.where("doc_id = 2").collect()}
    assert len(h1 & h2) >= max(1, len(h1) - 2)


def test_cdc_short_and_empty_docs(spark):
    from cuml_spark.text.cdc import cdc_chunks

    df = spark.createDataFrame(
        [(1, "tiny"), (2, ""), (3, None)], "doc_id long, text string")
    rows = cdc_chunks(df, window=16, mask_bits=6).collect()
    assert len(rows) == 1  # short doc = one whole-doc chunk; empty/null drop
    r = rows[0]
    assert (r["doc_id"], r["chunk_id"], r["start"], r["chunk_len"],
            r["chunk_text"]) == (1, 1, 1, 4, "tiny")


def test_cdc_validation(spark):
    import pytest as _pt

    from cuml_spark.text.cdc import cdc_chunks

    with _pt.raises(ValueError, match="window"):
        cdc_chunks(None, window=0)
    with _pt.raises(ValueError, match="mask_bits"):
        cdc_chunks(None, mask_bits=0)


def test_frequency_spectrum_exact_small_corpus(spark):
    from cuml_spark.text.ngrams import frequency_spectrum

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "c d"), (3, None), (4, "")],
        "doc_id long, text string")
    r = frequency_spectrum(df, top_ranks=2).collect()[0]
    # counts: a=3, b=2, c=2, d=1 -> 8 tokens, 4 types, 1 hapax, 2 dis
    assert (r["n_tokens"], r["vocab_size"], r["hapax"], r["dis"]) == (8, 4, 1, 2)
    assert r["type_token_ratio"] == round(4 / 8, 6)
    assert r["head_mass"] == round((3 + 2) / 8, 6)  # top-2 = a(3) + b(2)

    import pytest as _pt
    with _pt.raises(ValueError, match="top_ranks"):
        frequency_spectrum(df, top_ranks=0)


# --------------------------------------------------------------------------
# Min-K% Prob membership scoring (text/lm.py mink_prob_scores)
# --------------------------------------------------------------------------


def test_mink_prob_matches_python_reference(spark):
    import math
    from collections import Counter

    from cuml_spark.text.lm import mink_prob_scores

    member_docs = [(0, "a b c a b"), (2, "b c d")]
    probe_docs = member_docs + [(1, "a b z q"), (3, "x"), (4, None)]
    df = spark.createDataFrame(probe_docs, "doc_id long, text string")
    from pyspark.sql import functions as F
    members = df.where(F.col("doc_id") % 2 == 0)
    got = {r["doc_id"]: r for r in mink_prob_scores(
        df, k_pct=0.5, lm_corpus=members).collect()}

    # python replay
    def bigrams(t):
        toks = [x for x in (t or "").split(" ") if x]
        return list(zip(toks[:-1], toks[1:]))

    mem = [t for d, t in member_docs]
    bgc = Counter(b for t in mem for b in bigrams(t))
    ctx = Counter()
    for (w1, _), c in bgc.items():
        ctx[w1] += c
    vocab = {tok for t in mem for tok in t.split() if tok}
    V = len(vocab)
    for d, t in probe_docs:
        bgs = bigrams(t)
        if not bgs:
            assert got[d]["n_bigrams"] == 0 and got[d]["mink_avg_logp"] is None
            continue
        lps = sorted(
            math.log((bgc.get(b, 0) + 1.0) / (ctx.get(b[0], 0) + V))
            for b in bgs
        )
        m = math.ceil(0.5 * len(bgs))
        expect = sum(lps[:m]) / m
        assert got[d]["n_bigrams"] == len(bgs)
        assert got[d]["n_scored"] == m
        assert abs(got[d]["mink_avg_logp"] - expect) < 1e-9, d


def test_mink_prob_members_score_higher(spark):
    """Members' worst-k bigrams were all seen in training; a probe doc of
    never-seen bigrams must score strictly lower."""
    from pyspark.sql import functions as F

    from cuml_spark.text.lm import mink_prob_scores

    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(0, 10, 2)]
    rows += [(1, "zxq wvu tsr qpo nml kji hgf edc ba")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    members = df.where(F.col("doc_id") % 2 == 0)
    got = {r["doc_id"]: r["mink_avg_logp"] for r in mink_prob_scores(
        df, k_pct=0.3, lm_corpus=members).collect()}
    assert got[0] > got[1]


def test_mink_prob_validation(spark):
    import pytest as _pt

    from cuml_spark.text.lm import mink_prob_scores

    with _pt.raises(ValueError, match="k_pct"):
        mink_prob_scores(None, k_pct=0.0)
    with _pt.raises(ValueError, match="add_k"):
        mink_prob_scores(None, add_k=0.0)


def test_tfidf_fractional_max_df_scales_with_corpus(spark):
    """The sklearn-style fractional df cap keeps pruning meaningful at
    any corpus size — the absolute-cap failure mode (every term over the
    cap at 10x the data) cannot occur."""
    from cuml_spark.text.sparse_sim import (tfidf_cosine_pairs,
                                            tfidf_weighted_postings)

    # every doc shares 'common'; pairs only exist via it
    rows = [(i, f"unique{i} common") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # fraction 0.5 -> cap 20 < df('common')=40 -> pruned -> no pairs
    assert tfidf_cosine_pairs(df, 0.01, max_df=0.5).count() == 0
    # fraction 1.0 -> cap 40 -> kept -> all pairs
    assert tfidf_cosine_pairs(df, 0.01, max_df=1.0).count() == 780
    import pytest as _pt
    with _pt.raises(ValueError, match="fractional max_df"):
        tfidf_weighted_postings(df, max_df=1.5)


@_pytest.mark.parametrize("n_docs", [unit_param(2000), quality_param(20000)])
def test_winnow_planted_overlap_recall_at_scale(spark, n_docs):
    """Planted shared-span recall beyond the 500-doc fixture: every
    planted pair shares a run of 16 tokens >= w+k-1, so winnowing MUST
    surface it (the guarantee is deterministic, not probabilistic)."""
    from pyspark.sql import functions as F

    from cuml_spark.text.winnow import winnow_fingerprints, winnow_overlap

    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.conv(F.xxhash64("id", F.lit(s)).cast("string"), 10, 16)
              for s in range(12)],
        ).alias("text"),
    )
    shared = " ".join(f"sharedtok{i}" for i in range(16))
    planted = base.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + n_docs).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" " + shared)).alias("text"),
    )
    planted2 = base.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 2 * n_docs).alias("doc_id"),
        F.concat(F.lit(shared + " "), F.col("text")).alias("text"),
    )
    docs = base.unionAll(planted).unionAll(planted2)
    fps = winnow_fingerprints(docs, k=4, w=5)
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             winnow_overlap(fps, max_df=max(50, n_docs // 10),
                            min_shared=1).collect()}
    expected = {(i + n_docs, i + 2 * n_docs) for i in range(0, n_docs, 50)}
    missed = [p for p in expected if p not in pairs]
    assert not missed, f"missed {len(missed)} of {len(expected)}"


@_pytest.mark.parametrize("n_keys", [unit_param(50_000), quality_param(500_000)])
def test_bloom_fpr_at_scale(spark, n_keys):
    """FPR stays within 3x the analytic (1-e^-kn/m)^k bound at real key
    volumes; zero false negatives always."""
    from pyspark.sql import functions as F

    from cuml_spark.text.bloom import bloom_probe, fit_bloom

    m_bits = 1 << 20
    df = spark.range(2 * n_keys).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("key-"), F.col("id")).alias("text"))
    fitted = df.where(F.col("doc_id") < n_keys)
    bf = fit_bloom(fitted, "text", num_bits=m_bits, num_hashes=5)
    flags = bloom_probe(df, bf, "text").groupBy(
        (F.col("doc_id") < n_keys).alias("member")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("maybe_seen").cast("long")).alias("hits")).collect()
    by = {r["member"]: r for r in flags}
    assert by[True]["hits"] == by[True]["n"]  # no false negatives
    fpr = by[False]["hits"] / by[False]["n"]
    assert fpr <= 3 * bf.false_positive_rate(n_keys) + 1e-4, fpr


def test_frequency_spectrum_empty_corpus_zeroed(spark):
    """An empty/all-null corpus yields a ZEROED audit row (0 tokens,
    0.0 ratios), never a row of NULLs."""
    from cuml_spark.text.ngrams import frequency_spectrum

    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    r = frequency_spectrum(df).collect()[0]
    assert (r["n_tokens"], r["vocab_size"], r["hapax"], r["dis"]) == (0, 0, 0, 0)
    assert r["type_token_ratio"] == 0.0 and r["head_mass"] == 0.0


def test_score_with_model_broadcast_reused(spark):
    """Scoring twice with the same BigramLM reuses ONE Spark broadcast
    (the per-model cache), instead of leaking one per call."""
    from cuml_spark.text.lm import _model_broadcast, fit_bigram_lm

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string")
    model = fit_bigram_lm(df)
    sc = spark.sparkContext
    b1 = _model_broadcast(sc, model)
    b2 = _model_broadcast(sc, model)
    assert b1 is b2


def test_perplexity_buckets_grouped_max_groups_guard(spark):
    """A data-grade group key must raise before the per-group cuts
    broadcast, not OOM the job (the grouped-quantiles convention)."""
    from cuml_spark.text import perplexity_buckets

    df = spark.createDataFrame(
        [(i, f"g{i}", float(-i)) for i in range(8)],
        "doc_id long, lang string, avg_logp double")
    with pytest.raises(ValueError, match="max_groups"):
        perplexity_buckets(df, group_cols=["lang"], max_groups=4)
    # under the cap: fine
    assert perplexity_buckets(df, group_cols=["lang"], max_groups=8).count() == 8
