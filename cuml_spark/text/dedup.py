"""Deduplication operators for large-scale text corpora.

Not present in the cuML reference (its data model is dense numeric matrices) —
these are the training-data-pipeline operators the rebuild adds as first-class
citizens.  All deterministic (md5-derived hashing, fixed coefficient tables) so
they are exactly reproducible across engines and runs — a requirement for both
the DuckDB oracle harness and for incremental 100 TB dedup runs.

Scale design:
- exact dedup: hash → groupBy(hash) — one shuffle on a 16-byte key, standard
  map-side combine.
- MinHash/LSH: shingle explode (map-side), per-doc min-aggregate (shuffle by
  doc_id), band signatures (map-side), bucket self-join (shuffle by
  (band, signature) — only bucket-mates ever pair, so the O(N²) all-pairs
  never materializes).  AQE handles skewed buckets (e.g. boilerplate docs).
- SimHash: explode tokens → 16 conditional-sum aggregates per doc — one
  shuffle, no joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fixed MinHash coefficient tables (deterministic across runs/engines).
# h' = (a*h + b) mod P over the 32-bit shingle hash; a,b < 2^31 keeps
# a*h + b < 2^63 (no overflow in either engine's BIGINT).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
_A = [1664525, 22695477, 1103515245, 134775813, 214013, 69069, 1013904223,
      32310901, 1284865837, 1481765933, 1664525, 99991, 7368787, 65537,
      2038074743, 104729]
_B = [1013904223, 1, 12345, 1, 2531011, 0, 4541, 17, 251, 8191, 524287,
      2147483629, 131071, 8388617, 100003, 999983]
N_HASHES = 16
N_BANDS = 4  # 4 rows per band


def _hash32(col: Column) -> Column:
    """Deterministic 32-bit hash of a string: first 8 hex chars of md5.

    Chosen over Spark's xxhash64 because DuckDB computes the identical value
    (md5 is engine-agnostic), which makes every downstream op oracle-checkable.
    """
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast("long")


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: (text_hash, n_dups, keep_id) with keep = min id.

    The canonical keep-first dedup: a groupBy on the md5 — at 100 TB this is
    one shuffle of (hash, id) pairs, never the document bodies.
    """
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def normalized_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace/case-normalized content fingerprint per doc (near-exact dedup)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    return df.select(
        F.col(id_col), F.md5(norm.cast("binary")).alias("fingerprint")
    )


def shingles(df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id",
             distinct: bool = True) -> DataFrame:
    """Character k-gram shingle set per document → (id, shingle).

    Pure map-side explode (sequence + transform are JVM codegen'd).  The
    per-document distinct runs INSIDE the row via array_distinct before the
    explode — global ``(id, shingle)`` distinct equals per-doc distinct, so
    no shuffle is ever paid for it.
    """
    arr = F.expr(
        f"transform(sequence(1, greatest(1, length({text_col}) - {k - 1})), "
        f"i -> substring({text_col}, i, {k}))"
    )
    if distinct:
        arr = F.array_distinct(arr)
    return df.select(F.col(id_col), F.explode(arr).alias("shingle"))


def minhash_signatures(df: DataFrame, k: int = 5, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = N_HASHES) -> DataFrame:
    """MinHash signature per doc → (id, mh0..mh{n-1}).

    One explode + one groupBy(id) with n_hashes min-aggregates — the classic
    one-pass distributed MinHash.
    """
    sh = shingles(df, k=k, text_col=text_col, id_col=id_col)
    # the md5 base hash is materialized ONCE per shingle row as a shared
    # column the n_hashes min-aggregates reuse — inlined, every aggregate
    # would recompute the md5 (n_hashes× the dominant cost of the pass)
    hashed = sh.select(F.col(id_col), _hash32(F.col("shingle")).alias("__h"))
    aggs = [
        F.min((F.lit(_A[i]) * F.col("__h") + F.lit(_B[i])) % MINHASH_PRIME).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(df: DataFrame, k: int = 5, text_col: str = "text",
                        id_col: str = "doc_id", n_bands: int = N_BANDS,
                        signatures: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 identical band → (id_a, id_b).

    Band signature = concat of r=n_hashes/n_bands minhashes; bucket join is a
    self-join on (band, signature) — only same-bucket docs pair up.
    Pass precomputed ``signatures`` (minhash_signatures output, e.g. cached)
    to skip the signature pass entirely.
    """
    sig = (
        signatures if signatures is not None
        else minhash_signatures(df, k=k, text_col=text_col, id_col=id_col)
    )
    # One posexplode over the array of band signatures: the minhash
    # pipeline (shingle explode + 64 min-aggregates) runs ONCE, not once
    # per band as a per-band union would — at scale that's an 8× saving on
    # the dominant stage.  (Banding construction shared with the
    # cross-corpus path via _banded_signatures.)
    banded = _banded_signatures(sig, id_col, id_col, n_bands)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, on=["band", "sig"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


_JACCARD_ALLPAIRS_MAX_DOCS = 100_000


def jaccard_similarity_pairs(df: DataFrame, k: int = 5, threshold: float = 0.0,
                             text_col: str = "text", id_col: str = "doc_id",
                             candidates: DataFrame | None = None,
                             max_allpairs_docs: int = _JACCARD_ALLPAIRS_MAX_DOCS) -> DataFrame:
    """n-gram Jaccard similarity for doc pairs → (id_a, id_b, jaccard).

    Without ``candidates``: all pairs sharing ≥1 shingle (the shingle join
    prunes disjoint pairs for free).  With ``candidates`` (e.g. LSH output):
    verifies only those — the scalable two-stage near-dup pipeline.

    The no-candidates shingle self-join is O(Σ df²) — one shingle common to
    f documents alone yields f² join rows — so it is guarded: above
    ``max_allpairs_docs`` documents it raises and points at the LSH
    two-stage plan instead of silently melting at scale.
    """
    if candidates is None:
        n_docs = df.select(id_col).count()
        if n_docs > max_allpairs_docs:
            raise ValueError(
                f"jaccard_similarity_pairs without candidates is an all-pairs "
                f"shingle self-join (O(sum df^2)); refusing at {n_docs} docs "
                f"(> max_allpairs_docs={max_allpairs_docs}). Generate "
                f"candidates first (minhash_signatures -> lsh_candidate_pairs) "
                f"and pass candidates=, or raise max_allpairs_docs explicitly."
            )
    if candidates is not None:
        # pair-first PACKED plan: each candidate doc carries its shingle set
        # as ONE sorted int64-hash array built map-side (no explode, no
        # shingle shuffle); candidate pairs equi-join the two arrays and a
        # single Arrow batch intersects them — O(|candidates| · doc_len)
        # work, and the only shuffled payload is one bounded array per doc.
        # xxhash64 collisions inside a doc's set are ~doc_len²/2⁶⁴ ≈ 1e-15 —
        # far below the fp noise the harness rounds away.
        # The candidates are read twice (to choose the docs to pack, then
        # to pair them): a lazy local checkpoint runs a lazy candidate
        # plan once, inside the packing job, for this call only.  Like
        # ``packed`` it is released when the returned frame is collected
        # by the garbage collector, not here: that frame reads it, and a
        # released local checkpoint cannot be recomputed.
        candidates = candidates.select("id_a", "id_b").localCheckpoint(eager=False)
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        packed = (
            df.join(cand_ids, id_col, "left_semi")
            .select(
                F.col(id_col),
                F.array_sort(
                    F.expr(
                        f"transform(array_distinct(transform("
                        f"sequence(1, greatest(1, length({text_col}) - {k - 1})), "
                        f"i -> substring({text_col}, i, {k}))), s -> xxhash64(s))"
                    )
                ).alias("hs"),
            )
            .withColumn("n_sh", F.size("hs"))
            # consumed twice (a-side and b-side of the pair join):
            # materialized BEFORE the dual reference — parallel subtrees
            # of one action otherwise each recompute the shingle-hash
            # transform.  A local checkpoint, not a cache, so a later
            # call's identical plan cannot read this call's blocks
            .localCheckpoint()
        )

        @F.pandas_udf("long")
        def _inter(a: pd.Series, b: pd.Series) -> pd.Series:
            # arrays arrive SORTED (array_sort above), so the intersection
            # size is a searchsorted membership count — no per-pair re-sort
            # (np.intersect1d would concatenate+sort each pair again)
            out = np.empty(len(a), dtype=np.int64)
            for i, (x, y) in enumerate(zip(a, b)):
                x = np.asarray(x)
                y = np.asarray(y)
                if len(x) == 0 or len(y) == 0:
                    out[i] = 0
                    continue
                if len(y) < len(x):
                    x, y = y, x  # search the shorter in the longer
                pos = np.searchsorted(y, x)
                pos[pos == len(y)] = len(y) - 1
                out[i] = int((y[pos] == x).sum())
            return pd.Series(out)

        pa = packed.select(F.col(id_col).alias("id_a"),
                           F.col("hs").alias("hs_a"), F.col("n_sh").alias("n_a"))
        pb = packed.select(F.col(id_col).alias("id_b"),
                           F.col("hs").alias("hs_b"), F.col("n_sh").alias("n_b"))
        out = (
            candidates.join(pa, "id_a").join(pb, "id_b")
            .withColumn("inter", _inter(F.col("hs_a"), F.col("hs_b")))
            .select(
                "id_a", "id_b",
                (F.col("inter")
                 / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard"),
            )
        )
        return out.where(F.col("jaccard") >= threshold) if threshold > 0 else out
    # no candidates: all pairs sharing ≥1 shingle via the (guarded) self-join.
    # The shingles are read three times (both join sides and the sizes): a
    # lazy local checkpoint computes them once for this call only, where a
    # cache() would stay in the CacheManager for any later matching plan
    sh = shingles(df, k=k, text_col=text_col, id_col=id_col).localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a").join(sh.alias("b"), on="shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter
        .join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"), on="id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"), on="id_b")
        .select(
            "id_a", "id_b",
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold) if threshold > 0 else out


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n_bits: int = 16) -> DataFrame:
    """SimHash fingerprint over whitespace tokens → (id, simhash).

    bit_j(doc) = 1 iff Σ_tokens (2·bit_j(hash(tok)) − 1) > 0; fingerprint is
    the n_bits-wide integer.  One explode + one aggregate; near-dup candidates
    are then docs at small Hamming distance.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t != '')")).alias("tok"),
    )
    h = _hash32(F.col("tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(n_bits)
    ]
    per_doc = toks.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(n_bits):
        fp = fp + F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(0)
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


def _banded_signatures(sig: DataFrame, id_col: str, out_id: str,
                       n_bands: int) -> DataFrame:
    """(id, band, sig) rows from a minhash signature frame — one
    posexplode over the in-row band-signature array (the
    lsh_candidate_pairs banding, factored for cross-frame reuse)."""
    r = N_HASHES // n_bands
    band_sigs = F.array(*[
        F.concat_ws(
            "_", *[F.col(f"mh{b * r + j}").cast("string") for j in range(r)]
        )
        for b in range(n_bands)
    ])
    return sig.select(
        F.col(id_col).alias(out_id),
        F.posexplode(band_sigs).alias("band", "sig"),
    )


def fuzzy_cross_contamination(
    corpus: DataFrame,
    reference: DataFrame,
    k: int = 5,
    threshold: float = 0.5,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
    ref_id_col: str | None = None,
    n_bands: int = N_BANDS,
    corpus_signatures: DataFrame | None = None,
    exclude_same_id: bool = True,
) -> DataFrame:
    """Fuzzy (MinHash-LSH + exact-Jaccard) contamination of ``corpus``
    against a benchmark/eval ``reference`` set — the document-level
    decontamination modern pipelines run besides the n-gram check
    (text/contamination.py): a training document near-duplicating an
    eval document leaks the benchmark even when no single n-gram run
    survives verbatim.

    → (id_col, n_matched_refs, max_jaccard, first_ref_id): one row per
    CONTAMINATED corpus doc (some reference doc with character-k-gram
    Jaccard ≥ ``threshold`` among its LSH candidates); ``first_ref_id``
    is the smallest qualifying reference id — deterministic.

    ``exclude_same_id`` (default True) drops pairs whose corpus and
    reference ids are EQUAL so a corpus can be screened against a
    subset of itself.  When the two datasets are independently numbered
    (ids coincide by accident, the common cross-dataset case), pass
    ``exclude_same_id=False`` — otherwise a genuine leak whose ids
    happen to collide is silently suppressed.

    Scale shape: the reference side is benchmark-sized by contract
    (same as ngram_contamination) — its banded signatures AND its
    shingle sets broadcast; the corpus pays ONE signature pass streamed
    against the broadcast buckets (map-side candidate join) and the
    exact-Jaccard verify re-reads only candidate docs (semi-join
    pruned).  Nothing all-pairs, nothing reference×corpus.
    """
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold in [0, 1], got {threshold}")
    ref_text_col = ref_text_col or text_col
    ref_id_col = ref_id_col or id_col
    # pass corpus_signatures (minhash_signatures output, e.g. cached from
    # the dedup pass) to skip the corpus signature pass — the one-index,
    # many-consumers shape a real pipeline runs
    sig_c = (
        corpus_signatures if corpus_signatures is not None
        else minhash_signatures(
            corpus, k=k, text_col=text_col, id_col=id_col)
    )
    sig_r = minhash_signatures(
        reference, k=k, text_col=ref_text_col, id_col=ref_id_col)
    cand = (
        _banded_signatures(sig_c, id_col, "__cid", n_bands)
        .join(F.broadcast(
            _banded_signatures(sig_r, ref_id_col, "__rid", n_bands)),
            ["band", "sig"])
    )
    if exclude_same_id:
        cand = cand.where(F.col("__cid") != F.col("__rid"))
    # two consumers read the candidate pairs (the corpus-side semi-join
    # and the verify join); without materialization each would re-root
    # the corpus signature pass (the bm25 AQE-reuse finding) — the pair
    # frame is LSH-bounded, so the checkpoint is small
    cand = cand.select("__cid", "__rid").distinct().localCheckpoint(
        eager=False)

    def _shingle_set(frame: DataFrame, tcol: str, icol: str,
                     out_id: str, out_set: str) -> DataFrame:
        arr = F.array_distinct(F.expr(
            f"transform(sequence(1, greatest(1, length({tcol}) - {k - 1})), "
            f"i -> substring({tcol}, i, {k}))"
        ))
        return frame.select(F.col(icol).alias(out_id), arr.alias(out_set))

    # exact verify only re-reads CANDIDATE corpus docs (semi-join pruned);
    # the reference shingle sets broadcast like its banded signatures
    sets_c = _shingle_set(corpus, text_col, id_col, "__scid", "__cs").join(
        cand.select(F.col("__cid").alias("__scid")).distinct(),
        "__scid", "left_semi")
    sets_r = _shingle_set(
        reference, ref_text_col, ref_id_col, "__srid", "__rs")
    inter = F.size(F.array_intersect(F.col("__cs"), F.col("__rs")))
    union = F.size("__cs") + F.size("__rs") - inter
    j = inter / F.greatest(union, F.lit(1))
    pairs = (
        cand
        .join(sets_c, F.col("__scid") == F.col("__cid"))
        .join(F.broadcast(sets_r), F.col("__srid") == F.col("__rid"))
        .select("__cid", "__rid", j.alias("__j"))
        .where(F.col("__j") >= float(threshold))
    )
    return (
        pairs.groupBy(F.col("__cid").alias(id_col))
        .agg(
            F.count("*").cast("long").alias("n_matched_refs"),
            F.max("__j").alias("max_jaccard"),
            F.min("__rid").alias("first_ref_id"),
        )
    )
