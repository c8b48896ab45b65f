"""Temperature-scaled domain mixture sampling for training corpora.

The standard multi-domain reweighting step LLM pipelines run before
training (multilingual temperature sampling; also the "sampling ratios"
knob of GPT-3/PaLM-style mixtures): domain d with share ``p_d`` is
resampled proportionally to ``p_d**alpha`` renormalized, so ``alpha=1``
keeps natural proportions, ``alpha=0`` gives uniform-over-domains, and
``0<alpha<1`` up-weights the tail.  The reference engine has no
counterpart — this is part of the beyond-reference LLM-data tier.

Spark-first shape (100 TB):

* pass 1 — one shuffle-light ``groupBy(domain).count()`` (result is
  domains-sized, i.e. tiny);
* per-domain keep rates are computed as column expressions over that tiny
  frame and broadcast back;
* pass 2 — one scan of the corpus with an in-row keep decision.  Two scans
  total is the floor for exact-proportion mixing; callers that already
  know the domain histogram can pass ``counts=`` and skip pass 1.

Keep decisions are **deterministic integer modular arithmetic** on the id
column — a Weyl-style ``(id % M) * MULT % M`` pseudo-uniform — NOT
``rand()``: the sample is reproducible run-to-run, partitioning-invariant,
and engine-portable (an ANSI-SQL oracle reproduces it bit-for-bit, which
``rand()``-based sampling can never do).  Rates are rounded to
``rate_decimals`` before thresholding so last-ulp ``pow``/sum-order
divergence between engines cannot flip a keep decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Weyl-style mixing constants: M prime, MULT = 2^32 / phi (Knuth's
# multiplicative-hash constant). (id % M) * MULT stays < 2^52 — exact in
# int64 for both Spark and any ANSI engine.
_MIX_M = 1_000_003
_MIX_MULT = 2_654_435_761


def mix_uniform_expr(id_col: str, seed: int = 0):
    """Deterministic pseudo-uniform in [0, 1) from a non-negative id."""
    return (
        F.pmod(
            F.pmod(F.col(id_col).cast("long") + int(seed), F.lit(_MIX_M))
            * _MIX_MULT,
            F.lit(_MIX_M),
        )
        / float(_MIX_M)
    )


def domain_rates(
    counts: DataFrame,
    domain_col: str,
    *,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    rate_decimals: int = 4,
) -> DataFrame:
    """Per-domain keep rates from a ``(domain, __n_d)`` histogram.

    Target kept rows for domain d: ``budget_frac * N * w_d`` where
    ``w_d = n_d^alpha / Σ n^alpha``; the rate is that target over ``n_d``,
    capped at 1 (a tail domain whose boosted target exceeds its size is
    kept whole — this sampler never duplicates rows; epoch-level
    upsampling is the training loader's job).
    """
    # totals via a whole-frame window, NOT a separate agg + cross-join: the
    # counts subtree would otherwise appear twice in the plan, doubling the
    # corpus histogram pass.  The window's single partition holds one row
    # per DOMAIN — always tiny.
    from pyspark.sql import Window

    w = Window.partitionBy()
    pw = F.pow("__n_d", float(alpha))
    return counts.select(
        domain_col,
        F.col("__n_d"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(budget_frac))
                * F.sum("__n_d").over(w)
                * pw
                / (F.sum(pw).over(w) * F.col("__n_d")),
            ),
            rate_decimals,
        ).alias("__rate"),
    )


def stratified_length_cap(
    df: DataFrame,
    domain_col: str,
    length_col: str,
    *,
    p: float = 0.99,
    n_buckets: int = 64,
    collect_threshold: int = 100_000,
    max_groups: int = 100_000,
    cap_col: str | None = None,
) -> DataFrame:
    """Drop each domain's length outliers at its own EXACT percentile —
    the per-stratum p99 cut a curation pipeline runs before packing, so
    one domain's pathological long tail (minified JS, genome dumps)
    can't blow the packer's bins while another domain's legitimately
    longer documents survive their own distribution's cut.  With
    ``cap_col`` the kept rows also carry their domain's cap (native
    length type) — the refinement runs ONCE either way.

    Keeps rows with ``length_col <= percentile_disc(p)`` OF THEIR OWN
    domain (ops/quantiles.py grouped_exact_quantiles; exact, not
    approxQuantile: a 0.99 cut that drifts by even one rank on a skewed
    domain moves the packing budget by whole documents).  NULL lengths
    drop (no position in the distribution); a NULL domain is its own
    stratum (null-safe join, SQL GROUP BY semantics).  100 TB shape:
    the quantile refinement's bounded passes + ONE broadcast
    (domain → cap) probe, map-only — rows never shuffle.
    """
    from cuml_spark.ops.quantiles import grouped_exact_quantiles

    caps = grouped_exact_quantiles(
        df, length_col, [p], [domain_col],
        n_buckets=n_buckets, collect_threshold=collect_threshold,
        max_groups=max_groups,
    ).select(
        F.col(domain_col).alias("__cap_dom"), F.col("value").alias("__cap")
    )
    # caps is ≤ max_groups rows (guarded inside grouped_exact_quantiles);
    # collect once and re-broadcast as a LOCAL relation so the probe plan
    # is map-only and re-consuming the output never re-runs the
    # quantile's final-selection scan
    caps = df.sparkSession.createDataFrame(caps.collect(), caps.schema)
    joined = df.join(
        F.broadcast(caps),
        F.col(domain_col).eqNullSafe(F.col("__cap_dom")), "left")
    kept = joined.where(F.col(length_col) <= F.col("__cap"))
    if cap_col is None:
        return kept.select(*df.columns)
    return kept.select(*df.columns, F.col("__cap").alias(cap_col))


def temperature_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    *,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    seed: int = 0,
    rate_decimals: int = 4,
    counts: DataFrame | None = None,
    on_missing_domain: str = "error",
) -> DataFrame:
    """Deterministically sample ``df`` to a temperature-``alpha`` mixture.

    ``id_col`` must be a non-negative integer id, unique per row (the same
    precondition the dedup tier documents); ``seed`` offsets the id before
    mixing so independent samples decorrelate.  Returns the kept rows with
    the original schema.

    A caller-supplied ``counts`` histogram must cover every domain in
    ``df``; the rates join is null-safe, so a null domain is a domain
    value like any other — it matches a null histogram row and is
    sampled at that row's rate.  Rows whose domain has NO histogram row
    are governed by ``on_missing_domain``: ``"error"`` (default) raises
    at execution time naming the domain, ``"keep"`` passes them through
    unsampled, ``"drop"`` discards them (the pre-r8 behavior — silent,
    so now opt-in).  Self-computed counts are complete by construction
    (groupBy emits a row for every domain incl. null), so nothing can
    miss on the default path.
    """
    if on_missing_domain not in ("error", "keep", "drop"):
        raise ValueError(
            f"on_missing_domain must be error|keep|drop, "
            f"got {on_missing_domain!r}")
    if counts is None:
        counts = df.groupBy(domain_col).agg(F.count("*").alias("__n_d"))
    rates = domain_rates(
        counts, domain_col, alpha=alpha, budget_frac=budget_frac,
        rate_decimals=rate_decimals,
    ).drop("__n_d")
    u = mix_uniform_expr(id_col, seed)
    joined = df.join(F.broadcast(rates), df[domain_col].eqNullSafe(
        rates[domain_col]), "left").drop(rates[domain_col])
    rate = F.col("__rate")
    if on_missing_domain == "error":
        rate = F.when(rate.isNotNull(), rate).otherwise(
            F.raise_error(F.concat(
                F.lit("temperature_sample: no rate for domain "),
                F.coalesce(F.col(domain_col).cast("string"), F.lit("NULL")),
                F.lit(" — pass a complete counts= histogram or set "
                      "on_missing_domain to keep/drop"),
            )).cast("double"))
    elif on_missing_domain == "keep":
        rate = F.coalesce(rate, F.lit(1.0))
    else:  # drop
        rate = F.coalesce(rate, F.lit(-1.0))  # u >= 0 never passes
    out = joined.where(u < rate)
    return out.drop("__rate").select(*df.columns)
