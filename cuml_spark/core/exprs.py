"""Plan-expression construction helpers.

One rule covers every model the engine embeds in a plan: build each
per-model expression or aggregate as ONE SQL string and parse it once
with ``F.expr`` (or ``selectExpr``).  Building it one ``Column``
operation at a time costs py4j round trips per operator, while parsing
one string costs microseconds.  Measured at k=4, d=8: a two-iteration
KMeans fit sends 66 py4j commands parsed against 5,188 built Column by
Column, a Ridge fit 35 against 2,814.  Parsed and ``Column``-built trees
are the same Catalyst tree, so plans and results do not change.  Identifiers go through :func:`sql_ident` and doubles
through :func:`sql_double`, so every string quotes the same way.

The sketch/bitmap operators embed fitted models as ARRAY literals (the
map-only, zero-shuffle serving shape).  ``F.lit(python_list)`` converts
the list element-by-element through py4j (~0.5 ms/element — measured
2.3 s for a 4×1024-counter CMS), while ``array(v0,v1,...)`` parses in
microseconds and Catalyst's ConstantFolding collapses the parsed
CreateArray into the identical single array ``Literal`` before codegen
(verified: optimized plans are Literal-only and evaluate the same).
This is the driver-side twin of the ops/cms.py "ONE array Literal, not
CreateArray" eval-side lesson.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "double_array_lit", "int_double_map_lit", "long_array_lit",
    "sql_dot", "sql_double", "sql_double_col", "sql_ident",
]

_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier, embedded backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def sql_double_col(name: str) -> str:
    """Column ``name`` cast to double."""
    return f"CAST({sql_ident(name)} AS DOUBLE)"


def sql_double(v: float) -> str:
    """``v`` as a parenthesised double literal, ``(repr(v)D)``: the
    shortest decimal parses back bit-exactly.  NaN and ±infinity become
    the string casts that fold to the same constants ``F.lit`` makes."""
    v = float(v)
    if math.isfinite(v):
        return f"({v!r}D)"
    return f"CAST('{_NON_FINITE[repr(v)]}' AS DOUBLE)"


def sql_dot(start: str, terms: Iterable[str], weights: Iterable[float]) -> str:
    """``start + t₀ * w₀ + t₁ * w₁ + …``, summed left to right."""
    return start + "".join(f" + {t} * {sql_double(w)}" for t, w in zip(terms, weights))


def long_array_lit(values: Iterable[int]) -> Column:
    """``array<bigint>`` literal from ``values`` via one expression-string
    parse instead of per-element py4j conversion.  Values must fit signed
    64-bit (enforced — a silent wrap would corrupt a sketch)."""
    vals = [int(v) for v in values]
    lo, hi = -(1 << 63), (1 << 63) - 1
    for v in vals:
        if not lo <= v <= hi:
            raise ValueError(f"array literal value {v} exceeds signed 64-bit")
    if not vals:
        return F.lit([]).cast("array<bigint>")
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def double_array_lit(values: Iterable[float]) -> Column:
    """``array<double>`` literal via one expression-string parse (same
    rationale and round-trip guarantee as :func:`int_double_map_lit`;
    k-center's per-round center vectors cost O(k²·d) driver py4j calls
    through ``F.array(*[F.lit(x)])``).  Non-finite values rejected."""
    vals = [float(v) for v in values]
    for v in vals:
        if not math.isfinite(v):
            raise ValueError(f"array literal value {v!r} is not finite")
    if not vals:
        return F.lit([]).cast("array<double>")
    return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")


def int_double_map_lit(d: dict) -> Column:
    """``map<int,double>`` literal from ``d`` via one expression-string
    parse (same rationale as :func:`long_array_lit`; an inline model of
    ~512 weights costs ~0.9 s per construction through
    ``create_map(*[F.lit(...)])``).  ``repr(float)`` round-trips
    shortest-decimal → ``Double.parseDouble`` bit-exactly (verified over
    mixed magnitudes incl. 1e300/1e-15/-0.0); non-finite values are
    rejected — they have no portable literal syntax here."""
    items = []
    for k in sorted(d):
        v = float(d[k])
        if not math.isfinite(v):
            raise ValueError(f"map literal value for key {k} is {v!r}")
        items.append(f"{int(k)},{v!r}D")
    if not items:
        return F.expr("map()").cast("map<int,double>")
    return F.expr("map(" + ",".join(items) + ")")
