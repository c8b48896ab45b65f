"""Input validation mirroring cuML's ingestion funnel semantics.

Reference: ``input_to_dev_array`` (python/cuml/utils/input_utils.py:71-239):
- features must be float32/float64 (we cast numeric → double, reject non-numeric);
- nulls are rejected with an explicit error (input_utils.py:152-155);
- shape checks (n_cols) are supported.

Spark-side, "dense device matrix" becomes "DataFrame of double columns"; array
order (F/C) is meaningless and dropped.  Null checking is a full-scan aggregate,
so it is OPT-IN per estimator call (``check_nulls=True``) — at 100 TB you don't
want an extra pass unless you asked for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from cuml_spark.core.exprs import sql_double_col, sql_ident

_ALLOWED = (NumericType,)


def to_double_cols(df: DataFrame, cols: list[str]) -> DataFrame:
    """Cast feature columns to double, validating they are numeric.

    Mirrors cuML's float32/float64-only rule (input_utils.py:184-220) — any
    non-numeric column raises TypeError rather than silently casting.
    """
    schema = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in schema:
            raise ValueError(f"column {c!r} not in DataFrame (have {list(schema)})")
        if not isinstance(schema[c], _ALLOWED):
            raise TypeError(
                f"column {c!r} has non-numeric type {schema[c].simpleString()}; "
                "cuML accepts float32/float64 features only"
            )
    return df.selectExpr(*[f"{sql_double_col(c)} AS {sql_ident(c)}" for c in cols])


def check_features(
    df: DataFrame,
    cols: list[str],
    *,
    check_nulls: bool = False,
    check_cols: int | None = None,
) -> DataFrame:
    """Validate + project a feature frame; returns double-cast projection.

    ``check_nulls=True`` mirrors the reference's hard null rejection
    ("Error: cuDF Series has missing/null values", input_utils.py:155) at the
    cost of one aggregate scan.
    """
    if check_cols is not None and len(cols) != check_cols:
        raise ValueError(f"expected {check_cols} feature columns, got {len(cols)}")
    out = to_double_cols(df, cols)
    if check_nulls:
        null_counts = out.select(
            [F.count(F.when(F.col(c).isNull() | F.isnan(c), 1)).alias(c) for c in cols]
        ).first()
        bad = {c: null_counts[c] for c in cols if null_counts[c] > 0}
        if bad:
            raise ValueError(f"Error: input has missing/null values in columns {bad}")
    return out
