"""Result shaping: wide↔long feature frames and multi-extractor merge.

Recasts the reference's result model (SURVEY.md §1.2):

- ``to_long`` ≡ ``ExtractorResult.to_df(format='long')``: melt feature
  columns into (key..., feature, value) rows, dropping NULL values
  (``pliers/extractors/base.py:175-177`` melts and drops NaN).
- ``to_wide`` ≡ the wide pivot in ``merge_results``
  (``pliers/extractors/base.py:312-340``): long → one column per
  feature, clashes aggregated by mean ('mean' aggfunc, :324-326).
- ``merge_features`` ≡ ``merge_results(format='wide')`` done the
  Spark-native way: per-extractor frames **joined on the composite key**
  instead of union+pivot — schemas are static per stage, so an
  equi-join beats a pivot (no second shuffle for the pivot agg).
- feature namespacing ``extractor#feature`` mirrors
  ``pliers/extractors/base.py:308-310``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from pyspark.sql.types import (  # numeric column sniffing for to_sklearn
    ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType)
_NUM_TYPES = (ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType, DecimalType)


def to_long(df: DataFrame, key_cols: list[str], feature_cols: list[str], extractor: str | None = None) -> DataFrame:
    """Melt wide features to (key..., feature, value) long rows; NULL
    values dropped (reference drops NaN on melt)."""
    pairs = []
    for c in feature_cols:
        name = f"{extractor}#{c}" if extractor else c
        pairs.append(f"'{name}', cast(`{c}` as double)")
    stack_expr = f"stack({len(feature_cols)}, {', '.join(pairs)}) as (feature, value)"
    out = df.selectExpr(*[f"`{c}`" for c in key_cols], stack_expr)
    return out.where(F.col("value").isNotNull())


def to_wide(
    df: DataFrame,
    key_cols: list[str],
    feature_col: str = "feature",
    value_col: str = "value",
    aggfunc: str = "mean",
    order_col: str | None = None,
    feature_values: list[str] | None = None,
) -> DataFrame:
    """Pivot long rows back to wide. Clash aggfunc mirrors the reference
    (``pliers/extractors/base.py:324-326``): 'mean' for numeric value
    frames, 'first' for non-numeric. pandas' 'first' means first row in
    frame order, which is non-deterministic in a distributed pivot — so
    the Spark recast requires an explicit ``order_col`` and takes
    ``min_by(value, order)``. ``feature_values`` skips pivot's
    distinct-discovery job when the feature set is known."""
    if aggfunc == "mean":
        agg = F.mean(value_col)
    elif aggfunc == "first":
        if order_col is None:
            raise ValueError("aggfunc='first' needs order_col for a deterministic pivot")
        agg = F.min_by(value_col, order_col)
    else:
        raise ValueError(f"unknown aggfunc {aggfunc!r} (reference supports mean/first)")
    piv = df.groupBy(*key_cols).pivot(feature_col, feature_values) if feature_values \
        else df.groupBy(*key_cols).pivot(feature_col)
    return piv.agg(agg)


def merge_features(frames: list[DataFrame], key_cols: list[str], how: str = "full") -> DataFrame:
    """Join per-extractor wide frames on the composite key — the
    Spark-native ``merge_results``. Keys appear once; feature columns
    accumulate. Full-outer by default (an extractor may skip rows)."""
    return reduce(lambda a, b: a.join(b, on=key_cols, how=how), frames)


def to_sklearn(
    df: DataFrame,
    feature_cols: list[str] | None = None,
    metadata_cols: list[str] | None = None,
    max_rows: int = 5_000_000,
):
    """scikit-learn adapter — the recast of ``PliersTransformer.transform``
    (pliers/utils/scikit.py:18-55): split metadata columns out of the
    merged feature table and return ``(X: ndarray, metadata: pd.DataFrame)``
    ready for an sklearn estimator.

    Driver-side by design (sklearn is driver-side); guarded by
    ``max_rows`` so a 100 TB table cannot be collected by accident —
    aggregate or sample to a model-sized frame first. Arrow-accelerated
    ``toPandas`` transfer.
    """
    import numpy as np

    names = df.columns
    if metadata_cols is None:
        metadata_cols = [c for c in names if not isinstance(df.schema[c].dataType, _NUM_TYPES)]
    if feature_cols is None:
        feature_cols = [c for c in names if c not in metadata_cols]
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"to_sklearn would collect {n} rows (> max_rows={max_rows}); "
            "aggregate/sample first — this adapter is for model-sized frames"
        )
    pdf = df.select(*metadata_cols, *feature_cols).toPandas()
    X = pdf[feature_cols].to_numpy(dtype=np.float64)
    return X, pdf[metadata_cols]
