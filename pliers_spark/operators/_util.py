"""Shared helpers for temporal operators."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType


def ts_micros(col: Column, dtype) -> Column:
    """Exact integer epoch microseconds of a timestamp column, whatever
    the session time zone: a ``timestamp`` is an instant already, and a
    ``timestamp_ntz`` wall-clock value is read as UTC. Casting the NTZ
    value to ``timestamp_ltz`` instead would read it in the session
    zone, so every difference across a DST change would be off by an
    hour."""
    if isinstance(dtype, TimestampNTZType):
        return F.timestamp_diff("MICROSECOND", F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'"), col)
    return F.unix_micros(col)


def micros(col: Column, dtype) -> Column:
    """Exact integer microseconds for timestamps (:func:`ts_micros`);
    pass-through µs scaling for numeric columns."""
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return ts_micros(col, dtype)
    return (col.cast("double") * F.lit(1_000_000.0)).cast("long")


def lit_micros(value, dtype) -> Column:
    """:func:`micros` of a literal bound (e.g. ``"2024-01-01 00:00:00"``)
    on a column of type ``dtype``: for a ``timestamp_ntz`` column a
    wall-clock value read as UTC, as :func:`ts_micros` reads the column;
    otherwise an instant, a string one read in the session zone."""
    t = dtype if isinstance(dtype, TimestampNTZType) else TimestampType()
    return ts_micros(F.lit(value).cast(t), t)


def epoch_micros(df: DataFrame, col: str) -> Column:
    """:func:`micros` of a column of ``df``."""
    return micros(F.col(col), df.schema[col].dataType)


def seconds(col: Column, dtype) -> Column:
    """Epoch seconds as double (µs-precise) for timestamps; a cast for
    numeric columns."""
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return ts_micros(col, dtype) / F.lit(1_000_000.0)
    return col.cast("double")


def epoch_seconds(df: DataFrame, col: str) -> Column:
    """:func:`seconds` of a column of ``df``."""
    return seconds(F.col(col), df.schema[col].dataType)
