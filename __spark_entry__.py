"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship feature-extraction pipeline at
sf0.001; ``queries()``/``oracle_sql()`` expose every implemented
operator (SURVEY.md §2) with its DuckDB oracle. Implementation lives in
``pliers_spark/``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: merged wide feature table over documents at sf0.001 —
    one scan → the Arrow page-feature stage keyed by doc_id (the Spark
    recast of pliers Graph.run + merge_results)."""
    import pliers_spark.queries  # noqa: F401 (registers queries)
    from pliers_spark.pages_pipeline import extract_document_features
    from pliers_spark.session import load_table

    # spread: the parquet is sub-MB → 1 split; fan the scan out to the
    # cores before the CPU-heavy extraction stage
    docs = load_table(spark, "/root/testdata/sf0.001", "documents", spread=True)
    return extract_document_features(docs)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pliers_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from pliers_spark.queries import ORACLES

    return dict(ORACLES)
