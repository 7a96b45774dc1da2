"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship E2E workload slice (sessionize ->
valid-cycle filter -> per-cycle medians) on sf0.001. ``queries()`` /
``oracle_sql()`` expose every query registered in ``plans.queries.QUERIES``
(212: Q01-Q73 of SURVEY.md §2.14, the x01-x103 extension set and the
x104-x139 statistics set), each with its DuckDB oracle SQL; the driver
compares each pair via DuckDB at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from meshinsights_data_pipeline_spark.plans.queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q25"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.spark for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each queries() entry."""
    return {name: q.oracle for name, q in QUERIES.items()}
