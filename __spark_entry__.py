"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose the engine's operator catalog
(one entry per implemented operator from SURVEY.md §2 plus the
training-data-pipeline extensions), hash-compared against DuckDB
at sf0.01 by the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from us_dot_flights_lakehouse_spark import queries as _registry
from us_dot_flights_lakehouse_spark.queries.agg_q import (
    daily_segment_performance,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return daily_segment_performance(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for ops that are
    not SQL-expressible; those get a rows-only check)."""
    return _registry.oracle_sql()
