"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship S6-style enrichment join at sf0.001;
``queries()``/``oracle_sql()`` expose the full SURVEY.md §2 inventory from
training_flink_sql_cc_src_spark.registry (one oracle-matched pair per
operator; non-SQL-expressible ops have no oracle → rows-only check).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from training_flink_sql_cc_src_spark.registry import (
    driver_oracles,
    driver_queries,
)
from training_flink_sql_cc_src_spark.session import ensure_package_shipped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    S6 re-expressed (terraform/lab-aggregations/main.tf:563): fact table
    enriched by two dimension joins (AQE picks broadcast at small SF).
    """
    from training_flink_sql_cc_src_spark.queries.attested import (
        s6_orders_enriched_join,
    )

    return s6_orders_enriched_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (fold-suite
    members are attested through their fold's row; see
    registry.driver_queries for the rotation arithmetic).

    Each callable first ships the package to the session's Python
    workers (once per SparkContext), so pandas UDFs and streaming
    matchers import it whatever the driver's working directory."""

    def shipped(fn):
        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_package_shipped(spark)
            return fn(spark, sf_dir)

        return run

    return {name: shipped(fn) for name, fn in driver_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each oracle-matched query."""
    return driver_oracles()
