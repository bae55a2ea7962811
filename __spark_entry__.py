"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's OLS regression
model — ``05_AWS_Lambda/.../lambda_function_final.py`` — as a single
aggregation plan) on sf0.001.  ``queries()``/``oracle_sql()`` expose the
full catalog in ``data_engineering_individual_assignment_spark/plans/``:
every SURVEY.md §2 operator plus the §2.11 LLM-pipeline extensions, each
with a DuckDB oracle when SQL-expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_engineering_individual_assignment_spark import plans
from data_engineering_individual_assignment_spark.operators.dedup import (
    release_intermediates,
)
from data_engineering_individual_assignment_spark.session import tune_for_oracle


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune_for_oracle(spark)
    return plans.CATALOG["regression_ols"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            # the caller materializes a query after run() returns, so the
            # previous query's cached intermediates are released here,
            # before the next one is built
            release_intermediates()
            tune_for_oracle(spark)  # UTC session TZ for oracle comparison
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(fn) for name, fn in plans.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return plans.oracle_sql()
