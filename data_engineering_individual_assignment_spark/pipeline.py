"""The reference's daily DAG as a handful of Spark jobs (SURVEY §3.1).

Reference task chain (final DAG 746):
    create_schema -> youtube_web_scraping -> save_scraped_data_to_s3
    -> save_scraped_data_to_postgres_db -> lambda_regression_model

Spark lifecycle replacing it: the fetch stage lands raw JSONL (out of
engine scope — Spark has no YouTube source, SURVEY §4.3); then each
warehouse table is one lazy plan that normalizes, cleans and lands as a
date-partitioned parquet overwrite (idempotent per day — the reference's
retry could double-insert, F:601-656).  The day's tables land
concurrently, one driver thread per table, so their small jobs share the
cores instead of queueing.  The views over them are registered with the
schemas the driver already holds (no footer-inference job), and the
regression model runs as ONE aggregation over the statistics view whose
1-row result lands as a JSON artifact (S11).  The only process
boundaries left are driver->executors and source/sink I/O; XCom/eval
JSON round-trips (S13) are gone.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.regression import ols_fit_rmse
from .sinks.writers import (
    overwrite_day_partition,
    register_warehouse_view,
    write_json_artifact,
)
from .sources import youtube

WAREHOUSE_TABLES = (
    "video_descriptions",
    "video_statistics",
    "video_comments",
    "video_tags",
)

# the served model; alphabetical, the order JSON inference would give
MODEL_SCHEMA = "b0 double, b1 double, n bigint, rmse double"


def daily_run(
    spark: SparkSession,
    landing: dict[str, str],
    warehouse_dir: str,
    day: str,
    ga_csv_path: str | None = None,
) -> dict[str, DataFrame]:
    """One scheduled run: landing JSONL -> 4 warehouse tables (idempotent
    day overwrite, written concurrently) -> regression artifact.  Returns
    the table DataFrames.  If a table's write fails, the others still
    land and the first error is raised.

    ``landing`` maps {search, comments, stats, snippets} to paths;
    ``day`` is the reference's 'yyyy_MM_dd' run key (F:36-39).
    ``ga_csv_path``: when given, the Google-Analytics flat file loads as
    the 5th warehouse table ``website_statistics`` (active in the
    reference's v5, commented out in final — V5:577,649-660).
    """
    tables = youtube.normalize_all(
        spark,
        landing["search"],
        landing["comments"],
        landing["stats"],
        landing["snippets"],
    )
    if ga_csv_path is not None:
        from .sources.readers import read_ga_csv

        tables["website_statistics"] = read_ga_csv(spark, ga_csv_path).drop(
            "date_parsed"
        )
    paths = {name: os.path.join(warehouse_dir, name) for name in tables}
    with ThreadPoolExecutor(len(tables)) as pool:
        # wrap per submission: one wrapper per thread gets its own copy of
        # the caller's local properties (job group, description); a shared
        # copy would let the threads overwrite each other's SQL execution id
        futures = [
            pool.submit(
                inheritable_thread_target(spark)(overwrite_day_partition),
                df,
                paths[name],
                day,
            )
            for name, df in tables.items()
        ]
    for future in futures:  # the pool has waited for every write
        future.result()  # re-raises the first failed write
    for name, df in tables.items():
        register_warehouse_view(spark, name, paths[name], df.schema)

    # the Lambda model (views -> comments OLS + in-sample RMSE), straight
    # from the just-registered statistics view (every landed day) — no
    # collect, no separate runtime.  (The held-out-split variant is
    # operators.regression.evaluate; a daily artifact fits on the table.)
    xy = spark.table("video_statistics").select(
        F.col("views").alias("x"), F.col("comments").alias("y")
    )
    model = ols_fit_rmse(xy, "x", "y")
    write_json_artifact(model, os.path.join(warehouse_dir, "regression_model", day))
    return tables


def model_http_response(spark: SparkSession, warehouse_dir: str, day: str) -> dict:
    """S12: the API-Gateway response the reference's Lambda returns
    (LF:94-109) — read the day's model artifact and wrap it.  The ONLY
    collect in the package, and it collects exactly one row, at the
    serving boundary where a single JSON document is the product.

    The artifact is read with its declared schema: one job, not two, and
    the body always carries the four keys (``null`` where the fit is
    undefined, e.g. constant views), where inference would drop the
    fields the JSON writer left out."""
    import json

    df = spark.read.schema(MODEL_SCHEMA).json(
        os.path.join(warehouse_dir, "regression_model", day)
    )
    row = df.collect()[0].asDict()
    return {
        "statusCode": 200,
        "headers": {"Content-Type": "application/json"},
        "body": json.dumps(row),
    }
