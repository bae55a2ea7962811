"""Warehouse sinks (SURVEY §2.1 S8-S12).

The reference lands ';'-CSV files in S3 with date-keyed names
(``s3_save_file_func``, final DAG 496-528) and loads Postgres with a
per-row INSERT + commit loop (F:598-657) — at-least-once, duplicating on
retry.  Spark equivalents:

- canonical warehouse: date-partitioned parquet with *dynamic partition
  overwrite* — re-running a day replaces exactly that day (idempotent,
  fixes the retry-duplication hazard; SURVEY §3.1).
- compatibility sink: ';'-CSV with header, one file per day key, for
  consumers of the reference's file layout (S8).
- JSON artifact sink for the model-results handoff (S11, L2:100-104).
- JDBC sink (S10): ``write_jdbc`` wraps ``df.write.jdbc`` with the
  bulk-load options that replace the reference's per-row INSERT+commit
  loop (no driver jar ships in this container, so tests assert the
  invocation contract — options/mode assembly — not a live database).

Scale notes: partitionBy(ingest_date) gives partition pruning to every
downstream reader; dynamic overwrite touches only the partitions present
in the batch — a daily run rewrites 1/365th of the table, never the
whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_warehouse_table(
    df: DataFrame,
    path: str,
    partition_col: str = "ingest_date",
    mode: str = "overwrite",
) -> None:
    """Canonical sink: parquet partitioned by the ingest date, dynamic
    overwrite so reruns are idempotent per partition.  The mode is a
    writer option, not a session conf, so concurrent writers never
    touch shared state."""
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def overwrite_day_partition(
    df: DataFrame, path: str, day: str, partition_col: str = "ingest_date"
) -> None:
    """Replace exactly one day's partition (the reference's daily drop,
    made idempotent): stamp the partition value, dynamic-overwrite."""
    stamped = df.withColumn(partition_col, F.lit(day))
    write_warehouse_table(stamped, path, partition_col, mode="overwrite")


def write_semicolon_csv(df: DataFrame, path: str) -> None:
    """S8 compatibility: ';'-separated CSV with header — the reference's
    S3 file format (F:519-528).  coalesce(1) mirrors its one-file-per-day
    layout; drop it when a day's data is bigger than one worker."""
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("sep", ";")
        .option("header", True)
        .csv(path)
    )


def write_json_artifact(df: DataFrame, path: str) -> None:
    """S11: small result DataFrame (model coefficients, metrics) as JSON
    (the Lambda's results-to-S3 persistence, L2:100-104)."""
    df.coalesce(1).write.mode("overwrite").json(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed warehouse table: co-locates rows by hash(bucket_col) at
    WRITE time so later joins/aggregations on that key need NO shuffle —
    the canonical 100 TB trick for fact-fact joins that repeat daily
    (pay the shuffle once at ingest, never per query).  Verified in
    tests: a bucketed-bucketed equi-join plans zero Exchange operators.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    driver: str = "org.postgresql.Driver",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    **options: str,
):
    """S10: assemble the configured DataFrameWriter for a JDBC load —
    the bulk replacement for the reference's per-row INSERT + commit
    loop (F:598-657, one transaction per row).  Spark executes one
    batched transaction per partition (``batchsize`` rows per round
    trip); ``num_partitions`` caps concurrent connections so a
    1000-executor job doesn't open 1000 sessions against the database.

    Returned unsaved so tests (and dry runs) can inspect the contract;
    ``write_jdbc`` calls ``.save()``.
    """
    if mode not in {"append", "overwrite", "ignore", "error", "errorifexists"}:
        raise ValueError(f"unsupported JDBC save mode: {mode!r}")
    # coalesce, not repartition: capping connections must not pay a
    # full shuffle of the dataset on its way to the database
    out = df.coalesce(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("batchsize", str(batch_size))
        # idempotent-ish overwrite: truncate keeps the DDL (indexes,
        # grants) instead of drop+recreate
        .option("truncate", "true" if mode == "overwrite" else "false")
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    return writer


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    **kwargs,
) -> None:
    """Execute the JDBC load assembled by ``jdbc_writer``."""
    jdbc_writer(df, url, table, mode=mode, **kwargs).save()


def register_warehouse_view(
    spark: SparkSession,
    name: str,
    path: str,
    schema: T.StructType,
) -> None:
    """S9: expose a written table to SQL (the CREATE TABLE IF NOT EXISTS
    role, F:64-118) without a metastore: a temp view over the parquet.

    ``schema`` is the schema of the frame that was written; the view
    reads it back declared, plus the ``ingest_date`` partition column
    (its 'yyyy_MM_dd' keys infer as string anyway), so no footer job
    rediscovers what the writer already knew.  Fields are nullable, as
    a file source reports them."""
    fields = [T.StructField(f.name, f.dataType) for f in schema.fields]
    fields.append(T.StructField("ingest_date", T.StringType()))
    spark.read.schema(T.StructType(fields)).parquet(path).createOrReplaceTempView(name)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSONL corpus export: one JSON object per line, gzip-compressed
    parts (splittable alternatives like zstd/parquet are preferred for
    re-reads; gzip chosen for interchange).  No coalesce — a corpus
    export should write one part per task."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)


def write_orc(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """ORC export with zstd compression (splittable, better ratio than
    the zlib default).  Optional single-column partitioning for
    downstream partition pruning — same layout contract as the parquet
    warehouse writer."""
    w = df.write.mode("overwrite").option("compression", "zstd")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.orc(path)


def observed_write(
    df: DataFrame,
    path: str,
    metrics: dict[str, "Column"] | None = None,
) -> dict:
    """Write parquet while capturing ingest metrics IN THE SAME PASS via
    the Observation API — no second scan, no count() re-run (at 100 TB
    a post-write `spark.read.parquet(path).count()` audit is a whole
    extra job; observe() accumulates on the executors during the write
    itself and is exactly-once per action).

    ``metrics`` maps names to aggregate Columns (default: row count).
    Returns the observed values as a dict after the write completes.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    metrics = metrics or {"n_rows": F.count(F.lit(1))}
    obs = Observation("write_metrics")
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    observed.write.mode("overwrite").parquet(path)
    return obs.get
