"""Readers for the engine's table sources.

Covers the reference's scan surface (SURVEY §2.1):
- S6 (semicolon-CSV read, reference ``thehoxtontrend_full_pipeline_final.py:554-573``)
  -> ``read_semicolon_csv`` with an explicit schema (never inferSchema in prod:
  one extra full pass over 100 TB).
- S7 (comma-CSV Google-Analytics read, reference ``...v5.py:577``) -> ``read_ga_csv``.
- Parquet testdata tables -> ``load_table`` / ``load_tables``.

Scale notes: parquet scans get column pruning + predicate pushdown from
Catalyst for free; callers should select/filter as early as possible so the
pushed filters appear in the scan node (verify with ``.explain("formatted")``).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Schema cache for load_table.  The FIRST read of a path infers the
# schema from the parquet footer (correct for any input); later reads
# pass that schema explicitly, which skips the footer fetch +
# schema-merge step of DataSource resolution (measured 100 ms -> 21 ms
# per read locally; at 100 TB, footer inference touches every file of
# the table from the single-threaded driver — production tables keep
# the schema in catalog metadata for exactly this reason).  Only the
# SCHEMA (column names/types) is cached, never file listings, plans or
# data: every action still lists and scans the parquet input.
#
# Keying (r13): a WeakKeyDictionary keyed by the SparkSession OBJECT
# maps each live session to its own {path: schema} dict — entries die
# with the session, so a new SparkSession can never alias a dead one's
# cache (the r12 id(spark) key could: CPython reuses addresses after
# GC).  Per-session dicts are bounded (_MAX_CACHED_SCHEMAS, cleared
# wholesale when exceeded — re-inference is always correct), and
# ``invalidate_table`` lets in-place table rewrites (compaction / GDPR
# deletes) drop the entry for a path they changed.
_SCHEMA_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, object]]" = (
    weakref.WeakKeyDictionary()
)
_MAX_CACHED_SCHEMAS = 256


def _per_session(cache: "weakref.WeakKeyDictionary", spark: SparkSession) -> dict:
    per = cache.get(spark)
    if per is None:
        per = {}
        cache[spark] = per
    return per


# Memoized partition counts for operators/dedup._spread's probe, keyed
# by the path tag load_table attaches to the DataFrames it returns.
# df.rdd.getNumPartitions() converts the whole plan to an RDD on the
# driver (~120 ms per call); the count for a given (session, file path)
# is stable within a process, so pay it once.  Purely a performance
# heuristic: a stale entry can only mis-steer the repartition decision,
# never change results.  Session-scoped like _SCHEMA_CACHE, and dropped
# by invalidate_table when a rewrite changes the layout.
_NPARTS_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, int]]" = (
    weakref.WeakKeyDictionary()
)


def invalidate_table(spark: SparkSession, path: str) -> None:
    """Drop cached metadata (schema + partition-count memo) for ``path``
    — called by any code path that rewrites a table in place, so later
    ``load_table`` reads re-infer from the new footers instead of
    trusting stale entries."""
    _per_session(_SCHEMA_CACHE, spark).pop(path, None)
    _per_session(_NPARTS_CACHE, spark).pop(path, None)


def _scan_partitions(df: DataFrame) -> int:
    """``df``'s partition count, memoized per (session, path) for
    DataFrames load_table returned."""
    # __dict__.get (instance attrs only): getattr would fall through to
    # DataFrame.__getattr__, which resolves unknown names as COLUMNS —
    # a user table with a column named like the tag must not break here
    path = df.__dict__.get("_dei_nparts_path")
    if path is None:
        return df.rdd.getNumPartitions()
    per = _per_session(_NPARTS_CACHE, df.sparkSession)
    if path not in per:
        per[path] = df.rdd.getNumPartitions()
    return per[path]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table from ``sf_dir``.

    Spark has no TIMESTAMP(NANOS) parquet type; the events table stores
    ``ts`` as ns.  We read it as a long (legacy conf) and truncate to
    microseconds — exactly what DuckDB's µs-resolution TIMESTAMP does, so
    both engines see identical values."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    per = _per_session(_SCHEMA_CACHE, spark)
    cached = per.get(path)
    if cached is None:
        df = spark.read.parquet(path)
        if len(per) >= _MAX_CACHED_SCHEMAS:
            per.clear()
        per[path] = df.schema
    else:
        df = spark.read.schema(cached).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: `/` would go through double, whose 53-bit
        # mantissa can't hold epoch-nanos and drifts the result ±1µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Python-side tag for _scan_partitions: lets the partition-
    # count probe (df.rdd.getNumPartitions() = a full plan->RDD
    # conversion, ~120 ms of driver time per call) be memoized per
    # (session, path).  A perf heuristic key only — never used for
    # correctness.  Written into __dict__ (instance attrs) so the
    # reader side can use __dict__.get, which can never fall through to
    # DataFrame.__getattr__'s column resolution.
    df.__dict__["_dei_nparts_path"] = path
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several tables at once; defaults to all ten."""
    names = names or TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_temp_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the testdata tables as temp views so ``spark.sql`` works."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)


def read_semicolon_csv(
    spark: SparkSession, path: str, schema: T.StructType | str,
    multiline: bool = False,
) -> DataFrame:
    """The reference's warehouse-load scan: ';'-separated CSV with a header
    row (S6).  Explicit schema -- schema inference is a full extra scan.

    ``multiline=True`` parses quoted records that span physical lines
    (the reference's description table keeps embedded newlines).  Scale
    note: multiLine makes each file non-splittable — one task per file —
    so keep it off for columns the cleaning chain already strips
    newlines from, and shard multi-line inputs into many files."""
    return (
        spark.read.option("sep", ";")
        .option("header", True)
        .option("multiLine", multiline)
        .schema(schema)
        .csv(path)
    )


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal ingest (SURVEY §2.11): the binaryFile source reads
    opaque assets (images/audio/video) as (path, modificationTime,
    length, content:binary) — payloads stay columnar end-to-end, feeding
    the mapInPandas decoders in operators/multimodal.py.  At 100 TB set
    spark.sql.files.maxPartitionBytes so a partition holds a sensible
    number of assets."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


GA_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType()),
        T.StructField("average_session_duration", T.DoubleType()),
        T.StructField("bounce_rate", T.DoubleType()),
        T.StructField("new_users", T.LongType()),
        T.StructField("number_of_sessions_per_user", T.DoubleType()),
        T.StructField("pages_per_session", T.DoubleType()),
        T.StructField("page_views", T.LongType()),
        T.StructField("users", T.LongType()),
    ]
)


def read_ga_csv(spark: SparkSession, path: str) -> DataFrame:
    """Google-Analytics flat file (S7): comma CSV, dates as dd/MM/yyyy
    strings (reference keeps them as text; we add a typed ``date_parsed``)."""
    df = spark.read.option("header", True).schema(GA_SCHEMA).csv(path)
    return df.withColumn("date_parsed", F.to_date("date", "dd/MM/yyyy"))


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """JSONL corpus ingest (one JSON object per line — the lingua franca
    of LLM training corpora).  Explicit schema: inference would scan the
    corpus twice, and a 100 TB JSONL read must also set
    ``spark.sql.files.maxPartitionBytes`` so splits stay executor-sized.
    Lines that fail to parse surface in ``_corrupt_record`` when the
    schema includes it (PERMISSIVE default) rather than killing the job."""
    return spark.read.schema(schema).json(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """ORC scan — the other columnar warehouse interchange format Spark
    ships natively (Hive-ecosystem tables arrive as ORC as often as
    parquet).  Same optimizer benefits as parquet: column pruning,
    predicate pushdown, and (with spark.sql.orc.filterPushdown, on by
    default) row-group skipping via min/max stripes.  Schema optional:
    ORC footers carry types, and unlike CSV/JSON there is no extra
    inference scan."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw text shards: one row per line (``value`` string) plus the
    originating file path — the landing format for line-oriented corpus
    dumps.  ``spark.read.text`` splits large files on line boundaries,
    so shards parallelize without a pre-split step."""
    from pyspark.sql import functions as F

    return spark.read.text(path).withColumn(
        "source_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def read_parquet_evolved(
    spark: SparkSession, path: str, required: dict[str, str] | None = None
) -> DataFrame:
    """Schema-evolution-tolerant parquet scan: ``mergeSchema=true`` takes
    the UNION of every file footer's schema (a crawl that gained a
    column mid-run reads as one relation; files written before the
    column carry nulls), then ``required`` {column: type} backstops the
    contract — a column absent from EVERY file is materialized as a
    typed null column, and present columns are cast to the declared
    type so downstream plans never depend on which files happened to be
    scanned.

    mergeSchema costs one footer read per file (driver-side, metadata
    only) — at 100 TB prefer declaring the superset schema explicitly
    via ``required`` and leaving mergeSchema to the ragged-landing-zone
    case it exists for."""
    from pyspark.sql import functions as F

    df = spark.read.option("mergeSchema", "true").parquet(path)
    for col, typ in (required or {}).items():
        if col in df.columns:
            df = df.withColumn(col, F.col(col).cast(typ))
        else:
            df = df.withColumn(col, F.lit(None).cast(typ))
    return df
