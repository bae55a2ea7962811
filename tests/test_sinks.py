"""Sink tests: idempotent day overwrite, ';'-CSV round-trip, JSON artifact."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from .conftest import SF_SMALL


def test_overwrite_day_partition_idempotent(spark, tmp_path):
    from data_engineering_individual_assignment_spark.sinks import (
        overwrite_day_partition,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    # a STATIC session: dynamic overwrite must come from the writer
    key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(key)
    spark.conf.set(key, "static")
    wh = str(tmp_path / "wh")
    orders = load_table(spark, SF_SMALL, "orders").limit(100)
    overwrite_day_partition(orders, wh, "2026_08_13")
    n1 = spark.read.parquet(wh).count()
    # rerun the same day (the reference's retry scenario): no duplication
    overwrite_day_partition(orders, wh, "2026_08_13")
    n2 = spark.read.parquet(wh).count()
    assert n1 == n2 == 100
    # a second day adds, first day untouched
    overwrite_day_partition(orders.limit(10), wh, "2026_08_14")
    assert spark.read.parquet(wh).count() == 110
    # re-running the first day leaves the second day's partition in place
    overwrite_day_partition(orders.limit(40), wh, "2026_08_13")
    per_day = {
        r["ingest_date"]: r["count"]
        for r in spark.read.parquet(wh).groupBy("ingest_date").count().collect()
    }
    assert per_day == {"2026_08_13": 40, "2026_08_14": 10}
    # dynamic overwrite is a writer option: the session conf is untouched
    assert spark.conf.get(key).lower() == "static"
    spark.conf.set(key, mode_before)


def test_semicolon_csv_roundtrip(spark, tmp_path):
    from data_engineering_individual_assignment_spark.sinks import write_semicolon_csv
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
        read_semicolon_csv,
    )

    out = str(tmp_path / "csv")
    df = (
        load_table(spark, SF_SMALL, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )
    write_semicolon_csv(df, out)
    files = glob.glob(out + "/*.csv")
    assert len(files) == 1  # one-file-per-day layout like the reference
    with open(files[0]) as fh:
        header = fh.readline().strip()
    assert header == "n_nationkey;n_name;n_regionkey"
    back = read_semicolon_csv(
        spark, out, "n_nationkey INT, n_name STRING, n_regionkey INT"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_artifact(spark, tmp_path):
    from data_engineering_individual_assignment_spark.operators.regression import (
        evaluate,
    )
    from data_engineering_individual_assignment_spark.sinks import write_json_artifact
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    out = str(tmp_path / "model")
    li = load_table(spark, SF_SMALL, "lineitem")
    result = evaluate(
        li.select(F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")),
        "x", "y", deterministic_key="x",
    )
    write_json_artifact(result, out)
    back = spark.read.json(out)
    row = back.collect()[0]
    assert row["rmse"] > 0 and row["n_train"] > 0


def test_jdbc_writer_invocation_contract(spark):
    """S10: no database/driver jar ships in this container, so assert the
    contract — mode validation, partition capping, and that the driver
    class + url reach the JDBC source (the save fails on the missing
    driver CLASS, not on option assembly)."""
    import pytest
    from data_engineering_individual_assignment_spark.sinks.writers import (
        jdbc_writer,
        write_jdbc,
    )

    df = spark.range(10).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        jdbc_writer(df, "jdbc:postgresql://h/db", "t", mode="replace")

    # num_partitions caps concurrent connections
    capped = jdbc_writer(df, "jdbc:postgresql://h/db", "t", num_partitions=3)
    assert capped._df.rdd.getNumPartitions() == 3

    # driver option is wired through: resolution fails on that class
    with pytest.raises(Exception) as ei:
        write_jdbc(df, "jdbc:postgresql://h/db", "t", mode="overwrite")
    assert "org.postgresql.Driver" in str(ei.value)


def test_jsonl_roundtrip(spark, tmp_path):
    from data_engineering_individual_assignment_spark.sinks.writers import write_jsonl
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
        read_jsonl,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out)
    back = read_jsonl(
        spark, out,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert back.count() == docs.count()
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from data_engineering_individual_assignment_spark.sinks.maintenance import (
        compact_parquet,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compact")
    li = load_table(spark, SF_SMALL, "lineitem")
    # simulate streaming-ingest fragmentation: 64 tiny files
    li.repartition(64).write.parquet(src)
    n_small = len(glob.glob(f"{src}/part-*.parquet"))
    assert n_small == 64

    n_target = compact_parquet(spark, src, dst, target_file_mb=128)
    n_after = len(glob.glob(f"{dst}/part-*.parquet"))
    assert n_target == n_after == 1  # sf0.001 lineitem << 128 MB
    # content preserved exactly
    assert spark.read.parquet(dst).count() == li.count()
    a = spark.read.parquet(dst).agg(F.sum("l_extendedprice")).first()[0]
    b = li.agg(F.sum("l_extendedprice")).first()[0]
    assert abs(a - b) < 1e-6


def test_scan_stats_manifest(spark, tmp_path):
    from data_engineering_individual_assignment_spark.sinks.maintenance import (
        scan_stats,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    src = str(tmp_path / "t")
    li = load_table(spark, SF_SMALL, "orders")
    li.repartition(4).write.parquet(src)
    stats = scan_stats(spark, src, ["o_orderkey", "o_totalprice"]).collect()
    assert len(stats) == 4
    assert sum(r.n_rows for r in stats) == li.count()
    lo = min(r.o_orderkey_min for r in stats)
    hi = max(r.o_orderkey_max for r in stats)
    row = li.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    assert (lo, hi) == (row[0], row[1])


def test_scan_stats_percent_encoded_path(spark, tmp_path):
    """Regression (ADVICE r6): input_file_name() returns a percent-encoded
    URI, so a table root containing a space ('%20' in the URI) never
    prefix-matched the plain-text abspath and the manifest silently
    leaked full URIs — which find_orphan_files/targeted_delete would
    then turn into garbage paths.  scan_stats now URL-decodes the URI
    and its consumers reject non-relative paths loudly."""
    from data_engineering_individual_assignment_spark.sinks.maintenance import (
        find_orphan_files,
        scan_stats,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    src = str(tmp_path / "with space" / "t")
    li = load_table(spark, SF_SMALL, "orders")
    li.repartition(2).write.parquet(src)
    manifest = scan_stats(spark, src, ["o_orderkey"])
    rows = manifest.collect()
    assert len(rows) == 2
    for r in rows:
        assert "://" not in r.file and not r.file.startswith("/"), r.file
        assert "%20" not in r.file, r.file
    # the consumer accepts the manifest and finds no orphans
    assert find_orphan_files(src, manifest) == []


def test_orc_round_trip(spark, tmp_path):
    """ORC write -> read preserves schema and values, and a filtered
    re-read pushes the predicate into the ORC scan."""
    from data_engineering_individual_assignment_spark.sinks.writers import write_orc
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
        read_orc,
    )
    from .conftest import SF_SMALL

    src = load_table(spark, SF_SMALL, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    assert back.count() == src.count()
    filtered = back.filter(back.o_orderkey < 100)
    plan = filtered._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split("PushedFilters")[1].split("]")[0]
    assert filtered.count() == src.filter(src.o_orderkey < 100).count()


def test_zorder_write_narrows_both_dimensions(spark, tmp_path):
    """After a z-order rewrite on (o_custkey, o_totalprice), the per-file
    min/max span of EACH column must shrink well below the full range on
    average — that's the property file/row-group skipping prunes on.  A
    single-column sort would narrow only its leading column."""
    from data_engineering_individual_assignment_spark.sinks.maintenance import (
        scan_stats,
        zorder_write,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table
    from .conftest import SF_SMALL

    src = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_files = 16  # 4 fixed curve bits -> 2 per dimension
    path = str(tmp_path / "orders_z")
    zorder_write(src, path, ("o_custkey", "o_totalprice"), n_files=n_files)

    stats = scan_stats(spark, path, ["o_custkey", "o_totalprice"]).collect()
    assert len(stats) == n_files
    lo_k, hi_k = src.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    lo_p, hi_p = src.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()

    def avg_span(rows, col, full):
        spans = [(r[f"{col}_max"] - r[f"{col}_min"]) / full for r in rows]
        return sum(spans) / len(spans)

    span_k = avg_span(stats, "o_custkey", hi_k - lo_k)
    span_p = avg_span(stats, "o_totalprice", hi_p - lo_p)
    # 16 curve segments fix the top 4 z-bits = 2 bits per dimension:
    # each file's expected span is ~1/4 per column (a random layout
    # gives ~1.0, a 1-d sort gives ~1/16 on one column and ~1.0 on the
    # OTHER — z-order is the only layout that narrows both)
    assert span_k < 0.5, span_k
    assert span_p < 0.5, span_p
    # round-trip integrity: same rows, no helper columns leaked
    back = spark.read.parquet(path)
    assert back.columns == ["o_orderkey", "o_custkey", "o_totalprice"]
    assert back.count() == src.count()


def test_observed_write_metrics_match_data(spark, tmp_path):
    """observe() must report the written row count and value sum from
    the write pass itself — equal to what a (more expensive) re-read
    audit would find."""
    from data_engineering_individual_assignment_spark.sinks.writers import (
        observed_write,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    src = load_table(spark, SF_SMALL, "orders")
    path = str(tmp_path / "orders_observed")
    got = observed_write(
        src, path,
        {"n_rows": F.count(F.lit(1)), "total_price": F.round(F.sum("o_totalprice"), 2)},
    )
    back = spark.read.parquet(path)
    assert got["n_rows"] == back.count()
    assert got["total_price"] == round(
        back.agg(F.sum("o_totalprice")).first()[0], 2
    )


def test_zorder_skipping_beats_linear_sort_on_trailing_dim(spark, tmp_path):
    """The z-order payoff measured as actual FILE-SKIPPING ratios from
    the scan_stats manifest: for a box predicate on EITHER dimension,
    z-order prunes a substantial share of files, while a linear sort on
    (custkey, totalprice) prunes ~nothing for a totalprice-only box —
    the trailing-dimension blindness z-order exists to fix."""
    from data_engineering_individual_assignment_spark.sinks.maintenance import (
        scan_stats,
        zorder_write,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table
    from .conftest import SF_SMALL

    src = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n_files = 16
    zpath = str(tmp_path / "z")
    lpath = str(tmp_path / "lin")
    zorder_write(src, zpath, ("o_custkey", "o_totalprice"), n_files=n_files)
    (
        src.repartitionByRange(n_files, "o_custkey", "o_totalprice")
        .sortWithinPartitions("o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    lo_p, hi_p = src.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    box_lo = lo_p + 0.45 * (hi_p - lo_p)
    box_hi = lo_p + 0.55 * (hi_p - lo_p)  # 10%-wide totalprice box

    def skip_ratio(path):
        rows = scan_stats(spark, path, ["o_totalprice"]).collect()
        skipped = sum(
            1 for r in rows
            if r["o_totalprice_max"] < box_lo or r["o_totalprice_min"] > box_hi
        )
        return skipped / len(rows)

    z_skip, lin_skip = skip_ratio(zpath), skip_ratio(lpath)
    # linear sort leads on custkey: totalprice spans ~the full range in
    # every file, so essentially nothing can be skipped on it
    assert lin_skip <= 0.25, lin_skip
    # z-order fixes 2 totalprice bits per file: files whose quarter lies
    # outside the 10% box are provably skippable
    assert z_skip >= 0.5, z_skip
    assert z_skip > lin_skip


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Operational surface: a landing dir whose later files carry an
    added column must read as the union schema under mergeSchema, with
    nulls for the column's pre-evolution files.  WITHOUT mergeSchema
    the scan takes ONE footer's schema (whichever file Spark samples —
    cheap default, so either per-file shape is acceptable, never an
    error)."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "landing")
    spark.range(3).select(F.col("id").alias("k")).write.parquet(d + "/batch=1")
    spark.range(3, 6).select(
        F.col("id").alias("k"), F.lit("new").alias("extra")
    ).write.parquet(d + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"k", "extra", "batch"}
    assert merged.count() == 6
    assert merged.filter(F.col("extra").isNull()).count() == 3
    assert merged.filter(F.col("extra") == "new").count() == 3

    # default path: schema comes from ONE footer (either file's shape)
    plain = spark.read.parquet(d)
    assert set(plain.columns) in ({"k", "batch"}, {"k", "extra", "batch"})
    assert plain.count() == 6


def test_find_orphan_files(spark, tmp_path):
    """Orphans are defined against the committed scan_stats manifest:
    a part file that appears on disk after the manifest was recorded
    (failed-write debris, manual copy) is flagged; the committed
    files are not."""
    import os
    import shutil

    from data_engineering_individual_assignment_spark.sinks.maintenance import (
        find_orphan_files,
        scan_stats,
    )

    d = str(tmp_path / "tbl")
    spark.range(100).repartition(2).write.parquet(d)
    manifest = scan_stats(spark, d, ["id"]).cache()
    manifest.count()
    assert find_orphan_files(d, manifest) == []

    # debris lands AFTER the manifest was committed
    keep = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    debris = "part-55555-aborted.c000.snappy.parquet"
    kept_rows = spark.read.parquet(os.path.join(d, keep)).count()
    shutil.copy(os.path.join(d, keep), os.path.join(d, debris))
    assert find_orphan_files(d, manifest) == [debris]
    # and a directory-listing scan WOULD silently read it — the
    # corruption the check exists to catch
    assert spark.read.parquet(d).count() == 100 + kept_rows

    os.remove(os.path.join(d, debris))  # "vacuum"
    assert find_orphan_files(d, manifest) == []


def test_read_parquet_evolved_merges_and_backstops(spark, tmp_path):
    """Schema evolution: files written before a column appeared must read
    as nulls under the merged schema, and the required-contract backstop
    must add a typed null column absent from every file."""
    from data_engineering_individual_assignment_spark.sources.readers import (
        read_parquet_evolved,
    )

    base = str(tmp_path / "evolved")
    spark.createDataFrame(
        [(1, "a")], "id long, name string"
    ).write.parquet(base)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(base)

    out = read_parquet_evolved(
        spark, base, required={"score": "double", "tier": "int"}
    )
    rows = {r.id: r for r in out.collect()}
    assert set(out.columns) == {"id", "name", "score", "tier"}
    assert rows[1].score is None and rows[2].score == 9.5
    assert rows[1].tier is None and rows[2].tier is None
    assert dict(out.dtypes)["tier"] == "int"


def test_targeted_delete_prunes_files_on_clustered_layout(spark, tmp_path):
    """On a range-clustered layout the delete must rewrite only the
    files whose min/max contain the keys; on a round-robin layout the
    same delete degrades to touching every file — the test pins BOTH,
    because the pruning claim is only real if the counter-case shows."""
    from data_engineering_individual_assignment_spark.sinks.maintenance import (
        targeted_delete,
    )

    df = spark.range(0, 4000).withColumn(
        "payload", F.md5(F.col("id").cast("string"))
    )

    clustered = str(tmp_path / "clustered")
    df.repartitionByRange(8, "id").write.parquet(clustered)
    out = targeted_delete(spark, clustered, "id", [7, 11])
    assert out["files_total"] == 8
    assert out["files_rewritten"] == 1  # 7 and 11 live in the same range file
    assert out["rows_deleted"] == 2
    remaining = spark.read.parquet(clustered)
    assert remaining.count() == 3998
    assert remaining.filter(F.col("id").isin(7, 11)).count() == 0

    scattered = str(tmp_path / "scattered")
    df.repartition(8).write.parquet(scattered)  # round-robin: no locality
    out2 = targeted_delete(spark, scattered, "id", [7, 11])
    assert out2["rows_deleted"] == 2
    # no locality => many files' ranges span the keys; the clustered
    # layout's pruning advantage must be strict
    assert out2["files_rewritten"] > out["files_rewritten"]
    assert spark.read.parquet(scattered).count() == 3998


def test_targeted_delete_null_keys_and_nested_layout(spark, tmp_path):
    """Two ADVICE-r5 regressions pinned: (a) a part file whose key column
    is entirely null has NULL scan-stats — it must be skipped, not crash
    the min/max comparison, and null-key rows elsewhere must survive the
    rewrite (a naive ~isin() filter silently deletes them); (b) a nested
    dt=.../part-*.parquet layout must resolve manifest basenames against
    the tree walk, not table-root join."""
    from data_engineering_individual_assignment_spark.sinks.maintenance import (
        targeted_delete,
    )

    # (a) flat table, one all-null-key file + one mixed file
    flat = str(tmp_path / "flat")
    nulls = spark.range(0, 50).select(
        F.lit(None).cast("long").alias("id"),
        F.lit("nullfile").alias("payload"),
    )
    mixed = spark.range(0, 100).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("id"),
        F.lit("mixed").alias("payload"),
    )
    nulls.coalesce(1).write.parquet(flat)
    mixed.coalesce(1).write.mode("append").parquet(flat)
    out = targeted_delete(spark, flat, "id", [7, 11])
    assert out["rows_deleted"] == 2
    remaining = spark.read.parquet(flat)
    # all 60 null-key rows (50 null-file + 10 mixed) survive
    assert remaining.filter(F.col("id").isNull()).count() == 60
    assert remaining.count() == 148

    # (b) nested dt= partition layout
    nested = str(tmp_path / "nested")
    df = spark.range(0, 1000).select(
        "id",
        (F.col("id") % 4).cast("string").alias("dt"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    df.write.partitionBy("dt").parquet(nested)
    out2 = targeted_delete(spark, nested, "id", [8, 16])
    assert out2["rows_deleted"] == 2, "nested part files were not located"
    left = spark.read.parquet(nested)
    assert left.count() == 998
    assert left.filter(F.col("id").isin(8, 16)).count() == 0
