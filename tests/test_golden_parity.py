"""Golden-file parity against the reference's real Test_Run artifacts
(SURVEY §5.2): the four ';'-CSVs under
``/root/reference/02_YouTube_API_Tables[Test_Run]/`` and the real
Google-Analytics flat file under ``03_Google_Analytics_Tables/``.

These are the reference's OWN outputs (notebook Test_Run; production
twin ``thehoxtontrend_full_pipeline_final.py:322-329,425-437,446-454``),
so they pin down the cleaning-chain and ordinal semantics on real data —
places where hand-derived fixtures could silently diverge:

- ``comment`` passed through demojize + ';'→',' + ascii-ignore + the
  two-pass control-char regex, so it must be a byte-for-byte FIXED POINT
  of our ``clean_text`` chain (18,952 real strings);
- ``tag_number`` came from the pandas wide-frame + melt + sort dance —
  our posexplode ordinals must regenerate the table exactly;
- the description table keeps embedded newlines → multiLine read;
- the GA file is 1,284 rows of dd/MM/yyyy-dated web stats (S7).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_individual_assignment_spark.functions.cleaning import (
    clean_text,
    replace_semicolons,
    slash_date_to_date,
)
from data_engineering_individual_assignment_spark.sources.readers import (
    read_ga_csv,
    read_semicolon_csv,
)

GOLDEN_DIR = "/root/reference/02_YouTube_API_Tables[Test_Run]"
GA_CSV = "/root/reference/03_Google_Analytics_Tables/Google_Analytics_Table.csv"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR), reason="reference Test_Run artifacts absent"
)


def _golden(spark, name: str, schema: str, multiline: bool = False):
    # escape [ ] — Hadoop path globbing would read them as a char class
    safe = GOLDEN_DIR.replace("[", "\\[").replace("]", "\\]")
    return read_semicolon_csv(
        spark, os.path.join(safe, name), schema, multiline=multiline
    )


def test_golden_comments_are_fixed_point_of_clean_chain(spark):
    df = _golden(
        spark,
        "Video_Comments_Table.csv",
        "date string, video_id string, comment string, author string, "
        "likes long, reply_flag int",
    )
    assert df.count() == 18952
    # the reference already ran its chain; ours must agree byte-for-byte
    # on the entire image (re-cleaning is the identity)
    changed = df.filter(
        clean_text("comment") != F.col("comment")
    ).count()
    assert changed == 0
    # author got only the delimiter pass in the Test_Run (non-ASCII kept)
    assert df.filter(replace_semicolons("author") != F.col("author")).count() == 0
    # dates are the reference's yyyy/MM/dd strings; all must parse
    assert df.filter(slash_date_to_date("date").isNull()).count() == 0
    flags = {r["reply_flag"] for r in df.select("reply_flag").distinct().collect()}
    assert flags == {0, 1}


def test_golden_tag_ordinals_regenerated_by_posexplode(spark):
    from data_engineering_individual_assignment_spark.sources.youtube import video_tags

    golden = _golden(
        spark, "Video_Tags_Table.csv",
        "video_id string, tag_number int, tag_value string",
    )
    rows = golden.collect()
    assert len(rows) == 1805
    # rebuild the videos?snippet page shape from the golden table (tags
    # in tag_number order) and push it back through the engine's
    # normalizer — the melt-derived ordinals must come back exactly
    pages = (
        golden.groupBy("video_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("tag_number", "tag_value"))
                ),
                lambda s: s["tag_value"],
            ).alias("tags")
        )
        .select(
            "video_id",
            F.array(
                F.struct(F.struct(F.col("tags").alias("tags")).alias("snippet"))
            ).alias("items"),
        )
    )
    ours = video_tags(pages).collect()
    assert len(ours) == len(rows)
    # same multiset of rows, byte-for-byte (golden values are ASCII and
    # ';'-free, so clean_text is the identity on them)
    assert sorted(map(tuple, ours)) == sorted(map(tuple, rows))
    # and the engine's ordering contract: video_id DESC, tag_number ASC
    assert ours == sorted(ours, key=lambda r: (r[0], -r[1]), reverse=True)


def test_golden_statistics_shape(spark):
    df = _golden(
        spark, "Video_Statistics_Table.csv",
        "video_id string, views long, likes long, dislikes long, comments long",
    )
    assert df.count() == 201
    assert df.select("video_id").distinct().count() == 201
    assert df.filter(F.col("views").isNull()).count() == 0


def test_golden_descriptions_multiline_read(spark):
    df = _golden(
        spark, "Video_Description_Table.csv",
        "date string, video_id string, video_title string, video_description string",
        multiline=True,
    )
    assert df.count() == 201  # 9,590 physical lines, 201 quoted records
    # the Test_Run ran only the delimiter pass on titles/descriptions
    assert df.filter(F.col("video_title").contains(";")).count() == 0
    assert df.filter(F.col("video_description").contains(";")).count() == 0
    assert df.filter(slash_date_to_date("date").isNull()).count() == 0
    # pin a known record (seen in the raw file) through the multiline parse
    known = df.filter(F.col("video_id") == "5fwm-A4xckQ").first()
    assert known is not None and known["date"] == "2021/05/09"
    assert "ALEX OXLADE CHAMBERLAIN" in known["video_title"]
    assert "\n" in known["video_description"]  # embedded newlines survive


def test_real_ga_file_ingests_and_enriches(spark, tmp_path):
    """S7 end-to-end on the reference's actual GA export: 1,284 daily
    rows, dd/MM/yyyy dates; land as website_statistics and as-of join a
    later date to the latest stats row at-or-before it (the reference's
    implied analyst query, SURVEY §1.2)."""
    from data_engineering_individual_assignment_spark.operators.joins import asof_join

    ga = read_ga_csv(spark, GA_CSV)
    assert ga.count() == 1284
    assert ga.filter(F.col("date_parsed").isNull()).count() == 0
    lo, hi = ga.agg(F.min("date_parsed"), F.max("date_parsed")).first()
    assert str(lo) == "2017-11-01" and str(hi) >= "2021-01-01"

    # land it the way the pipeline would, then read back
    dest = str(tmp_path / "website_statistics")
    ga.write.mode("overwrite").parquet(dest)
    stats = spark.read.parquet(dest)
    assert stats.count() == 1284

    # as-of enrichment: each comment-ish date gets the most recent GA row
    # (single GA series → constant by-key on both sides)
    probes = spark.createDataFrame(
        [(1, "2021-05-10"), (2, "2017-10-31")], "probe_id long, d string"
    ).withColumn("d", F.to_date("d"))
    out = {r["probe_id"]: r for r in asof_join(
        probes.withColumn("k", F.lit(1)),
        stats.withColumn("k", F.lit(1)),
        "d", "date_parsed", "k", "k",
        right_cols=["users", "date_parsed"],
    ).collect()}
    # GA export ends 2021-05-07: backward as-of carries that latest row
    assert str(out[1]["date_parsed"]) == "2021-05-07"
    assert out[2]["users"] is None  # probe before the GA range: no match
