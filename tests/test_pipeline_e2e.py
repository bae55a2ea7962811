"""End-to-end daily pipeline test (SURVEY §3.1): landing fixtures ->
warehouse parquet -> SQL over the star schema -> model artifact.
Also covers the GA flat file (S7) + nearest-date as-of enrichment."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

LANDING_KEYS = ("search", "comments", "stats", "snippets")


def _landing(base: str, stats: list[tuple[int, int]] | None = None) -> dict[str, str]:
    """The fixture landing files; ``stats`` replaces the statistics pages
    with one video per (views, comments) pair."""
    from data_engineering_individual_assignment_spark.sources import fixtures

    paths = fixtures.write_fixtures(base)
    if stats is not None:
        with open(paths["stats"], "w") as fh:
            for i, (views, comments) in enumerate(stats):
                page = {"video_id": f"v{i}", "items": [{"statistics": {
                    "viewCount": str(views), "commentCount": str(comments)}}]}
                fh.write(json.dumps(page) + "\n")
    return {k: paths[k] for k in LANDING_KEYS}


def _ga_csv(tmp_path) -> str:
    """A two-day Google-Analytics flat file."""
    ga_path = str(tmp_path / "ga.csv")
    with open(ga_path, "w") as fh:
        fh.write(
            "date,average_session_duration,bounce_rate,new_users,"
            "number_of_sessions_per_user,pages_per_session,page_views,users\n"
            "04/03/2021,120.5,0.4,10,1.2,3.4,500,40\n"
            "06/03/2021,130.0,0.35,12,1.3,3.6,600,45\n"
        )
    return ga_path


def _grouped_jobs(spark, group: str, fn):
    """Run ``fn`` under a job group; return the number of jobs in the
    group and the number of jobs started outside any group."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    stray = set(tracker.getJobIdsForGroup(None)) - ungrouped
    return len(tracker.getJobIdsForGroup(group)), len(stray)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    from data_engineering_individual_assignment_spark import pipeline
    from data_engineering_individual_assignment_spark.sources import fixtures

    base = tmp_path_factory.mktemp("landing")
    wh = str(tmp_path_factory.mktemp("warehouse"))
    paths = fixtures.write_fixtures(str(base))
    tables = pipeline.daily_run(
        spark,
        {"search": paths["search"], "comments": paths["comments"],
         "stats": paths["stats"], "snippets": paths["snippets"]},
        wh,
        day="2026_08_13",
    )
    return wh, tables


def test_warehouse_tables_written_and_queryable(spark, warehouse):
    wh, _ = warehouse
    # the video_id star join the reference's schema implies (§2.3)
    out = spark.sql(
        """
        SELECT d.video_id, d.video_title, s.views,
               count(c.comment) AS n_comments,
               count(DISTINCT t.tag_value) AS n_tags
        FROM video_descriptions d
        JOIN video_statistics s ON d.video_id = s.video_id
        LEFT JOIN video_comments c ON d.video_id = c.video_id
        LEFT JOIN video_tags t ON d.video_id = t.video_id
        GROUP BY d.video_id, d.video_title, s.views
        ORDER BY d.video_id
        """
    ).collect()
    assert [r["video_id"] for r in out] == ["vidA", "vidB", "vidC"]
    by_id = {r["video_id"]: r for r in out}
    assert by_id["vidA"]["views"] == 1000
    assert by_id["vidB"]["n_comments"] == 2
    assert by_id["vidC"]["n_comments"] == 0


def test_daily_rerun_is_idempotent(spark, warehouse):
    wh, _ = warehouse
    from data_engineering_individual_assignment_spark import pipeline
    from data_engineering_individual_assignment_spark.sources import fixtures
    import tempfile

    with tempfile.TemporaryDirectory() as base:
        paths = fixtures.write_fixtures(base)
        n_before = spark.read.parquet(f"{wh}/video_comments").count()
        pipeline.daily_run(
            spark,
            {"search": paths["search"], "comments": paths["comments"],
             "stats": paths["stats"], "snippets": paths["snippets"]},
            wh,
            day="2026_08_13",  # same day again — the retry scenario
        )
        assert spark.read.parquet(f"{wh}/video_comments").count() == n_before


def test_model_artifact_written(spark, warehouse):
    wh, _ = warehouse
    model = spark.read.json(f"{wh}/regression_model/2026_08_13")
    row = model.collect()[0]
    assert row["n"] == 3
    assert row["b1"] is not None and row["rmse"] is not None


def test_ga_csv_and_asof_enrichment(spark, warehouse, tmp_path):
    """S7 + the nearest-date GA lookup (SURVEY §4.3): comments enriched
    with the most recent website_statistics row at-or-before their date."""
    from data_engineering_individual_assignment_spark.operators.joins import asof_join
    from data_engineering_individual_assignment_spark.sources.readers import read_ga_csv

    wh, tables = warehouse
    ga = read_ga_csv(spark, _ga_csv(tmp_path))
    assert dict(ga.dtypes)["date_parsed"] == "date"

    comments = tables["video_comments"].withColumn(
        "comment_date", F.to_date("date", "yyyy/MM/dd")
    ).withColumn("join_key", F.lit(1))
    enriched = asof_join(
        comments,
        ga.withColumn("join_key", F.lit(1)),
        left_ts="comment_date",
        right_ts="date_parsed",
        left_by="join_key",
        right_by="join_key",
    )
    rows = enriched.select("comment_date", "page_views").collect()
    for r in rows:
        d = str(r["comment_date"])
        if d < "2021-03-04":
            assert r["page_views"] is None
        elif d < "2021-03-06":
            assert r["page_views"] == 500   # nearest GA day: 04/03
        else:
            assert r["page_views"] == 600   # nearest GA day: 06/03


def test_views_declare_the_written_schema(spark, warehouse):
    """Each view reads back with the schema the writer held: the same
    types and nullability as an inferring read of the same path."""
    from data_engineering_individual_assignment_spark.pipeline import WAREHOUSE_TABLES

    wh, _ = warehouse
    for name in WAREHOUSE_TABLES:
        view = [(f.name, f.dataType, f.nullable) for f in spark.table(name).schema]
        inferred = spark.read.parquet(os.path.join(wh, name)).schema
        assert view == [(f.name, f.dataType, f.nullable) for f in inferred], name


def test_daily_run_job_budget(spark, warehouse, tmp_path):
    """Concurrent landing, declared read-backs and the one-aggregation
    model: a day takes at most 11 jobs (18 when the writes ran one after
    another and every read-back inferred its schema), serving takes 1,
    and every job carries the caller's job group."""
    from data_engineering_individual_assignment_spark import pipeline

    wh, _ = warehouse
    landing = _landing(str(tmp_path))
    n_run, stray_run = _grouped_jobs(
        spark, "test-daily-run",
        lambda: pipeline.daily_run(spark, landing, wh, day="2026_08_13"),
    )
    n_serve, stray_serve = _grouped_jobs(
        spark, "test-serve",
        lambda: pipeline.model_http_response(spark, wh, "2026_08_13"),
    )
    assert 0 < n_run <= 11
    assert n_serve == 1
    assert stray_run == stray_serve == 0


@pytest.mark.parametrize(
    "stats, exact",
    [
        (None, False),  # the fixture day
        ([(x, 2 * x + 1) for x in (1, 3, 4, 8, 9)], True),
        ([(5 * x, (x * x) % 7 + x) for x in range(1, 41)], False),
    ],
    ids=["fixture", "exact_fit", "noisy"],
)
def test_served_model_matches_numpy_ols(spark, tmp_path, stats, exact):
    from data_engineering_individual_assignment_spark import pipeline

    wh = str(tmp_path / "wh")
    pipeline.daily_run(spark, _landing(str(tmp_path), stats), wh, day="2026_08_13")
    body = json.loads(pipeline.model_http_response(spark, wh, "2026_08_13")["body"])
    assert list(body) == ["b0", "b1", "n", "rmse"]

    xy = np.array(
        spark.read.parquet(f"{wh}/video_statistics").select("views", "comments").collect(),
        dtype=float,
    )
    x, y = xy[:, 0], xy[:, 1]
    b1 = np.mean((x - x.mean()) * (y - y.mean())) / np.var(x)
    b0 = y.mean() - b1 * x.mean()
    rmse = np.sqrt(np.mean((b0 + b1 * x - y) ** 2))
    assert body["n"] == len(x)
    assert np.allclose([body["b0"], body["b1"]], [b0, b1], rtol=1e-9)
    if exact:  # y = 2x + 1: the one-pass residual variance rounds near 0
        assert (b0, b1) == pytest.approx((1.0, 2.0))
        assert body["rmse"] == pytest.approx(0.0, abs=1e-6)
    else:
        assert body["rmse"] == pytest.approx(rmse, rel=1e-9)


def test_constant_views_serve_all_four_keys(spark, tmp_path):
    """Zero x-variance: the fit is undefined, and the body still carries
    every key, with null where a value is undefined."""
    from data_engineering_individual_assignment_spark import pipeline

    wh = str(tmp_path / "wh")
    stats = [(100, c) for c in (1, 5, 9)]
    pipeline.daily_run(spark, _landing(str(tmp_path), stats), wh, day="2026_08_13")
    body = json.loads(pipeline.model_http_response(spark, wh, "2026_08_13")["body"])
    assert body == {"b0": None, "b1": None, "n": 3, "rmse": None}


def test_ga_csv_lands_as_fifth_table(spark, tmp_path):
    """With the GA file the day lands five tables from five threads, and
    the fifth view reads back like the others."""
    from data_engineering_individual_assignment_spark import pipeline

    wh = str(tmp_path / "wh")
    pipeline.daily_run(
        spark, _landing(str(tmp_path)), wh, day="2026_08_13",
        ga_csv_path=_ga_csv(tmp_path),
    )
    view = spark.table("website_statistics")
    assert view.dtypes == spark.read.parquet(f"{wh}/website_statistics").dtypes
    assert [r["page_views"] for r in view.orderBy("date").collect()] == [500, 600]
    assert view.filter(F.col("ingest_date") == "2026_08_13").count() == 2


def test_failed_table_write_raises_and_others_land(spark, tmp_path, monkeypatch):
    from data_engineering_individual_assignment_spark import pipeline

    write = pipeline.overwrite_day_partition

    def failing(df, path, day):
        if path.endswith("video_tags"):
            raise RuntimeError("disk full")
        write(df, path, day)

    monkeypatch.setattr(pipeline, "overwrite_day_partition", failing)
    wh = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="disk full"):
        pipeline.daily_run(spark, _landing(str(tmp_path)), wh, day="2026_08_13")
    for name in ("video_descriptions", "video_statistics", "video_comments"):
        assert os.path.isdir(os.path.join(wh, name, "ingest_date=2026_08_13")), name
    assert not os.path.exists(os.path.join(wh, "video_tags"))
    assert not os.path.exists(os.path.join(wh, "regression_model"))
