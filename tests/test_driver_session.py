"""Driver-session type-drift sweep.

The round driver hands us a vanilla SparkSession it built itself — not
our ``get_spark`` — so session-level defaults can differ from the local
test session.  Round 2 shipped a bug exactly of this class:
``sessionize_events`` used ``unix_micros``, which raises
DATATYPE_MISMATCH when ``spark.sql.parquet.inferTimestampNTZ.enabled``
makes ``events.ts`` resolve as TIMESTAMP_NTZ instead of TIMESTAMP.

This sweep flips the two session knobs most likely to drift —
timestamp-NTZ inference ON and a hostile non-UTC session time zone —
then *executes* every catalog query at sf0.001.  It asserts no query
raises; value-level parity is covered by test_queries_oracle (UTC
session) and the /verify recipe (hostile session + oracle at sf0.01).
"""

from __future__ import annotations

import pytest

from .conftest import SF_SMALL

HOSTILE_CONFS = {
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.session.timeZone": "America/New_York",
}


@pytest.fixture(scope="module")
def hostile_spark(spark):
    saved = {k: spark.conf.get(k) for k in HOSTILE_CONFS}
    for k, v in HOSTILE_CONFS.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


def _catalog_names():
    from data_engineering_individual_assignment_spark import plans

    return sorted(plans.CATALOG)


@pytest.mark.parametrize("name", _catalog_names())
def test_query_executes_under_driver_shaped_session(hostile_spark, name):
    from data_engineering_individual_assignment_spark import plans

    df = plans.CATALOG[name].fn(hostile_spark, SF_SMALL)
    # touching every column (count would let Catalyst prune the
    # projection whose expression types we are trying to exercise)
    df.write.format("noop").mode("overwrite").save()


@pytest.mark.parametrize("value", [None, "four"], ids=["unset", "invalid"])
def test_local_cpus_defaults_to_affinity(monkeypatch, value):
    """Without a valid SPARK_GRAFT_CPUS the local master is sized to the
    cores this process may run on, not to a fixed count."""
    import os

    from data_engineering_individual_assignment_spark.session import local_cpus

    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert local_cpus() == len(os.sched_getaffinity(0))


def test_query_run_keeps_the_session_shuffle_width(spark):
    """The test session already has the shape ``tune_for_oracle`` sets,
    so running a query through the driver contract changes nothing:
    every Tier-1 test runs at one shuffle width, whatever ran first."""
    import __spark_entry__ as entrymod

    width = str(spark.sparkContext.defaultParallelism)
    tz = spark.conf.get("spark.sql.session.timeZone")
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    try:
        entrymod.queries()["pricing_summary"](spark, SF_SMALL)
        assert spark.conf.get("spark.sql.shuffle.partitions") == width
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_get_spark_applies_the_session_policy(spark):
    """``get_spark`` on an existing session whose time zone and
    adaptive broadcast threshold drifted hands it back with the policy
    applied."""
    from data_engineering_individual_assignment_spark.session import get_spark

    drift = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "1",
    }
    saved = {k: spark.conf.get(k) for k in drift}
    for k, v in drift.items():
        spark.conf.set(k, v)
    try:
        assert get_spark() is spark
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold"
        ) == str(64 * 1024 * 1024)
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
