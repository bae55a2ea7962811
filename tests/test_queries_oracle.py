"""DuckDB-oracle differential tests — the local twin of the driver's
correctness gate.  Every catalog query with an oracle runs in both
engines at sf0.001 (fast) and must match row-count + schema + canonical
values.  Set SPARK_TEST_SF_DIR=/root/testdata/sf0.01 to run at the
driver's scale factor."""

from __future__ import annotations

import pytest

from .conftest import SF_ORACLE
from .oracle_utils import compare, duck_con


def _catalog():
    from data_engineering_individual_assignment_spark import plans

    return plans.CATALOG


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_ORACLE)
    yield c
    c.close()


def test_catalog_nonempty():
    assert len(_catalog()) >= 10


@pytest.mark.parametrize("name", sorted(_catalog().keys()))
def test_query_against_oracle(spark, con, name):
    """Also: no query may compile to an unconditioned cartesian product
    over two large inputs (broadcast nested-loop against literal/1-row
    frames is fine and expected for range joins + coefficient joins).
    The plan is read before the query runs."""
    q = _catalog()[name]
    df = q.fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "CartesianProduct" not in plan, f"{name}: compiled a CartesianProduct"
    if q.sql is None:
        # rows-only contract: must execute and return a stable schema
        assert df.columns, f"{name}: no columns"
        df.collect()  # must not raise
        return
    problems = compare(df, con, q.sql)
    assert not problems, f"{name}: " + " | ".join(problems)
