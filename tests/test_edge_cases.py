"""Edge-case robustness: empty inputs, degenerate statistics, single
rows — operators must not throw or silently mis-shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_dedup_on_empty(spark):
    from data_engineering_individual_assignment_spark.operators.dedup import (
        exact_dedup,
        jaccard_join,
        near_dup_minhash,
    )

    e = _empty_docs(spark)
    assert exact_dedup(e, "text", "doc_id").count() == 0
    assert jaccard_join(e, "text", "doc_id").count() == 0
    assert near_dup_minhash(e, "text", "doc_id").count() == 0


def test_jaccard_short_docs_no_shingles(spark):
    """Docs with fewer tokens than the shingle width produce no shingles
    and must simply be absent, not crash."""
    from data_engineering_individual_assignment_spark.operators.dedup import jaccard_join

    df = spark.createDataFrame(
        [(1, "one two"), (2, "a"), (3, ""), (4, "long enough text here okay")],
        "doc_id long, text string",
    )
    assert jaccard_join(df, "text", "doc_id").count() == 0


def test_asof_empty_right_side(spark):
    from data_engineering_individual_assignment_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7)], "event_id long, ts string, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [], "o_custkey long, o_orderdate timestamp, o_orderkey long"
    )
    out = asof_join(
        left, right, "ts", "o_orderdate", "user_id", "o_custkey",
        tie_break="o_orderkey",
    ).collect()
    assert len(out) == 1 and out[0]["o_orderkey"] is None
    inner = asof_join(
        left, right, "ts", "o_orderdate", "user_id", "o_custkey",
        tie_break="o_orderkey", how="inner",
    ).collect()
    assert inner == []


def test_ols_constant_x_yields_null_slope(spark):
    from data_engineering_individual_assignment_spark.operators.regression import ols_fit

    df = spark.createDataFrame([(5.0, float(i)) for i in range(10)], "x double, y double")
    row = ols_fit(df, "x", "y").collect()[0]
    assert row["b1"] is None  # var_pop(x)=0 -> null, not a crash or inf


def test_ols_single_row(spark):
    from data_engineering_individual_assignment_spark.operators.regression import ols_fit

    df = spark.createDataFrame([(2.0, 3.0)], "x double, y double")
    row = ols_fit(df, "x", "y").collect()[0]
    assert row["n"] == 1 and row["b1"] is None


def test_topk_with_fewer_rows_than_k(spark):
    from data_engineering_individual_assignment_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)], "vec_id long, embedding array<double>"
    )
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=10).collect()
    assert len(out) == 2  # corpus minus self, fewer than k — no padding


def test_salted_join_empty_build(spark):
    from data_engineering_individual_assignment_spark.operators.skew import salted_join

    probe = spark.createDataFrame([(1, 10)], "row_id long, k long")
    build = spark.createDataFrame([], "k long, attr string")
    assert salted_join(probe, build, "k", probe_salt_col="row_id").count() == 0


def test_salted_join_rejects_outer_build_modes(spark):
    """right/full would emit each unmatched build row salt_factor times."""
    import pytest
    from data_engineering_individual_assignment_spark.operators.skew import salted_join

    probe = spark.createDataFrame([(1, 10)], "row_id long, k long")
    build = spark.createDataFrame([(10, "a")], "k long, attr string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError):
            salted_join(probe, build, "k", probe_salt_col="row_id", how=how)


_K1, _K2 = 2**53, 2**53 + 1  # indistinguishable as float64

# (left rows (event_id, ts, user_id), right rows (o_custkey, order_ts,
# o_orderkey), expected o_orderkey per event_id under how='left')
_ASOF_NULL_CASES = [
    (   # null ts on both sides, and a left row before every right row
        [(1, "2024-01-02 00:00:00", 7), (2, None, 7),
         (3, "2023-12-01 00:00:00", 7)],
        [(7, "2024-01-01 00:00:00", 100), (7, None, 999)],
        {1: 100, 2: None, 3: None},
    ),
    (   # int64 keys above 2^53 next to a null right key
        [(1, "2024-01-02 00:00:00", _K1), (2, "2024-01-02 00:00:00", _K2)],
        [(_K1, "2024-01-01 00:00:00", 100), (_K2, "2024-01-01 12:00:00", 200),
         (None, "2024-01-01 18:00:00", 999)],
        {1: 100, 2: 200},
    ),
    (   # ... and a null left key, which must not pick up the null right key
        [(1, "2024-01-02 00:00:00", _K1), (2, "2024-01-02 00:00:00", _K2),
         (3, "2024-01-02 00:00:00", None)],
        [(_K1, "2024-01-01 00:00:00", 100), (_K2, "2024-01-01 12:00:00", 200),
         (None, "2024-01-01 18:00:00", 999)],
        {1: 100, 2: 200, 3: None},
    ),
]


def test_asof_declarative_tolerates_null_timestamps(spark):
    """Null timestamps and null by-keys never match.  With nulls-first
    ordering a null-ts right row once sorted before everything and its
    payload was carried into null-ts left rows and left rows earlier
    than every real right row; a null left key once shared the null
    partition with a null right key and picked up its payload (999).
    Keys above 2^53 must stay distinct."""
    from data_engineering_individual_assignment_spark.operators.joins import asof_join

    for left_rows, right_rows, expect in _ASOF_NULL_CASES:
        left = spark.createDataFrame(
            left_rows, "event_id long, ts string, user_id long"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        right = spark.createDataFrame(
            right_rows, "o_custkey long, order_ts string, o_orderkey long"
        ).withColumn("order_ts", F.col("order_ts").cast("timestamp"))
        out = {r["event_id"]: r["o_orderkey"] for r in asof_join(
            left, right, "ts", "order_ts", "user_id", "o_custkey",
            right_cols=["o_orderkey"],
        ).collect()}
        assert out == expect
        inner = asof_join(
            left, right, "ts", "order_ts", "user_id", "o_custkey",
            right_cols=["o_orderkey"], how="inner",
        ).collect()
        assert sorted(r["event_id"] for r in inner) == sorted(
            k for k, v in expect.items() if v is not None
        )


def test_asof_rejects_empty_right_cols_and_positional_options(spark):
    """right_cols=[] would add no column; it must not silently mean
    every right column, which is what None means.  Options after
    right_by are keyword-only, so a stale seventh positional argument
    (the removed left_id) fails instead of becoming tie_break."""
    import pytest
    from data_engineering_individual_assignment_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", 7)], "event_id long, ts string, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(7, "2024-01-01 00:00:00", 100)],
        "o_custkey long, order_ts string, o_orderkey long",
    ).withColumn("order_ts", F.col("order_ts").cast("timestamp"))
    with pytest.raises(ValueError, match="right_cols"):
        asof_join(left, right, "ts", "order_ts", "user_id", "o_custkey", right_cols=[])
    every = asof_join(left, right, "ts", "order_ts", "user_id", "o_custkey")
    assert every.columns == left.columns + right.columns
    with pytest.raises(TypeError):
        asof_join(left, right, "ts", "order_ts", "user_id", "o_custkey", "event_id")


def test_asof_tie_break_excluded_from_right_cols(spark):
    """Regression: tie_break must work even when right_cols doesn't
    include it (it's carried in the struct, pruned from the output)."""
    from data_engineering_individual_assignment_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00", 7)], "event_id long, ts string, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(7, "2024-01-01 00:00:00", 1, 10.0), (7, "2024-01-01 00:00:00", 2, 20.0)],
        "o_custkey long, o_orderdate string, o_orderkey long, o_totalprice double",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    out = asof_join(
        left, right, "ts", "o_orderdate", "user_id", "o_custkey",
        tie_break="o_orderkey", right_cols=["o_totalprice"],
    ).collect()
    assert len(out) == 1
    assert out[0]["o_totalprice"] == 20.0   # max tie_break won
    assert "o_orderkey" not in out[0].asDict()  # pruned from output


def test_salted_join_left_anti_matches_plain(spark):
    """Anti semantics are salt-independent: every build key exists at
    every salt, so salted left_anti == plain left_anti."""
    from data_engineering_individual_assignment_spark.operators.skew import salted_join

    probe = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "row_id long, k long"
    )
    build = spark.createDataFrame([(10, "a"), (30, "c")], "k long, attr string")
    out = sorted(r["row_id"] for r in salted_join(
        probe, build, "k", probe_salt_col="row_id", how="left_anti"
    ).collect())
    assert out == [2]


# ---------------------------------------------------------------------------
# Round-3 operator edge cases: empty inputs must degrade, not throw
# ---------------------------------------------------------------------------
def test_interval_overlap_join_with_empty_side(spark):
    from data_engineering_individual_assignment_spark.operators.joins import (
        interval_overlap_join,
    )

    left = spark.createDataFrame([(1, 0, 100)], "l_id long, a0 long, a1 long")
    empty = spark.createDataFrame([], "r_id long, b0 long, b1 long")
    assert interval_overlap_join(left, empty, "a0", "a1", "b0", "b1", 50).count() == 0
    assert interval_overlap_join(
        empty.selectExpr("r_id as l2", "b0 as x0", "b1 as x1"), 
        left.selectExpr("l_id as r2", "a0 as y0", "a1 as y1"),
        "x0", "x1", "y0", "y1", 50
    ).count() == 0


def test_heavy_hitters_on_empty_relation(spark):
    from data_engineering_individual_assignment_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    empty = spark.createDataFrame([], "item string")
    assert heavy_hitters_exact(empty, "item", 8).count() == 0


def test_forward_asof_with_no_right_rows(spark):
    from data_engineering_individual_assignment_spark.operators import joins

    left = spark.createDataFrame(
        [(1, 10, 100.0)], "event_id long, user_id long, ts double"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    right = spark.createDataFrame(
        [], "p_event_id long, p_user long, p_ts timestamp"
    )
    out = joins.asof_join(
        left, right,
        left_ts="ts", right_ts="p_ts",
        left_by="user_id", right_by="p_user",
        right_cols=["p_event_id"], direction="forward",
    ).collect()
    assert len(out) == 1 and out[0].p_event_id is None


def test_triangle_stats_on_empty_and_single_edge(spark):
    from data_engineering_individual_assignment_spark.operators.graph import (
        triangle_stats,
    )

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    r = triangle_stats(empty).first()
    assert (r.n_edges, r.n_triangles, r.n_wedges) == (0, 0, 0)
    assert r.clustering is None  # 0/0 -> null, not a crash
    one = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    r = triangle_stats(one).first()
    assert (r.n_edges, r.n_triangles, r.n_wedges) == (1, 0, 0)


@pytest.mark.parametrize(
    "module, name, kw, message",
    [
        (
            "dedup",
            "simhash_near_pairs_portable",
            {"text_col": "text", "id_col": "doc_id", "bits": 60, "num_bands": 7},
            "num_bands must divide bits",
        ),
        ("imagehash", "phash_near_pairs", {"num_bands": 3}, "num_bands must divide 64"),
        (
            "imagehash",
            "phash_near_pairs",
            {"max_hamming": 8, "num_bands": 4},
            "probe radius 2",
        ),
        ("audiofp", "audio_near_dup_pairs", {"probe_bits": 2}, "probe_bits > 1"),
    ],
    ids=["simhash_bands", "phash_bands", "phash_radius", "audio_probe_bits"],
)
def test_operator_arguments_raise_value_error(module, name, kw, message):
    """Argument checks are real raises, not asserts that vanish under
    python -O (seven bands over 60 bits would silently band 56)."""
    import importlib

    op = getattr(
        importlib.import_module(
            f"data_engineering_individual_assignment_spark.operators.{module}"
        ),
        name,
    )
    with pytest.raises(ValueError, match=message):
        op(None, **kw)
