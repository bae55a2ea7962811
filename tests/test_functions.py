"""Column-function unit tests: cleaning chain edge cases, the
demojize import gate, and the near-dup family's DuckDB pair-set builder."""

from __future__ import annotations

import itertools
import re

import pytest
from pyspark.sql import functions as F

from data_engineering_individual_assignment_spark.functions.text import (
    shingle_pairs_sql,
)

from .conftest import SF_SMALL
from .oracle_utils import duck_con


def test_clean_text_two_pass_semantics(spark):
    from data_engineering_individual_assignment_spark.functions.cleaning import (
        clean_text,
    )

    rows = [
        (1, "a;b"),                 # C1
        (2, "café ☕"),             # C2
        (3, "x\\ty real\ttab"),     # C3 two-pass: literal then real
        (4, None),                  # null propagates
        (5, ""),                    # empty stays empty
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = {r["id"]: r["c"] for r in df.select("id", clean_text("s").alias("c")).collect()}
    assert out[1] == "a,b"
    assert out[2] == "caf "
    assert out[3] == "xy realtab"
    assert out[4] is None
    assert out[5] == ""


def test_demojize_gate_returns_none_without_lib(spark):
    from data_engineering_individual_assignment_spark.functions.cleaning import (
        demojize_udf,
    )

    udf = demojize_udf()
    if udf is None:
        # expected in this container: the pipeline skips the step, like
        # the reference's commented-out demojize (F:181-182)
        assert udf is None
    else:  # environment has the lib: it must behave
        df = spark.createDataFrame([("hi",)], "s string")
        assert df.select(udf("s")).collect()[0][0] == "hi"


def test_fingerprint_normalizes(spark):
    from data_engineering_individual_assignment_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "  hello world "), (3, "hello worlds")],
        "id long, s string",
    )
    fps = {r["id"]: r["fp"] for r in df.select("id", fingerprint("s").alias("fp")).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_corpus_fp_agg_two_level_matches_flat_and_duckdb(spark):
    """The sharded fingerprint equals the hand-computed two-level md5
    AND DuckDB's shard-CTE twin, with shard-count independence only at
    matching shard counts (the knob participates in the hash)."""
    import duckdb
    import hashlib

    from data_engineering_individual_assignment_spark.functions import (
        fingerprint as FP,
    )
    from pyspark.sql import functions as F

    rows = [(i, f"d{i:03d}", i * 10) for i in range(37)]
    df = spark.createDataFrame(rows, "doc_id long, h string, w long")
    got = FP.corpus_fp_agg(
        df,
        order="doc_id",
        digest="h",
        shard_key="doc_id",
        sums=((F.col("w"), "total_w"),),
        count_alias="n",
        shards=8,
    ).collect()[0]
    assert got.n == 37 and got.total_w == sum(r[2] for r in rows)

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    shard_fps = {}
    for s in range(8):
        mine = [h for i, h, _ in rows if i % 8 == s]
        if mine:
            shard_fps[s] = md5("|".join(mine))
    expect = md5("|".join(shard_fps[s] for s in sorted(shard_fps)))
    assert got.corpus_fp == expect

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({i},'{h}')" for i, h, _ in rows)
        + ") v(doc_id, h)"
    )
    duck = con.execute(
        """WITH sfp AS (
               SELECT doc_id % 8 AS shard,
                      md5(string_agg(h, '|' ORDER BY doc_id)) AS fp
               FROM t GROUP BY 1)
           SELECT md5(string_agg(fp, '|' ORDER BY shard)) FROM sfp"""
    ).fetchone()[0]
    assert duck == expect


def test_corpus_fp_agg_empty_input_yields_null_fp(spark):
    """Zero rows -> count 0, NULL sums, NULL fingerprint — matching
    DuckDB where string_agg over zero rows is NULL (the r10 ADVICE
    md5('')-vs-NULL divergence, closed structurally)."""
    from data_engineering_individual_assignment_spark.functions import (
        fingerprint as FP,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([], "doc_id long, h string, w long").filter(
        "doc_id < 0"
    )
    got = FP.corpus_fp_agg(
        df,
        order="doc_id",
        digest="h",
        shard_key="doc_id",
        sums=((F.col("w"), "total_w"),),
        count_alias="n",
    ).collect()[0]
    assert got.n == 0
    assert got.total_w is None
    assert got.corpus_fp is None


def test_corpus_fp_agg_plan_is_two_stage(spark):
    """The physical plan aggregates twice (per-shard, then per-group
    over <= N_SHARDS rows) — no whole-corpus digest list ever reaches
    a single task."""
    from data_engineering_individual_assignment_spark.functions import (
        fingerprint as FP,
    )

    df = spark.range(100).selectExpr(
        "id AS doc_id", "md5(CAST(id AS STRING)) AS h"
    )
    out = FP.corpus_fp_agg(df, order="doc_id", digest="h", shard_key="doc_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") >= 2
    assert "_fp_shard" in plan


def _py_shingle_pairs(docs, threshold):
    """All-pairs 3-shingle Jaccard in plain Python: the reference the
    DuckDB builder is pinned against.  DuckDB's trim() strips spaces only."""
    sh = {}
    for doc_id, text in docs:
        toks = re.split(r"\s+", text.lower().strip(" "))
        if len(toks) >= 3:
            sh[doc_id] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    out = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def _builder_pairs(con, threshold, source="documents"):
    rows = con.execute(
        f"WITH {shingle_pairs_sql(threshold, source)} "
        "SELECT doc_a, doc_b, j FROM pairs"
    ).fetchall()
    return {(a, b): j for a, b, j in rows}


@pytest.mark.parametrize("threshold", [0.5, 0.7])
def test_shingle_pairs_sql_matches_python_all_pairs(threshold):
    """The inverted-index pair set equals exact all-pairs Jaccard on the
    sf0.001 corpus: the same pairs and bit-identical j."""
    con = duck_con(SF_SMALL)
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    want = _py_shingle_pairs(docs, threshold)
    assert want, "the corpus must hold near-dup pairs for this test to bite"
    assert _builder_pairs(con, threshold) == want


def test_shingle_pairs_sql_corner_cases():
    import duckdb

    t = [f"t{i}" for i in range(1, 11)]
    docs = [
        (1, "a b"),                            # < 3 tokens: no shingles
        (2, "x y z x y z"),                    # repeated trigram: a set
        (3, "X y  z"),                         # case and spacing fold
        (4, "the quick brown fox jumps"),
        (5, "the quick brown fox jumps"),      # identical to 4: J = 1
        (6, " ".join(t)),                      # 8 shingles
        (7, " ".join(t[:9] + ["u1", "u2"])),   # 7 shared of 10: J = 0.7
        (8, "p q r s"),                        # shares no shingle
        (9, "a b"),                            # short twin of 1: no pair
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", docs)

    got = _builder_pairs(con, 0.7, source="docs")
    assert got == {(4, 5): 1.0, (6, 7): 0.7}
    assert got == _py_shingle_pairs(docs, 0.7)
    # {x y z, y z x, z x y} against {x y z}: set semantics give 1/3
    low = _builder_pairs(con, 1e-9, source="docs")
    assert low[(2, 3)] == 1 / 3
    assert low == _py_shingle_pairs(docs, 1e-9)
    assert not any(d in p for p in low for d in (1, 8, 9))


@pytest.mark.parametrize("threshold", [0, -0.5])
def test_shingle_pairs_sql_rejects_nonpositive_threshold(threshold):
    with pytest.raises(ValueError):
        shingle_pairs_sql(threshold)
