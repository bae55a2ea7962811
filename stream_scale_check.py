#!/usr/bin/env python
"""Stream-scale check: the batch sweeps (scale_check.py) cannot see the
STATEFUL/stream-static streaming paths, so this harness runs the heavy
Structured-Streaming twins — ``heavy_hitters_stream`` (bounded MG state
via applyInPandasWithState), ``incremental_dedup_stream`` (stream-static
anti-join), ``cms_stream`` (bounded-cell complete-mode aggregate), and
``lsh_dedup_stream`` (stream-static banded MinHash-LSH near-dup
rejection) — at sf0.1 and at 10x replicated documents, asserts
stream == batch AT BOTH SCALES, and records wall times + scaling
exponents to SCALING_STREAM.json (rendered into SCALING.md by
docs_scaling.py).

Usage: python stream_scale_check.py [factor]   (default 10)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_check import replicate  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SRC = "/root/testdata/sf0.1"


def check_cms(spark, sf_dir: str, landing: str) -> float:
    """complete-mode streaming CMS cells == batch cms_build cells."""
    from pyspark.sql import functions as F

    from data_engineering_individual_assignment_spark.functions import text as TX
    from data_engineering_individual_assignment_spark.operators.sketches import cms_build
    from data_engineering_individual_assignment_spark.sources.readers import load_table
    from data_engineering_individual_assignment_spark.streaming import windows as W

    W.stage_documents(spark, sf_dir, landing)
    t0 = time.perf_counter()
    cells = W.run_to_memory(
        spark, W.cms_stream(W.stream_documents(spark, landing)), mode="complete"
    )
    s = {(r.row, r.bucket): r.n for r in cells.collect()}
    elapsed = time.perf_counter() - t0
    d = load_table(spark, sf_dir, "documents")
    b = {
        (r.row, r.bucket): r.n
        for r in cms_build(
            d.select(F.explode(TX.tokens("text")).alias("token")), "token"
        ).collect()
    }
    assert s == b and len(s) > 0, f"cms stream != batch ({len(s)} vs {len(b)} cells)"
    return elapsed


def check_incremental_dedup(spark, sf_dir: str, landing: str) -> float:
    """append-mode stream-static anti-join == the batch anti-join,
    compared by bounded aggregates (count / sum / xor of survivor ids),
    never a corpus-sized collect."""
    from pyspark.sql import functions as F

    from data_engineering_individual_assignment_spark.functions.text import fingerprint
    from data_engineering_individual_assignment_spark.sources.readers import load_table
    from data_engineering_individual_assignment_spark.streaming import windows as W

    d = load_table(spark, sf_dir, "documents")
    store = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    new_docs = d.filter(F.col("doc_id") % 2 == 1)
    new_docs.write.mode("overwrite").parquet(landing)

    def sig(df):
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).alias("s"),
            F.coalesce(
                F.expr("bit_xor(doc_id * 2654435761)"), F.lit(0)
            ).alias("x"),
        ).collect()[0]
        return (row.n, row.s, row.x)

    t0 = time.perf_counter()
    kept = W.incremental_dedup_stream(W.stream_documents(spark, landing), store)
    s = sig(W.run_to_memory(spark, kept, mode="append"))
    elapsed = time.perf_counter() - t0
    b = sig(new_docs.withColumn("fp", fingerprint("text")).join(store, "fp", "left_anti"))
    assert s == b, f"incremental dedup stream != batch ({s} vs {b})"
    return elapsed


def check_heavy_hitters(spark, sf_dir: str, landing: str) -> float:
    """update-mode sharded Misra-Gries over the corpus token stream: the
    FINAL per-shard candidate sets (max state version) must contain
    every item the MG guarantee promises (within-shard count > n/k),
    and per-shard state must stay <= k across micro-batch restores."""
    from pyspark.sql import Window, functions as F

    from data_engineering_individual_assignment_spark.functions import text as TX
    from data_engineering_individual_assignment_spark.sources.readers import load_table
    from data_engineering_individual_assignment_spark.streaming import windows as W

    k, shards = 8, 8
    W.stage_documents(spark, sf_dir, landing)
    items_stream = W.stream_documents(spark, landing).select(
        F.explode(TX.tokens("text")).alias("item")
    )
    t0 = time.perf_counter()
    out = W.run_to_memory(
        spark, W.heavy_hitters_stream(items_stream, k=k, shards=shards), mode="update"
    )
    # reduce the update-mode emissions to the final state per shard
    final = (
        out.withColumn("maxv", F.max("version").over(Window.partitionBy("shard")))
        .filter(F.col("version") == F.col("maxv"))
        .select("shard", "item")
        .collect()
    )
    elapsed = time.perf_counter() - t0
    per_shard: dict[int, set[str]] = {}
    for r in final:
        per_shard.setdefault(r.shard, set()).add(r.item)
    assert all(len(s) <= k for s in per_shard.values()), "MG state bound violated"
    # ground truth (batch): per-shard totals + per-item counts; only the
    # guaranteed items (at most k-1 per shard) are ever collected
    d = load_table(spark, sf_dir, "documents")
    truth = d.select(F.explode(TX.tokens("text")).alias("item")).withColumn(
        "shard", F.pmod(F.xxhash64("item"), F.lit(shards)).cast("int")
    )
    counts = truth.groupBy("shard", "item").count()
    totals = truth.groupBy("shard").count().withColumnRenamed("count", "n_shard")
    guaranteed = (
        counts.join(totals, "shard")
        .filter(F.col("count") * k > F.col("n_shard"))
        .select("shard", "item")
        .collect()
    )
    for r in guaranteed:
        assert r.item in per_shard.get(r.shard, set()), (
            f"lost guaranteed item {r.item} in shard {r.shard}"
        )
    return elapsed


def check_lsh_dedup(spark, sf_dir: str, landing: str) -> float:
    """append-mode stream-static banded MinHash-LSH near-dup rejection:
    the streamed match relation must equal the relation derived from the
    INDEPENDENT batch operator (operators/dedup.near_dup_minhash over
    the whole corpus, restricted to cross-split pairs) — not a second
    execution of lsh_dedup_stream itself, which would be self-parity
    and blind to a bug shared by both executions.  The two paths share
    only the hash definitions: the batch operator builds signatures
    from exploded shingle ROWS via groupBy, the stream path row-locally
    from arrays — same (band, bucket) space by construction, so the
    pair sets and exact-Jaccard values must agree bit-for-bit."""
    from pyspark.sql import functions as F

    from data_engineering_individual_assignment_spark.operators import dedup
    from data_engineering_individual_assignment_spark.sources.readers import load_table
    from data_engineering_individual_assignment_spark.streaming import windows as W

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    new_docs = d.filter(F.col("doc_id") % 2 == 1)
    new_docs.write.mode("overwrite").parquet(landing)

    def sig(df):
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(new_id, dup_of, jaccard))"), F.lit(0)
            ).alias("x"),
        ).collect()[0]
        return (row.n, row.x)

    t0 = time.perf_counter()
    matched = W.lsh_dedup_stream(
        W.stream_documents(spark, landing), corpus, threshold=0.7
    )
    s = sig(W.run_to_memory(spark, matched, mode="append"))
    elapsed = time.perf_counter() - t0
    odd_a = F.col("doc_a") % 2 == 1
    expected = (
        dedup.near_dup_minhash(d, "text", "doc_id", threshold=0.7)
        .filter((F.col("doc_a") % 2) != (F.col("doc_b") % 2))
        .select(
            F.when(odd_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("new_id"),
            F.when(odd_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dup_of"),
            "jaccard",
        )
    )
    b = sig(expected)
    dedup.release_intermediates()
    assert s == b, f"lsh dedup stream != independent batch LSH ({s} vs {b})"
    return elapsed


def check_segment_dedup(spark, sf_dir: str, landing: str) -> float:
    """segment_dedup_stream (sub-document dedup at ingest): streamed
    output vs an INDEPENDENT batch formulation — the stream path is a
    stream-static left_anti join per incoming segment, the baseline
    re-derives survivors through a different shape (union both sides,
    group every digest once, keep digests never seen in the corpus,
    join back to the incoming segments).  Shared between them: only
    functions/text.segment_hashes (the digest definition)."""
    from pyspark.sql import functions as F

    from data_engineering_individual_assignment_spark.functions.text import (
        segment_hashes,
        tokens,
    )
    from data_engineering_individual_assignment_spark.operators import dedup
    from data_engineering_individual_assignment_spark.sources.readers import load_table
    from data_engineering_individual_assignment_spark.streaming import windows as W

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    new_docs = d.filter(F.col("doc_id") % 2 == 1)
    new_docs.write.mode("overwrite").parquet(landing)

    def sig(df):
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(doc_id, seg_idx, h))"), F.lit(0)
            ).alias("x"),
        ).collect()[0]
        return (row.n, row.x)

    t0 = time.perf_counter()
    survivors = W.segment_dedup_stream(
        W.stream_documents(spark, landing), corpus, seg=8
    )
    s = sig(W.run_to_memory(spark, survivors, mode="append"))
    elapsed = time.perf_counter() - t0

    segs = d.select(
        "doc_id", tokens("text").alias("toks")
    ).select(
        "doc_id", F.posexplode(segment_hashes(F.col("toks"), 8)).alias("seg_idx", "h")
    )
    never_in_corpus = segs.groupBy("h").agg(
        F.max((F.col("doc_id") % 2 == 0).cast("int")).alias("in_corpus")
    ).filter("in_corpus = 0").select("h")
    expected = segs.filter(F.col("doc_id") % 2 == 1).join(never_in_corpus, "h")
    b = sig(expected.select("doc_id", "seg_idx", "h"))
    dedup.release_intermediates()
    assert s == b, f"segment dedup stream != independent batch ({s} vs {b})"
    return elapsed


CHECKS = {
    "cms_stream": check_cms,
    "incremental_dedup_stream": check_incremental_dedup,
    "heavy_hitters_stream": check_heavy_hitters,
    "lsh_dedup_stream": check_lsh_dedup,
    "segment_dedup_stream": check_segment_dedup,
}


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from data_engineering_individual_assignment_spark.session import get_spark

    spark = get_spark("dei-spark-stream-scale")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="dei_stream_scale_")
    try:
        big_dir = os.path.join(work, "big")
        replicate(spark, SRC, big_dir, factor, ("documents",))
        report = {}
        for name, fn in CHECKS.items():
            fn(spark, SRC, os.path.join(work, f"{name}_warm"))  # warm pass
            t1 = fn(spark, SRC, os.path.join(work, f"{name}_base"))
            t10 = fn(spark, big_dir, os.path.join(work, f"{name}_big"))
            report[name] = {
                "sf0.1_sec": round(t1, 3),
                f"x{factor}_sec": round(t10, 3),
                "scaling_exponent": round(
                    math.log(max(t10, 1e-3) / max(t1, 1e-3)) / math.log(factor), 2
                ),
                "stream_equals_batch": "asserted at both scales",
            }
            print(f"  {name}: {report[name]}", file=sys.stderr)
        print(json.dumps(report, indent=2))
        if factor == 10:
            with open(os.path.join(HERE, "SCALING_STREAM.json"), "w") as f:
                json.dump(report, f, indent=2)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
