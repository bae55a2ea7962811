#!/usr/bin/env python
"""Scale-headroom check: replicate the sf0.1 tables 10× (≈ sf1:
6M lineitem rows, 50k documents) into a temp dir, rerun headline
queries, and report the scaling exponent per query.

A query that "would survive 100×" should scale ~linearly (exponent ≈ 1)
or better; a quadratic operator shows exponent ≈ 2 here and gets fixed,
not shipped.  Usage: python scale_check.py [replication_factor]
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

# The sweep covers the ENTIRE catalog except queries whose input is
# bounded by construction (fixed-size asset samples / literal id caps):
# their exponent would be ~0 no matter what the operator does — that
# would be padding, not evidence.  Deriving the list from the catalog
# at run time means new queries are swept automatically instead of
# waiting for someone to remember to add them.
EXCLUDED = {
    "image_png_stats": "256-doc synthetic asset cap by construction",
    "image_resize_stats": "256-doc synthetic asset cap by construction",
    "image_jpeg_stats": "256-doc synthetic asset cap by construction",
    "audio_wav_features": "256-doc synthetic asset cap by construction",
    "video_frame_sample_stats": "128-doc synthetic asset cap by construction",
    "video_mjpeg_frame_stats": "128-doc synthetic asset cap by construction",
    "udtf_word_ngrams": "doc_id < 40 literal cap (row-at-a-time UDTF demo)",
    "udtf_polymorphic_first_tokens": "doc_id < 40 literal cap",
}


def sweep_queries() -> list[str]:
    from data_engineering_individual_assignment_spark import plans

    return [q for q in sorted(plans.CATALOG) if q not in EXCLUDED]


QUERIES: list[str] = []  # populated in main() once the session exists

REPLICATED = ("lineitem", "orders", "customer", "events", "documents", "embeddings")
COPIED = ("region", "nation", "supplier", "part")


def replicate(
    spark, src: str, dst: str, factor: int, tables: tuple[str, ...]
) -> None:
    """Write ``tables`` of ``src`` into ``dst``: COPIED tables verbatim,
    REPLICATED tables ``factor`` times with key-shifted ids."""
    from pyspark.sql import functions as F

    from data_engineering_individual_assignment_spark.sources.readers import load_table

    os.makedirs(dst, exist_ok=True)
    for name in (t for t in COPIED if t in tables):
        load_table(spark, src, name).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )
    # key-shift each replica so ids stay unique and joins keep their
    # selectivity instead of becoming factor²-fanout self-intersections
    shifts = {
        "lineitem": ("l_orderkey", 10_000_000),
        "orders": ("o_orderkey", 10_000_000),
        "customer": ("c_custkey", 1_000_000),
        "events": ("event_id", 10_000_000),
        "documents": ("doc_id", 1_000_000),
        "embeddings": ("vec_id", 1_000_000),
    }
    extra = {
        "orders": ("o_custkey", 1_000_000),
        "events": ("user_id", 1_000_000),
    }
    for name in (t for t in REPLICATED if t in tables):
        df = load_table(spark, src, name)
        key, stride = shifts[name]
        parts = []
        for i in range(factor):
            part = df.withColumn(key, F.col(key) + F.lit(i * stride))
            if name in extra:
                k2, s2 = extra[name]
                part = part.withColumn(k2, F.col(k2) + F.lit(i * s2))
            if name == "events" and i > 0:
                # shift replica i's timestamps into a disjoint decade:
                # intra-replica temporal structure (per-user gaps,
                # session spacing, window membership) is preserved
                # exactly, but replicas never overlap in time —
                # otherwise every signup window gains factor-1 identical
                # copies overlapping every error replica and the TRUE
                # interval-join answer grows quadratically in the
                # factor, measuring output size instead of the operator
                # (r7's interval_overlap_errors 100x row measured 0.74
                # for exactly this reason)
                part = part.withColumn(
                    "ts", F.expr(f"ts + INTERVAL {i * 3650} DAYS")
                )
            if name == "embeddings" and i > 0:
                # sign-flip replica i's coordinates with a deterministic
                # md5-parity ±1 mask: every intra-replica dot product is
                # EXACTLY preserved (sign flips are exact in FP and
                # cancel pairwise), so planted clones stay clones within
                # each replica — but cross-replica cosines collapse to
                # ~0, otherwise every vector gains factor-1 identical
                # copies and the TRUE near-dup answer grows
                # quadratically in the factor (the embeddings analog of
                # the documents vocabulary remap below)
                import hashlib

                mask = [
                    1.0
                    if int(
                        hashlib.md5(f"emb-rep|{i}|{d}".encode()).hexdigest()[:8],
                        16,
                    )
                    & 1
                    else -1.0
                    for d in range(64)
                ]
                sarr = F.array(*[F.lit(s) for s in mask])
                part = part.withColumn(
                    "embedding",
                    F.zip_with(
                        "embedding", sarr, lambda x, s: (x * s).cast("float")
                    ),
                )
            if name == "documents" and i > 0:
                # remap replica i's tokens into a disjoint vocabulary
                # (suffix every token): intra-replica similarity structure
                # is preserved exactly, but replicas are NOT near-dups of
                # each other — otherwise every doc gains factor-1 exact
                # copies and the TRUE pair/cluster/graph answer grows
                # quadratically in the factor, which would measure output
                # size, not operator scaling
                part = part.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1x{i}")
                )
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(dst, f"{name}.parquet"))


def run_suite(spark, sf_dir: str) -> dict[str, float]:
    from data_engineering_individual_assignment_spark import plans
    from data_engineering_individual_assignment_spark.operators.dedup import (
        release_intermediates,
    )

    timings = {}
    for name in QUERIES:
        t0 = time.perf_counter()
        try:
            plans.CATALOG[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # record the failure, keep sweeping
            timings[name] = float("nan")
            print(f"  {name}: ERROR {type(e).__name__}: {str(e)[:200]}",
                  file=sys.stderr)
            release_intermediates()
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"  {name}: {timings[name]}s", file=sys.stderr)
        release_intermediates()
    return timings


def main() -> None:
    # usage: scale_check.py [factor] [--queries a,b,c]
    # --queries re-measures a subset and MERGES it into SCALING_RUN.json
    # (the full-sweep numbers for untouched queries stay valid).
    argv = list(sys.argv[1:])
    subset: list[str] | None = None
    if "--queries" in argv:
        i = argv.index("--queries")
        subset = argv[i + 1].split(",")
        del argv[i : i + 2]
    factor = int(argv[0]) if argv else 10
    src = "/root/testdata/sf0.1"
    from data_engineering_individual_assignment_spark.session import get_spark

    spark = get_spark("dei-spark-scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES.extend(subset if subset else sweep_queries())
    print(f"sweeping {len(QUERIES)} catalog queries "
          f"({len(EXCLUDED)} excluded as bounded-by-construction)",
          file=sys.stderr)
    dst = tempfile.mkdtemp(prefix="dei_scale_")
    try:
        replicate(spark, src, dst, factor, COPIED + REPLICATED)
        base = run_suite(spark, src)  # warm
        base = run_suite(spark, src)
        big = run_suite(spark, dst)
        report = {}
        for q in QUERIES:
            if math.isnan(base[q]) or math.isnan(big[q]):
                report[q] = {
                    "sf0.1_sec": None if math.isnan(base[q]) else base[q],
                    f"x{factor}_sec": None if math.isnan(big[q]) else big[q],
                    "scaling_exponent": None,
                    "error": "query failed at one scale (see stderr)",
                }
                continue
            exponent = math.log(max(big[q], 1e-3) / max(base[q], 1e-3)) / math.log(factor)
            report[q] = {
                "sf0.1_sec": base[q],
                f"x{factor}_sec": big[q],
                "scaling_exponent": round(exponent, 2),
            }
        print(json.dumps(report, indent=2))
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "SCALING_RUN.json"
        )
        if factor != 10:
            return  # spot-check at another factor: print only, never
            # merge mixed-factor rows into the canonical x10 JSON
        if subset and os.path.exists(out_path):
            with open(out_path) as f:
                merged = json.load(f)
            merged.update(report)
            report = merged
        with open(out_path, "w") as f:
            json.dump(report, f, indent=2)
    finally:
        shutil.rmtree(dst, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
