#!/usr/bin/env python
"""Targeted scale rows for NON-catalog operator paths (the catalog sweep
in scale_check.py cannot see them): run each at sf0.1 and at a 10x
replicate and merge rows into SCALING_RUN.json under self-describing
keys.  Every merged value is a row with a numeric ``scaling_exponent``
(docs_scaling.py renders them all as table rows).

- ``viterbi_segment_pandas@32k``: the production-vocabulary unigram
  inference twin — a 32,768-piece broadcast table segmenting the
  distinct word histogram of the documents table.  The 10x replicate
  token-remaps each replica (the scale_check.py discipline), so the
  histogram grows ~10x and the row measures the per-word scoring pass,
  exactly the regime where the create_map expression path stops
  existing.

Run on an otherwise-idle box (same rule as bench.py); the steal
jiffies over the run are printed alongside, not merged.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _steal_jiffies as steal  # noqa: E402


def wide_piece_table(n_pieces: int = 32_768) -> dict[str, int]:
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    lp = {c: -3_000_000 - 10_000 * i for i, c in enumerate(alpha)}
    i = 0
    while len(lp) < n_pieces:
        s = hashlib.md5(f"piece-{i}".encode()).hexdigest()
        piece = "".join(alpha[int(c, 16) % 36] for c in s[: 2 + i % 3])
        lp.setdefault(piece, -1_000_000 - int(s[8:14], 16) % 2_000_000)
        i += 1
    return lp


def run_viterbi(spark, docs) -> float:
    from data_engineering_individual_assignment_spark.operators.unigram import (
        viterbi_segment_pandas,
        word_histogram,
    )

    lp = wide_piece_table()
    words = word_histogram(docs, max_word_len=10).select("word")
    t0 = time.perf_counter()
    viterbi_segment_pandas(words, lp).write.format("noop").mode(
        "overwrite"
    ).save()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    import math
    import tempfile

    from scale_check import replicate

    from data_engineering_individual_assignment_spark.session import get_spark
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
    )

    src = "/root/testdata/sf0.1"
    spark = get_spark("dei-spark-scale-extras")
    spark.sparkContext.setLogLevel("ERROR")
    s0 = steal()
    dst = tempfile.mkdtemp(prefix="dei_extras_")
    report = {}
    try:
        replicate(spark, src, dst, 10, ("documents",))
        docs_b = load_table(spark, src, "documents")
        docs_x = load_table(spark, dst, "documents")
        _ = run_viterbi(spark, docs_b)  # warm
        base = run_viterbi(spark, docs_b)
        big = run_viterbi(spark, docs_x)
        report["viterbi_segment_pandas@32k"] = {
            "sf0.1_sec": base,
            "x10_sec": big,
            "scaling_exponent": round(math.log(big / base) / math.log(10), 2),
            "note": "non-catalog production twin: 32,768-piece broadcast "
            "dict segmenting the distinct word histogram (the create_map "
            "expression path is not constructible at this width)",
        }
    finally:
        import shutil

        shutil.rmtree(dst, ignore_errors=True)
    print(json.dumps(report, indent=2))
    print("steal_delta_jiffies:", (steal() or 0) - (s0 or 0))
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALING_RUN.json"
    )
    with open(out) as f:
        merged = json.load(f)
    merged.update(report)
    with open(out, "w") as f:
        json.dump(merged, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
