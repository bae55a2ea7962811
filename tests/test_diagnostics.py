"""Semantic invariants for the diagnostics batch (plans/diagnostics.py)
— properties the DuckDB differential can't express: blocking soundness
of the fuzzy matcher, rollup cascade conservation, MAD gate bounds,
KL non-negativity, nucleus budget semantics.  Cross-engine value checks
live in tests/test_queries_oracle.py like every other catalog query."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_individual_assignment_spark import plans
from data_engineering_individual_assignment_spark.sources.readers import load_table

from .conftest import SF_SMALL


def _q(spark, name):
    return plans.CATALOG[name].fn(spark, SF_SMALL)


def test_fuzzy_match_pairs_share_block_and_respect_threshold(spark):
    rows = _q(spark, "fuzzy_match_part_names").collect()
    assert rows, "vocabulary-bound name set always yields some close pairs"
    for r in rows:
        assert 0 < r.dist <= 3  # name_a < name_b excludes dist 0 self-pairs
        # blocking key soundness: both names start with the same token
        assert r.name_a.split(" ")[0] == r.name_b.split(" ")[0]
        assert r.name_a < r.name_b  # canonical orientation, no mirrored dupes


def test_fuzzy_match_row_counts_cover_the_part_table(spark):
    """rows_a/rows_b come from the distinct-value canonicalization —
    each must equal the true per-name row count in part."""
    part = load_table(spark, SF_SMALL, "part")
    truth = dict(
        part.groupBy("p_name").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    for r in _q(spark, "fuzzy_match_part_names").collect():
        assert truth[r.name_a] == r.rows_a
        assert truth[r.name_b] == r.rows_b


def test_rollup_cascade_conserves_counts_and_sums(spark):
    """Day rows re-aggregate hour partials: per (event_type, day) the
    hour rows must sum exactly to the day row — and the day total must
    equal a direct count over the raw events."""
    df = _q(spark, "rollup_multires")
    hours = df.where(F.col("resolution") == "hour").withColumn(
        "day", F.substring("bucket", 1, 10)
    )
    days = df.where(F.col("resolution") == "day").withColumn(
        "day", F.substring("bucket", 1, 10)
    )
    rolled = hours.groupBy("event_type", "day").agg(F.sum("n").alias("n_from_hours"))
    joined = rolled.join(days, ["event_type", "day"]).collect()
    assert joined
    for r in joined:
        assert r.n_from_hours == r.n
    total_days = days.agg(F.sum("n")).first()[0]
    assert total_days == load_table(spark, SF_SMALL, "events").count()


def test_mad_outlier_share_is_a_small_fraction(spark):
    for r in _q(spark, "robust_outliers_mad").collect():
        assert r.n_events > 0
        assert 0 <= r.n_outliers <= r.n_events
        # |z| > 3.5 on a unimodal value distribution must be rare
        assert r.outlier_share <= 0.05


def test_kl_divergence_is_nonnegative_and_vocab_bound(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("t"))
        .distinct()
        .count()
    )
    rows = _q(spark, "kl_divergence_sources").collect()
    assert rows
    for r in rows:
        assert r.kl_vs_corpus >= 0  # Gibbs' inequality
        assert r.n_distinct_tokens <= vocab
        assert r.n_tokens >= r.n_distinct_tokens


def test_nucleus_selection_hits_the_token_budget(spark):
    """Every source keeps at least one doc; the kept token share must
    reach the 0.8 budget and overshoot only by < one document (the
    first-crossing rule)."""
    docs = load_table(spark, SF_SMALL, "documents")
    n_sources = docs.select("source").distinct().count()
    rows = _q(spark, "nucleus_corpus_selection").collect()
    assert len(rows) == n_sources
    for r in rows:
        assert r.n_docs_kept >= 1
        assert r.token_share >= 0.8  # budget reached (first crossing kept)
        assert 0 < r.min_score_kept <= 1.0


def _signup_error_intervals(spark):
    ev = load_table(spark, SF_SMALL, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_id"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("a0"),
        (F.expr("unix_micros(cast(ts as timestamp))") + F.lit(300_000_000)).alias("a1"),
    )
    e = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("b0"),
        (F.expr("unix_micros(cast(ts as timestamp))") + F.lit(60_000_000)).alias("b1"),
    )
    return s, e


def test_banded_interval_join_equals_naive_theta_join(spark):
    """The banding + emit-once rule must produce EXACTLY the naive
    theta-join pair set — no duplicates, no losses — for any band size,
    including bands smaller than the intervals (multi-bucket spans)."""
    from data_engineering_individual_assignment_spark.operators.joins import (
        interval_overlap_join,
    )

    s, e = _signup_error_intervals(spark)
    naive = {
        (r.s_id, r.e_id)
        for r in s.join(
            e, (F.col("a0") <= F.col("b1")) & (F.col("b0") <= F.col("a1"))
        ).collect()
    }
    assert naive  # fixture produces overlaps
    for band in (600_000_000, 120_000_000):  # 10 min and 2 min buckets
        banded = [
            (r.s_id, r.e_id)
            for r in interval_overlap_join(
                s, e, "a0", "a1", "b0", "b1", band=band
            ).collect()
        ]
        assert len(banded) == len(set(banded)), "emit-once rule violated"
        assert set(banded) == naive


def test_forward_asof_never_matches_the_past(spark):
    df = _q(spark, "asof_forward_next_purchase")
    rows = df.collect()
    matched = [r for r in rows if r.next_purchase_id is not None]
    assert matched
    for r in matched:
        assert r.wait_seconds >= 0


def test_misra_gries_guarantee_under_eviction(spark):
    """Planted Zipf-ish stream with k far below the vocabulary: every
    item with true freq > n/k must survive (MG merge guarantee), each
    partition summary must hold <= k counters, and the exact pass must
    equal the naive group-by — for several adversarial partitionings."""
    from data_engineering_individual_assignment_spark.operators.sketches import (
        heavy_hitters_exact,
        mg_partials,
    )

    # 3 heavy items (freq 3000/2000/1000) over a 500-item noise tail:
    # deterministic construction, no rand()
    rows = (
        [("hot-a",)] * 3000
        + [("hot-b",)] * 2000
        + [("hot-c",)] * 1000
        + [(f"tail-{i % 500}",) for i in range(4000)]
    )
    n, k = len(rows), 8
    truth = {"hot-a": 3000, "hot-b": 2000, "hot-c": 1000}
    expected = {i for i, c in truth.items() if c * k > n}
    assert expected == {"hot-a", "hot-b"}  # n/k = 1250: hot-c (1000) is below

    for parts in (1, 4, 32):
        df = spark.createDataFrame(rows, "item string").repartition(parts)
        partials = mg_partials(df, "item", k)
        per_part = (
            partials.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert per_part <= k, "summary exceeded k counters"
        got = {r.item: r.cnt for r in heavy_hitters_exact(df, "item", k).collect()}
        assert set(got) == expected
        for item, cnt in got.items():
            assert cnt == truth[item]  # exact verification pass


def test_triangle_stats_on_planted_graphs(spark):
    """Known censuses: K5 (10 triangles), a star (0 triangles, all
    wedges), and K4 plus a pendant edge — each triangle counted exactly
    once despite the degree-ordered re-orientation."""
    from data_engineering_individual_assignment_spark.operators.graph import (
        triangle_stats,
    )

    def census(edges):
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        return triangle_stats(df).first()

    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    r = census(k5)
    assert (r.n_edges, r.n_triangles, r.n_wedges) == (10, 10, 30)
    assert r.clustering == 1.0

    star = [(0, i) for i in range(1, 9)]  # hub 0, 8 leaves
    r = census(star)
    assert (r.n_edges, r.n_triangles, r.n_wedges) == (8, 0, 28)
    assert r.clustering == 0.0

    k4_pendant = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 9)]
    r = census(k4_pendant)
    assert r.n_triangles == 4  # C(4,3), pendant adds none


def test_wav_decode_matches_analytic_ground_truth(spark):
    """The WAV path is a REAL codec: synthesized sine payloads decode to
    their analytic DSP features — dominant FFT bin == synthesized
    frequency, RMS == amplitude/sqrt(2), zero-crossing rate == 2f/sr —
    and a corrupt payload degrades to decode_ok=false, not a task
    failure."""
    import math

    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_wav_features,
        synth_wav_bytes,
    )

    cases = [(1, 250.0), (2, 1000.0), (3, 2000.0)]
    rows = [(i, bytearray(synth_wav_bytes(f))) for i, f in cases]
    rows.append((99, bytearray(b"not a wav at all")))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_wav_features(df).collect()}

    for i, f in cases:
        r = got[i]
        assert r.decode_ok
        assert r.sample_rate == 8000 and r.n_samples == 800
        assert r.dominant_freq_hz == f  # exact bin: f * n/sr is integral
        assert abs(r.rms - 0.5 / math.sqrt(2)) < 0.01
        assert abs(r.zero_cross_rate - 2 * f / 8000) < 0.02
        assert abs(r.duration_s - 0.1) < 1e-9
    bad = got[99]
    assert bad.decode_ok is False and bad.rms is None


def test_audio_wav_features_query_buckets_by_frequency(spark):
    df = _q(spark, "audio_wav_features")
    rows = df.collect()
    freqs = [r.dominant_freq_hz for r in rows]
    assert freqs == [250.0 * k for k in range(1, 9)]
    assert sum(r.n_assets for r in rows) == 256


def test_banded_interval_join_plans_as_equi_join(spark):
    """The banding rewrite must remove the BroadcastNestedLoopJoin a raw
    theta join would plan: the physical plan joins on the bucket id
    (hash-partitionable equi join) and re-checks the interval predicate
    as a post-join filter."""
    df = _q(spark, "interval_overlap_errors")
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "broadcastnestedloopjoin" not in plan
    assert "cartesianproduct" not in plan


def test_pq_adc_recall_against_exact_topk(spark):
    """PQ with TRAINED codebooks (pq_train/pq_encode/pq_topk) must
    reconstruct a usable neighbor list: recall@5 vs the exact
    brute-force top-5 pinned >= 0.4 (32x16 codebooks on 64 dims), and
    the 32-byte codes must decode to the full corpus.  (The catalog's
    ann_pq_adc runs the same engine on md5-frozen codebooks, which the
    oracle checks but which carry no recall — this test grades the
    sample-trained books.)"""
    from data_engineering_individual_assignment_spark import plans
    from data_engineering_individual_assignment_spark.operators import similarity
    from pyspark.sql import functions as F

    exact = {
        (r.query_id, r.neighbor_id)
        for r in plans.CATALOG["ann_brute_force"].fn(spark, SF_SMALL).collect()
    }
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    books = similarity.pq_train(emb, m=32, ncodes=16)
    codes = similarity.pq_encode(emb, books)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk(codes, queries, books, k=5).collect()
    }
    assert len(approx) == len(exact)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"PQ recall {recall:.2f} below floor"

    assert codes.count() == emb.count()
    r = codes.first()
    assert len(r.codes) == 32 and all(0 <= c < 16 for c in r.codes)


def test_pq_rerank_recovers_near_exact_recall(spark):
    """Rerank with trained codebooks: exact-cosine refine over the
    trained ADC shortlist recovers >= 0.9 recall vs brute force."""
    from data_engineering_individual_assignment_spark import plans
    from data_engineering_individual_assignment_spark.operators import similarity
    from pyspark.sql import functions as F

    exact = {
        (r.query_id, r.neighbor_id)
        for r in plans.CATALOG["ann_brute_force"].fn(spark, SF_SMALL).collect()
    }
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    books = similarity.pq_train(emb, m=32, ncodes=16)
    codes = similarity.pq_encode(emb, books)
    rer = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk_rerank(
            emb, codes, queries, books, k=5, shortlist=50
        ).collect()
    }
    assert len(rer) == len(exact)
    recall = len(exact & rer) / len(exact)
    assert recall >= 0.9, f"re-ranked recall {recall:.2f}"


def test_cms_mergeable_and_one_sided(spark):
    """Count-Min invariants: (1) the sketch of a union is the cell-wise
    sum of the parts' sketches (mergeability — what lets partial
    sketches combine across 1000 executors); (2) estimates never
    undercount, and exactly equal truth for items with collision-free
    cells."""
    from data_engineering_individual_assignment_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    items = (
        [("alpha",)] * 50 + [("beta",)] * 20 + [("gamma",)] * 5
        + [(f"tail{i}",) for i in range(30)]
    )
    df = spark.createDataFrame(items, "token string")
    half1 = spark.createDataFrame(items[:52], "token string")
    half2 = spark.createDataFrame(items[52:], "token string")

    whole = {(r.row, r.bucket): r.n for r in cms_build(df, "token").collect()}
    merged: dict = {}
    for part in (half1, half2):
        for r in cms_build(part, "token").collect():
            merged[(r.row, r.bucket)] = merged.get((r.row, r.bucket), 0) + r.n
    assert whole == merged

    probes = df.select("token").distinct()
    est = {
        r.token: r.cms_est
        for r in cms_estimate(probes, cms_build(df, "token"), "token").collect()
    }
    truth = {r.token: r.n for r in df.groupBy("token").count().withColumnRenamed("count", "n").collect()}
    assert all(est[t] >= n for t, n in truth.items())
    # the heavy items dominate their cells => estimates are exact there
    assert est["alpha"] >= 50 and est["beta"] >= 20

    # an item the build stream NEVER saw estimates from all-depth cells
    # with empties counted as 0 — not a min over colliding cells only
    unseen = spark.createDataFrame([("never-seen-item",)], "token string")
    got = cms_estimate(unseen, cms_build(df, "token"), "token").collect()
    assert len(got) == 1 and got[0].cms_est >= 0
    # with a tiny build set, at least one of the 4 cells is empty
    tiny = spark.createDataFrame([("only",)], "token string")
    got2 = cms_estimate(unseen, cms_build(tiny, "token"), "token").collect()
    assert got2[0].cms_est == 0


def test_exact_kth_smallest_edges(spark):
    """Histogram-refinement selection: k=1/k=n extremes, heavy tie
    groups, and agreement with a brute sort at every k on a small set."""
    from data_engineering_individual_assignment_spark.operators.order_stats import (
        exact_kth_smallest,
        exact_median,
    )

    data = [3.5, 1.0, 1.0, 1.0, 2.25, 9.0, -4.5, 2.25, 2.25, 7.0]
    df = spark.createDataFrame([(v,) for v in data], "x double")
    ref = sorted(data)
    for k in range(1, len(data) + 1):
        assert exact_kth_smallest(df, "x", k) == ref[k - 1], k
    assert exact_median(df, "x") == ref[(len(data) + 1) // 2 - 1]

    # all-equal column terminates immediately
    const = spark.createDataFrame([(5.0,)] * 7, "x double")
    assert exact_kth_smallest(const, "x", 4) == 5.0

    # nulls excluded, out-of-range k raises
    withnull = spark.createDataFrame([(1.0,), (None,), (2.0,)], "x double")
    assert exact_kth_smallest(withnull, "x", 2) == 2.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        exact_kth_smallest(withnull, "x", 3)


def test_exact_kth_smallest_boundary_fuzz(spark):
    """Adversarial + randomized agreement: values planted exactly ON
    equal-width bucket boundaries (where floor((v-lo)/width) and
    arithmetic bounds disagree within an ulp — the bug class found in
    review) plus seeded uniform/tied mixtures, checked against a brute
    sort at many ranks."""
    import random

    from data_engineering_individual_assignment_spark.operators.order_stats import (
        exact_kth_smallest,
    )

    rng = random.Random(42)
    lo, hi = -731.2715117751975, 963.5961146655309
    width = (hi - lo) / 256
    boundary = [lo + b * width for b in range(0, 256, 17)]
    uniform = [rng.uniform(lo, hi) for _ in range(300)]
    ties = [lo + 100 * width] * 40
    data = boundary + uniform + ties
    df = spark.createDataFrame([(v,) for v in data], "x double")
    ref = sorted(data)
    n = len(data)
    for k in [1, 2, n // 4, n // 2, n // 2 + 1, 3 * n // 4, n - 1, n]:
        got = exact_kth_smallest(df, "x", k)
        assert got == ref[k - 1], (k, got, ref[k - 1])


def test_percentile_approx_error_within_bound(spark):
    """256-bin histogram quantile: the linear interpolation can miss by
    at most the hit bucket's occupancy; pin a loose 5%-of-n rank bound
    (uniform-ish data sits at ~n/256) plus sign sanity."""
    from data_engineering_individual_assignment_spark.plans.catalog import CATALOG

    rows = CATALOG["percentile_approx_error_report"].fn(
        spark, SF_SMALL
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.rank_err <= r.n * 0.05, (r.p, r.rank_err, r.n)
        assert r.value_err >= 0


def test_native_percentile_approx_gk_bound(spark):
    """GK sketch guarantee for Spark's NATIVE percentile_approx (the
    engine-internal audit the portable report no longer carries):
    rank error <= n/accuracy at accuracy=1000."""
    import math

    from pyspark.sql import functions as F

    from data_engineering_individual_assignment_spark.sources.readers import load_table

    vals = (
        load_table(spark, SF_SMALL, "lineitem")
        .select("l_extendedprice")
        .filter(F.col("l_extendedprice").isNotNull())
    )
    n = vals.count()
    approx = vals.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.9], 1000).alias("a")
    ).first()["a"]
    for p, a in zip((0.5, 0.9), approx):
        k = math.ceil(n * p)
        rank = vals.filter(F.col("l_extendedprice") <= F.lit(a)).count()
        assert abs(rank - k) <= n / 1000 + 1, (p, rank, k, n)


def _png_from_filtered(width, height, ctype, rows_with_filters):
    """Build a PNG whose IDAT contains exactly the given (filter_type,
    filtered_bytes) scanlines — lets tests exercise every filter."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    raw = b"".join(bytes([f]) + bytes(b) for f, b in rows_with_filters)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def _forward_filter(ftype, line, prior, bpp):
    """Independent FORWARD implementation of the PNG filters (the
    decoder implements the inverse) — spec section 9."""
    out = []
    for i, x in enumerate(line):
        a = line[i - bpp] if i >= bpp else 0
        b = prior[i]
        c = prior[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out.append(x)
        elif ftype == 1:
            out.append((x - a) & 0xFF)
        elif ftype == 2:
            out.append((x - b) & 0xFF)
        elif ftype == 3:
            out.append((x - ((a + b) >> 1)) & 0xFF)
        elif ftype == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((x - pr) & 0xFF)
    return bytes(out)


def test_png_decoder_all_filters_roundtrip():
    """Every PNG filter type (None/Sub/Up/Average/Paeth): pixels
    forward-filtered by an independent spec implementation must decode
    back to the originals, for gray, RGB and RGBA."""
    import numpy as np

    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_png,
    )

    rng = np.random.RandomState(7)
    for ctype, bpp in ((0, 1), (2, 3), (6, 4)):
        w, h = 5, 6
        pixels = rng.randint(0, 256, size=(h, w * bpp), dtype=np.uint8)
        rows = []
        prior = bytes(w * bpp)
        for y in range(h):
            f = y % 5  # cycle through all five filter types
            line = bytes(pixels[y])
            rows.append((f, _forward_filter(f, line, prior, bpp)))
            prior = line
        png = _png_from_filtered(w, h, ctype, rows)
        img = decode_png(png)
        assert img["channels"] == bpp
        assert (img["pixels"] == pixels).all(), f"ctype={ctype}"


def test_png_decode_corrupt_and_stats(spark):
    """decode_png_stats: solid/gradient analytic ground truth; bad
    CRC / truncated / non-PNG payloads degrade, never fail the task."""
    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_png_stats,
        synth_png_bytes,
    )

    solid = synth_png_bytes(16, 8, (200, 100, 50))
    grad = synth_png_bytes(256, 4, gradient=True)
    bad_crc = bytearray(solid)
    bad_crc[-5] ^= 0xFF  # flip a byte inside IEND CRC
    rows = [
        (1, bytes(solid)),
        (2, bytes(grad)),
        (3, b"not a png at all"),
        (4, bytes(bad_crc)[: len(solid) // 2]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_png_stats(df).collect()}
    s = got[1]
    assert (s.width, s.height, s.channels, s.decode_ok) == (16, 8, 3, True)
    assert (s.mean_r, s.mean_g, s.mean_b) == (200.0, 100.0, 50.0)
    assert abs(s.mean_luma - (0.299 * 200 + 0.587 * 100 + 0.114 * 50)) < 1e-6
    g = got[2]
    assert g.decode_ok and g.mean_r == g.mean_g == g.mean_b == 127.5
    assert not got[3].decode_ok and got[3].width is None
    assert not got[4].decode_ok


def test_video_frame_sampling_real(spark):
    """PNG-frame video container: every-k sampling decodes exactly the
    sampled frames with analytically known luma; corrupt containers
    degrade to one decode_ok=false row."""
    from data_engineering_individual_assignment_spark.operators.multimodal import (
        sample_video_frames,
        synth_png_video_bytes,
    )

    vid = synth_png_video_bytes(10, base=100)  # frames gray 100,107,...
    rows = [(1, bytes(vid)), (2, b"JUNKxxxx")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = sample_video_frames(df, every_k=4).collect()
    ok = sorted(
        [(r.frame_idx, r.mean_luma) for r in got if r.doc_id == 1]
    )
    # frames 0, 4, 8 sampled; gray g => luma == g exactly
    assert ok == [(0, 100.0), (4, 128.0), (8, 156.0)]
    bad = [r for r in got if r.doc_id == 2]
    assert len(bad) == 1 and not bad[0].decode_ok


# ---------------------------------------------------------------------------
# REAL JPEG codec: the decoder is pinned against the INDEPENDENT forward
# implementation (encoder) plus analytic truth — same discipline as the
# PNG filter round-trip above.  Solid images are DC-only in every 8x8
# block, so quantization error is bounded by half a DC quant step
# (8/2 * 1/0.299-ish per channel after color transform): means must land
# within ±3 of the synthesized color.
# ---------------------------------------------------------------------------
def test_jpeg_solid_color_analytic():
    import numpy as np

    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_bytes,
    )

    for rgb in [(200, 30, 100), (0, 0, 0), (255, 255, 255), (17, 230, 9)]:
        img = decode_jpeg(synth_jpeg_bytes(16, 16, rgb))
        assert (img["width"], img["height"], img["channels"]) == (16, 16, 3)
        px = img["pixels"].astype(np.float64)
        means = [px[:, i::3].mean() for i in range(3)]
        for got, want in zip(means, rgb):
            assert abs(got - want) <= 3.0, (rgb, means)


def test_jpeg_gradient_roundtrip_all_paths():
    """Gradient content exercises AC coefficients; 4:4:4, 4:2:0 and
    restart-marker streams must all reconstruct the luma ramp with
    small RMS error (JPEG is lossy; Annex-K tables keep a smooth ramp
    within ~2 levels RMS)."""
    import numpy as np

    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_planes,
    )

    w, h = 32, 16
    xs = np.arange(w)[None, :].repeat(h, 0).astype(float)
    yv = 16 + xs * (224.0 / (w - 1))
    flat = np.full((h, w), 128.0)
    for kwargs in (
        {},
        {"subsample": True},
        {"restart_interval": 2},
        {"subsample": True, "restart_interval": 1},
    ):
        buf = encode_jpeg_planes([yv, flat, flat], w, h, **kwargs)
        img = decode_jpeg(buf)
        assert (img["width"], img["height"]) == (w, h)
        px = img["pixels"].astype(np.float64)
        lum = 0.299 * px[:, 0::3] + 0.587 * px[:, 1::3] + 0.114 * px[:, 2::3]
        rms = float(np.sqrt(((lum - yv) ** 2).mean()))
        assert rms < 2.5, (kwargs, rms)


def test_jpeg_odd_dimensions_edge_replication():
    import numpy as np

    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_bytes,
    )

    img = decode_jpeg(synth_jpeg_bytes(13, 9, (10, 250, 70)))
    assert (img["width"], img["height"]) == (13, 9)
    px = img["pixels"].astype(np.float64)
    means = [px[:, i::3].mean() for i in range(3)]
    for got, want in zip(means, (10, 250, 70)):
        assert abs(got - want) <= 3.0


def test_jpeg_rejects_malformed():
    import pytest as _pytest

    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_bytes,
    )

    with _pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    buf = bytearray(synth_jpeg_bytes(8, 8, (1, 2, 3)))
    # corrupt the SOF marker into a progressive SOF2: must raise, not
    # silently misdecode
    idx = bytes(buf).find(b"\xff\xc0")
    buf[idx + 1] = 0xC2
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(buf))


def test_jpeg_fill_bytes_and_tem_marker():
    """ADVICE-r5 regression: ITU T.81 B.1.1.2 allows repeated 0xFF fill
    bytes before a marker code, and TEM (0xFF01) is a standalone marker
    with no length field — both are legal ahead of SOS and must be
    skipped, not crash the marker walk."""
    import numpy as np

    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_bytes,
    )

    clean = synth_jpeg_bytes(16, 16, (120, 40, 200))
    ref = decode_jpeg(clean)["pixels"]
    # splice fill bytes + a TEM marker immediately before SOS
    idx = clean.find(b"\xff\xda")
    padded = clean[:idx] + b"\xff\xff\xff" + b"\xff\x01" + clean[idx:]
    out = decode_jpeg(padded)
    assert out["width"] == 16 and out["height"] == 16
    assert np.array_equal(np.asarray(out["pixels"]), np.asarray(ref))


def test_jpeg_stats_query_and_degradation(spark):
    """decode_jpeg_stats over good + corrupt payloads: per-asset stats
    match the synthesized colors; garbage degrades to decode_ok=false
    without failing the task."""
    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_jpeg_stats,
        synth_jpeg_bytes,
    )

    rows = [
        (1, bytearray(synth_jpeg_bytes(16, 8, (200, 100, 50)))),
        (2, bytearray(synth_jpeg_bytes(8, 8, (0, 0, 255)))),
        (3, bytearray(b"JFIF but not really")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_jpeg_stats(df).collect()}
    assert got[1].decode_ok and got[2].decode_ok and not got[3].decode_ok
    assert (got[1].width, got[1].height) == (16, 8)
    assert abs(got[1].mean_r - 200) <= 3 and abs(got[1].mean_b - 50) <= 3
    assert abs(got[2].mean_b - 255) <= 3 and got[2].mean_r <= 3


def test_decode_image_dispatch():
    """decode_image routes PNG and JPEG to the real codecs and keeps
    the NotImplementedError seam for everything else."""
    import pytest as _pytest

    from data_engineering_individual_assignment_spark.operators.multimodal import (
        decode_image,
        synth_jpeg_bytes,
        synth_png_bytes,
    )

    assert decode_image(synth_png_bytes(8, 8, (1, 2, 3)))["channels"] == 3
    assert decode_image(synth_jpeg_bytes(8, 8, (1, 2, 3)))["channels"] == 3
    with _pytest.raises(NotImplementedError):
        decode_image(b"RIFF....WEBP")


def test_mjpeg_video_sampling_and_luma(spark):
    """MJPEG container: every-k sampling decodes exactly frames 0, k,
    2k... through the REAL JPEG codec; decoded gray levels track the
    synthesized (base + 7*i) ramp within JPEG quantization error."""
    from data_engineering_individual_assignment_spark.operators.multimodal import (
        sample_video_frames,
        synth_mjpeg_video_bytes,
    )

    vid = synth_mjpeg_video_bytes(10, base=100)  # frames gray 100,107,...
    df = spark.createDataFrame(
        [(1, bytearray(vid)), (2, bytearray(b"nonsense"))],
        "doc_id long, payload binary",
    )
    rows = sample_video_frames(df, every_k=3).collect()
    ok = sorted(
        (r.frame_idx, r.mean_luma) for r in rows if r.doc_id == 1
    )
    assert [i for i, _ in ok] == [0, 3, 6, 9]
    for i, luma in ok:
        assert abs(luma - (100 + 7 * i)) <= 3.0, (i, luma)
    bad = [r for r in rows if r.doc_id == 2]
    assert len(bad) == 1 and not bad[0].decode_ok


def test_resize_box_average_matches_analytic_truth(spark):
    """16x16 -> 4x4 box average: a solid PNG resizes to exactly its
    color; a horizontal gradient's resized pixels are the exact block
    means of x*255//15 (all arithmetic is integer-sums over
    power-of-two divisors, so float equality is exact)."""
    from data_engineering_individual_assignment_spark.operators.multimodal import (
        resize_png_stats,
        synth_png_bytes,
    )

    solid = synth_png_bytes(16, 16, (200, 100, 50))
    grad = synth_png_bytes(16, 16, gradient=True)
    df = spark.createDataFrame(
        [(0, bytearray(solid)), (1, bytearray(grad))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in resize_png_stats(df, 4, 4).collect()}
    assert out[0].method == "box" and out[0].decode_ok
    assert (out[0].mean_r, out[0].mean_g, out[0].mean_b) == (200.0, 100.0, 50.0)
    assert out[0].checksum == (200 + 100 + 50) * 16
    g = [x * 255 // 15 for x in range(16)]
    blocks = [sum(g[4 * j : 4 * j + 4]) / 4 for j in range(4)]
    assert out[1].mean_r == sum(blocks) / 4
    assert out[1].checksum == sum(round(b) * 3 for b in blocks) * 4


def test_resize_nearest_picks_floor_index_pixels(spark):
    """5x5 -> 4x4 (non-divisible) takes the floor(i*5/4) index map =
    rows/cols [0,1,2,3]; a corrupt payload degrades to decode_ok=false
    instead of failing the task."""
    from data_engineering_individual_assignment_spark.operators.multimodal import (
        resize_png_stats,
        synth_png_bytes,
    )

    grad = synth_png_bytes(5, 5, gradient=True)
    df = spark.createDataFrame(
        [(0, bytearray(grad)), (1, bytearray(b"not a png"))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in resize_png_stats(df, 4, 4).collect()}
    assert out[0].method == "nearest"
    g = [x * 255 // 4 for x in range(5)]  # gradient over width 5
    picked = [g[i] for i in (0, 1, 2, 3)]
    assert out[0].mean_r == sum(picked) / 4
    assert out[0].checksum == sum(picked) * 3 * 4
    assert out[1].decode_ok is False and out[1].checksum is None
