"""Operator-level unit tests: planted near-duplicates for dedup, the two
as-of join implementations agreeing, OLS matching numpy's closed form,
IVF recall vs the exact top-k."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMALL


# --------------------------------------------------------------------------
# Dedup with planted duplicates
# --------------------------------------------------------------------------
@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base.replace("today", "tomorrow")),      # near dup of 1
        (4, "completely different text about spark query engines and shuffles"),
        (5, "  The   QUICK brown fox jumps over the lazy dog again and again today "),
        # 5 = normalized-exact dup of 1 (case/whitespace)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_survivors(docs_with_dups):
    from data_engineering_individual_assignment_spark.operators.dedup import (
        drop_exact_dups,
        exact_dedup,
    )

    groups = {r["survivor_id"]: r["n_copies"] for r in exact_dedup(
        docs_with_dups, "text", "doc_id").collect()}
    # 1,2,5 collapse (normalized fingerprint); 3 and 4 stand alone
    assert groups[1] == 3 and groups[3] == 1 and groups[4] == 1
    kept = sorted(r["doc_id"] for r in drop_exact_dups(
        docs_with_dups, "text", "doc_id").collect())
    assert kept == [1, 3, 4]


def test_jaccard_join_finds_planted_pair(docs_with_dups):
    from data_engineering_individual_assignment_spark.operators.dedup import (
        jaccard_join,
    )

    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_join(
        docs_with_dups, "text", "doc_id", threshold=0.5).collect()}
    # exact dups have jaccard 1.0; the one-word edit is high but < 1
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 5)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_dedup_operators_leave_no_persisted_intermediates(docs_with_dups):
    """r12: jaccard_join/near_dup_minhash no longer persist the shingle
    relation — their consumers share the exchange via AQE ReusedExchange
    instead (measured faster than the corpus-sized cache build at sf0.1,
    and nothing corpus-sized is held in cache memory at scale).  The
    operators must leave the intermediate registry EMPTY, and
    release_intermediates() must stay a safe no-op after them."""
    from data_engineering_individual_assignment_spark.operators.dedup import (
        jaccard_join,
        near_dup_minhash,
        release_intermediates,
    )

    from data_engineering_individual_assignment_spark.operators import dedup as D

    release_intermediates()  # flush leftovers from earlier tests
    jaccard_join(docs_with_dups, "text", "doc_id", threshold=0.5).count()
    near_dup_minhash(docs_with_dups, "text", "doc_id", threshold=0.5).count()
    assert list(D._PERSISTED) == []
    assert release_intermediates() == 0


def test_minhash_agrees_with_exact_on_planted(docs_with_dups):
    from data_engineering_individual_assignment_spark.operators.dedup import (
        jaccard_join,
        near_dup_minhash,
    )

    exact = {(r["doc_a"], r["doc_b"]) for r in jaccard_join(
        docs_with_dups, "text", "doc_id", threshold=0.5).collect()}
    approx = {(r["doc_a"], r["doc_b"]) for r in near_dup_minhash(
        docs_with_dups, "text", "doc_id", threshold=0.5).collect()}
    # high-similarity planted pairs must be recalled
    assert {(1, 2), (1, 5)} <= approx
    assert approx <= exact  # verification guarantees no false positives


def test_minhash_portable_agrees_with_exact_on_planted(docs_with_dups):
    """The md5-portable LSH twin (the oracle-checked catalog path) has
    the same recall/precision contract as the xxhash64 variant."""
    from data_engineering_individual_assignment_spark.operators.dedup import (
        jaccard_join,
        near_dup_minhash_portable,
    )

    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jaccard_join(
        docs_with_dups, "text", "doc_id", threshold=0.5).collect()}
    approx = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
              near_dup_minhash_portable(
                  docs_with_dups, "text", "doc_id", threshold=0.5).collect()}
    assert {(1, 2), (1, 5)} <= set(approx)
    assert set(approx) <= set(exact)  # exact verify: no false positives
    for pair, j in approx.items():
        assert j == exact[pair]  # verification uses the same shingle sets


def test_simhash_portable_pairs_hamming_zero_for_exact_dups(docs_with_dups):
    from data_engineering_individual_assignment_spark.operators.dedup import (
        simhash_near_pairs_portable,
    )

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in simhash_near_pairs_portable(
                 docs_with_dups, "text", "doc_id", max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0  # token-identical docs
    assert pairs[(1, 5)] == 0  # case/whitespace normalize to same tokens


def test_simhash_hamming_zero_for_exact_dups(docs_with_dups):
    from data_engineering_individual_assignment_spark.operators.dedup import (
        simhash_near_pairs,
    )

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_pairs(
        docs_with_dups, "text", "doc_id", max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0  # token-identical docs
    assert pairs[(1, 5)] == 0  # case/whitespace normalize to same tokens


# --------------------------------------------------------------------------
# As-of join
# --------------------------------------------------------------------------
def test_asof_never_picks_future_order(spark):
    from data_engineering_individual_assignment_spark.operators import joins
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    e = load_table(spark, SF_SMALL, "events").select("event_id", "ts", "user_id")
    o = load_table(spark, SF_SMALL, "orders")
    j = joins.asof_join(
        e, o, "ts", "o_orderdate", "user_id", "o_custkey",
        tie_break="o_orderkey",
    )
    bad = j.filter(F.col("o_orderdate") > F.col("ts")).count()
    assert bad == 0


# --------------------------------------------------------------------------
# Regression: closed form matches numpy
# --------------------------------------------------------------------------
def test_ols_matches_numpy(spark):
    from data_engineering_individual_assignment_spark.operators.regression import (
        ols_fit,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    row = ols_fit(li, "x", "y").collect()[0]
    pdf = li.toPandas()
    b1_np, b0_np = np.polyfit(pdf["x"], pdf["y"], 1)
    assert abs(row["b1"] - b1_np) < 1e-6 * max(1, abs(b1_np))
    assert abs(row["b0"] - b0_np) < 1e-6 * max(1, abs(b0_np))


def test_fit_per_group_runs(spark):
    """Closed-form per-group OLS agrees with a per-group numpy.polyfit."""
    from data_engineering_individual_assignment_spark.operators.regression import (
        fit_per_group,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    out = fit_per_group(li, "l_returnflag", "l_quantity", "l_extendedprice").collect()
    assert len(out) == 3
    pts = {}
    for r in li.select("l_returnflag", "l_quantity", "l_extendedprice").collect():
        pts.setdefault(r[0], []).append((float(r[1]), float(r[2])))
    for r in out:
        assert r["n"] == len(pts[r["l_returnflag"]])
        xs, ys = np.array(pts[r["l_returnflag"]]).T
        b1, b0 = np.polyfit(xs, ys, 1)
        np.testing.assert_allclose([r["b0"], r["b1"]], [b0, b1], rtol=1e-6)


# --------------------------------------------------------------------------
# Similarity: IVF recall vs the exact top-k
# --------------------------------------------------------------------------
def test_ivf_recall(spark):
    from data_engineering_individual_assignment_spark.operators.similarity import (
        block_topk,
        ivf_topk,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             block_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              ivf_topk(emb, q, num_cells=8, nprobe=2, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall collapsed: {recall}"
    assert len(approx) == len(exact)  # same shape: 5 per query


def _numpy_topk(rows, qids, k):
    """Pure-numpy exact cosine top-k over the full (query x corpus)
    matrix: rank by (-cosine, neighbor_id), self-matches excluded."""
    ids = np.array([i for i, _ in rows])
    X = np.array([v for _, v in rows], dtype=np.float64)
    cos = X @ X.T / np.outer(np.linalg.norm(X, axis=1), np.linalg.norm(X, axis=1))
    out = []
    for qid in qids:
        qi = int(np.flatnonzero(ids == qid)[0])
        order = [j for j in np.lexsort((ids, -cos[qi])) if ids[j] != qid][:k]
        out += [(qid, int(ids[j]), rk + 1, cos[qi, j]) for rk, j in enumerate(order)]
    return out


def _assert_topk_equal(got, want):
    got = sorted(tuple(r) for r in got)
    assert [r[:3] for r in got] == sorted(r[:3] for r in want)
    np.testing.assert_allclose(
        [r[3] for r in got], [r[3] for r in sorted(want)], atol=1e-6
    )


def test_block_topk_equals_brute_force(spark):
    """block_topk is the exact operator: the same (query, neighbor,
    rank, sim) rows as a brute-force full-matrix numpy ranking, including the
    neighbor-id tie-break and self-match exclusion, across 7 blocks."""
    from data_engineering_individual_assignment_spark.operators.similarity import (
        block_topk,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").repartition(7)  # force >1 block
    q = emb.filter(F.col("vec_id") < 10)
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.collect()]
    _assert_topk_equal(block_topk(emb, q, k=5).collect(), _numpy_topk(rows, range(10), 5))


def test_block_topk_keeps_lowest_ids_of_a_tie_across_k(spark):
    """Eight exact copies of the best neighbor tie across k=5: the top-k
    must be their five lowest ids, on 7 partitions (the window merges
    local lists) and on 1 (the local cut itself must keep them).  A
    partial sort that cuts at k+1 rows keeps an arbitrary subset of the
    tied rows."""
    import random

    from data_engineering_individual_assignment_spark.operators.similarity import (
        block_topk,
    )

    rng = random.Random(5)
    ids = rng.sample(range(1, 400), 120)
    tied = set(ids[:8])
    rows = [(0, [1.0, 1.0, 0.0, 0.0]), (400, [0.0, 1.0, 0.0, 0.0])] + [
        (i, [1.0, 0.0, 0.0, 0.0] if i in tied else [0.0, 0.0, rng.random(), 1.0])
        for i in ids
    ]
    rng.shuffle(rows)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = _numpy_topk(rows, [0, 400], 5)
    assert {r[1] for r in want if r[0] == 0} == set(sorted(tied)[:5])
    for laid_out in (emb.repartition(7), emb.coalesce(1)):
        q = laid_out.filter(F.col("vec_id").isin(0, 400))
        _assert_topk_equal(block_topk(laid_out, q, k=5).collect(), want)


# --------------------------------------------------------------------------
# Embedding near-dup: exact finds planted pairs; hyperplane LSH recalls them
# --------------------------------------------------------------------------
def test_embedding_near_dup_planted(spark):
    import random

    from data_engineering_individual_assignment_spark.operators.similarity import (
        cosine_near_dup_pairs,
        hyperplane_lsh_pairs,
    )

    rng = random.Random(7)
    dim = 16
    base = [rng.gauss(0, 1) for _ in range(dim)]
    near = [v + rng.gauss(0, 0.01) for v in base]          # cos ~ 0.9999
    rows = [(0, base), (1, near)] + [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(2, 40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {(r["id_a"], r["id_b"]) for r in
             cosine_near_dup_pairs(emb, threshold=0.99).collect()}
    assert (0, 1) in exact

    approx = {(r["id_a"], r["id_b"]) for r in
              hyperplane_lsh_pairs(emb, num_planes=8, threshold=0.99, dim=dim).collect()}
    # a cos~0.9999 pair flips a given bit with p=theta/pi~0.004;
    # P(all 8 bits agree) ~ 0.97 — with this seed it must be recalled
    assert (0, 1) in approx
    assert approx <= exact  # exact verification: no false positives


def test_embedding_near_dup_survives_count_pruning(spark):
    """count()/agg over the self-cogroup must work: with one shared
    projection feeding both cogroup sides, Catalyst's attribute dedup
    pointed the right side's vid/vec at the LEFT side's ids and the
    count-induced column pruning dropped them from the right child —
    the Python worker then received a frame without vid (KeyError).
    Pinned by building each side from its own projection."""
    import random

    from data_engineering_individual_assignment_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    rng = random.Random(11)
    base = [rng.gauss(0, 1) for _ in range(8)]
    rows = [(0, base), (1, list(base))] + [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(2, 30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert cosine_near_dup_pairs(emb, threshold=0.99).count() >= 1


def test_choose_bands_theory():
    from data_engineering_individual_assignment_spark.operators.dedup import (
        choose_bands,
    )

    # inflection (1/b)^(1/r) must sit at-or-below the threshold (recall-
    # safe) and b*r must always equal the hash budget
    for t in (0.5, 0.7, 0.8, 0.9):
        b, r = choose_bands(t, 24)
        assert b * r == 24
        assert (1.0 / b) ** (1.0 / r) <= t + 1e-9
    # higher thresholds want more rows per band (steeper curve)
    assert choose_bands(0.9, 24)[1] >= choose_bands(0.5, 24)[1]


def test_ivf_kmeans_recall_at_least_default(spark):
    """KMeans cells should not be worse than the lowest-id-centroid stub."""
    from data_engineering_individual_assignment_spark.operators.similarity import (
        block_topk,
        ivf_topk,
    )
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             block_topk(emb, q, k=5).collect()}
    km = {(r["query_id"], r["neighbor_id"]) for r in
          ivf_topk(emb, q, num_cells=8, nprobe=2, k=5, use_kmeans=True).collect()}
    recall = len(exact & km) / len(exact)
    # NOT compared against the lowest-id-centroid variant: on this
    # testdata the low-id vectors coincide with the planted cluster
    # exemplars (and the queries themselves), so the stand-in recalls
    # 0.86 vs kmeans 0.48 at nprobe=2 — a data artifact, not a quality
    # ordering (both partitions are balanced: top-2 cells hold 28% vs
    # 40% of the corpus).
    assert recall >= 0.4, f"kmeans IVF recall collapsed: {recall}"
    # the real invariant: probing EVERY cell must equal the exact top-k
    full = {(r["query_id"], r["neighbor_id"]) for r in
            ivf_topk(emb, q, num_cells=8, nprobe=8, k=5, use_kmeans=True).collect()}
    assert full == exact


_CHAIN_AND_ISLANDS = [(5, 9), (9, 11), (2, 3)]


@pytest.mark.parametrize(
    "rows, key_type, expected",
    [
        (_CHAIN_AND_ISLANDS, "bigint", {5: 5, 9: 5, 11: 5, 2: 2, 3: 2}),
        ([], "bigint", {}),
        (_CHAIN_AND_ISLANDS, "int", {5: 5, 9: 5, 11: 5, 2: 2, 3: 2}),
    ],
    ids=["chain_and_islands", "empty", "int_keys"],
)
def test_pair_clusters_chain_and_islands(spark, rows, key_type, expected):
    """A chain a-b, b-c must collapse to one cluster labeled min(id);
    disconnected pairs keep separate labels.  An empty pair set (which
    dedup_pipeline_roi can produce) yields no rows, and the output keeps
    the input key type."""
    from data_engineering_individual_assignment_spark.operators.dedup import (
        pair_clusters,
    )

    pairs = spark.createDataFrame(rows, f"doc_a {key_type}, doc_b {key_type}")
    clusters = pair_clusters(pairs)
    assert clusters.dtypes == [("doc_id", key_type), ("cluster_id", key_type)]
    out = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert out == expected


def test_pair_clusters_long_chain_converges(spark):
    """A 30-node drift chain (diameter 29) must converge in O(log d)
    rounds thanks to path halving, all labeled with the min id.  It takes
    5 rounds; pair_clusters raises if it has not converged by max_iter,
    so max_iter=6 bounds the round count."""
    from data_engineering_individual_assignment_spark.operators.dedup import (
        pair_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 129)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in pair_clusters(pairs, max_iter=6).collect()
    }
    assert set(out) == set(range(100, 130))
    assert set(out.values()) == {100}


def test_pagerank_mass_and_centrality(spark):
    """On a star graph a-b, a-c, a-d: total rank mass stays 1 (undirected
    graph has no dangling leak) and the hub out-ranks the leaves, which
    tie exactly by symmetry."""
    from data_engineering_individual_assignment_spark.operators.graph import pagerank

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["rank"] for r in pagerank(pairs, iterations=5).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert abs(sum(out.values()) - 1.0) < 1e-4
    assert out[1] > out[2]
    assert out[2] == out[3] == out[4]


def test_asof_tolerance_nulls_stale_matches(spark):
    """tolerance='1 HOUR': a right row more than an hour older than the
    left timestamp must not match; a fresh one still does."""
    from data_engineering_individual_assignment_spark.operators import joins

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12, 0), 7),
         (2, dt.datetime(2024, 1, 1, 12, 0), 8)],
        "id long, ts timestamp, k long",
    )
    right = spark.createDataFrame(
        [(7, dt.datetime(2024, 1, 1, 11, 30), 100.0),   # 30 min old: fresh
         (8, dt.datetime(2024, 1, 1, 9, 0), 200.0)],    # 3 h old: stale
        "k long, rts timestamp, payload double",
    )
    out = {r["id"]: r["payload"] for r in joins.asof_join(
        left, right, left_ts="ts", right_ts="rts",
        left_by="k", right_by="k",
        right_cols=["payload"], tolerance="1 HOUR",
    ).collect()}
    assert out == {1: 100.0, 2: None}
    # inner mode drops the stale row entirely
    inner = joins.asof_join(
        left, right, left_ts="ts", right_ts="rts",
        left_by="k", right_by="k",
        right_cols=["payload"], tolerance="1 HOUR", how="inner",
    ).collect()
    assert [r["id"] for r in inner] == [1]


def test_k_core_planted(spark):
    """2-core of a K4 plus a pendant chain keeps exactly the K4; a
     3-core keeps it too (deg 3); a 4-core is empty.  Peeling must
    cascade: removing the chain tip lowers its neighbor below k."""
    from data_engineering_individual_assignment_spark.operators.graph import k_core

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    chain = [(4, 5), (5, 6), (6, 7)]  # pendant path hanging off the K4
    pairs = spark.createDataFrame(k4 + chain, "doc_a long, doc_b long")

    core2 = {r.node: r.core_deg for r in k_core(pairs, k=2).collect()}
    assert set(core2) == {1, 2, 3, 4}
    assert all(d >= 2 for d in core2.values())

    core3 = {r.node for r in k_core(pairs, k=3).collect()}
    assert core3 == {1, 2, 3, 4}

    assert k_core(pairs, k=4).count() == 0


def test_k_core_raises_on_round_exhaustion(spark):
    """A long pendant chain peels ~L/2 rounds; with max_rounds too
    small the operator must FAIL LOUDLY, not return a non-core."""
    import pytest as _pytest

    from data_engineering_individual_assignment_spark.operators.graph import k_core

    chain = [(i, i + 1) for i in range(1, 30)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="fixed point"):
        k_core(pairs, k=2, max_rounds=3)
    # with enough rounds the pure chain's 2-core is empty
    assert k_core(pairs, k=2, max_rounds=30).count() == 0


# --------------------------------------------------------------------------
# Zip-slice gram builder vs an independent Python reference
# --------------------------------------------------------------------------
def test_shingle_rows_match_python_reference(spark):
    """hashed_shingle_rows / shingle_string_rows build k-grams via
    explode(arrays_zip(slice..)) with no window — pin the produced
    multiset per doc against a plain Python sliding-window reference,
    including the edge docs (< k tokens, exactly k, repeated grams,
    messy whitespace/case)."""
    from data_engineering_individual_assignment_spark.operators import dedup

    rows = [
        (1, "a b c d e"),
        (2, "one two"),              # < k tokens -> no grams
        (3, "x y z"),                # exactly k -> one gram
        (4, "a b a b a b"),          # repeated grams (multiset!)
        (5, "  Mixed   CASE  spacing\there "),
        (6, ""),                     # empty text -> no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k = 3

    def ref_grams(text):
        toks = text.strip().lower().split()
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]

    expected = {}
    for doc_id, text in rows:
        for g in ref_grams(text):
            expected[(doc_id, g)] = expected.get((doc_id, g), 0) + 1

    got = {}
    for r in dedup.shingle_string_rows(df, "text", "doc_id", k).collect():
        key = (r["doc_id"], r["sh"])
        got[key] = got.get(key, 0) + 1
    assert got == expected

    # hashed form: same per-doc multiset CARDINALITIES and the hash of
    # equal grams must collide exactly (doc 4's repeats)
    hrows = dedup.hashed_shingle_rows(df, "text", "doc_id", k).collect()
    per_doc = {}
    for r in hrows:
        per_doc.setdefault(r["doc_id"], []).append(r["shingle_h"])
    assert {d: len(v) for d, v in per_doc.items() if v} == {
        d: len([g for g in ref_grams(t)]) for d, t in rows if ref_grams(t)
    }
    assert len(set(per_doc[4])) == 2  # "a b a"/"b a b" alternate


def test_contamination_set_semantics_counts_repeats_once(spark):
    """A gram repeated many times inside one corpus doc counts ONCE in
    n_shared (per-doc set semantics via row-local array_distinct)."""
    from data_engineering_individual_assignment_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(100, "p q r p q r p q r p q r s t u")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(1, "p q r x y z q r s")], "doc_id long, text string"
    )
    out = dedup.contamination_pairs(
        corpus, bench, "text", "doc_id", k=3, min_shared=1
    ).collect()
    assert len(out) == 1
    # shared DISTINCT 3-grams are {"p q r", "q r s"}: "p q r" occurs 4x
    # in the corpus doc but counts once
    assert out[0]["n_shared"] == 2


def test_derived_lsh_knob_formulas():
    """The data-adaptive defaults are pinned: planes = clamp(ceil(log2
    n), 12, 32) and cells = clamp(ceil(sqrt n), 8, 65536) — monotone,
    clamped, and matching the SCALING_300X knob evidence (600k vectors
    -> 20 planes, the width the knob row measured at 59.3 s)."""
    from data_engineering_individual_assignment_spark.operators.similarity import (
        derived_num_cells,
        derived_num_planes,
    )

    assert derived_num_planes(1) == 12
    assert derived_num_planes(2_000) == 12  # sf0.1 embeddings
    assert derived_num_planes(600_000) == 20  # 300x corpus
    assert derived_num_planes(10**9) == 30
    assert derived_num_planes(10**12) == 32  # cap
    assert derived_num_cells(1) == 8
    assert derived_num_cells(2_000) == 45
    assert derived_num_cells(600_000) == 775
    assert derived_num_cells(10**12) == 65536  # cap
    ns = [10, 10**3, 10**6, 10**9, 10**12]
    for f in (derived_num_planes, derived_num_cells):
        vals = [f(n) for n in ns]
        assert vals == sorted(vals)


def test_lsh_operators_default_knobs_derive_from_corpus(spark):
    """Calling either operator without the knob derives it from the
    corpus count and still returns the planted near-dup pair."""
    from data_engineering_individual_assignment_spark.operators.similarity import (
        hyperplane_lsh_pairs,
        semdedup_pairs,
    )

    import math

    dim = 8
    base = [math.sin(i + 1) for i in range(dim)]
    rows = [(0, base), (1, base), (2, [-x for x in base])]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    lsh = {
        (r.id_a, r.id_b)
        for r in hyperplane_lsh_pairs(emb, threshold=0.99, dim=dim).collect()
    }
    assert (0, 1) in lsh and not any(2 in p for p in lsh)
    sd = {
        (r.kept_id, r.dropped_id)
        for r in semdedup_pairs(emb, threshold=0.99, window=3).collect()
    }
    assert (0, 1) in sd
