"""Semantic invariants for the training-prep batch (plans/training.py)
— properties the DuckDB differential can't express: packing fill
conservation, quantized-ANN recall vs the exact path, split stability
under corpus growth.  Cross-engine value checks live in
tests/test_queries_oracle.py like every other catalog query."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_individual_assignment_spark import plans
from data_engineering_individual_assignment_spark.operators import similarity
from data_engineering_individual_assignment_spark.plans.training import (
    _N_SHARDS,
    _SEQ_LEN,
)
from data_engineering_individual_assignment_spark.sources.readers import load_table

from .conftest import SF_SMALL


def _q(spark, name):
    return plans.CATALOG[name].fn(spark, SF_SMALL)


# ---------------------------------------------------------------- packing
def test_sequence_packing_fill_and_carryover(spark):
    df = _q(spark, "sequence_packing").collect()
    per_shard: dict[int, list] = {}
    for r in df:
        per_shard.setdefault(r.shard, []).append(r)
    assert set(per_shard) == set(range(_N_SHARDS))
    for shard, rows in per_shard.items():
        rows.sort(key=lambda r: r.seq_id)
        # seq ids are dense from 0
        assert [r.seq_id for r in rows] == list(range(len(rows)))
        # every sequence except the shard's last is exactly full
        for r in rows[:-1]:
            assert r.n_tokens_filled == _SEQ_LEN, (shard, r)
        assert 1 <= rows[-1].n_tokens_filled <= _SEQ_LEN
        # carryover: every sequence after the first starts mid-document
        # or on a boundary; carryover is 0 or 1 by construction (only
        # one document can straddle the left edge)
        for r in rows:
            assert r.n_carryover in (0, 1)
        assert rows[0].n_carryover == 0


def test_sequence_packing_conserves_tokens(spark):
    """Total filled tokens across sequences == total corpus tokens
    (nothing dropped, nothing double-counted)."""
    df = _q(spark, "sequence_packing")
    packed = df.agg(F.sum("n_tokens_filled").alias("s")).first().s
    docs = load_table(spark, SF_SMALL, "documents")
    total = (
        docs.select(F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n"))
        .filter(F.col("n") >= 1)
        .agg(F.sum("n"))
        .first()[0]
    )
    assert packed == total


# ------------------------------------------------------------------ bm25
def test_bm25_scores_positive_and_sorted(spark):
    rows = _q(spark, "bm25_topk").collect()
    assert 0 < len(rows) <= 10
    scores = [r.bm25 for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_bm25_more_matching_terms_scores_higher(spark):
    """A planted doc containing all three query terms outranks one with
    a single term, document lengths equal."""
    d = spark.createDataFrame(
        [
            (1, "spark join window pad pad pad"),
            (2, "spark pad pad pad pad pad"),
            (3, "nothing here at all pad pad"),
        ],
        "doc_id long, text string",
    )
    import data_engineering_individual_assignment_spark.plans.training as T

    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    )
    tf = (
        toks.filter(F.col("tok").isin(*T._BM25_TERMS))
        .groupBy("doc_id")
        .count()
        .collect()
    )
    counts = {r.doc_id: r["count"] for r in tf}
    assert counts.get(1, 0) == 3 and counts.get(2, 0) == 1 and 3 not in counts


# ------------------------------------------------------------- int8 ANN
def test_quantize_int8_codes_bounded(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = similarity.quantize_int8(emb, "embedding", "q")
    mx = q.select(
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("m")
    ).agg(F.max("m")).first()[0]
    assert mx <= 127
    # at least one dimension per vector hits full scale (|q| == 127)
    full = q.select(
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("m")
    ).filter(F.col("m") == 127)
    assert full.count() == emb.count()


def test_ann_int8_recall_vs_exact(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.block_topk(emb, queries, k=5).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id)
        for r in similarity.quantized_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, recall  # int8 on 64 dims barely perturbs ranks


# ------------------------------------------------------------------ split
def test_corpus_split_fractions(spark):
    df = _q(spark, "corpus_split_manifest")
    tot = df.groupBy("split").agg(F.sum("n_docs").alias("n")).collect()
    by = {r.split: r.n for r in tot}
    n = sum(by.values())
    assert set(by) <= {"train", "valid", "test"}
    assert by["train"] / n > 0.8  # 90% nominal, small-sample slack
    assert (by.get("valid", 0) + by.get("test", 0)) / n < 0.2


def test_corpus_split_stable_under_growth(spark):
    """Membership depends only on (source, doc_id): recomputing on a
    corpus with extra documents never reassigns an existing one."""
    d = load_table(spark, SF_SMALL, "documents")
    h = (
        F.conv(F.substring(F.md5(F.concat_ws(":", "source", "doc_id")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    base = {r.doc_id: r.h for r in d.select("doc_id", h.alias("h")).collect()}
    grown = d.unionByName(
        d.select(
            (F.col("doc_id") + 10**6).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    after = {
        r.doc_id: r.h
        for r in grown.select("doc_id", h.alias("h")).collect()
        if r.doc_id < 10**6
    }
    assert base == after


def test_kfold_cv_folds_partition_the_data(spark):
    """The 4 folds cover every row exactly once; each fold's
    leave-fold-out coefficients hover near the full-data fit (the folds
    are random-ish modulo splits of one homogeneous relation)."""
    from data_engineering_individual_assignment_spark import plans
    from data_engineering_individual_assignment_spark.sources.readers import load_table

    from .conftest import SF_SMALL

    rows = plans.CATALOG["kfold_ols_cv"].fn(spark, SF_SMALL).collect()
    assert [r.fold for r in rows] == [0, 1, 2, 3]
    total = sum(r.n_test for r in rows)
    assert total == load_table(spark, SF_SMALL, "lineitem").count()
    for r in rows:
        assert r.rmse > 0
    # the complement-sufficient-stats algebra must equal a direct OLS fit
    # on the train subset (all rows with fold != 0)
    from pyspark.sql import functions as F

    li = load_table(spark, SF_SMALL, "lineitem")
    train = li.where((F.col("l_orderkey") % 4) != 0).select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    direct = train.agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("b1"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
    ).first()
    fold0 = rows[0]
    assert abs(fold0.slope - direct.b1) < 1e-3
    assert abs(fold0.intercept - (direct.my - direct.b1 * direct.mx)) < 1e-2


def test_residual_intervals_are_ordered_and_centered(spark):
    from data_engineering_individual_assignment_spark import plans

    from .conftest import SF_SMALL

    rows = plans.CATALOG["residual_intervals_by_priority"].fn(
        spark, SF_SMALL
    ).collect()
    assert rows
    for r in rows:
        assert r.resid_p10 < r.resid_p90
        assert abs(r.interval_width - (r.resid_p90 - r.resid_p10)) < 0.02
    # pooled residuals are mean-zero by construction, so ACROSS segments
    # the intervals must reach both sides of zero (per-segment centering
    # is a data property, not a guarantee)
    assert min(r.resid_p10 for r in rows) < 0 < max(r.resid_p90 for r in rows)


def test_isotonic_fit_invariants(spark):
    """PAVA invariants: fitted sequence is monotone nondecreasing,
    total weighted mean is preserved, each pool's fit equals its
    weighted y mean, and the whole fit matches a brute-force numpy
    PAVA on a planted violation pattern."""
    import numpy as np

    from data_engineering_individual_assignment_spark.operators.regression import (
        isotonic_fit,
    )

    # planted: y dips at x=3 (violation) and spikes at x=5
    rows = []
    data = {1: [1.0, 1.2], 2: [2.0], 3: [0.5, 0.7, 0.6], 4: [2.5], 5: [9.0], 6: [3.0]}
    for x, ys in data.items():
        rows += [(float(x), y) for y in ys]
    df = spark.createDataFrame(rows, "x double, y double")
    got = (
        isotonic_fit(df, "x", "y")
        .orderBy("x")
        .collect()
    )
    xs = [r.x for r in got]
    fit = [r.fit for r in got]
    w = [r.n for r in got]
    ymean = [r.y_mean for r in got]
    assert xs == sorted(xs) and len(xs) == 6
    # monotone
    assert all(a <= b + 1e-12 for a, b in zip(fit, fit[1:]))
    # weighted mean preserved
    assert abs(
        sum(f * n for f, n in zip(fit, w)) - sum(m * n for m, n in zip(ymean, w))
    ) < 1e-9

    # brute-force PAVA reference
    def ref_pava(v, wt):
        v, wt = list(v), list(wt)
        sizes = [1] * len(v)
        i = 0
        out_v, out_w, out_s = [], [], []
        for a, b in zip(v, wt):
            out_v.append(a); out_w.append(b); out_s.append(1)
            while len(out_v) > 1 and out_v[-2] > out_v[-1]:
                v2, w2, s2 = out_v.pop(), out_w.pop(), out_s.pop()
                out_v[-1] = (out_v[-1] * out_w[-1] + v2 * w2) / (out_w[-1] + w2)
                out_w[-1] += w2
                out_s[-1] += s2
        return list(np.repeat(out_v, out_s))

    expect = ref_pava(ymean, w)
    assert all(abs(a - b) < 1e-9 for a, b in zip(fit, expect))
    # pool-mean structure: distinct fitted levels each equal their
    # pool's weighted y mean
    from itertools import groupby

    idx = 0
    for level, grp in groupby(range(len(fit)), key=lambda i: fit[i]):
        members = list(grp)
        pooled = sum(ymean[i] * w[i] for i in members) / sum(w[i] for i in members)
        assert abs(level - pooled) < 1e-9
        idx += len(members)


def test_isotonic_per_group(spark):
    """group column keeps fits independent."""
    from data_engineering_individual_assignment_spark.operators.regression import (
        isotonic_fit,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 5.0), ("a", 2.0, 1.0), ("b", 1.0, 0.0), ("b", 2.0, 9.0)],
        "g string, x double, y double",
    )
    got = {
        (r.g, r.x): r.fit
        for r in isotonic_fit(df, "x", "y", group="g").collect()
    }
    assert got[("a", 1.0)] == got[("a", 2.0)] == 3.0  # violation pooled
    assert got[("b", 1.0)] == 0.0 and got[("b", 2.0)] == 9.0  # already monotone


def test_quality_classifier_learns_separable_signal(spark):
    """The unrolled-GD logistic classifier must genuinely learn on the
    synthetic corpus: positive weight on the centered length feature
    (content predicts the n_chars metadata gate) and accuracy strictly
    better than the majority class."""
    from data_engineering_individual_assignment_spark import plans

    row = plans.CATALOG["quality_classifier_gd"].fn(spark, SF_SMALL).collect()[0]
    assert row["b1"] > 0.5  # length feature carries the signal
    majority = max(row["n_pos"], row["n_docs"] - row["n_pos"])
    assert row["n_correct"] > majority
    assert 0.0 <= row["mean_p_neg"] < row["mean_p_pos"] <= 1.0


def test_classifier_calibration_bins_and_auc(spark):
    """Reliability bins must partition the corpus, be monotone-ish in
    mean_p, and the rank AUC must beat coin-flip on the separable
    signal (and agree with a direct numpy AUC computation)."""
    import numpy as np

    from data_engineering_individual_assignment_spark import plans
    from data_engineering_individual_assignment_spark.plans.training import (
        _lr_feature_frame,
        _lr_sigmoid,
        _lr_train,
    )
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
    )

    out = plans.CATALOG["classifier_calibration"].fn(spark, SF_SMALL).collect()
    rows = sorted(out, key=lambda r: r["bin"])
    d = load_table(spark, SF_SMALL, "documents")
    assert sum(r["n"] for r in rows) == d.count()
    mean_ps = [r["mean_p"] for r in rows]
    assert mean_ps == sorted(mean_ps)  # bin means are ordered by bin
    auc = rows[0]["auc"]
    assert all(r["auc"] == auc for r in rows)
    assert auc > 0.8  # the length signal separates strongly

    # independent AUC: numpy mid-rank-free row_number with the same
    # (p, doc_id) tiebreak
    f = _lr_feature_frame(d)
    betas = _lr_train(f)
    scored = f.select("doc_id", "y", _lr_sigmoid(betas).alias("p")).collect()
    arr = sorted(scored, key=lambda r: (r["p"], r["doc_id"]))
    ranks = {r["doc_id"]: i + 1 for i, r in enumerate(arr)}
    pos = [r for r in scored if r["y"] == 1.0]
    n1, n0 = len(pos), len(scored) - len(pos)
    u = sum(ranks[r["doc_id"]] for r in pos) - n1 * (n1 + 1) / 2.0
    assert abs(auc - round(u / (n1 * n0), 4)) < 1e-9


# ------------------------------------------------------- DSIR selection
def test_dsir_weights_rank_target_language_first(spark):
    """The importance weight must systematically prefer documents drawn
    from the target (English) distribution: mean weight of en docs above
    mean weight of every other language, and the top decile by weight
    should be overwhelmingly en."""
    rows = _q(spark, "dsir_importance_weights").collect()
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.weight_micro / r.n_bigrams)
    means = {lang: sum(v) / len(v) for lang, v in by_lang.items()}
    assert all(means["en"] > m for lang, m in means.items() if lang != "en")
    top = sorted(rows, key=lambda r: -(r.weight_micro / r.n_bigrams))
    top_decile = top[: max(len(top) // 10, 1)]
    en_frac = sum(1 for r in top_decile if r.lang == "en") / len(top_decile)
    assert en_frac >= 0.9


def test_dsir_weights_are_exact_integers_and_cover_corpus(spark):
    d = load_table(spark, SF_SMALL, "documents")
    eligible = d.filter(F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= 2)
    rows = _q(spark, "dsir_importance_weights").collect()
    assert len(rows) == eligible.count()
    assert all(isinstance(r.weight_micro, int) for r in rows)
    assert all(r.n_bigrams >= 1 for r in rows)


# ------------------------------------------------ padded-batch formation
def test_length_bucketing_beats_arrival_order(spark):
    rows = {r.scheme: r for r in _q(spark, "length_bucketed_batching").collect()}
    arr, buck = rows["arrival_order"], rows["length_bucketed"]
    # same documents -> same real-token mass
    assert arr.total_tokens == buck.total_tokens
    # bucketing strictly reduces padding waste on this corpus
    assert buck.fill_ratio > arr.fill_ratio
    assert buck.padded_slots < arr.padded_slots
    # fill is a valid fraction and every batch holds <= _BATCH_SIZE docs
    for r in (arr, buck):
        assert 0.0 < r.fill_ratio <= 1.0
        assert r.total_tokens <= r.padded_slots


# ------------------------------------------------------------- SemDeDup
def test_semdedup_subset_of_exact_pairs_and_full_clone_recall(spark):
    """Every (kept, dropped) pair semdedup reports must be a true
    cos>=0.95 pair (no false positives — guaranteed by the exact verify
    step), and all 5 planted exact clones must be recovered (the clones
    share their original's centroid similarity, so the rank-window
    blocking cannot separate them)."""
    sem = _q(spark, "semdedup_cells").collect()
    exact = {
        (r.id_a, r.id_b)
        for r in _q(spark, "embedding_near_dup").collect()
    }
    assert {(r.kept_id, r.dropped_id) for r in sem} <= exact
    # the 5 planted clones (vec_id < 5 cloned to +1e6) all dropped
    dropped = {r.dropped_id for r in sem}
    assert {1_000_000 + i for i in range(5)} <= dropped
    for r in sem:
        assert r.cos_sim >= 0.95
        assert r.kept_id < r.dropped_id


def test_semdedup_operator_window_blocking_is_linear_in_candidates(spark):
    """The candidate relation is rank-window-bounded: pairs per cell
    <= window * cell_size, never cell_size^2 — asserted structurally by
    recomputing candidate counts from the operator's own rank relation."""
    from data_engineering_individual_assignment_spark.operators.similarity import (
        semdedup_pairs,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    out = semdedup_pairs(emb.select("vec_id", "embedding"), num_cells=4, window=2)
    # no clones planted here: near-orthogonal synthetic vectors produce
    # zero drops at 0.95 — the operator must return an EMPTY relation
    # with the contract schema, not error
    assert out.columns == ["cell_id", "kept_id", "dropped_id", "cos_sim"]
    assert out.count() == 0


# --------------------------------------------------------- hybrid fusion
def test_hybrid_rrf_fusion_legs_and_arithmetic(spark):
    rows = _q(spark, "hybrid_rrf_fusion").collect()
    assert 0 < len(rows) <= 10
    # fused scores descend; exact integer micro-unit arithmetic
    scores = [r.rrf_micro for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        expect = 0
        for rank in (r.lex_rank, r.vec_rank):
            if rank > 0:
                expect += round(1_000_000.0 / (60 + rank))
        assert r.rrf_micro == expect
        assert r.lex_rank > 0 or r.vec_rank > 0
    # the query's own embedding (vec 0) must lead the dense leg
    by_doc = {r.doc_id: r for r in rows}
    assert 0 in by_doc and by_doc[0].vec_rank == 1
    # lexical leg rank 1 == bm25_topk's top document
    bm25_first = _q(spark, "bm25_topk").collect()[0].doc_id
    lex1 = [r.doc_id for r in rows if r.lex_rank == 1]
    assert lex1 == [bm25_first]
    # a doc present on both legs must outrank single-leg docs with
    # comparable ranks (the point of fusion)
    both = [r for r in rows if r.lex_rank > 0 and r.vec_rank > 0]
    if both:
        single = [r for r in rows if (r.lex_rank > 0) != (r.vec_rank > 0)]
        assert all(b.rrf_micro > s.rrf_micro for b in both for s in single
                   if max(s.lex_rank, s.vec_rank) >= max(b.lex_rank, b.vec_rank))


# ------------------------------------------------------ retrieval eval
def test_retrieval_metrics_bounds_and_numpy_agreement(spark):
    import numpy as np

    rows = {r.query_id: r for r in _q(spark, "retrieval_metrics").collect()}
    assert len(rows) == 10
    for r in rows.values():
        assert 0 <= r.n_hits <= 5
        assert 0.0 <= r.recall_at_5 <= 1.0
        assert r.mrr == 0.0 or 0.2 - 1e-9 <= r.mrr <= 1.0
        assert 0.0 <= r.ndcg_at_5 <= 1.0 + 1e-9
        assert r.n_rel > 0

    # independent numpy derivation of every query's metrics
    emb = load_table(spark, SF_SMALL, "embeddings").collect()
    V = {e.vec_id: np.array(e.embedding, dtype=float) for e in emb}
    L = {e.vec_id: e.label for e in emb}
    for qid in range(10):
        sims = sorted(
            ((float(V[i] @ V[qid] / (np.linalg.norm(V[i]) * np.linalg.norm(V[qid]))), i)
             for i in V if i != qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        rel = [1 if L[i] == L[qid] else 0 for _, i in sims]
        n_rel = sum(1 for i in V if i != qid and L[i] == L[qid])
        r = rows[qid]
        assert r.n_rel == n_rel
        assert r.n_hits == sum(rel)
        assert r.recall_at_5 == round(sum(rel) / min(5, n_rel), 6)
        first = next((k + 1 for k, x in enumerate(rel) if x), None)
        assert r.mrr == (round(1.0 / first, 6) if first else 0.0)
        dcg = sum(x / np.log2(k + 2) for k, x in enumerate(rel))
        idcg = sum(1.0 / np.log2(k + 2) for k in range(min(5, n_rel)))
        assert abs(r.ndcg_at_5 - round(dcg / idcg, 6)) < 2e-6


def test_tokenizer_fertility_conservation(spark):
    from data_engineering_individual_assignment_spark.functions.text import (
        token_count,
    )

    rows = _q(spark, "tokenizer_fertility").collect()
    d = load_table(spark, SF_SMALL, "documents")
    assert {r.lang for r in rows} == {
        x.lang for x in d.select("lang").distinct().collect()
    }
    total_ws = d.select(F.sum(token_count("text"))).first()[0]
    assert sum(r.ws_tokens for r in rows) == total_ws
    for r in rows:
        assert r.fertility > 0 and r.chars_per_token > 0
        assert r.bpe_tokens >= r.ws_tokens  # subwords at least split words


# ------------------------------------------------------- bin packing
def test_bin_packing_invariants_and_python_replay(spark):
    from data_engineering_individual_assignment_spark.plans.training import (
        _BIN_CAP,
        _N_SHARDS,
    )
    from data_engineering_individual_assignment_spark.functions.text import (
        token_count,
    )

    rows = _q(spark, "bin_packing_manifest").collect()
    d = load_table(spark, SF_SMALL, "documents")
    eligible = (
        d.select(
            "doc_id",
            (F.col("doc_id") % _N_SHARDS).alias("shard"),
            token_count("text").cast("long").alias("n"),
        )
        .filter(F.col("n").between(1, _BIN_CAP))
        .collect()
    )
    # conservation + cap + density
    assert sum(r.tokens_filled for r in rows) == sum(e.n for e in eligible)
    assert sum(r.n_docs for r in rows) == len(eligible)
    per_shard: dict[int, list] = {}
    for r in rows:
        assert 1 <= r.tokens_filled <= _BIN_CAP
        per_shard.setdefault(r.shard, []).append(r)
    for shard, bins in per_shard.items():
        bins.sort(key=lambda r: r.bin_id)
        assert [b.bin_id for b in bins] == list(range(len(bins)))
    # full plain-Python replay of the next-fit-decreasing recurrence
    expect: dict[tuple[int, int], tuple[int, int]] = {}
    for shard in sorted({e.shard for e in eligible}):
        docs = sorted(
            ((e.n, e.doc_id) for e in eligible if e.shard == shard),
            key=lambda t: (-t[0], t[1]),
        )
        bin_id, tok, n_docs = 0, 0, 0
        for n, _ in docs:
            if n_docs and tok + n > _BIN_CAP:
                expect[(shard, bin_id)] = (n_docs, tok)
                bin_id, tok, n_docs = bin_id + 1, n, 1
            else:
                tok += n
                n_docs += 1
        if n_docs:
            expect[(shard, bin_id)] = (n_docs, tok)
    got = {(r.shard, r.bin_id): (r.n_docs, r.tokens_filled) for r in rows}
    assert got == expect


# ------------------------------------------------- dedup tuning curve
def test_dedup_threshold_curve_monotone_and_consistent(spark):
    rows = sorted(_q(spark, "dedup_threshold_curve").collect(),
                  key=lambda r: r.threshold)
    assert [r.threshold for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    pairs = [r.n_pairs for r in rows]
    docs = [r.n_docs_affected for r in rows]
    # raising the threshold can only shrink the dedup blast radius
    assert pairs == sorted(pairs, reverse=True)
    assert docs == sorted(docs, reverse=True)
    assert all(d <= 2 * p for p, d in zip(pairs, docs))
    # the 0.7 point must agree with the standalone near_dup_pairs query
    at_07 = next(r.n_pairs for r in rows if r.threshold == 0.7)
    assert at_07 == _q(spark, "near_dup_pairs").count()


# ---------------------------------------------------- epoch shuffling
def test_epoch_shuffle_is_deterministic_and_differs_by_epoch(spark):
    from data_engineering_individual_assignment_spark.plans.training import (
        _ES_EPOCHS,
    )

    d = load_table(spark, SF_SMALL, "documents")
    n = d.count()
    rows = _q(spark, "epoch_shuffle_manifest").collect()
    again = _q(spark, "epoch_shuffle_manifest").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))  # replayable
    by_epoch: dict[int, dict[int, tuple]] = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, {})[r.shard] = (
            r.n_docs, r.first_doc, r.order_fp
        )
    assert set(by_epoch) == set(range(_ES_EPOCHS))
    for epoch, shards in by_epoch.items():
        assert sum(v[0] for v in shards.values()) == n  # partition of corpus
    # different epochs produce different shard contents/orders
    fps = [tuple(sorted((s, v[2]) for s, v in by_epoch[e].items()))
           for e in range(_ES_EPOCHS)]
    assert len(set(fps)) == _ES_EPOCHS


# --- BPE merge training -------------------------------------------------


def _py_bpe(word_counts: dict[str, int], n_merges: int):
    """Pure-Python reference BPE trainer: exact greedy non-overlapping
    merge, argmax by (count DESC, pair lexicographic)."""
    vocab = [(list(w), c) for w, c in word_counts.items()]
    merges = []
    for r in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get(
                    (syms[i], syms[i + 1]), 0
                ) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((r, best[0], best[1], counts[best]))
        new_vocab = []
        for syms, c in vocab:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(best[0] + best[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab.append((out, c))
        vocab = new_vocab
    return merges


def test_bpe_matches_pure_python_reference(spark):
    from data_engineering_individual_assignment_spark.operators.bpe import (
        bpe_train_merges,
    )

    texts = [
        "aaaa aaa banana bandana",
        "aaaa cabbage banana abab",
        "aaa abab abab banana band",
        "cabbage band bandana aaaa",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    counts: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    expected = _py_bpe(counts, 5)
    got = [
        (r["merge_round"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train_merges(docs, "text", 5).collect()
    ]
    assert got == expected


def test_bpe_greedy_merge_is_nonoverlapping(spark):
    from data_engineering_individual_assignment_spark.operators.bpe import (
        merge_pair_greedy,
    )

    cases = [
        (["a", "a", "a"], ["aa", "a"]),
        (["a", "a", "a", "a"], ["aa", "aa"]),
        (["a", "a", "a", "a", "a"], ["aa", "aa", "a"]),
        (["b", "a", "a", "b"], ["b", "aa", "b"]),
        (["a", "b"], ["a", "b"]),  # no match for (a,a)
        (["a"], ["a"]),  # size-1: guarded sequence
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "syms array<string>")
    out = [
        r["m"]
        for r in df.select(
            merge_pair_greedy(F.col("syms"), "a", "a").alias("m")
        ).collect()
    ]
    assert out == [e for _, e in cases]


def test_bpe_segment_applies_learned_merges(spark):
    """Train on a corpus, replay the merge list on the words themselves:
    every learned merge must actually occur (the merged symbol appears),
    and re-counting pairs AFTER all merges must show each learned pair
    consumed (its post-merge count < its learned count)."""
    from data_engineering_individual_assignment_spark.operators.bpe import (
        bpe_apply,
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(0, "merge merger merged mergers submerge emerge emerged")],
        "doc_id long, text string",
    )
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_train_merges(docs, "text", 4).collect()
    ]
    assert len(merges) == 4
    words = docs.select(F.explode(F.split("text", " ")).alias("w"))
    seg = bpe_apply(words, "w", merges)
    toks = set()
    for row in seg.select("syms").collect():
        toks.update(row["syms"])
    # the final learned merge's output symbol must be a produced token
    final_sym = merges[-1][0] + merges[-1][1]
    assert final_sym in toks


def test_bpe_compression_curve_invariants(spark):
    """Round 0 equals the corpus's total character count (per-char
    baseline); each merge round removes exactly pair_count symbols
    (every greedy-applied merge collapses 2 symbols into 1), so the
    curve decreases and the per-round drop is bounded by the learned
    pair counts."""
    from data_engineering_individual_assignment_spark.operators.bpe import (
        bpe_compression_curve,
        bpe_train_merges,
    )

    texts = ["aaaa aaa banana bandana", "aaaa cabbage banana abab"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    curve = {
        r["merge_round"]: r["total_symbols"]
        for r in bpe_compression_curve(docs, "text", 3).collect()
    }
    n_chars = sum(len(w) for t in texts for w in t.split())
    assert curve[0] == n_chars
    merges = bpe_train_merges(docs, "text", 3).collect()
    for m in merges:
        r = m["merge_round"]
        drop = curve[r - 1] - curve[r]
        assert 0 < drop <= m["pair_count"]


def test_bpe_pair_exhaustion_stops_cleanly(spark):
    """A corpus that runs out of adjacent pairs before n_merges: the
    trainer stops yielding rounds (no empty/NULL rows), and the curve
    covers exactly the rounds that happened plus the round-0 baseline —
    the same shape the SQL oracle's HAVING guard produces."""
    from data_engineering_individual_assignment_spark.operators.bpe import (
        bpe_compression_curve,
        bpe_train_merges,
    )

    docs = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    merges = bpe_train_merges(docs, "text", 6).collect()
    assert [(m.merge_round, m.lhs, m.rhs, m.pair_count) for m in merges] == [
        (1, "a", "b", 2)
    ]
    curve = bpe_compression_curve(docs, "text", 6).collect()
    assert [(c.merge_round, c.total_symbols) for c in curve] == [(0, 4), (1, 2)]


def test_unigram_lm_train_agrees_with_pure_python_reference(spark):
    """The distributed unigram-LM trainer (hard-EM Viterbi, int64 micro
    log-probs, lexmin-path ties) must reproduce a plain-Python
    reference trainer's full trajectory output on a crafted corpus
    with real segmentation competition (pieces 'ab', 'aab', 'b' vs
    char-by-char paths)."""
    import math

    from data_engineering_individual_assignment_spark.operators.unigram import (
        unigram_train,
    )

    W, L, S, R, K = 10, 4, 8, 2, 4

    def py_train(word_counts):
        hist = {w: c for w, c in word_counts.items() if 1 <= len(w) <= W}
        subs = {}
        for w, c in hist.items():
            for ln in range(1, L + 1):
                for st in range(len(w) - ln + 1):
                    p = w[st : st + ln]
                    subs[p] = subs.get(p, 0) + c
        chars = {p: u for p, u in subs.items() if len(p) == 1}
        multi = sorted(
            ((p, u) for p, u in subs.items() if len(p) > 1),
            key=lambda t: (-t[1], t[0]),
        )[:S]
        v = {**chars, **dict(multi)}

        def logp(vv):
            tot = float(sum(vv.values()) + len(vv))
            out = {}
            for p, u in vv.items():
                x = math.log((u + 1.0) / tot) * 1e6
                out[p] = int(math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5))
            return out

        def viterbi(w, lp):
            best = [(0, "")]
            for i in range(1, len(w) + 1):
                cands = []
                for st in range(max(1, i - L + 1), i + 1):
                    piece = w[st - 1 : i]
                    if piece in lp:
                        ns, pth = best[st - 1]
                        cands.append((ns - lp[piece], pth + "\x01" + piece))
                best.append(min(cands))
            return best[len(w)][1][1:]

        for _ in range(R):
            lp = logp(v)
            u = {}
            for w, c in hist.items():
                for piece in viterbi(w, lp).split("\x01"):
                    u[piece] = u.get(piece, 0) + c
            v = {
                p: u.get(p, 0)
                for p in v
                if len(p) == 1 or u.get(p, 0) > 0
            }
        kc = {p: uu for p, uu in v.items() if len(p) == 1}
        km = dict(
            sorted(
                ((p, uu) for p, uu in v.items() if len(p) > 1),
                key=lambda t: (-t[1], t[0]),
            )[:K]
        )
        kept = {**kc, **km}
        lp = logp(kept)
        return sorted((p, kept[p], lp[p]) for p in kept)

    corpus = {
        "aabab": 7,
        "abab": 5,
        "aab": 9,
        "bba": 3,
        "cab": 4,
        "abc": 2,
        "ccc": 1,
    }
    docs = spark.createDataFrame(
        [(i, " ".join([w] * c)) for i, (w, c) in enumerate(corpus.items())],
        "doc_id long, text string",
    )
    got = [
        (r.piece, r.usage, r.logp_micro)
        for r in unigram_train(
            docs,
            "text",
            max_word_len=W,
            max_piece_len=L,
            n_seed_multi=S,
            em_rounds=R,
            keep_multi=K,
        ).collect()
    ]
    expect = py_train(corpus)
    assert [(p, u) for p, u, _ in got] == [(p, u) for p, u, _ in expect]
    for (_, _, a), (_, _, b) in zip(got, expect):
        assert abs(a - b) <= 1  # JVM vs libm ln can differ by one micro


def test_unigram_lm_train_coverage_and_determinism(spark):
    """Invariants on the real corpus: every single char of every
    training word is in the final vocab (coverage); multi-char pieces
    all have positive usage; log-probs are negative and consistent
    with the add-1 normalization; rerun is identical (determinism)."""
    from data_engineering_individual_assignment_spark import plans

    rows = plans.CATALOG["unigram_lm_train"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    pieces = {r.piece for r in rows}
    chars = {p for p in pieces if len(p) == 1}
    from data_engineering_individual_assignment_spark.operators.unigram import (
        word_histogram,
    )
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
    )

    words = word_histogram(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    ).collect()
    assert {c for r in words for c in r.word} <= chars
    assert all(r.usage > 0 for r in rows if len(r.piece) > 1)
    assert all(r.logp_micro < 0 for r in rows)
    again = plans.CATALOG["unigram_lm_train"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_viterbi_pandas_twin_agrees_with_expression_path(spark):
    """The broadcast-dict mapInPandas inference twin must reproduce the
    create_map-literal expression path EXACTLY — same segmentations,
    same lexmin tie-breaks, same NULL-on-unsegmentable — on the real
    sf0.001 trained table over the real word histogram (plus a planted
    unsegmentable word)."""
    from data_engineering_individual_assignment_spark.operators import (
        unigram as U,
    )
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    table = U.unigram_train_table(docs)
    lp = {p: m for p, _, m in table}
    words = U.word_histogram(docs).select("word").unionAll(
        spark.createDataFrame([("ßß",)], "word string")  # no piece covers it
    )
    expr = words.select(
        "word", U.viterbi_path(F.col("word"), lp).alias("path")
    )
    pandas_twin = U.viterbi_segment_pandas(words, lp)
    got_e = {r.word: r.path for r in expr.collect()}
    got_p = {r.word: r.path for r in pandas_twin.collect()}
    assert got_e == got_p
    assert got_p["ßß"] is None
    assert sum(p is not None for p in got_p.values()) == len(got_p) - 1


def test_viterbi_pandas_twin_at_production_vocab_width(spark):
    """The twin's reason to exist: a 32k-piece vocabulary, where the
    expression path's create_map literal (64k expression children) is
    not viable.  Verified against an INDEPENDENT exhaustive
    segmentation argmax (score DESC, path ASC over every binary
    split pattern) on sample words."""
    import hashlib
    import itertools

    from data_engineering_individual_assignment_spark.operators import (
        unigram as U,
    )

    alpha = "abcdefghijklmnop"  # 16**2 + 16**3 + 16**4 = 69,888 possible
    lp = {c: -3_000_000 - 10_000 * i for i, c in enumerate(alpha)}
    i = 0
    while len(lp) < 32_768:
        s = hashlib.md5(f"piece-{i}".encode()).hexdigest()
        piece = "".join(alpha[int(c, 16)] for c in s[: 2 + i % 3])
        lp.setdefault(piece, -1_000_000 - int(s[8:14], 16) % 2_000_000)
        i += 1
    words = [
        "".join(
            alpha[b % 16]
            for b in hashlib.md5(f"w{k}".encode()).digest()[: 3 + k % 6]
        )
        for k in range(200)
    ]
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r.word: r.path
        for r in U.viterbi_segment_pandas(wdf, lp, max_piece_len=4).collect()
    }

    def exhaustive(word: str):
        n = len(word)
        best = None
        for cuts in itertools.product([0, 1], repeat=n - 1):
            pos = [0] + [j + 1 for j, c in enumerate(cuts) if c] + [n]
            pieces = [word[a:b] for a, b in zip(pos, pos[1:])]
            if any(len(p) > 4 or p not in lp for p in pieces):
                continue
            score = sum(lp[p] for p in pieces)
            key = (-score, "\x01".join(pieces))
            if best is None or key < best:
                best = key
        return best[1] if best else None

    for w in words:
        assert got[w] == exhaustive(w), w


def test_unigram_logp_micro_boundary_margin(spark, monkeypatch):
    """The oracle comparison needs Spark's JVM Math.log and DuckDB's
    libm ln to round to the SAME micro (they can differ by ~1 ulp).
    Assert every (u+1)/tot ratio the sf0.001 training run actually
    feeds through ln lands far (> 1e-4 micro) from a 0.5-micro rounding
    boundary, so a last-ulp divergence can never flip a rounded value —
    the latent-differential-flake concern made into a measured fact."""
    import math

    from data_engineering_individual_assignment_spark.operators import (
        unigram as U,
    )
    from data_engineering_individual_assignment_spark.sources.readers import (
        load_table,
    )

    recorded = []
    orig = U._logp_micro_rows

    def recording(spark_, rows):
        recorded.append(list(rows))
        return orig(spark_, rows)

    monkeypatch.setattr(U, "_logp_micro_rows", recording)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    U.unigram_train_table(docs)
    assert recorded  # seed table + one per EM round
    worst = 1.0
    for rows in recorded:
        tot = float(sum(u for _, u in rows) + len(rows))
        for _piece, u in rows:
            y = math.log((u + 1) / tot) * 1e6
            worst = min(worst, abs((y - math.floor(y)) - 0.5))
    assert worst > 1e-4, worst


def test_wordpiece_train_agrees_with_pure_python_reference(spark):
    """The WordPiece trainer must reproduce a plain-Python reference
    (likelihood ranking + exact greedy merges) on a crafted corpus
    where the WordPiece winner DIFFERS from the BPE winner: 'th' is
    the most frequent pair (count 80) but rare always-adjacent pairs
    score higher — round 1 merges ('a','d') (count 2, score
    2/(2*2)=0.5), never the frequent ('t','h')."""
    from data_engineering_individual_assignment_spark.operators.bpe import (
        wordpiece_train_merges,
    )

    corpus = {"the": 50, "then": 30, "quit": 3, "quad": 2, "net": 10}

    def py_train(word_counts, n_merges):
        vocab = [(c, list(w)) for w, c in word_counts.items()]
        out = []
        for r in range(1, n_merges + 1):
            pairs, syms = {}, {}
            for c, s in vocab:
                for a in s:
                    syms[a] = syms.get(a, 0) + c
                for a, b in zip(s, s[1:]):
                    pairs[(a, b)] = pairs.get((a, b), 0) + c
            if not pairs:
                break
            best = max(
                pairs.items(),
                key=lambda kv: (
                    kv[1] / (syms[kv[0][0]] * syms[kv[0][1]]),
                    # score DESC, then lhs/rhs ASC -> invert for max()
                    tuple(-ord(ch) for ch in kv[0][0] + "\x00" + kv[0][1]),
                ),
            )
            (L, R), pc = best
            out.append((r, L, R, pc, pc / (syms[L] * syms[R])))
            nv = []
            for c, s in vocab:
                t, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == L and s[i + 1] == R:
                        t.append(L + R)
                        i += 2
                    else:
                        t.append(s[i])
                        i += 1
                nv.append((c, t))
            vocab = nv
        return out

    docs = spark.createDataFrame(
        [(i, " ".join([w] * c)) for i, (w, c) in enumerate(corpus.items())],
        "doc_id long, text string",
    )
    got = [
        (r.merge_round, r.lhs, r.rhs, r.pair_count, r.score)
        for r in wordpiece_train_merges(docs, "text", n_merges=4).collect()
    ]
    expect = py_train(corpus, 4)
    assert [(g[0], g[1], g[2], g[3]) for g in got] == [
        (e[0], e[1], e[2], e[3]) for e in expect
    ]
    for g, e in zip(got, expect):
        assert abs(g[4] - e[4]) < 1e-15
    # the crafted property: round 1 merges the rare always-adjacent
    # (a, d), never the 80-count (t, h) a BPE ranking would pick
    assert (got[0][1], got[0][2]) == ("a", "d")
    assert ("t", "h") not in {(g[1], g[2]) for g in got[:1]}


def test_pq_frozen_agrees_with_pure_python_reference(spark):
    """The PQ engine (encode argmin, ADC distances, top-k, int-cosine
    rerank) must reproduce a plain-Python integer replay on a small
    corpus, for both the md5-frozen and a pq_train codebook set — every
    number is exact int64 micro arithmetic, so agreement is EXACT.  Ids
    20-29 duplicate 0-9, so ADC ties straddle the k boundary and must
    break on neighbor_id, both across partitions and inside one
    batch's local top-k.  An empty query set returns an empty frame
    with the catalog schema."""
    import hashlib
    import math

    from data_engineering_individual_assignment_spark.operators.similarity import (
        PQ_MICRO,
        pq_encode,
        pq_frozen_codebooks,
        pq_topk,
        pq_topk_rerank,
        pq_train,
    )
    from pyspark.sql import functions as F

    m, ncodes, sub, k, shortlist = 4, 3, 2, 3, 5  # dim 8
    # deterministic synthetic vectors
    def vec(i):
        return [
            round(((int(hashlib.md5(f"v|{i}|{d}".encode()).hexdigest()[:6], 16)
                    % 2001) - 1000) / 1000.0, 6)
            for d in range(m * sub)
        ]

    rows = []
    for i in range(20):
        if i < 10:
            rows.append((20 + i, vec(i)))
        rows.append((i, vec(i)))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ids = [i for i, _ in rows]
    qids = [0, 1, 2, 3]
    queries = emb.filter(F.col("vec_id") < len(qids))
    adc_dtypes = [
        ("query_id", "bigint"), ("neighbor_id", "bigint"),
        ("rnk", "int"), ("adc_dist_sq_micro", "bigint"),
    ]
    rr_dtypes = adc_dtypes[:3] + [("cos_sim", "double")]

    def q(x):
        # python round() is banker's; replicate HALF_UP like F.round
        y = x * PQ_MICRO
        return int(math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5))

    vq = {i: [q(x) for x in v] for i, v in rows}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def cos(a, b):
        dot = sum(x * y for x, y in zip(vq[a], vq[b]))
        na = math.sqrt(float(sum(x * x for x in vq[a])))
        nb = math.sqrt(float(sum(x * x for x in vq[b])))
        return round(dot / (na * nb), 6) if na * nb > 0 else 0.0

    def by_query(df):
        out = {}
        for r in df.collect():
            out.setdefault(r[0], []).append(tuple(r[1:]))
        return {qi: sorted(v, key=lambda t: t[1]) for qi, v in out.items()}

    frozen = pq_frozen_codebooks(m=m, ncodes=ncodes, sub=sub)
    trained = pq_train(emb, m=m, ncodes=ncodes, sample=len(rows), iters=5)
    assert trained != frozen
    for books in (frozen, trained):
        def codes(i):
            out = []
            for j in range(m):
                sv = vq[i][j * sub : (j + 1) * sub]
                out.append(min((d2(sv, books[j][c]), c) for c in range(ncodes))[1])
            return out

        cc = {i: codes(i) for i in ids}
        ranked = {
            qi: sorted(
                (sum(d2(vq[qi][j * sub : (j + 1) * sub], books[j][cc[ci][j]])
                     for j in range(m)), ci)
                for ci in ids if ci != qi
            )
            for qi in qids
        }
        # the duplicates must put an exact tie across the k boundary
        assert any(r[k - 1][0] == r[k][0] for r in ranked.values())
        expect_topk = {
            qi: [(ci, rk + 1, d) for rk, (d, ci) in enumerate(r[:k])]
            for qi, r in ranked.items()
        }
        expect_rr = {}
        for qi, r in ranked.items():
            short = [ci for _, ci in r[:shortlist]]
            top = sorted(short, key=lambda ci: (-cos(qi, ci), ci))[:k]
            expect_rr[qi] = [(ci, rk + 1, cos(qi, ci)) for rk, ci in enumerate(top)]

        # checkpointed once per book set (both layouts): every top-k job
        # below would otherwise replay the encode mapInPandas
        codes_df = pq_encode(emb, books).localCheckpoint()
        assert {r.vec_id: list(r.codes) for r in codes_df.collect()} == cc
        # several partitions (the window merges local top-k lists) and
        # one (the local top-k itself must break the ties)
        for corpus, laid_out in (
            (emb, codes_df),
            (emb.coalesce(1), codes_df.coalesce(1).localCheckpoint()),
        ):
            got = pq_topk(laid_out, queries, books, k=k)
            assert got.dtypes == adc_dtypes
            assert by_query(got) == expect_topk
            got = pq_topk_rerank(
                corpus, laid_out, queries, books, k=k, shortlist=shortlist
            )
            assert got.dtypes == rr_dtypes
            assert by_query(got) == expect_rr

    none = emb.filter(F.col("vec_id") < 0)
    got = pq_topk(codes_df, none, books, k=k)
    assert got.dtypes == adc_dtypes and got.count() == 0
    got = pq_topk_rerank(emb, codes_df, none, books, k=k)
    assert got.dtypes == rr_dtypes and got.count() == 0


def test_unigram_fertility_invariants_and_training_effect(spark):
    """Per-language fertility under the trained unigram tokenizer: at
    least 1 piece per word, no more pieces than chars, ratios
    consistent with the integer totals — and on a corpus dominated by
    one repeated word, training drives fertility to ~1 (the whole word
    becomes a piece), demonstrating the tokenizer actually learned."""
    from data_engineering_individual_assignment_spark.operators.unigram import (
        unigram_fertility,
    )
    from data_engineering_individual_assignment_spark import plans

    rows = plans.CATALOG["unigram_fertility"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r.fertility >= 1.0
        assert r.chars_per_piece >= 1.0
        assert r.total_pieces >= r.n_words
        assert abs(r.fertility - r.total_pieces / r.n_words) < 1e-6

    docs = spark.createDataFrame(
        [(0, " ".join(["abcd"] * 50)), (1, "abcd abcd xz")],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en"))
    out = {r.lang: r for r in unigram_fertility(docs, "text").collect()}
    # 'abcd' dominates -> becomes a piece (len <= 4): 52 words at 1
    # piece + 'xz' at worst 2 pieces
    assert out["en"].fertility < 1.1
