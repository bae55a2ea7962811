"""Similarity search over embedding columns (SURVEY §2.11).

- ``block_topk`` / ``quantized_topk`` / ``pq_topk`` / ``pq_topk_rerank``:
  exact float cosine, int8 cosine, PQ asymmetric distance and the PQ
  micro-int cosine rerank, all served by one scorer (``_scan_topk``).
  The query set is collected once (it's small by construction); each
  Arrow batch of the corpus is scored against it as one numpy matrix
  and keeps a local top-k per query; one window ranks the survivors.
  At 100 TB this is the correct plan: one corpus scan, no corpus
  shuffle, and no |corpus| x |queries| pair relation.
- ``ivf_topk``: IVF-style approximate search.  Vectors are assigned to
  their nearest centroid once (map pass over a broadcast centroid set);
  queries probe only ``nprobe`` cells.  Centroids here are a
  deterministic sample of the corpus (k-means is a drop-in replacement;
  determinism is required by the test harness).
- ``pq_encode`` / ``pq_topk`` / ``pq_topk_rerank``: product quantization
  with asymmetric distance computation (Jégou et al., TPAMI 2011), one
  engine for both codebook kinds — the md5-frozen books the catalog's
  oracle replays and ``pq_train``'s sample-trained books.  Vectors
  (expected L2-normalized) are micro-quantized in the JVM, so every
  distance after that is exact int64 and ties break on id.

Vector math: top-k scoring is numpy per Arrow batch (above); the
pair-scoring steps of the near-dup and IVF operators use the
Arrow-vectorized cosine (functions/vectors.cosine_pandas), and small
cardinalities (centroid probes) keep the pure-expression form.  Float
results are rounded to 6 places in the JVM before comparison, absorbing
the ~1e-15 fp difference between accumulation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, cosine_pandas


def _scan_topk(
    rows: DataFrame,
    queries,
    kernel,
    k: int,
    score: str,
    score_type: str = "double",
    ascending: bool = False,
    rank_rounded: bool = False,
) -> DataFrame:
    """The one top-k scorer behind every search below: one scan of
    ``rows`` (``neighbor_id`` plus the columns the kernel reads), a
    local top-k per query in each Arrow batch, and one window that ranks
    the survivors.  The |rows| x |queries| pair relation never exists.

    ``queries`` is a (query id, query vector) frame, collected once on
    the driver (small by contract: a query batch, not a table), or the
    rows of one already collected.  An empty set returns the empty frame
    of the output schema (query_id, neighbor_id, rnk, ``score``).
    ``kernel(Q)`` runs once on the query matrix and returns the batch
    scorer ``pdf -> (queries x rows) ndarray``; it travels in the
    mapInPandas closure, so nothing outlives the query.

    In each batch, self-matches are masked, and so are rows whose
    ``query_id`` column (when ``rows`` has one) names another query.
    Each query keeps its top-k in exact (score, neighbor_id) order: the
    cut keeps every row tied with the k-th score before the lexsort, so
    a tie across the boundary keeps its lowest ids.

    Double scores are rounded to 6 dp in the JVM (HALF_UP, the oracle's
    round; numpy's is half-to-even).  ``rank_rounded`` ranks on that
    rounded value; a cut on the raw score could then drop a winner, so
    every batch keeps every pair (use it on bounded ``rows`` only)."""
    import numpy as np
    import pandas as pd

    q_rows = queries.collect() if isinstance(queries, DataFrame) else queries
    if not q_rows:
        return rows.sparkSession.createDataFrame(
            [], f"query_id long, neighbor_id long, rnk int, {score} {score_type}"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    score_batch = kernel(np.array([r[1] for r in q_rows]))
    keep = None if rank_rounded else k

    def local_topk(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            S = score_batch(pdf)
            key = S if ascending else -S
            ids = pdf["neighbor_id"].to_numpy()
            valid = ids != q_ids[:, None]
            if "query_id" in pdf:
                valid &= pdf["query_id"].to_numpy() == q_ids[:, None]
            qs, tops = [], []
            for qi in range(len(q_ids)):
                cand = np.flatnonzero(valid[qi])
                if keep is not None and len(cand) > keep:
                    cut = np.partition(key[qi, cand], keep - 1)[keep - 1]
                    cand = cand[key[qi, cand] <= cut]
                tops.append(cand[np.lexsort((ids[cand], key[qi, cand]))][:keep])
                qs.append(np.full(len(tops[-1]), qi))
            qi, top = np.concatenate(qs), np.concatenate(tops)
            yield pd.DataFrame(
                {"query_id": q_ids[qi], "neighbor_id": ids[top], score: S[qi, top]}
            )

    local = rows.mapInPandas(
        local_topk, f"query_id long, neighbor_id long, {score} {score_type}"
    )
    out = F.round(score, 6) if score_type == "double" else F.col(score)
    if rank_rounded:
        local, out = local.withColumn(score, out), F.col(score)
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).asc() if ascending else F.col(score).desc(),
        F.col("neighbor_id").asc(),
    )
    return (
        local.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", out.alias(score))
    )


def block_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rnk, cos_sim) with rnk 1..k; ties on
    similarity break on neighbor_id ascending; self-matches (same id)
    are excluded.  Each Arrow batch of the corpus is L2-normalized and
    scored against the whole query set as one float64 gemm
    (``_scan_topk``).  At 100 TB: one corpus scan, zero corpus shuffle,
    a candidate reduce bounded by q * k * batches rows — the standard
    exact-kNN fan-in design."""
    import numpy as np

    def unit(X):
        X = X.astype(np.float64)
        return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)

    def float_cosine(Q):
        Qn = unit(Q)
        return lambda pdf: Qn @ unit(np.stack(pdf["c_vec"].to_numpy())).T

    return _scan_topk(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")),
        queries.select(id_col, vec_col),
        float_cosine,
        k,
        "cos_sim",
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_vec",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = 127 / max|x|,
    q_i = floor(x_i * scale + 0.5).  Pure JVM higher-order expressions
    (transform / array_max), no Python boundary; ``floor(+0.5)`` instead
    of round() because round-half semantics differ across engines while
    floor is IEEE-identical everywhere — the quantized codes are
    bit-reproducible cross-engine, which is what makes the quantized ANN
    path oracle-checkable.

    At 100 TB this is the memory lever: 8 bytes -> 1 byte per dimension
    means an 8x bigger corpus fits the same executor RAM, and integer
    dot products are exact (no accumulation-order fp drift).
    """
    v = F.col(vec_col).cast("array<double>")

    # max|x| is the fold's accumulator, so the finish lambda sees it as a
    # lambda variable: computed once per vector.  As a column referenced
    # inside transform's lambda, Catalyst inlines it back and recomputes
    # max|x| for every element (64 x 64 interpreted ops per vector).
    def codes(max_abs):
        scale = F.lit(127.0) / F.greatest(max_abs, F.lit(1e-300))
        return F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"))

    return df.withColumn(
        out_col,
        F.aggregate(v, F.lit(0.0), lambda m, x: F.greatest(m, F.abs(x)), codes),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine over int8-quantized vectors: the codes
    come from ``quantize_int8`` in the JVM, and each Arrow batch scores
    them in exact int64 numpy (``_scan_topk``).  Dot and norms are
    integers, so q_cos = dot / sqrt(double(max(qn * cn, 1))) is
    bit-identical across engines and the whole path is oracle-checkable
    (unlike float ANN, which needs rounding slack).  Returns (query_id,
    neighbor_id, rnk, q_cos), self-matches excluded, ties on
    neighbor_id ascending.  Recall vs the exact float path is pinned in
    tests."""
    import numpy as np

    def int8_cosine(Q):
        qn = (Q * Q).sum(axis=1)

        def score(pdf):
            C = np.vstack(pdf["c_q"].to_numpy())
            den = np.maximum(qn[:, None] * (C * C).sum(axis=1), 1)
            return (Q @ C.T) / np.sqrt(den.astype(np.float64))

        return score

    def codes(df: DataFrame, out_col: str) -> DataFrame:
        return quantize_int8(df.select(id_col, vec_col), vec_col, out_col)

    return _scan_topk(
        codes(corpus, "c_q").select(F.col(id_col).alias("neighbor_id"), "c_q"),
        codes(queries, "q_q").select(id_col, "q_q"),
        int8_cosine,
        k,
        "q_cos",
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 16,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: all (a, b) with
    a < b and cosine >= threshold.

    Exact all-pairs over dense random vectors is Θ(n²) dot products by
    definition (no geometric pruning survives 64-dim near-orthogonal
    data) — what IS controllable is the constant and the memory shape.
    The naive broadcast theta-join materializes every candidate PAIR as
    a shuffled row (n²/2 rows — measured 403 s at 200k vectors); this
    implementation never builds a pair relation:

    - every vector gets a block id ``xxhash64(id) % num_blocks``;
    - a tiny broadcast grid of block pairs (i ≤ j) replicates each
      vector to the ~num_blocks grid cells it participates in
      (shuffle volume O(n·num_blocks) rows, not O(n²));
    - each grid cell cogroups its two blocks and scores them as one
      chunked BLAS gemm (float64), emitting only the pairs above
      threshold.  Python is invoked once per grid cell —
      num_blocks·(num_blocks+1)/2 calls total.

    Per-task memory is O((n/num_blocks)·dim + chunk·(n/num_blocks));
    raise ``num_blocks`` as n grows.  ``hyperplane_lsh_pairs`` is the
    sub-quadratic approximate scale path; this exact form is its
    oracle anchor.
    """
    import numpy as np
    import pandas as pd

    # each cogroup side gets its OWN projection (fresh expression ids for
    # vid/vec/blk).  Sharing one projection between the two sides of a
    # self-cogroup makes Catalyst's attribute dedup point the right
    # side's vid/vec at the LEFT side's ids; a downstream count()/agg
    # then column-prunes them out of the right child entirely and the
    # Python worker receives a frame without vid/vec (KeyError).
    def v() -> DataFrame:
        return corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("vec"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks))
            .cast("int")
            .alias("blk"),
        )

    # grid-cell replication as a pure generator expression (no self-join):
    # block k is the LEFT side of cells (k, j>=k) and the RIGHT side of
    # cells (i<=k, k)
    left = v().withColumn(
        "bj", F.explode(F.sequence(F.col("blk"), F.lit(num_blocks - 1)))
    ).select(F.col("blk").alias("bi"), "bj", "vid", "vec")
    right = v().withColumn(
        "bi", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).select("bi", F.col("blk").alias("bj"), "vid", "vec")

    def score_cell(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        if lpdf.empty or rpdf.empty:
            return empty
        same_block = int(lpdf["bi"].iloc[0]) == int(lpdf["bj"].iloc[0])
        ids_l = lpdf["vid"].to_numpy(dtype=np.int64)
        ids_r = rpdf["vid"].to_numpy(dtype=np.int64)
        L = np.stack(lpdf["vec"].to_numpy()).astype(np.float64)
        R = np.stack(rpdf["vec"].to_numpy()).astype(np.float64)
        L /= np.maximum(np.linalg.norm(L, axis=1, keepdims=True), 1e-300)
        R /= np.maximum(np.linalg.norm(R, axis=1, keepdims=True), 1e-300)
        out = []
        chunk = 4096  # bounds the similarity block to chunk×|R| doubles
        for s in range(0, L.shape[0], chunk):
            S = L[s : s + chunk] @ R.T
            il, ir = np.nonzero(S >= threshold)
            if il.size == 0:
                continue
            ia, ib = ids_l[il + s], ids_r[ir]
            if same_block:
                keep = ia < ib  # triangle: each unordered pair once
            else:
                keep = ia != ib  # disjoint id sets — always true
            if not keep.any():
                continue
            out.append(
                pd.DataFrame(
                    {
                        "id_a": np.minimum(ia[keep], ib[keep]),
                        "id_b": np.maximum(ia[keep], ib[keep]),
                        "cos_sim": np.round(S[il[keep], ir[keep]], 6),
                    }
                )
            )
        return pd.concat(out) if out else empty

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(score_cell, schema="id_a long, id_b long, cos_sim double")
    )


def derived_num_planes(n: int) -> int:
    """Data-adaptive signature width: ``clamp(ceil(log2 n), 12, 32)``.

    The bucket space must track the corpus — at a FIXED width, expected
    bucket occupancy grows with n and the candidate join re-approaches
    all-pairs (the intrinsic law SCALING_300X.json's fixed-width stress
    rows measure: 12 planes at 300x = 268.7 s where 20 planes = 59.3 s).
    ``2^planes >= n`` keeps expected random collisions per vector O(1),
    so candidate volume stays O(n + true dups).  Floor 12 preserves the
    small-corpus recall the catalog pins; cap 32 bounds the per-row
    signature fold.  Recall at cos 0.95 decays as 0.905^planes per
    single table — width-critical callers at extreme n trade with
    multiple salted tables rather than unbounded width."""
    import math

    return min(32, max(12, math.ceil(math.log2(max(n, 2)))))


def derived_num_cells(n: int) -> int:
    """Data-adaptive SemDeDup cell count: ``clamp(ceil(sqrt n), 8,
    65536)`` — the Abbas-2023-style k ~ sqrt(n) that balances the two
    cost legs: centroid assignment is O(n*k) vectorized dots and the
    within-cell rank-window pass benefits from cell size ~ sqrt(n)
    (fixed k makes cells grow linearly, the SCALING_300X fixed-cell
    stress case: 8 cells at 300x = 126 s where 64 cells = 40.8 s).
    Beyond the 65536 cap, production swaps the flat broadcast argmax
    for a 2-level (IVF-style coarse-then-fine) assignment."""
    import math

    return min(65536, max(8, math.ceil(math.sqrt(max(n, 1)))))


def hyperplane_lsh_pairs(
    corpus: DataFrame,
    num_planes: int | None = None,
    threshold: float = 0.95,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """APPROXIMATE embedding near-dup via random-hyperplane LSH (SimHash
    for vectors, Charikar 2002): each vector gets a ``num_planes``-bit
    signature of projection signs against deterministic ±1 hyperplanes;
    candidates share the full signature; cosine is verified exactly.

    P(bit agrees) = 1 - θ/π, so at cos=0.95 (θ≈18°) a 12-bit signature
    collides with p≈0.29 — run-to-run deterministic, recall measured in
    tests.  Work is linear in corpus size + candidate pairs.

    The ±1 signs are md5-DERIVED (parity of md5("plane|dim")), not
    RNG-seeded: any engine with md5 reproduces the exact planes, so the
    whole LSH pipeline — signatures, buckets, candidates — is
    differential-testable, which is what lets the driver oracle-check
    this approximate operator instead of settling for a rows-only run.

    Signatures are computed ROW-LOCALLY: the planes embed as literal
    sign arrays and each vector's num_planes projections are zip_with
    dot-product folds inside one codegen map pass — no posexplode, no
    plane join, no aggregation.  (The previous explode-join-agg shape
    fanned every vector to dim x num_planes rows before reducing: at
    100x that was a multi-billion-row intermediate feeding two
    shuffles, and it measured ~28 s where this map pass does the same
    work scan-bound.)  The bucket depends only on each projection's
    SIGN, so fold order never flips a bit that a shuffle-ordered sum
    would not.
    """
    import hashlib

    if num_planes is None:
        # data-adaptive width (one count scan, then the plan is built
        # with the derived literal); catalog queries pass num_planes
        # explicitly so their oracle hashes never depend on this
        num_planes = derived_num_planes(corpus.count())

    def sign(j: int, i: int) -> float:
        h = int(hashlib.md5(f"{j}|{i}".encode()).hexdigest()[:15], 16)
        return 1.0 if h & 1 else -1.0

    bucket = None
    for j in range(num_planes):
        plane_arr = F.array(*[F.lit(sign(j, i)) for i in range(dim)])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), plane_arr, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(float(2**j))).otherwise(F.lit(0.0))
        bucket = bit if bucket is None else bucket + bit

    # persist ONLY the skinny (doc_id, bucket) relation — so the
    # self-join's two sides read the signature pipeline's result
    # instead of replaying it, while the bucket equi-join shuffle never
    # carries vectors.  (Persisting the vector-joined signatures was
    # measured 4x SLOWER at 100x: the cache materializes corpus_size x
    # 64 floats and the candidate shuffle drags 256-byte payloads.)
    # One bucket per doc cannot duplicate a pair, so no distinct.
    from .dedup import _persist

    bk = _persist(
        corpus.select(
            F.col(id_col).alias("doc_id"), bucket.cast("long").alias("bucket")
        )
    )
    cand = (
        bk.alias("a")
        .join(
            bk.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
    )
    # vectors fetched AFTER candidate generation, by id equi-join against
    # the (columnar, prunable) corpus scan — the near_dup_pairs verify
    # shape: candidates are few, so the wide payload joins stay small
    vecs = corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"))
    return (
        cand.join(
            vecs.select(F.col("doc_id").alias("id_a"), F.col("v").alias("v_a")),
            "id_a",
        )
        .join(
            vecs.select(F.col("doc_id").alias("id_b"), F.col("v").alias("v_b")),
            "id_b",
        )
        .withColumn("cos_sim", cosine_pandas("v_a", "v_b"))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine).
    Broadcast the centroids; one scan of the corpus; deterministic
    tie-break on centroid id."""
    cents = centroids.select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cent_vec")
    )
    scored = corpus.join(F.broadcast(cents)).withColumn(
        "cent_sim", cosine_pandas(vec_col, "cent_vec")
    )
    # argmax via max_by aggregation (hash agg with map-side combine —
    # the broadcast join leaves all num_cells candidate rows of a vector
    # in one task, so the partial agg fully reduces before any shuffle)
    # instead of a row_number() window, which SORTS the num_cells-way
    # fan-out.  Tie-break: max (sim, -cell_id) == lowest cell id.
    best = F.max_by(
        F.struct(F.col("cell_id"), F.col(vec_col).alias("v")),
        F.struct(F.col("cent_sim"), (-F.col("cell_id")).alias("nc")),
    )
    return (
        scored.groupBy(id_col)
        .agg(best.alias("b"))
        .select(id_col, F.col("b.v").alias(vec_col), F.col("b.cell_id").alias("cell_id"))
    )


def semdedup_pairs(
    corpus: DataFrame,
    num_cells: int | None = None,
    threshold: float = 0.95,
    window: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space, then look for near-identical vectors WITHIN each
    cluster only — never across the whole corpus.

    Scale design (the published method made shuffle-bounded):

    - cells: the ``num_cells`` lowest-id corpus vectors serve as
      deterministic centroids (same scheme as ``ivf_topk``; k-means is a
      drop-in).  Assignment is one broadcast join + argmax — a map pass.
    - within-cell candidates: a raw within-cell self-join is
      O(cell_size²).  Instead, members are RANKED by their (6-dp rounded)
      cosine to the cell centroid, and only pairs within ``window`` ranks
      of each other are scored — near-identical vectors have
      near-identical centroid similarity, so true duplicates land on
      adjacent ranks while pair work drops to O(n·window) (the
      sorted-neighborhood blocking idea, Hernandez-Stolfo 1995, applied
      in similarity space).
    - verdict: exact cosine >= ``threshold`` on candidates only; each
      dropped vector reports its lowest-id keeper.

    The 6-dp rounding before ranking absorbs cross-engine float drift so
    an independent engine replaying the identical recurrence derives the
    same ranks — this is what makes the whole pipeline differential-
    testable rather than rows-only.

    Returns (cell_id, kept_id, dropped_id, cos_sim): one row per dropped
    vector; survivors = corpus ids absent from dropped_id.
    """
    import numpy as np
    import pandas as pd

    if num_cells is None:
        # k ~ sqrt(n) derived default (one count scan); catalog queries
        # pin num_cells explicitly, keeping their oracle hashes stable
        num_cells = derived_num_cells(corpus.count())
    spark = corpus.sparkSession
    # centroid matrix collected once (bounded: num_cells rows by
    # construction) and broadcast — assignment is then ONE gemm per
    # Arrow batch in a mapInPandas scan, O(n*k) flops but never
    # O(n*k) ROWS: the previous broadcast-join + max_by fanned every
    # vector to num_cells joined rows through a per-row pandas UDF,
    # which at the derived k ~ sqrt(n) would have made assignment the
    # dominant O(n^1.5)-row stage (the block_topk lesson applied to
    # clustering).  Cosine = dot / (|a||b|) computed dot-first, the
    # oracle's formula; argmax on the UNROUNDED sims with first-max =
    # lowest cell_id (columns are cell_id-ascending), matching the
    # oracle's (cs DESC, cell_id ASC) rank exactly.
    cent_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(num_cells).collect()
    )
    c_ids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    Cm = np.stack([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    c_norm = np.linalg.norm(Cm, axis=1)
    bc = spark.sparkContext.broadcast((c_ids, Cm, c_norm))

    def assign(batches):
        ids, C, cn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xn = np.linalg.norm(X, axis=1)
            den = xn[:, None] * cn[None, :]
            S = np.divide(X @ C.T, den, out=np.zeros((len(X), len(ids))),
                          where=den > 0)
            best = S.argmax(axis=1)  # first max = lowest cell_id
            yield pd.DataFrame(
                {
                    "vid": pdf[id_col].to_numpy(),
                    "cell_id": ids[best],
                    "r_sim": S[np.arange(len(X)), best],
                }
            )

    # 6-dp rounding applied ENGINE-side (F.round = HALF_UP, the repo's
    # rounding discipline and DuckDB round()'s): np.round inside the
    # batch fn is banker's half-to-even, which would reorder the
    # within-cell drop ranking versus the oracle on a 6-dp boundary hit
    assigned = (
        corpus.select(id_col, vec_col)
        .mapInPandas(assign, "vid long, cell_id long, r_sim double")
        .withColumn("r_sim", F.round("r_sim", 6))
    )
    rn = F.row_number().over(
        Window.partitionBy("cell_id").orderBy(F.col("r_sim").desc(), F.col("vid"))
    )
    # persist ONLY the skinny (vid, cell_id, r_sim, rn) ranking — the
    # rank-window self-join consumes it twice, and keeping vectors OUT
    # of it means the candidate shuffle moves 24-byte rows, not
    # 64-float payloads (carrying vectors through both the argmax agg
    # and this cache was measured ~1.5x slower at 100x).
    from .dedup import _persist

    ranked = _persist(assigned.withColumn("rn", rn))
    a, b = ranked.alias("a"), ranked.alias("b")
    vecs = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    cand = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("b.rn") > F.col("a.rn"))
            & (F.col("b.rn") <= F.col("a.rn") + window),
        )
        .select(
            F.col("a.cell_id").alias("cell_id"),
            F.col("a.vid").alias("vid_a"),
            F.col("b.vid").alias("vid_b"),
        )
        # vectors fetched after candidate generation, by id equi-join
        .join(
            vecs.select(F.col("vid").alias("vid_a"), F.col("v").alias("v_a")),
            "vid_a",
        )
        .join(
            vecs.select(F.col("vid").alias("vid_b"), F.col("v").alias("v_b")),
            "vid_b",
        )
        .select(
            "cell_id",
            F.least("vid_a", "vid_b").alias("kept_id"),
            F.greatest("vid_a", "vid_b").alias("dropped_id"),
            "v_a",
            "v_b",
        )
        .withColumn("cos_sim", cosine_pandas("v_a", "v_b"))
        .filter(F.col("cos_sim") >= threshold)
    )
    first_keeper = F.row_number().over(
        Window.partitionBy("dropped_id").orderBy("kept_id")
    )
    return (
        cand.withColumn("rk", first_keeper)
        .filter(F.col("rk") == 1)
        .select(
            "cell_id", "kept_id", "dropped_id", F.round("cos_sim", 6).alias("cos_sim")
        )
    )


def lloyd_centroids(
    corpus: DataFrame,
    num_cells: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ENGINE-PORTABLE distributed Lloyd's k-means for IVF training:
    init = the ``num_cells`` lowest-id corpus vectors (TakeOrdered —
    layout-independent), then ``iters`` rounds of

      assign:   nearest centroid by cosine (tie → lowest cell id)
      update:   per-cell, per-dimension mean, ROUNDED to 6 dp
                (empty cells keep their previous centroid)

    Each round is one broadcast join + argmax + one aggregation —
    fully distributed over the corpus; only the num_cells × dim
    centroid matrix (tiny, bounded) ever reaches the driver.  The 6-dp
    rounding after every mean is what makes the trajectory
    cross-engine reproducible: sum-order float drift (~1e-14) is
    absorbed before it can flip the next round's assignments, so an
    independent engine running the identical recurrence (e.g. the
    DuckDB oracle's unrolled CTEs) derives bit-equal centroids.

    Returns (id_col = cell ids 0..num_cells-1, vec_col).
    """
    spark = corpus.sparkSession
    init_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(num_cells).collect()
    )
    cents: list[tuple[int, list[float]]] = [
        (i, [float(v) for v in r[1]]) for i, r in enumerate(init_rows)
    ]
    # one projected-corpus cache shared by all rounds: every round is a
    # driver-synchronous job, and without the persist each re-reads the
    # parquet and re-casts (iters+1 redundant scans)
    c = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    ).persist()
    try:
        for _ in range(iters):
            cents_df = spark.createDataFrame(cents, "cell_id long, cv array<double>")
            scored = c.join(F.broadcast(cents_df)).withColumn(
                "sim", cosine_pandas("v", "cv")
            )
            # same max_by argmax shape as assign_cells (no fan-out sort);
            # Arrow-batch cosine: fp drift vs the sequential form is
            # ~1e-15 relative, orders of magnitude inside the 6-dp
            # rounding that makes the trajectory cross-engine portable
            best_agg = F.max_by(
                F.struct(F.col("cell_id"), F.col("v")),
                F.struct(F.col("sim"), (-F.col("cell_id")).alias("nc")),
            )
            best = (
                scored.groupBy("vid")
                .agg(best_agg.alias("b"))
                .select(F.col("b.cell_id").alias("cell_id"), F.col("b.v").alias("v"))
            )
            means = (
                best.select("cell_id", F.posexplode("v").alias("dim", "val"))
                .groupBy("cell_id", "dim")
                .agg(F.round(F.avg("val"), 6).alias("m"))
                .collect()
            )
            by_cell: dict[int, dict[int, float]] = {}
            for r in means:
                by_cell.setdefault(r["cell_id"], {})[r["dim"]] = r["m"]
            cents = [
                (
                    cell_id,
                    [by_cell[cell_id][d] for d in range(len(old))]
                    if cell_id in by_cell
                    else old,
                )
                for cell_id, old in cents
            ]
    finally:
        c.unpersist()
    return spark.createDataFrame(cents, f"{id_col} long, {vec_col} array<double>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    num_cells: int = 8,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_kmeans: bool = False,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` nearest cells per
    query.  Centroids = the ``num_cells`` lowest-id corpus vectors (a
    deterministic stand-in) or a trained Lloyd's fit
    (``use_kmeans=True`` — real cells via ``lloyd_centroids``, whose
    rounded-mean recurrence is engine-portable and oracle-checkable).

    Recall < 1 by design; pair with ``block_topk`` to measure it.
    """
    if use_kmeans:
        centroids = lloyd_centroids(corpus, num_cells, 3, id_col, vec_col)
    else:
        centroids = corpus.orderBy(id_col).limit(num_cells)
    cells = assign_cells(corpus, centroids, id_col, vec_col)

    cents = centroids.select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cent_vec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    qw = Window.partitionBy("query_id").orderBy(
        F.col("probe_sim").desc(), F.col("cell_id").asc()
    )
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("probe_sim", cosine("q_vec", "cent_vec"))
        .withColumn("__rn", F.row_number().over(qw))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "q_vec", "cell_id")
    )
    scored = (
        cells.join(F.broadcast(probes), "cell_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("cos_sim", cosine_pandas("q_vec", vec_col))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "rnk",
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., TPAMI 2011): one exact-integer engine
# ---------------------------------------------------------------------------

PQ_MICRO = 1_000_000  # micro-unit quantization scale (the rrf_micro idiom)


def pq_frozen_codebooks(
    m: int = 8, ncodes: int = 4, sub: int = 8
) -> list[list[list[int]]]:
    """md5-derived frozen PQ codebooks in INTEGER micro-units: entry
    [j][c][d] is ±125000 (±0.125 scaled by PQ_MICRO) with sign from the
    parity of md5("pqcb|j|c|d") — the pca_projection_check trick applied
    to PQ.  Any engine with md5 rebuilds the identical constants, and
    because encode/ADC/rerank are exact integer arithmetic no float
    drift can flip an argmin, so the catalog's PQ queries replay in
    DuckDB CTEs and are oracle-checked instead of rows-only.
    ``pq_train`` returns books in the same format from a corpus sample
    (recall-tested); these books pin the MECHANISM, not the clustering
    quality."""
    import hashlib

    def par(j: int, c: int, d: int) -> int:
        h = int(hashlib.md5(f"pqcb|{j}|{c}|{d}".encode()).hexdigest()[:15], 16)
        return 125_000 if h & 1 else -125_000

    return [
        [[par(j, c, d) for d in range(sub)] for c in range(ncodes)]
        for j in range(m)
    ]


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ncodes: int = 16,
    vec_col: str = "embedding",
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """Product-quantization codebooks: split the (L2-normalized) vector
    into ``m`` subspaces and run a small seeded Lloyd's k-means per
    subspace on a BOUNDED training sample — codebook training is
    O(sample * m * ncodes), independent of corpus size, which is why PQ
    trains on a driver-side sample even at 100 TB (the encode/score
    passes below stay fully distributed).

    Returns [m][ncodes][sub_dim] ints in PQ_MICRO units, the format of
    ``pq_frozen_codebooks`` (plain Python: broadcastable as a literal,
    no pickled model object)."""
    import numpy as np

    # orderBy(id).limit = TakeOrdered: the training sample is the same
    # set of rows for ANY physical layout (a bare LIMIT is partition-
    # order dependent, which would make the codebooks irreproducible).
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    X = np.vstack([r[1] for r in rows]).astype("float64")
    X /= np.linalg.norm(X, axis=1, keepdims=True) + 1e-12
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    books = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        # deterministic init: evenly strided sample rows (no RNG state)
        idx = np.linspace(0, len(S) - 1, ncodes).astype(int)
        C = S[idx].copy()
        for _ in range(iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(ncodes):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books.append(np.rint(C * PQ_MICRO).astype("int64").tolist())
    return books


def _vec_micro(vec_col):
    """Quantize a float/double vector to int64 micro-units — identical
    in DuckDB as list_transform(v::DOUBLE[], x -> CAST(round(x*1000000)
    AS BIGINT)) (float->double widening is exact in both engines, and
    both round half away from zero; numpy's round is half-to-even, so
    the quantization stays in the JVM)."""
    return F.transform(
        vec_col, lambda x: F.round(x * F.lit(float(PQ_MICRO))).cast("long")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes — a 64-float embedding
    compresses to 8 bytes, the memory trick that lets a 100 TB vector
    corpus fit a RAM-resident index.  Input vectors are expected to be
    L2-normalized (the codebooks are).

    The vector is micro-quantized in the JVM (``_vec_micro``); per
    subspace j the code is argmin_c sum((v_j - C[j][c])^2) in exact
    int64, ties to the lowest c (``ndarray.argmin`` returns the first
    minimum).  A stateless Arrow-batched mapInPandas, so it applies to
    a streaming frame unchanged (append mode, no state): the pattern
    for maintaining a PQ index as vectors arrive, and replayed
    micro-batches re-encode identically."""
    import numpy as np
    import pandas as pd

    B = np.asarray(codebooks, dtype="int64")
    m, _, sub = B.shape

    def enc(batches):
        for pdf in batches:
            if pdf.empty:  # np.vstack raises on a zero-row batch
                continue
            X = np.vstack(pdf["vq"].to_numpy())
            codes = np.empty((len(X), m), dtype="int32")
            for j in range(m):
                S = X[:, None, j * sub : (j + 1) * sub]
                codes[:, j] = ((S - B[j]) ** 2).sum(axis=2).argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "codes": codes.tolist()})

    return corpus.select(
        F.col(id_col).alias("vec_id"), _vec_micro(F.col(vec_col)).alias("vq")
    ).mapInPandas(enc, schema="vec_id long, codes array<int>")


def _adc_kernel(codebooks):
    """ADC scorer for ``_scan_topk``: the queries' micro vectors build
    T[q, j, c] = ||q_j - C[j][c]||^2 once in exact int64, and a batch's
    distances are m table lookups summed over its byte codes."""
    import numpy as np

    B = np.asarray(codebooks, dtype="int64")
    m, _, sub = B.shape

    def kernel(Q):
        T = ((Q.reshape(len(Q), m, 1, sub) - B) ** 2).sum(axis=3)

        def score(pdf):
            C = np.vstack(pdf["codes"].to_numpy())
            return sum(T[:, j, C[:, j]] for j in range(m))

        return score

    return kernel


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via asymmetric distance computation (ADC):
    each query builds an m x ncodes table of exact int64 sub-distances
    to every codebook entry, and a corpus vector's distance is m table
    lookups summed — the scan reads codes only, never float vectors.
    Input vectors are expected to be L2-normalized.

    Returns (query_id, neighbor_id, rnk, adc_dist_sq_micro), self-matches
    excluded, ties on neighbor_id ascending, scored by ``_scan_topk``."""
    return _scan_topk(
        codes_df.select(F.col("vec_id").alias("neighbor_id"), "codes"),
        queries.select(id_col, _vec_micro(F.col(vec_col))),
        _adc_kernel(codebooks),
        k,
        "adc_dist_sq_micro",
        "long",
        ascending=True,
    )


def pq_topk_rerank(
    corpus: DataFrame,
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search (IndexIVFPQ + refine): the ADC pass
    shortlists ``shortlist`` candidates per query from the byte codes,
    then ONLY those rows are re-scored with exact cosine over the
    micro-quantized vectors.  Input vectors are expected to be
    L2-normalized.

    The candidate list broadcasts into the corpus scan before
    ``_vec_micro``, so the quantization and the int64 dot products touch
    |queries| * shortlist rows regardless of corpus size, and
    float-width payloads never shuffle.  The cosine starts from
    identical integers in any engine; it is rounded to 6 dp and then
    ranked, ties on neighbor_id ascending."""
    import numpy as np

    q_rows = queries.select(id_col, _vec_micro(F.col(vec_col))).collect()
    cand = _scan_topk(
        codes_df.select(F.col("vec_id").alias("neighbor_id"), "codes"),
        q_rows,
        _adc_kernel(codebooks),
        shortlist,
        "adc_dist_sq_micro",
        "long",
        ascending=True,
    )
    rows = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v"))
        .join(F.broadcast(cand.select("query_id", "neighbor_id")), "neighbor_id")
        .select("neighbor_id", "query_id", _vec_micro(F.col("v")).alias("cvq"))
    )

    def micro_cosine(Q):
        qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))

        def score(pdf):
            C = np.vstack(pdf["cvq"].to_numpy())
            den = qn[:, None] * np.sqrt((C * C).sum(axis=1).astype(np.float64))
            dot = (Q @ C.T).astype(np.float64)
            return np.divide(dot, den, out=np.zeros(den.shape), where=den > 0)

        return score

    return _scan_topk(rows, q_rows, micro_cosine, k, "cos_sim", rank_rounded=True)
