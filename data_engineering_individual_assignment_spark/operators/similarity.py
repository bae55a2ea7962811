"""Similarity search over embedding columns (SURVEY §2.11).

- ``brute_force_topk``: exact cosine top-k.  The query set is broadcast
  (it's small by construction); the corpus is scanned once; per-query
  ranking is a window over (query, corpus) pairs.  At 100 TB of corpus
  this is the correct *exact* plan: one scan, no corpus shuffle — the
  join is broadcast, and TakeOrdered-style pruning happens in the rank
  filter.
- ``ivf_topk``: IVF-style approximate search.  Vectors are assigned to
  their nearest centroid once (map pass over a broadcast centroid set);
  queries probe only ``nprobe`` cells.  Centroids here are a
  deterministic sample of the corpus (k-means is a drop-in replacement;
  determinism is required by the test harness).

Vector math: the O(pairs) scoring steps use the Arrow-vectorized numpy
cosine (functions/vectors.cosine_pandas — one block computation per
batch); small cardinalities (centroid probes) keep the pure-expression
form.  Results are rounded to 6 places before comparison, absorbing the
~1e-15 fp difference between accumulation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, cosine_pandas


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rnk, cos_sim) with rnk 1..k; ties on
    similarity break on neighbor_id ascending (deterministic).
    Self-matches (same id) are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine_pandas("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("cos_sim", 6).alias("cos_sim"))
    )


def block_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via PER-PARTITION BLOCK scoring — the same
    semantics as ``brute_force_topk`` (ties on neighbor_id ascending,
    self-matches excluded) under the physical strategy that scales:

    - the query set is collected once (small by contract — a query
      batch, not a table) and broadcast as one float64 matrix;
    - each corpus partition computes Q @ C.T as a single BLAS gemm in
      mapInPandas and keeps only its local top-k per query, so the
      Arrow boundary moves |corpus| rows in and q*k rows OUT per
      partition — no |corpus| x |queries| pair relation ever exists
      (brute_force_topk shuffles exactly that);
    - a final window over the q * k * n_partitions candidates (tiny)
      picks the global top-k.

    At 100 TB: one corpus scan, zero corpus shuffle, candidate reduce
    bounded by partitions — the standard exact-kNN fan-in design.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rnk int, cos_sim double"
        )
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in q_rows])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    bc = spark.sparkContext.broadcast((q_ids, Qn))

    def score_block(batches):
        ids, Qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.stack(pdf["c_vec"].to_numpy()).astype(np.float64)
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
            sims = Qm @ Cn.T  # (q, rows) one gemm per Arrow batch
            cids = pdf["neighbor_id"].to_numpy()
            take = min(len(cids), k + 1)  # +1 absorbs a self-match
            for qi in range(len(ids)):
                s = sims[qi]
                # partial top-take, then deterministic (-sim, id) order
                cand = np.argpartition(-s, take - 1)[:take] if len(s) > take else np.arange(len(s))
                order = cand[np.lexsort((cids[cand], -s[cand]))]
                keep = order[cids[order] != ids[qi]][:k]
                yield pd.DataFrame(
                    {
                        "query_id": ids[qi],
                        "neighbor_id": cids[keep],
                        "cos_sim": s[keep],
                    }
                )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    local = c.mapInPandas(
        score_block, "query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("cos_sim", 6).alias("cos_sim"))
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
    max_abs = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-300)
    )
    scale = F.lit(127.0) / max_abs
    return df.withColumn(
        out_col, F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"))
    )


def _int_dot(a, b):
    """Exact integer dot product of two long arrays (JVM zip_with +
    aggregate — stays inside codegen, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine over int8-quantized vectors: same plan
    shape as ``brute_force_topk`` (broadcast query set, one corpus scan,
    per-query window rank) but the similarity is computed on the int8
    codes with EXACT integer arithmetic — dot and norms are integer
    aggregates, so q_cos is bit-identical across engines and the whole
    path is oracle-checkable (unlike float ANN, which needs rounding
    slack).  Recall vs the exact float path is pinned in tests."""
    q = quantize_int8(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv",
        "q_q",
    ).withColumn("q_norm", _int_dot(F.col("q_q"), F.col("q_q")))
    c = quantize_int8(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv",
        "c_q",
    ).withColumn("c_norm", _int_dot(F.col("c_q"), F.col("c_q")))
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "q_cos",
        _int_dot(F.col("q_q"), F.col("c_q"))
        / F.sqrt(
            F.greatest(F.col("q_norm") * F.col("c_norm"), F.lit(1)).cast("double")
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("q_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("q_cos", 6).alias("q_cos"))
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
    num_tables: int = 1,
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

    ``num_tables`` > 1 is the RECALL lever at capped width (the
    ``derived_num_planes`` 32-plane ceiling trades recall
    ~0.905^planes per table at cos 0.95): L independent md5-salted
    plane sets hash every vector L times, candidates are the UNION of
    per-table bucket collisions (one equi-join on (table, bucket),
    distinct pairs), and each candidate is cosine-verified once —
    recall becomes 1-(1-p)^L for per-table collision probability p,
    at L× signature flops and ~L× candidate volume (measured in
    SCALING_RUN.json).  Table 0 uses the ORIGINAL plane salts, so the
    L-table candidate set strictly contains the single-table one and
    every pinned num_tables=1 result (catalog oracle hashes) is
    byte-identical to before the knob existed.
    """
    import hashlib

    if num_planes is None:
        # data-adaptive width (one count scan, then the plan is built
        # with the derived literal); catalog queries pass num_planes
        # explicitly so their oracle hashes never depend on this
        num_planes = derived_num_planes(corpus.count())

    def sign(t: int, j: int, i: int) -> float:
        # table 0 keeps the pre-num_tables salt (pinned oracle hashes)
        salt = f"{j}|{i}" if t == 0 else f"t{t}|{j}|{i}"
        h = int(hashlib.md5(salt.encode()).hexdigest()[:15], 16)
        return 1.0 if h & 1 else -1.0

    def table_bucket(t: int):
        bucket = None
        for j in range(num_planes):
            plane_arr = F.array(*[F.lit(sign(t, j, i)) for i in range(dim)])
            proj = F.aggregate(
                F.zip_with(F.col(vec_col), plane_arr, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bit = F.when(proj > 0, F.lit(float(2**j))).otherwise(F.lit(0.0))
            bucket = bit if bucket is None else bucket + bit
        return bucket.cast("long")

    # persist ONLY the skinny (doc_id, [table,] bucket) relation — so
    # the self-join's two sides read the signature pipeline's result
    # instead of replaying it, while the bucket equi-join shuffle never
    # carries vectors.  (Persisting the vector-joined signatures was
    # measured 4x SLOWER at 100x: the cache materializes corpus_size x
    # 64 floats and the candidate shuffle drags 256-byte payloads.)
    from .dedup import _persist

    if num_tables == 1:
        # single-table plan kept EXACTLY as before the knob (no explode,
        # no distinct — one bucket per doc cannot duplicate a pair)
        bk = _persist(
            corpus.select(
                F.col(id_col).alias("doc_id"), table_bucket(0).alias("bucket")
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
    else:
        bk = _persist(
            corpus.select(
                F.col(id_col).alias("doc_id"),
                F.posexplode(
                    F.array(*[table_bucket(t) for t in range(num_tables)])
                ).alias("tbl", "bucket"),
            )
        )
        cand = (
            bk.alias("a")
            .join(
                bk.alias("b"),
                (F.col("a.tbl") == F.col("b.tbl"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .distinct()  # union of per-table collisions, each pair once
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

    Recall < 1 by design; pair with ``brute_force_topk`` to measure it.
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


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ncodes: int = 16,
    vec_col: str = "embedding",
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
):
    """Product-quantization codebooks (Jégou et al., TPAMI 2011): split
    the (L2-normalized) vector into ``m`` subspaces and run a small
    seeded Lloyd's k-means per subspace on a BOUNDED training sample —
    codebook training is O(sample * m * ncodes), independent of corpus
    size, which is why PQ trains on a driver-side sample even at 100 TB
    (the encode/score passes below stay fully distributed).

    Returns a [m][ncodes][sub_dim] nested list (plain Python: broadcast-
    able as a literal, no pickled model object)."""
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
        books.append(C.tolist())
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each (normalized) vector as ``m`` one-byte codes — a
    64-float embedding compresses to 8 bytes, the memory trick that
    lets a 100 TB vector corpus fit a RAM-resident index.  Arrow-
    batched numpy argmin per subspace."""
    import numpy as np
    import pandas as pd

    B = [np.asarray(b) for b in codebooks]
    m = len(B)
    sub = B[0].shape[1]

    def enc(batches):
        for pdf in batches:
            if pdf.empty:  # np.vstack raises on a zero-row batch
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            X /= np.linalg.norm(X, axis=1, keepdims=True) + 1e-12
            codes = np.empty((len(X), m), dtype="int32")
            for j in range(m):
                S = X[:, j * sub : (j + 1) * sub]
                d = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf[id_col], "codes": list(codes.tolist())}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, schema="vec_id long, codes array<int>"
    )


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via asymmetric distance computation (ADC):
    each query builds an m x ncodes lookup table of exact sub-distances
    to every codebook entry, and a corpus vector's approximate distance
    is m table lookups summed — no float math per candidate.

    Scale shape mirrors ``block_topk``: each partition emits only its
    LOCAL top-k per query (numpy argpartition over the looked-up
    distance matrix), then one window prunes partitions*k rows to the
    global top-k.  The pair relation is never materialized."""
    import numpy as np
    import pandas as pd

    B = [np.asarray(b) for b in codebooks]
    m = len(B)
    sub = B[0].shape[1]
    q_rows = queries.select(id_col, vec_col).collect()
    Q = np.vstack([r[1] for r in q_rows]).astype("float64")
    Q /= np.linalg.norm(Q, axis=1, keepdims=True) + 1e-12
    q_ids = [int(r[0]) for r in q_rows]
    # tables[qi][j][code] = ||q_sub - centroid||^2
    tables = np.stack(
        [
            np.stack(
                [
                    ((Q[qi, j * sub : (j + 1) * sub][None, :] - B[j]) ** 2).sum(
                        axis=1
                    )
                    for j in range(m)
                ]
            )
            for qi in range(len(q_ids))
        ]
    )

    def score(batches):
        for pdf in batches:
            C = np.asarray(list(pdf["codes"]), dtype="int64")
            ids = pdf["vec_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(q_ids):
                d = tables[qi][np.arange(m)[:, None], C.T].sum(axis=0)
                mask = ids != qid  # exclude self-match
                cand_ids, cand_d = ids[mask], d[mask]
                take = min(k, len(cand_ids))
                if not take:
                    continue
                part = np.argpartition(cand_d, take - 1)[:take]
                out_q += [qid] * take
                out_n += cand_ids[part].tolist()
                out_d += cand_d[part].tolist()
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc_dist": out_d}
            )

    local = codes_df.mapInPandas(
        score, schema="query_id long, neighbor_id long, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", "rnk", F.round("adc_dist", 6).alias("adc_dist")
        )
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
    """Two-stage PQ search: the ADC pass shortlists ``shortlist``
    candidates per query from the byte codes, then ONLY those rows are
    re-scored with exact cosine against the float vectors — the
    standard recall-recovery pattern (IndexIVFPQ + refine).  The exact
    pass touches |queries| * shortlist vectors regardless of corpus
    size; recall approaches exact search as shortlist grows while the
    full-corpus scan still reads nothing but 32-byte codes."""
    cand = pq_topk(
        codes_df, queries, codebooks, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    from ..functions.vectors import cosine_pandas

    # broadcast the (|queries| * shortlist)-row candidate list into the
    # corpus scan: the float vectors must NOT shuffle — that would move
    # the whole corpus for a 500-row shortlist
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cos_sim", cosine_pandas("q_vec", "c_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", "rnk", F.round("cos_sim", 6).alias("cos_sim")
        )
    )


# ---------------------------------------------------------------------------
# Frozen-codebook PQ: the differential-testable twin of the trained path
# ---------------------------------------------------------------------------

PQ_MICRO = 1_000_000  # micro-unit quantization scale (the rrf_micro idiom)


def pq_frozen_codebooks(
    m: int = 8, ncodes: int = 4, sub: int = 8
) -> list[list[list[int]]]:
    """md5-derived frozen PQ codebooks in INTEGER micro-units: entry
    [j][c][d] is ±125000 (±0.125 scaled by PQ_MICRO) with sign from the
    parity of md5("pqcb|j|c|d") — the pca_projection_check trick applied
    to PQ.  Any engine with md5 rebuilds the identical constants, and
    because they are integers the entire encode/ADC/rerank pipeline
    below is EXACT integer arithmetic: no float drift can flip an
    argmin, so the full path is replayable in DuckDB CTEs and
    oracle-checked instead of rows-only.  ``pq_train`` remains the
    production trainer (sample-trained, recall-tested); these books
    pin the MECHANISM, not the clustering quality."""
    import hashlib

    def par(j: int, c: int, d: int) -> int:
        h = int(hashlib.md5(f"pqcb|{j}|{c}|{d}".encode()).hexdigest()[:15], 16)
        return 125_000 if h & 1 else -125_000

    return [
        [[par(j, c, d) for d in range(sub)] for c in range(ncodes)]
        for j in range(m)
    ]


def _vec_micro(vec_col):
    """Quantize a float/double vector to int64 micro-units — identical
    in DuckDB as list_transform(v::DOUBLE[], x -> CAST(round(x*1000000)
    AS BIGINT)) (float->double widening is exact in both engines)."""
    return F.transform(
        vec_col, lambda x: F.round(x * F.lit(float(PQ_MICRO))).cast("long")
    )


def _sqdist_fold(a, b):
    """sum((a-b)^2) over two int64 arrays — a sequential fold, but
    integer addition is associative so ANY engine's sum matches."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def pq_encode_frozen(
    corpus: DataFrame,
    books: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector against frozen integer codebooks: per
    subspace j, code = argmin_c sum((vq_sub - C[j][c])^2) with ties to
    the lowest c (struct-min).  Entirely JVM-side codegen — the micro
    vector is a multiply-referenced non-cheap alias, so Catalyst keeps
    the two projection levels (the text_stats CSE discipline) and the
    quantization runs once, not once per distance."""
    m = len(books)
    ncodes = len(books[0])
    sub = len(books[0][0])
    base = corpus.select(
        F.col(id_col).alias("vec_id"), _vec_micro(F.col(vec_col)).alias("vq")
    )
    code_cols = []
    for j in range(m):
        sv = F.slice(F.col("vq"), j * sub + 1, sub)
        opts = [
            F.struct(
                _sqdist_fold(
                    sv, F.array(*[F.lit(v) for v in books[j][c]])
                ).alias("d"),
                F.lit(c).alias("c"),
            )
            for c in range(ncodes)
        ]
        code_cols.append(F.array_min(F.array(*opts))["c"])
    return base.select(
        "vec_id", F.array(*code_cols).cast("array<int>").alias("codes")
    )


def pq_adc_topk_frozen(
    codes_df: DataFrame,
    queries_vq: DataFrame,
    books: list[list[list[int]]],
    k: int = 5,
    shards: int = 64,
) -> DataFrame:
    """ADC top-k over frozen-codebook byte codes, exact int64 math.

    ``codes_df`` is (vec_id, codes); ``queries_vq`` is (query_id, qvq)
    with qvq already micro-quantized.  A candidate's approximate
    distance is m codebook lookups against the query's subvectors —
    the scan reads CODES only, never float vectors (the PQ memory
    trick).  Top-k is TWO-LEVEL (the scale-safe shape): rank within
    (query_id, neighbor_id % shards) first — each level-1 partition
    holds n/shards candidates — then rank the <= shards*k survivors
    per query.  A single global per-query window would funnel every
    candidate row of a query through one task at 1e9 corpus size.
    Deterministic: integer distances, ties broken on neighbor_id."""
    m = len(books)
    sub = len(books[0][0])
    joined = codes_df.crossJoin(F.broadcast(queries_vq)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc = None
    for j in range(m):
        qs = F.slice(F.col("qvq"), j * sub + 1, sub)
        cb_j = F.array(
            *[F.array(*[F.lit(v) for v in c]) for c in books[j]]
        )
        d_j = _sqdist_fold(
            qs, F.element_at(cb_j, F.element_at("codes", j + 1) + F.lit(1))
        )
        adc = d_j if adc is None else adc + d_j
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        adc.alias("adc_dist_sq_micro"),
    )
    w1 = Window.partitionBy(
        "query_id", F.pmod(F.col("neighbor_id"), F.lit(shards))
    ).orderBy(F.col("adc_dist_sq_micro").asc(), F.col("neighbor_id").asc())
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist_sq_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= k)
        .withColumn("rnk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "adc_dist_sq_micro")
    )


def pq_rerank_frozen(
    corpus: DataFrame,
    codes_df: DataFrame,
    queries: DataFrame,
    books: list[list[list[int]]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage frozen-PQ search: ADC shortlists ``shortlist``
    candidates per query from codes alone, then ONLY those rows are
    re-scored with exact cosine over the micro-quantized vectors
    (int64 dot products — bit-exact cross-engine; the final ratio and
    6-dp round are computed from identical integers, so they round
    identically).  The candidate list broadcasts into the corpus scan:
    float-width payloads never shuffle."""
    qvq = queries.select(
        F.col(id_col).alias("query_id"),
        _vec_micro(F.col(vec_col)).alias("qvq"),
    )
    cand = pq_adc_topk_frozen(codes_df, qvq, books, k=shortlist).select(
        "query_id", "neighbor_id"
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _vec_micro(F.col(vec_col)).alias("cvq"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qvq"), F.col("cvq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nq = F.aggregate(
        F.transform(F.col("qvq"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nc = F.aggregate(
        F.transform(F.col("cvq"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    den = F.sqrt(nq.cast("double")) * F.sqrt(nc.cast("double"))
    cos = F.when(den > 0, dot.cast("double") / den).otherwise(F.lit(0.0))
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvq), "query_id")
        .withColumn("cos_sim", F.round(cos, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    )
