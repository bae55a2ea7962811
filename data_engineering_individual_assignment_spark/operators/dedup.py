"""Deduplication operators for the LLM-data-pipeline extensions
(SURVEY §2.11): exact, MinHash-LSH near-dup, and SimHash.

Design rules at 100 TB:
- the dedup key is always a fixed-width digest (md5 / int64), never the
  raw text — grouping 100 TB of documents shuffles ~16 bytes/row + id;
- survivor selection is deterministic (min doc_id), so reruns are
  idempotent;
- near-dup candidate generation is LSH (band-bucket equi-join) — the
  only O(n²) step, exact Jaccard verification, runs on candidate pairs
  only;
- everything is DataFrame ops: the MinHash signature is computed with
  higher-order functions over the shingle array (xxhash64 JVM-side per
  hash function), not a Python UDF.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokens

# Persisted intermediates (the shingle relation feeds both the candidate
# and the verification subtree, so it must stay cached until the caller
# materializes the returned plan).  Each persist is recorded here so
# harnesses that run many queries on one long-lived SparkSession can
# release the blocks between queries instead of waiting for LRU eviction.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    out = df.persist()
    _PERSISTED.append(out)
    return out


def _spread(df: DataFrame) -> DataFrame:
    """Ensure a compute-dense map stage gets cluster-wide parallelism.

    Shingling/hashing cost is per-ROW compute, not per-byte IO: when the
    scan yields fewer partitions than cores (locally: one small parquet
    file = one row group = ONE task; on a cluster: a handful of splits
    feeding thousands of cores), the tokenize/explode/md5 stage
    serializes on those few tasks.  Redistributing the (small, pre-
    explode) document rows costs one cheap shuffle and unlocks every
    core — measured 11.3 s -> 3.0 s for the t=0.5 prefix join at
    sf0.1.  When the scan already has enough splits (the 100 TB case)
    this is a no-op, so the big-data path never pays the shuffle.
    """
    if df.isStreaming:
        # .rdd is illegal on a streaming plan; micro-batches already
        # arrive pre-split by the source's maxFilesPerTrigger sizing
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if _scan_partitions(df) < target:
        return df.repartition(target)
    return df


# Memoized partition counts for _spread's probe, keyed by the path tag
# that sources/readers.load_table attaches to the DataFrames it returns.
# df.rdd.getNumPartitions() converts the whole plan to an RDD on the
# driver (~120 ms per call); the count for a given (session, file path)
# is stable within a process, so pay it once.  Purely a performance
# heuristic: a stale entry can only mis-steer the repartition decision,
# never change results.  Session scoping (r13): a WeakKeyDictionary
# keyed by the SparkSession object — entries die with the session, so
# a new session never aliases a dead one's counts (the r12 id(spark)
# key could); file-rewriting maintenance ops call
# readers.invalidate_table -> _invalidate_nparts when layout changes.
_NPARTS_CACHE: "weakref.WeakKeyDictionary[object, dict[str, int]]" = (
    weakref.WeakKeyDictionary()
)


def _invalidate_nparts(spark, path: str) -> None:
    per = _NPARTS_CACHE.get(spark)
    if per is not None:
        per.pop(path, None)


def _scan_partitions(df: DataFrame) -> int:
    # __dict__.get (instance attrs only): getattr would fall through to
    # DataFrame.__getattr__, which resolves unknown names as COLUMNS —
    # a user table with a column named like the tag must not break here
    path = df.__dict__.get("_dei_nparts_path")
    if path is None:
        return df.rdd.getNumPartitions()
    per = _NPARTS_CACHE.get(df.sparkSession)
    if per is None:
        per = {}
        _NPARTS_CACHE[df.sparkSession] = per
    n = per.get(path)
    if n is None:
        n = df.rdd.getNumPartitions()
        per[path] = n
    return n


def release_intermediates() -> int:
    """Unpersist every intermediate cached by jaccard_join /
    near_dup_minhash since the last call.  Call AFTER materializing the
    returned DataFrame (unpersisting earlier would recompute the shingle
    relation once per subtree).  Returns the number released.

    blocking=True: the default async unpersist lets block eviction run
    concurrently with whatever executes next — in a benchmark loop that
    bleeds one query's cleanup into the next query's timed window."""
    n = 0
    while _PERSISTED:
        _PERSISTED.pop().unpersist(blocking=True)
        n += 1
    return n


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group by the normalized-text md5 fingerprint; keep the smallest id
    as survivor.  Returns (fingerprint, survivor_id, n_copies)."""
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count("*").alias("n_copies"),
        )
    )


def drop_exact_dups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The materializing variant: keep only survivor rows (all columns).
    One shuffle on the digest; survivors re-joined by id (broadcast-able
    when dup rate is high, semi-join otherwise)."""
    survivors = exact_dedup(df, text_col, id_col).select(
        F.col("survivor_id").alias(id_col)
    )
    return df.join(survivors, id_col, "left_semi")


# --------------------------------------------------------------------------
# MinHash + LSH near-dup
# --------------------------------------------------------------------------
def _gram_structs(
    df: DataFrame, text_col: str, id_col: str, k: int, distinct: bool = False
) -> DataFrame:
    """(doc_id, s:struct<t0..t{k-1}>) — one row per word-k-shingle
    occurrence, built as explode(arrays_zip(slice(toks,1,m), ...,
    slice(toks,k,m))) with m = n-k+1.  Every slice has exactly m
    elements, so the zip never null-pads; docs with < k tokens yield
    m = 0 → no rows.  The whole thing is ONE whole-stage-codegen map
    stage over the scan: no window, no Exchange — unlike the previous
    posexplode + lead()-window shape, which shuffled the entire exploded
    corpus just to co-locate doc rows that were already contiguous
    (measured 1.4 s → 0.7 s at sf0.1, and removes a full corpus shuffle
    from every shingle consumer at 100 TB).

    ``distinct=True`` wraps the zipped array in array_distinct BEFORE the
    explode: per-doc SET semantics computed row-locally — stateless, so
    it stays legal on streaming plans (a post-explode distinct would be
    a stateful streaming dedup) and still shuffle-free."""
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m).alias(f"t{i}") for i in range(k)])
    if distinct:
        zipped = F.array_distinct(zipped)
    return _spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(zipped).alias("s")
    )


def shingle_string_rows(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """(doc_id, sh) — one row per word-k-shingle occurrence as a STRING
    (space-joined), built with the shuffle-free zip-slice gram shape
    (``_gram_structs``) instead of the interpreted higher-order
    ``shingles()`` transform (~10x slower per row).  Rows are a multiset
    (min-hash is multiset-invariant); apply collect_set for set
    semantics.  Used by the md5-portable operators, which need the
    string to hash."""
    return _gram_structs(df, text_col, id_col, k).select(
        "doc_id", F.concat_ws(" ", *[F.col(f"s.t{i}") for i in range(k)]).alias("sh")
    )


def hashed_shingle_rows(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """(doc_id, shingle_h) — one row per word-k-shingle occurrence,
    shingles hashed to int64 on the fly.

    The zip-slice gram shape (``_gram_structs``) builds each k-gram
    without any higher-order function or window, and
    xxhash64(t0, .., tk-1) hashes the k fields directly — no string
    concatenation.  Everything is one whole-stage-codegen map stage with
    ZERO shuffles.  Downstream set ops (document frequency, prefix join,
    intersection) then work on 8-byte longs instead of ~20-byte strings.
    64-bit collisions are ~1e-7 at millions of distinct shingles —
    negligible against the exact-Jaccard thresholding.
    """
    return _gram_structs(df, text_col, id_col, k).select(
        "doc_id", F.xxhash64(*[F.col(f"s.t{i}") for i in range(k)]).alias("shingle_h")
    )
    # NOTE: rows are NOT per-doc distinct — min-hash is multiset-invariant
    # so minhash_signatures can consume them directly; set semantics are
    # applied by hashed_shingle_arrays' collect_set in one aggregation.


def hashed_shingle_array_col(text_col: str, k: int = 3) -> Column:
    """array<long> of a document's DISTINCT word-k-shingle hashes as a
    pure ROW-LOCAL column — the stateless twin of ``hashed_shingle_rows``
    + ``hashed_shingle_arrays``.  Values are the same
    ``xxhash64(t0..tk-1)`` longs (min/intersect/union over the array
    therefore agree bit-for-bit with the exploded batch form), but
    nothing aggregates: legal on STREAMING plans, where the groupBy
    form would be a stateful aggregation.  The transform lambda is
    interpreted — fine at ingest grain (per-micro-batch rows), not the
    shape for whole-corpus batch jobs (use the exploded form there)."""
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, m).alias(f"t{i}") for i in range(k)]
    )
    return F.array_distinct(
        F.transform(
            zipped, lambda s: F.xxhash64(*[s[f"t{i}"] for i in range(k)])
        )
    )


def hashed_shingle_arrays(shingle_rows: DataFrame) -> DataFrame:
    """(doc_id, sz, shingles:array<long>) with DISTINCT shingles —
    collect_set dedups inside the aggregation, saving a separate
    dropDuplicates shuffle."""
    return shingle_rows.groupBy("doc_id").agg(
        F.collect_set("shingle_h").alias("shingles")
    ).select("doc_id", F.size("shingles").alias("sz"), "shingles")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 24,
    k: int = 3,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, h0..h{n-1}) MinHash signature columns.

    Built from the hashed shingle rows: per hash function i,
    min(xxhash64(i, shingle_h)).  All codegen (no higher-order
    functions, no string concat), one partial+final aggregation.
    Deterministic across runs and partitionings.  Pass ``shingle_rows``
    to reuse an already-built (doc_id, shingle_h) relation.
    """
    rows = (
        shingle_rows
        if shingle_rows is not None
        else hashed_shingle_rows(df, text_col, id_col, k)
    )
    hashed = rows.select(
        "doc_id",
        *[F.xxhash64(F.lit(i), "shingle_h").alias(f"h{i}") for i in range(num_hashes)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )


def _verify_jaccard(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Dedup candidate (doc_a, doc_b) pairs, join them back to their
    shingle arrays and keep pairs with exact Jaccard >= threshold.
    ``cand`` may contain duplicate pairs (one per common prefix shingle /
    LSH band) — dedup happens here, as a doc_a-keyed grouping whose
    output partitioning the verify joins then reuse (below).

    ``sh`` carries the corpus's shingle ARRAYS, whose in-memory size
    Catalyst's parquet-based STATIC estimate undercounts by an order of
    magnitude — at low thresholds (wide prefixes, 100x data) static
    planning picked a broadcast of ``sh`` and OOM'd the driver building
    it.  The session's broadcast policy (static never, AQE from
    measured sizes — session.py) is what keeps this join safe at every
    scale: runtime BHJ while the candidate side is measured small,
    spillable sort-merge once it isn't.

    Shape: a two-join chain, one equi-join of the deduped pair relation
    against ``sh`` per side, NOT an explode + pair-keyed re-pack groupBy.
    The r08 re-pack shape shuffled 2·|candidates| array-carrying rows
    for its pair groupBy and then SortAggregated them (max() over an
    array buffer is not hash-aggregable), so the sorted payload was the
    full shingle arrays — the single hottest exchange of the whole
    query at sf0.1 — and every exchange was a separate AQE stage (one
    job each; the query ran ~20 jobs per call at sf0.1, mostly driver
    latency).  The chain instead ALIGNS partitionings: ``sh`` arrives
    hash-partitioned by doc_id (it is the direct output/persist of a
    doc_id groupBy in both callers), and the pair dedup is a
    doc_a-keyed collect_set whose exploded output is hash-partitioned
    by doc_a — join 1 therefore needs NO exchange on either side, and
    join 2 shuffles only its probe (|uniq pairs| rows, the one array-
    carrying exchange left).  No aggregation over arrays, no array
    sort, fewer AQE stages.  Skew note: the per-doc_a set is at most
    that doc's near-dup cluster size, and the candidate PAIR relation
    is already quadratic in cluster size, so the grouping adds no new
    asymptotic risk; with no exchange to re-plan, joins here are
    in-partition sort-merge — spillable at any scale."""
    uniq = (
        cand.groupBy("doc_a")
        .agg(F.collect_set("doc_b").alias("bs"))
        .select("doc_a", F.explode("bs").alias("doc_b"))
    )
    packed = (
        uniq.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        ).join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| (sets are distinct by construction):
    # one array_intersect instead of intersect + union — array_union
    # builds a whole merged array per pair just to take its size, and
    # was ~half the verify leg's per-pair cost at sf0.1.  Two-level
    # projection so the intersect runs ONCE (codegen CSE does not
    # dedupe it across the filter and the jaccard expression — the
    # text_stats lesson).
    sized = packed.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("ni"),
        (F.size("sh_a") + F.size("sh_b")).alias("nab"),
    )
    return (
        sized.withColumn(
            "jaccard", F.col("ni") / (F.col("nab") - F.col("ni"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def jaccard_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    k: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Vernica et al.,
    SIGMOD 2010 'Efficient Parallel Set-Similarity Joins Using MapReduce')
    with PPJoin's positional filter (Xiao et al., WWW 2008 'Efficient
    Similarity Joins for Near Duplicate Detection').

    Shingles are globally ordered by document frequency (rarest first);
    a pair with Jaccard >= t must share a shingle within each side's first
    |d| - ceil(t*|d|) + 1 shingles, so candidates are generated by an
    equi-join on *rare* prefix shingles only — small buckets, no skew —
    plus a length filter (t*|A| <= |B| <= |A|/t) and the POSITIONAL
    filter: a match at (1-based, df-sorted) positions (i, j) bounds the
    intersection above by 1 + min(|A|-i, |B|-j), while Jaccard >= t
    forces intersection >= t·(|A|+|B|)/(1+t); rows whose bound can't
    reach that are pruned before the distinct.  Sound: every common
    shingle of a qualifying pair sits at-or-after its FIRST common
    shingle, so that row's bound >= the true intersection and survives.
    The filter matters most at LOW thresholds (t=0.5 halves the prefix
    selectivity), where plain prefix filtering lets most of the
    candidate set through.  Exact verification on the candidate set.
    No false negatives: matches a brute-force oracle at any scale while
    doing near-linear work.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    to 6 places.
    """
    rows = hashed_shingle_rows(df, text_col, id_col, k)
    # TWO aggregations (shingle-keyed postings, then doc-keyed arrays)
    # build everything per-doc downstream, with no join at all: the
    # postings agg computes each shingle's global frequency AND its
    # distinct-doc list in one pass, the explode hands every doc its
    # (dfreq, shingle_h) pairs, and collect_set(struct) + sort_array
    # yields the DISTINCT shingles already in global rarest-first order
    # — the per-doc rank is then just the array position (row-local),
    # and the verification arrays are a field extraction of the same
    # column.  r08 computed dfreq as a separate aggregation and JOINED
    # it back onto the occurrence rows — a third corpus-sized exchange
    # plus an AQE broadcast stage per call; folding the doc list into
    # the dfreq aggregation shuffles the same ~|occurrences| bytes
    # through exactly two exchanges and drops the join (part of the
    # r9 restructure that took the query from ~20 to ~8 AQE jobs).
    # dfreq counts occurrence MULTIPLICITY (within-doc repeats included)
    # rather than per-doc-distinct frequency — the global order only
    # steers WHICH shingles land in prefixes (candidate count), never
    # recall: prefix filtering is sound under any consistent total
    # order, and the brute-force property test pins exactness.
    # every join in this path handles CORPUS-derived relations (rows,
    # dfreq, prefix, shingle arrays) whose in-memory size Catalyst's
    # parquet-based STATIC estimate undercounts ~10x — left to static
    # planning, Catalyst picked BroadcastHashJoins of these at 100x and
    # OOM'd the driver building them.  The session therefore disables
    # static broadcasts entirely (autoBroadcastJoinThreshold=-1) and
    # lets AQE broadcast only from MEASURED post-shuffle sizes
    # (adaptive.autoBroadcastJoinThreshold=64m, see session.py): at
    # bench scale these joins still get runtime BHJs, at 100x they
    # degrade to spillable sort-merge.  (Pinning .hint("merge") here
    # was tried and is safe but leaves 2-3x bench speed on the table;
    # .hint("shuffle_hash") DIES at 100x — the SHJ build side cannot
    # spill.)
    # the struct only exists to sort; only the 8-byte hash is KEPT (the
    # ord.shingle_h field extraction — GetArrayStructFields, codegen,
    # unlike an interpreted transform lambda — drops dfreq in the same
    # projection), so the persisted arrays and every downstream shuffle
    # stay longs, not 16-byte structs — at 100x the struct form doubled
    # the cached footprint and GC load
    postings = rows.groupBy("shingle_h").agg(
        F.count("*").alias("dfreq"), F.collect_set("doc_id").alias("docs")
    )
    # shdoc feeds FOUR consumers (both prefix sides, both verify arrays)
    # but is deliberately NOT persisted (r12): all four consumers contain
    # the identical exchange subtree, so AQE plans ONE shuffle and
    # ReusedExchange for the rest — the corpus is scanned and shuffled
    # once either way.  What differs is the tail: persist serializes the
    # corpus-sized shingle ARRAYS into the columnar cache (the single
    # most expensive byte-shape to cache) and then hides the agg's
    # doc_id hash partitioning behind InMemoryRelation, forcing the
    # verify join to re-exchange the arrays; unpersisted, each consumer
    # re-runs only the post-shuffle final aggregation over local shuffle
    # data, and the verify join sees the agg's partitioning directly.
    # Measured at sf0.1: 2.51 s (persist) -> 1.84 s (reuse); at 100 TB
    # the persist variant additionally holds |corpus| arrays in
    # cache memory while the reuse variant holds nothing.
    shdoc = (
        postings.select("dfreq", "shingle_h", F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set(F.struct("dfreq", "shingle_h"))).alias("ordst"))
        .select(
            "doc_id",
            F.size("ordst").alias("sz"),
            F.col("ordst.shingle_h").alias("ord"),
        )
    )
    # two prefix lengths per doc (PPJoin self-join asymmetry, Xiao 2008
    # §4): the PROBE prefix |d| - ceil(t|d|) + 1 is required of the
    # larger side of a pair, but the side that is EARLIER in a fixed
    # (sz, doc_id) order only needs the INDEX prefix
    # |d| - ceil(2t/(1+t)·|d|) + 1, because for |A| <= |B| the required
    # overlap t(|A|+|B|)/(1+t) >= 2t/(1+t)·|A|.  At t=0.7 the index
    # prefix is ~0.18|d| vs the probe's ~0.30|d|, so candidate pairs per
    # posting list drop to ~0.6x of the symmetric-prefix join with zero
    # recall loss (the brute-force property test pins this).
    idx_len = F.col("sz") - F.ceil(
        F.col("sz") * (2.0 * threshold / (1.0 + threshold)) - 1e-9
    ) + 1
    # the 1e-9 slack stops an exactly-integer t·|d| from rounding UP
    # through fp noise (10·0.7 is 7.000000000000001 in doubles; a
    # ceil of 8 would cut the probe prefix one token short and DROP
    # qualifying pairs — prefix lengths must err long, never short)
    probe_len = (
        F.col("sz") - F.ceil(F.col("sz") * threshold - 1e-9) + 1
    ).cast("int")
    prefix = (
        shdoc.select(
            "doc_id",
            "sz",
            F.posexplode(F.slice(F.col("ord"), 1, probe_len)).alias("pos", "s"),
        )
        .select(
            "doc_id",
            "sz",
            (F.col("pos") + 1).alias("rnk"),
            F.col("s").alias("shingle_h"),
        )
        .withColumn("in_idx", F.col("rnk") <= idx_len)
    )
    # required overlap: I >= t(|A|+|B|)/(1+t); the 1e-9 slack keeps an
    # exactly-integer bound from rounding UP through fp noise (pruning
    # must stay conservative — sizes are << 1e9 so the slack dominates)
    min_overlap = F.ceil(
        (F.col("a.sz") + F.col("b.sz")) * threshold / (1.0 + threshold) - 1e-9
    )
    # a = the (sz, doc_id)-earlier doc (index side, short prefix);
    # b = the later doc (probe side, full prefix).  The order must put
    # the SMALLER doc on the index side so the 2t/(1+t) bound applies.
    cand = (
        prefix.filter("in_idx").alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (
                (F.col("a.sz") < F.col("b.sz"))
                | (
                    (F.col("a.sz") == F.col("b.sz"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            )
            # length filter: jaccard >= t forces t*|A| <= |B| <= |A|/t
            & (F.col("b.sz") >= F.col("a.sz") * threshold)
            & (F.col("a.sz") >= F.col("b.sz") * threshold)
            # positional filter (PPJoin): overlap upper bound from the
            # match positions must reach the required overlap
            & (
                1
                + F.least(
                    F.col("a.sz") - F.col("a.rnk"), F.col("b.sz") - F.col("b.rnk")
                )
                >= min_overlap
            ),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        # duplicate pairs (one per common prefix shingle) are deduped
        # inside _verify_jaccard's doc_a-keyed grouping
    )
    sh = shdoc.select("doc_id", F.col("ord").alias("shingles"))
    return _verify_jaccard(cand, sh, threshold)


def choose_bands(threshold: float, num_hashes: int = 24) -> tuple[int, int]:
    """Pick (num_bands, rows_per_band) for banded LSH: among the divisor
    splits of ``num_hashes``, choose the one whose S-curve inflection
    (1/b)^(1/r) sits closest below the target threshold — highest
    precision that still recalls at-threshold pairs."""
    best, best_score = (num_hashes, 1), None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        inflection = (1.0 / b) ** (1.0 / r)
        # prefer inflection just below the threshold (recall-safe),
        # penalize being far below (precision loss)
        score = (threshold - inflection) if inflection <= threshold else 10 * (
            inflection - threshold
        )
        if best_score is None or score < best_score:
            best, best_score = (b, r), score
    return best


def near_dup_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_bands: int | None = None,
    rows_per_band: int | None = None,
    k: int = 3,
    num_hashes: int = 24,
) -> DataFrame:
    """APPROXIMATE near-dup pairs via banded MinHash-LSH
    (shingle -> minhash signature -> band hash -> bucket equi-join),
    then exact Jaccard verification of candidates only.

    Candidate recall at similarity j is 1-(1-j^r)^b (r=rows_per_band,
    b=num_bands); when not given, (b, r) come from ``choose_bands`` so
    the S-curve inflection tracks the threshold.  At the default
    threshold 0.7 with 24 hashes that's b=6, r=4: recall 0.96 at j=0.8,
    0.9996 at j=0.9, while unrelated pairs (j~0.1) collide with p~6e-4 —
    r is the skew/false-candidate knob on a low-entropy corpus.
    ``jaccard_join`` is the exact variant.  No catalog query serves
    this xxhash64 form (the catalog's ``near_dup_minhash`` replays the
    md5 ``near_dup_minhash_portable``), but it returns the same rows
    faster: 2.00 vs 2.29 s at sf0.1, 6.99 vs 9.85 s at a 10x replica
    (medians, 4 cores).
    """
    if num_bands is None or rows_per_band is None:
        num_bands, rows_per_band = choose_bands(threshold, num_hashes)
    # the shingle relation feeds two subtrees (signatures + verification
    # arrays) but is NOT persisted (r12): both consumers share the
    # _spread exchange via AQE ReusedExchange, so the scan+repartition
    # run once and only the post-exchange shingle map stage repeats —
    # cheap, parallel, and it avoids a corpus-sized cache build plus the
    # cache's partitioning opacity.  Measured at sf0.1: 2.64 s (persist)
    # -> 1.84 s (reuse), identical output.
    shingle_rows = hashed_shingle_rows(df, text_col, id_col, k)
    sigs = minhash_signatures(
        df, text_col, id_col, num_bands * rows_per_band, k, shingle_rows=shingle_rows
    )
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bucket")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        # duplicate pairs (one per colliding band) are deduped inside
        # _verify_jaccard's doc_a-keyed grouping
    )
    sh = hashed_shingle_arrays(shingle_rows)
    return _verify_jaccard(cand, sh, threshold)


def _md5_hash60(col: Column, salt: str | None = None) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5, parsed as int.
    Identical in any engine with md5 (DuckDB: CAST('0x'||substr(md5(x),
    1,15) AS BIGINT)) — used by the *_portable operators so MinHash and
    SimHash values themselves are oracle-checkable, unlike xxhash64."""
    src = col if salt is None else F.concat(F.lit(f"{salt}|"), col)
    return F.conv(F.substring(F.md5(src), 1, 15), 16, 10).cast("long")


# Universal-hash family for the portable MinHash: h_i(x) = (a_i*x + b_i)
# mod P over x = md5(shingle) folded to 32 bits.  ONE md5 per shingle
# (the dominant cost) instead of one per (slot, shingle); P is the
# smallest prime > 2^32, a_i < 2^30 so a_i*x + b_i < 2^62 + 2^32 never
# overflows signed 64-bit in ANY engine (overflow would wrap in Spark
# but error/promote in others — the bound is what keeps the family
# engine-reproducible), and the (a,b) pairs are themselves md5-derived
# constants.
_MH_PRIME = 4294967311
_MH_FOLD = 4294967296  # 2^32
_MH_AMAX = 1 << 30


def _mh_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [
        (h32(f"a|{i}") % (_MH_AMAX - 1) + 1, h32(f"b|{i}") % _MH_PRIME)
        for i in range(num_hashes)
    ]


def minhash_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 4,
    k: int = 3,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) MinHash signature with md5-derived hash
    functions — bit-identical across engines, so the signature itself is
    differential-testable.  One md5 per shingle, fanned to ``num_hashes``
    slots via the (a_i*x + b_i) mod P universal family (see _mh_coeffs);
    the xxhash64 variant (minhash_signatures) is the faster
    non-portable production path.  Pass ``shingle_rows`` (a
    ``shingle_string_rows`` relation) to reuse an already-built one."""
    if shingle_rows is None:
        shingle_rows = shingle_string_rows(df, text_col, id_col, k)
    x = _md5_hash60(F.col("sh")) % F.lit(_MH_FOLD)
    coeffs = _mh_coeffs(num_hashes)
    hashed = shingle_rows.select(
        "doc_id",
        *[
            ((F.lit(a) * x + F.lit(b)) % F.lit(_MH_PRIME)).alias(f"mh{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"mh{i}").alias(f"mh{i}") for i in range(num_hashes)]
    )


def near_dup_minhash_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_bands: int = 6,
    rows_per_band: int = 4,
    k: int = 3,
) -> DataFrame:
    """Banded MinHash-LSH near-dup with ENGINE-PORTABLE hash functions:
    the md5-derived 60-bit minhashes (``minhash_portable``) replace
    xxhash64, and the band bucket key is the '|'-joined decimal
    rendering of the band's row values — every step (signature, band
    bucket, candidate join, exact Jaccard verify) is reproducible in
    any engine with md5, so the WHOLE LSH pipeline is differential-
    testable, not just its recall.  Same banding math and scale shape
    as ``near_dup_minhash`` (bucket equi-join; shuffles carry
    signatures, never documents).  md5 is the price of oracle-
    checkability: with identical rows this took 2.29 vs 2.00 s at sf0.1
    and 9.85 vs 6.99 s at a 10x replica (medians, 4 cores) against the
    xxhash64 ``near_dup_minhash`` — use that one when nothing external
    needs to reproduce the buckets.

    Returns (doc_a, doc_b, jaccard) for verified candidates, exact
    word-shingle Jaccard >= threshold, doc_a < doc_b.
    """
    num_hashes = num_bands * rows_per_band
    # codegen shingle-occurrence rows; signatures consume the multiset
    # directly (min is multiset-invariant); verification builds distinct
    # arrays from the same relation with one collect_set.  NOT persisted
    # (r12): the consumers share the _spread exchange via ReusedExchange
    # and re-running the post-exchange shingle map stage is cheaper than
    # the corpus-sized cache build even at md5 cost — measured 2.65 s
    # (persist) -> 2.21 s (reuse) at sf0.1, identical output.
    rows = shingle_string_rows(df, text_col, id_col, k)
    sh = rows.groupBy("doc_id").agg(F.collect_set("sh").alias("shingles"))
    sigs = minhash_portable(
        df, text_col, id_col, num_hashes, k, shingle_rows=rows
    )
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bucket")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification on STRING shingles (the same sets the oracle
    # intersects), not the hashed arrays — candidates only.
    # |A ∪ B| = |A| + |B| - |A ∩ B| (shingle sets are distinct by
    # construction): one array_intersect, no merged array materialized
    # per pair just for its size.  Two-level projection so the intersect
    # runs ONCE (codegen CSE does not dedupe non-cheap aliases across
    # the filter and the jaccard expression).
    sized = (
        cand.join(
            sh.withColumnsRenamed({"doc_id": "doc_a", "shingles": "sh_a"}), "doc_a"
        )
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "shingles": "sh_b"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("ni"),
            (F.size("sh_a") + F.size("sh_b")).alias("nab"),
        )
    )
    return (
        sized.withColumn("jaccard", F.col("ni") / (F.col("nab") - F.col("ni")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def _simhash(
    df: DataFrame, text_col: str, id_col: str, token_hash, bits: int
) -> DataFrame:
    """(doc_id, simhash:bigint) over whitespace tokens hashed with
    ``token_hash``: per bit, sum +1/-1 across token hashes, sign -> bit.
    One explode + one groupBy of ``bits`` conditional sums (all codegen;
    one shuffle on doc_id)."""
    tok = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", token_hash(F.col("tok")))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sim = F.lit(0).cast("bigint")
    for b in range(bits):
        sim = sim + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("bigint"), b)
        ).otherwise(F.lit(0).cast("bigint"))
    return bit_sums.select("doc_id", sim.alias("simhash"))


def simhash_portable(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) with md5-derived token hashes and ``bits``-bit
    signatures (``bits`` <= 60, the width of ``_md5_hash60``) —
    engine-portable, so the signatures are oracle-checkable."""
    return _simhash(df, text_col, id_col, _md5_hash60, bits)


def _simhash_pairs(
    sims: DataFrame, max_hamming: int, bits: int, num_bands: int
) -> DataFrame:
    """Band ``bits``-bit signatures into ``num_bands`` keys (pigeonhole:
    pairs within hamming < num_bands agree on >= 1 full band), bucket
    equi-join, exact hamming verify via bit_count(xor)."""
    band_bits = bits // num_bands
    mask = (1 << band_bits) - 1
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(num_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    num_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup candidates with ENGINE-PORTABLE signatures:
    60-bit md5-derived token hashes (``simhash_portable``) banded into
    4 x 15-bit keys (pigeonhole: hamming <= 3 pairs agree on >= 1 full
    band), bucket equi-join, exact hamming verify via bit_count(xor).
    Every hash is md5-derived, so candidates AND hamming distances are
    bit-identical across engines.  At sf0.01-0.1 it is as fast as the
    xxhash64 twin ``simhash_near_pairs``; at a 10x replica the twin's
    16-bit bands win (see there).

    Returns (doc_a, doc_b, hamming:int) with doc_a < doc_b.
    """
    if bits % num_bands:
        raise ValueError("num_bands must divide bits")
    sims = simhash_portable(df, text_col, id_col, bits=bits)
    return _simhash_pairs(sims, max_hamming, bits, num_bands)


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup candidates by 64-bit xxhash64 SimHash banded into 4x16-bit
    keys (pigeonhole: hamming <= 3 pairs share >= 1 exact band).  Not
    oracle-checkable, and no catalog query serves it; it stays because
    it wins at scale.  Interleaved medians on 4 cores against
    ``simhash_near_pairs_portable``: 2.48 vs 2.26 s at sf0.01, 2.77 vs
    2.69 s at sf0.1, but 4.60 vs 5.48 s at a 10x replica (5 of 5 pairs;
    a second, noisier session gave 7.96 vs 12.25 s, again 5 of 5).
    The two differ in more than the hash: 16-bit bands against 15-bit
    ones, and at 10x 6,021 against 13,408 verified pairs.

    Returns (doc_a, doc_b, hamming:int) with doc_a < doc_b.
    """
    sims = _simhash(df, text_col, id_col, F.xxhash64, 64)
    return _simhash_pairs(sims, max_hamming, 64, 4)


# --------------------------------------------------------------------------
# Benchmark contamination (n-gram overlap against an eval/benchmark set)
# --------------------------------------------------------------------------
def _contamination_side(
    df: DataFrame, text_col: str, id_col: str, k: int, out_id: str
) -> DataFrame:
    """(out_id, shingle_h) with per-doc DISTINCT shingles, computed as
    one shuffle-free codegen map stage (zip-slice grams + row-local
    array_distinct + xxhash64 of the k token fields)."""
    return _gram_structs(df, text_col, id_col, k, distinct=True).select(
        F.col("doc_id").alias(out_id),
        F.xxhash64(*[F.col(f"s.t{i}") for i in range(k)]).alias("shingle_h"),
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_shared: int = 3,
) -> DataFrame:
    """Training-data decontamination: (corpus doc, benchmark doc) pairs
    sharing >= ``min_shared`` distinct word ``k``-grams.

    The benchmark side is the small one by construction (eval suites are
    KBs-to-MBs against a 100 TB corpus), so its exploded shingle relation
    is broadcast — the corpus is ONE streamed whole-stage-codegen map
    pass (zip-slice grams, NO corpus shuffle), explode, hash-join
    against the broadcast.  The only shuffle is the per-pair count over
    MATCHED rows, which is bounded by the contamination volume, not the
    corpus.

    Returns (doc_id, bench_id, n_shared) with n_shared = the number of
    distinct shared k-grams.  Both sides use per-doc SET semantics
    computed ROW-LOCALLY (array_distinct on the zipped gram array before
    the explode — no corpus shuffle, and stateless so the same operator
    serves the streaming twin), so count(*) over the matched rows is the
    distinct shared-gram count.

    No Bloom prefilter sits in front of the join: the broadcast hash
    join's probe already is a hash-set membership test.  A literal-
    bitset Bloom filter (one collect of the benchmark hashes to build,
    five xxhash64 per corpus shingle to probe) returned the same rows
    but was slower at every scale on 4 cores: 2.02/2.93/6.51 s against
    0.87/0.94/4.22 s (medians) at sf0.01, sf0.1 and a 10x replica.
    """
    return (
        _contamination_side(corpus, text_col, id_col, k, "doc_id")
        .join(
            F.broadcast(_contamination_side(benchmark, text_col, id_col, k, "bench_id")),
            "shingle_h",
        )
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# Near-dup cluster assignment (connected components over the pair graph)
# --------------------------------------------------------------------------
def pair_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Collapse near-dup PAIRS into clusters: connected components by
    min-label propagation WITH path halving (each round a node takes the
    min of its neighbors' labels, then jumps to its label's label), so
    rounds scale with log2(component diameter) — max_iter=20 covers
    diameters up to ~2^20, and non-convergence raises instead of
    silently splitting a component.  Returns (doc_id, cluster_id) for
    every doc appearing in a pair; cluster_id = the smallest doc_id
    reachable, so survivor selection (keep cluster_id row) stays
    idempotent like exact_dedup.

    Every shuffle in the loop is explicitly repartitioned to a width
    sized to the GRAPH (localCheckpoint drops Catalyst partitioning
    info, so without this each round would shuffle at the session
    default — 200-wide for a 25-edge graph).  The session conf is NOT
    touched (concurrent queries are unaffected).

    This is the only connected-components operator.  An interleaved A/B
    on 4 cores against alternating large/small-star (Kiveris et al.,
    2014), 5 pairs per scale with identical rows, measured medians of
    2.6 vs 3.0 s at sf0.01, 4.2 vs 4.8 s at sf0.1 and 11.8 vs 12.4 s at
    a 10x replica, so star never won.  Both spend one checkpoint and one
    fixpoint action per round; this one also keeps the input key type.
    """
    # materialize the (possibly expensive) pair computation ONCE at
    # full session parallelism (~50k edges per partition thereafter)
    edges = pairs.select("doc_a", "doc_b").persist()
    n_edges = 2 * edges.count()
    parts = max(1, min(256, n_edges // 50_000 + 1))
    sym = (
        edges.unionByName(
            edges.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .repartition(parts, "doc_b")
        .localCheckpoint()
    )
    edges.unpersist()
    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = (
            sym.repartition(parts, "doc_b")
            .join(
                labels.repartition(parts, "doc_id"),
                sym["doc_b"] == labels["doc_id"],
            )
            .repartition(parts, "doc_a")
            .groupBy("doc_a")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.repartition(parts, "doc_id")
            .join(
                neigh.repartition(parts, "doc_a"),
                labels["doc_id"] == neigh["doc_a"],
                "left",
            )
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
        )
        # path halving: follow label -> label(label); collapses long
        # chains in O(log diameter) rounds instead of O(diameter)
        l2 = stepped.select(
            F.col("doc_id").alias("l_id"), F.col("label").alias("l_lab")
        )
        proposed = (
            stepped.repartition(parts, "label")
            .join(
                l2.repartition(parts, "l_id"),
                stepped["label"] == l2["l_id"],
                "left",
            )
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("l_lab", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            proposed.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = proposed
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"pair_clusters did not converge in {max_iter} rounds — "
            "component diameter > 2^rounds; raise max_iter"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))
